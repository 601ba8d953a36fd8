"""query_suite: registry queries into the noop sink, one client, closed loop.

The query set is QUERIES: queries from every plan module
(etl_wikipedia_updates_spark.plans.<m>), over the fixed synthetic sf0.1
tables (datagen). A run makes one untimed pass first, counted in
set-up: it loads classes, fills the plan and fit memos, and checks each
query's output hash (oracle.normalize over the collected rows) against
expected.json. Timed passes follow while another pass fits in --seconds
(at least one); a query's time is the median over passes of build +
noop execution.
"""

from __future__ import annotations

import gc
import hashlib
import json
import math
import os
import time

from common import WORK, median
from datagen import ensure_tables

HERE = os.path.dirname(os.path.abspath(__file__))

# (module, query): one query from each plan module. The registry's 90
# queries take about 42 s warm at sf0.1 on 4 cores, so a cold and a
# timed pass over all of them would not fit one run's time budget.
QUERIES: list[tuple[str, str]] = [
    ("relational", "q5"),
    ("events", "q17"),
    ("wiki", "wiki_pipeline"),
    ("northstar", "bm25_rank"),
    ("corpus", "zipf_fit"),
    ("clustering", "ann_kmeans"),
    ("bpe", "seq_pack_subword"),
    ("incremental", "incremental_span_dedup"),
]

# the benchmark's end-to-end metric -> this workload's measure of it
E2E = {"op_time_s": "suite_geomean_s"}


def output_hash(pdf) -> str:
    from etl_wikipedia_updates_spark.oracle import normalize

    return hashlib.sha256(repr(normalize(pdf)).encode()).hexdigest()


def expected_hashes() -> dict[str, str]:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)["query_suite"]


def run(engine, seed: int, seconds: int, tracer) -> dict:
    from etl_wikipedia_updates_spark.registry import REGISTRY
    from telemetry import group_jobs, job_group

    del seed  # the tables are fixed; see datagen
    sf_dir = ensure_tables(os.path.join(WORK, "tables", "sf0.1"))
    spark = engine.start()
    builders = REGISTRY.builders()
    expected = expected_hashes()
    failed = 0
    problems: list[str] = []

    def reset():
        spark.catalog.clearCache()
        gc.collect()

    # untimed pass: warm the engine and check outputs
    cold: dict[str, float] = {}
    for _m, name in QUERIES:
        t0 = time.perf_counter()
        try:
            got = output_hash(builders[name](spark, sf_dir).toPandas())
            if got != expected.get(name):
                failed += 1
                problems.append(f"{name}: output hash {got[:12]} != expected")
        except Exception as exc:  # a raising query is a failed operation
            failed += 1
            problems.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
        reset()
        cold[name] = time.perf_counter() - t0
    setup_done = time.perf_counter()

    walls: dict[str, list[float]] = {n: [] for _m, n in QUERIES}
    stats: dict[str, dict] = {}
    t_start = time.perf_counter()
    passes = 0
    while passes == 0 or (time.perf_counter() - t_start) * (passes + 1) / passes <= seconds:
        passes += 1
        for module, name in QUERIES:
            t0 = time.perf_counter()
            with job_group(spark, f"{name}:build"):
                df = builders[name](spark, sf_dir)
            t1 = time.perf_counter()
            with job_group(spark, f"{name}:exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            walls[name].append(t2 - t0)
            if tracer is not None and passes == 1:
                stats[name] = {
                    "module": module,
                    "build_s": t1 - t0,
                    "exec_s": t2 - t1,
                    "wall_s": t2 - t0,
                    "build": group_jobs(spark, f"{name}:build"),
                    "exec": group_jobs(spark, f"{name}:exec"),
                }
            del df
            reset()

    per_query = {n: median(v) for n, v in walls.items()}
    times = list(per_query.values())
    total = sum(times)
    geomean = math.exp(sum(math.log(t) for t in times) / len(times))
    return {
        "setup_done": setup_done,
        "attempted": len(QUERIES) * (1 + passes),
        "failed": failed,
        "problems": problems,
        "metrics": {
            "suite_total_s": total,
            "suite_geomean_s": geomean,
            "suite_slowest_query_s": max(times),
            "suite_queries_per_s": len(times) / total,
        },
        "detail": {"passes": passes, "per_query_s": per_query, "cold_pass_s": cold},
        "raw": {"plans": stats},
    }
