#!/usr/bin/env python3
"""Record the outputs the batch workloads are checked against.

    python3 perfbench/record_expected.py

Writes perfbench/expected.json from the fixed synthetic tables:

- query_suite: for each query in wl_suite.QUERIES, the hash of the
  engine's normalized output, recorded only after that output equals
  the DuckDB oracle's (oracle.compare_frames); a query without an oracle
  would be recorded from the engine's own output.
- curate_stream: the kept doc_id set of the batch twin
  (streaming.decontam.batch_full_curation_keep), recorded only after a
  streamed replay produced the same set.

Run it when the tables (datagen.VERSION) or the query set change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import WORK, prepare_env, session_conf  # noqa: E402
from datagen import VERSION, ensure_tables  # noqa: E402


def main() -> int:
    prepare_env()
    from etl_wikipedia_updates_spark.oracle import compare_frames, duckdb_connection
    from etl_wikipedia_updates_spark.registry import REGISTRY
    from etl_wikipedia_updates_spark.session import get_spark
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_full_curation_keep,
        ingest_with_full_curation,
    )

    import wl_curate
    import wl_suite

    sf_dir = ensure_tables(os.path.join(WORK, "tables", "sf0.1"))
    spark = get_spark(app_name="perfbench-record", extra_conf=session_conf())
    duck = duckdb_connection(sf_dir)
    hashes: dict[str, str] = {}
    bad = []
    for _m, name in wl_suite.QUERIES:
        q = REGISTRY.queries[name]
        pdf = q.builder(spark, sf_dir).toPandas()
        if q.oracle is not None:
            cmp = compare_frames(name, pdf, duck.sql(q.oracle).df())
            if not cmp.ok:
                bad.append(f"{name}: {cmp.detail[:200]}")
                continue
        hashes[name] = wl_suite.output_hash(pdf)

    docs, bench = wl_curate.replay_docs(spark, sf_dir)
    batch_ids = [r.doc_id for r in batch_full_curation_keep(docs, bench).select("doc_id").collect()]
    replay = os.path.join(WORK, "record", "replay")
    shutil.rmtree(os.path.dirname(replay), ignore_errors=True)
    write_replay_splits(docs, replay, wl_curate.N_SPLITS, "doc_id")
    _s, _c, _l, _p, stream_ids = wl_curate._replay(
        spark,
        lambda s, sink, ck: ingest_with_full_curation(s, bench, sink, ck),
        replay, docs.schema, os.path.join(WORK, "record", "run"),
    )
    if sorted(stream_ids) != sorted(batch_ids):
        bad.append(
            f"curate_stream: streamed kept {len(stream_ids)} docs, batch twin {len(batch_ids)}"
        )
    spark.stop()
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    out = {
        "tables_version": VERSION,
        "query_suite": hashes,
        "curate_stream": {"kept_docs": len(batch_ids), "kept_sha256": wl_curate.kept_hash(batch_ids)},
    }
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
