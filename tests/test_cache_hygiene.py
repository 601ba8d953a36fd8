"""Cache-hygiene contract for a long-lived session (VERDICT r4 #6).

Two classes of persist() in the engine:

- **Eager builders** (kmeans_clusters / ann_kmeans fit loop,
  dedup_clusters / dedup_corpus connected-components) execute Spark
  jobs while the plan is being BUILT. Every persist they take out must
  be released by the time the builder returns — otherwise each call
  leaks executor memory in a session that builds many plans (the
  catalog cache in tables.py exists precisely because sessions are
  long-lived).
- **Declared lazy persists** are part of a returned plan: they
  materialize at action time, stay cached afterwards (Spark has no
  auto-unpersist), and are reclaimed by spark.catalog.clearCache() —
  the documented session-level knob bench.py uses between queries.
  Since the posting-list pair rework (r5) removed the last two
  (minhash signatures / simhash fingerprints each have a single
  consumer now), the allow-list held only declared exceptions —
  currently exactly one: semantic_dedup's shared prenormed+assigned
  frame (r12 replan), listed in DECLARED_LAZY_PERSISTS below. Every
  other registered query must leave the cache empty after running.
"""

from __future__ import annotations

import gc
import os

import pytest

from etl_wikipedia_updates_spark.registry import REGISTRY

SF = "/root/testdata/sf0.001"

# The only queries allowed to leave cached data behind after execution,
# and only until the next clearCache().
# - semantic_dedup (r12): the prenormed+assigned frame feeds three
#   branches (pair left/right, per-cell totals); persisting it is the
#   materialize-shared-subplan the oracle's CTE gets for free. Plain
#   persist — lineage intact, reclaimed by clearCache().
# (source_mix_subword and ngram_quality left this set in r15: both
# were replanned onto memoized bounded fits + single-pass map-side
# bodies, so neither holds any cached frame anymore.)
DECLARED_LAZY_PERSISTS: set[str] = {
    "semantic_dedup",
    # - ccnet_buckets (r19 optimization round): the charlm-scored
    #   projection (doc_id, lang, n_chars, bits) feeds three branches
    #   (quantile pass-1 sketch, pass-2 bracket probe, bucket
    #   assignment); persisting the ~30-byte/doc frame replaces three
    #   full-text scoring folds with one (same materialize-shared-
    #   subplan trade as semantic_dedup). Plain persist — lineage
    #   intact, reclaimed by clearCache().
    "ccnet_buckets",
}

EAGER_BUILDERS = [
    "kmeans_clusters",
    "ann_kmeans",
    "dedup_clusters",
    "dedup_corpus",
    # r10 eager additions: shared/per-subspace k-means fits, the CC
    # probe under the temperature release, and the charlm bigram fit
    # (distinct_kmv left this list in r11: its localCheckpoint is
    # gone, the query is fully lazy now)
    "semantic_dedup",
    "ann_pq",
    "corpus_release_temp",
    "charlm_score",
    # r13 registrations: all run bounded collects at build time (the
    # shared BPE top-V fit, the incremental snapshot-threshold 1-row
    # agg)
    "bpe_token_stats",
    "incremental_dedup",
    "seq_pack_subword",
    # r15: both replanned onto memoized bounded fits (mix budgets /
    # 4096 bucket weights) collected at build time
    "source_mix_subword",
    "ngram_quality",
]


def _n_cached(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.mark.parametrize("name", EAGER_BUILDERS)
def test_eager_builders_release_their_persists(spark, name):
    spark.catalog.clearCache()
    before = _n_cached(spark)
    REGISTRY.queries[name].builder(spark, SF)  # build only — jobs may run
    gc.collect()
    # a DECLARED lazy persist registers with the cache manager at build
    # time (materialization still waits for execution) — allowed here,
    # checked for materialization + reclaim in the lazy test below
    allowed = 1 if name in DECLARED_LAZY_PERSISTS else 0
    assert _n_cached(spark) - before <= allowed, (
        f"{name} builder leaked persisted data during its eager phase"
    )
    spark.catalog.clearCache()


def test_lazy_queries_leave_cache_clean_after_execution(spark):
    """Run every registered query end-to-end; outside the declared
    allow-list the cache must be empty afterwards, and clearCache()
    must reclaim the allow-listed entries too."""
    for name, q in REGISTRY.queries.items():
        spark.catalog.clearCache()
        q.builder(spark, SF).write.format("noop").mode("overwrite").save()
        gc.collect()
        n = _n_cached(spark)
        if name in DECLARED_LAZY_PERSISTS:
            assert n > 0, f"{name}: declared persist never materialized"
        else:
            assert n == 0, f"{name} left {n} cached entries behind"
    spark.catalog.clearCache()
    assert _n_cached(spark) == 0


def test_driver_caches_purge_stale_session_entries(spark):
    """Entries keyed by a stopped session's applicationId are dropped
    when a live session inserts — the driver-side memo (plans, tables,
    fit centroids, PQ codebooks, update aggregates) must not
    accumulate stale py4j handles across SparkContext restarts."""
    from etl_wikipedia_updates_spark import caches, tables
    from etl_wikipedia_updates_spark.operators import clustering as C
    from etl_wikipedia_updates_spark.plans import clustering as PC

    app = spark.sparkContext.applicationId
    dead = ("dead-app", ("q1", SF))
    emb = tables.load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    small = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, float(i % 2)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    q1 = REGISTRY.queries["q1"].cached_builder()
    region = tables.table_path(SF, "region")
    inserts = [
        (("plan", "q1"), SF, lambda: q1(spark, SF)),
        (("table", "region"), region, lambda: tables.load_table(spark, SF, "region")),
        (("update_agg", 4), None, lambda: C.kmeans_fit(small, 2, 1)),
        (
            ("kmeans", PC.KMEANS_K, PC.KMEANS_ITERS),
            SF,
            lambda: PC._fit_centroids(emb, SF),
        ),
        (("pq_codebook", 0), SF, lambda: PC._fit_codebooks(emb, SF)),
    ]
    for key, inputs, insert in inserts:
        caches._MEMO[dead] = ((), object())
        caches._MEMO.pop((app, (key, inputs)), None)
        insert()
        assert dead not in caches._MEMO, key
        assert (app, (key, inputs)) in caches._MEMO, key


def test_memo_rebuilds_entries_whose_input_was_rewritten(spark, tmp_path):
    """A table rewritten while the session is live changes the memo's
    input fingerprint: the table handle, the plan and every fit built
    from it are rebuilt (and replace the stale entries), so q26 follows
    the new data. The rewrite moves every doc_id past 2^31, where a
    stale packed-key gate (doc_id_bounds_u32 == True) would overflow
    the x * 2^32 + y pair key."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from etl_wikipedia_updates_spark import caches, tables
    from etl_wikipedia_updates_spark.oracle import compare_frames, duckdb_connection

    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    for name in os.listdir(SF):
        shutil.copyfile(os.path.join(SF, name), os.path.join(sf, name))
    q26 = REGISTRY.queries["q26"]

    def fit_entry():
        fail = lambda: pytest.fail("id-bounds fit not memoized")  # noqa: E731
        return caches.memo(spark, "doc_id_bounds_u32", fail, sf)

    plan = q26.cached_builder()(spark, sf)
    docs = tables.load_table(spark, sf, "documents")
    assert fit_entry() is True
    n_before = len(caches._MEMO)

    path = tables.table_path(sf, "documents")
    t = pq.read_table(path)
    ids = pc.add(t.column("doc_id"), pa.scalar(1 << 31, t.schema.field("doc_id").type))
    t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id", ids)
    pq.write_table(t, path)

    assert tables.load_table(spark, sf, "documents") is not docs
    rebuilt = q26.cached_builder()(spark, sf)
    assert rebuilt is not plan
    assert fit_entry() is False
    assert len(caches._MEMO) == n_before  # replaced, not kept beside
    duck = duckdb_connection(sf)
    try:
        res = compare_frames("q26", rebuilt.toPandas(), duck.sql(q26.oracle).df())
    finally:
        duck.close()
    assert res.ok, res.detail
    assert res.spark_rows > 0
