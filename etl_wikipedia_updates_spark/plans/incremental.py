"""incremental_dedup: dedup a NEW crawl snapshot against a PRIOR
published corpus without re-paying the prior corpus' pair space.

Engine extension (no reference analog — the reference app,
/root/reference/pipeline.py, re-ingests a stream; this is the batch
recrawl workflow a training-data pipeline runs per snapshot). The
full-corpus near-dup operators (minhash_lsh, dedup_corpus) pair the
WHOLE corpus against itself; when a published release is immutable,
an incremental pass only needs candidates touching the new snapshot:

- MinHash band rows are computed for new ∪ prior (at production
  scale the prior side is a STORED artifact of the release — band
  rows are exactly the posting lists the streaming near-dup store
  keeps; here they are recomputed from the table).
- Candidates = band collisions with AT LEAST ONE new endpoint
  (operators.dedup.lsh_candidate_pairs_split) — prior x prior pairs are
  never generated, which is the quadratic term that makes from-scratch
  re-dedup infeasible per recrawl at 100 TB.
- Exact-Jaccard verify, then connected components over the verified
  edges. Prior ids are all below the snapshot threshold, so a
  component that touches the prior corpus has a prior canonical
  (min-id rule, shared with dedup_corpus) and every new member drops;
  a component of only-new docs keeps its min id.
- The PRIOR side is never dropped (a published release is immutable);
  the audit reports the new snapshot's fate per source: kept, dropped
  against the prior corpus, dropped within the snapshot.

Equivalence contract (tests/test_incremental.py): when the prior side
is internally deduped (pairwise non-near-dup, i.e. actual release
survivors) and prior ids precede new ids, the incremental keep/drop
set over the union equals from-scratch dedup over the union on the
same pair relation — the recrawl shortcut loses nothing. The snapshot
boundary here is a deterministic id threshold (the top quarter of the
id space is "the new crawl"), computed with exact integer arithmetic
on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.caches import memo
from etl_wikipedia_updates_spark.functions.deterministic import sql_det_round
from etl_wikipedia_updates_spark.operators import dedup as D
from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.operators.text import HASH_P
from etl_wikipedia_updates_spark.plans.base import DeclaredQuery
from etl_wikipedia_updates_spark.plans.northstar import SQL_SH
from etl_wikipedia_updates_spark.stages import (
    JACCARD_THRESHOLD,
    MINHASH_BANDS,
    MINHASH_PARAMS,
    MINHASH_ROWS,
    SPAN_HOP,
    SPAN_W,
    _span_audit_tagged,
    _span_occurrences,
    total_order,
)
from etl_wikipedia_updates_spark.tables import load_table, spread


def snapshot_threshold(docs: DataFrame) -> int:
    """The synthetic snapshot boundary: ids in the top quarter of
    [0, max_id] are "the new crawl". ((max+1)*3) div 4 — exact integer
    arithmetic, so the oracle's twin expression computes the same
    boundary. One 1-row agg collect (the fit-small pattern); in a real
    recrawl the boundary is an INPUT (the prior release's max id), not
    a computation."""
    row = docs.agg(F.max("doc_id").alias("m")).collect()[0]
    return ((int(row["m"]) + 1) * 3) // 4


def incremental_vs_prior(
    docs: DataFrame, thr: int, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """(doc_id, source, cluster_id) for every NEW doc (id >= thr),
    cluster_id NULL when the doc collided with nothing. The reusable
    core: band rows for all docs, probe = new side only, verify, CC."""
    shingle_rows = T.doc_shingles(docs)
    dtok = shingle_rows.withColumn("tid", T.term_hash_col())
    sig = D.minhash_signatures(
        dtok.select("doc_id", "lang", "tid"), MINHASH_PARAMS
    )
    band_all = D.lsh_band_rows(sig, MINHASH_BANDS, MINHASH_ROWS)
    # r20: the split form — bit-equal to the join of the new band rows
    # against all band rows (pinned in tests/test_incremental.py) but
    # planned as ONE aggregation over one sig pipeline; the join form
    # scanned, shingled and min-hashed the corpus once per side.
    cand = D.lsh_candidate_pairs_split(band_all, thr)
    tok_arrays = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(F.transform(T.shingles_col(), T.term_hash_fn))
        ).alias("toks"),
    )
    verified = D.jaccard_verify(cand, tok_arrays, threshold)
    labels = D.connected_components(verified.select("doc_id", "doc_id2"))
    return (
        docs.filter(F.col("doc_id") >= thr)
        .select("doc_id", "source")
        .join(labels, "doc_id", "left")
    )


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the new snapshot's incremental dedup fate:
    docs in the snapshot, kept, dropped against the prior corpus,
    dropped within the snapshot, kept-id checksum."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    thr = memo(
        spark,
        "incr_thr",
        lambda: snapshot_threshold(docs),
        sf_dir,
    )
    flagged = incremental_vs_prior(docs, thr)
    kept = F.col("cluster_id").isNull() | (
        F.col("cluster_id") == F.col("doc_id")
    )
    vs_prior = F.col("cluster_id") < F.lit(thr)
    within = (F.col("cluster_id") >= F.lit(thr)) & (
        F.col("cluster_id") != F.col("doc_id")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("new_docs"),
            F.coalesce(F.sum(F.when(kept, 1)), F.lit(0))
            .cast("bigint")
            .alias("kept_docs"),
            F.coalesce(F.sum(F.when(vs_prior, 1)), F.lit(0))
            .cast("bigint")
            .alias("dropped_prior"),
            F.coalesce(F.sum(F.when(within, 1)), F.lit(0))
            .cast("bigint")
            .alias("dropped_new"),
            F.coalesce(F.sum(F.when(kept, F.col("doc_id"))), F.lit(0))
            .cast("bigint")
            .alias("kept_checksum"),
        )
        .transform(total_order, "source")
    )


def _incremental_sql() -> str:
    sig_cols = ", ".join(
        f"MIN(({a} * tid + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    bands = " UNION ALL ".join(
        "SELECT doc_id, lang, {b} AS band, {key} AS band_key FROM sig".format(
            b=b,
            key="||'_'||".join(
                f"CAST(h{b * MINHASH_ROWS + r} AS VARCHAR)"
                for r in range(MINHASH_ROWS)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH RECURSIVE
sh AS ({SQL_SH}),
dt AS (SELECT doc_id, lang, {T.sql_term_hash("term")} AS tid FROM sh),
thr AS (SELECT ((MAX(doc_id) + 1) * 3) // 4 AS t FROM documents),
sig AS (SELECT doc_id, lang, {sig_cols} FROM dt GROUP BY doc_id, lang),
banded AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
  FROM banded a JOIN banded c
    ON a.lang = c.lang AND a.band = c.band AND a.band_key = c.band_key
   AND a.doc_id < c.doc_id
  WHERE a.doc_id >= (SELECT t FROM thr) OR c.doc_id >= (SELECT t FROM thr)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
inter AS (
  SELECT cand.d1, cand.d2, COUNT(*) AS i
  FROM cand
  JOIN dt t1 ON t1.doc_id = cand.d1
  JOIN dt t2 ON t2.doc_id = cand.d2 AND t2.tid = t1.tid
  GROUP BY 1, 2
),
ver AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON d1 = s1.doc_id
  JOIN sizes s2 ON d2 = s2.doc_id
  WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE)
        >= {JACCARD_THRESHOLD}
),
edges AS (SELECT d1 AS src, d2 AS dst FROM ver
          UNION SELECT d2, d1 FROM ver),
r AS (
  SELECT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label FROM r JOIN edges e ON e.src = r.doc_id
),
cc AS (SELECT doc_id, MIN(label) AS cluster_id FROM r GROUP BY doc_id),
nd AS (
  SELECT d.source, d.doc_id, cc.cluster_id
  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
  WHERE d.doc_id >= (SELECT t FROM thr)
)
SELECT source, COUNT(*) AS new_docs,
  CAST(COALESCE(SUM(CASE WHEN cluster_id IS NULL OR cluster_id = doc_id
                         THEN 1 END), 0) AS BIGINT) AS kept_docs,
  CAST(COALESCE(SUM(CASE WHEN cluster_id < (SELECT t FROM thr)
                         THEN 1 END), 0) AS BIGINT) AS dropped_prior,
  CAST(COALESCE(SUM(CASE WHEN cluster_id >= (SELECT t FROM thr)
                          AND cluster_id != doc_id
                         THEN 1 END), 0) AS BIGINT) AS dropped_new,
  CAST(COALESCE(SUM(CASE WHEN cluster_id IS NULL OR cluster_id = doc_id
                         THEN doc_id END), 0) AS BIGINT) AS kept_checksum
FROM nd GROUP BY source ORDER BY source
"""


INCREMENTAL_DEDUP_SQL = _incremental_sql()


# --- incremental_span_dedup (r17): the recrawl story for SPANS ---------------
def incremental_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: the same synthetic snapshot boundary as
    incremental_dedup (top id quarter = "the new crawl", shared
    memoized threshold), prior side recomputed from the table here —
    in a real recrawl it is READ from the persisted span-hash store
    (release.publish_span_store), never recomputed; equivalence of
    the two prior-side feeds is pinned by tests/test_incremental.py.
    Incremental == from-scratch contract (also pinned): a new doc's
    occurrence is dup here iff it is dup in span_dedup run over the
    whole union — dup_prior | dup_new decomposes span_dedup's
    min(doc)!=max(doc) rule across the snapshot boundary, so the
    recrawl shortcut loses nothing.

    Plan shape: since both sides come from ONE table here, the
    occurrences are TAGGED by the threshold instead of unioned as two
    filtered copies — one scan + one span-hash pass + one h-keyed
    exchange (a union of two filters over the same subtree would scan
    and hash the corpus twice; plan-pinned in tests/test_plans.py)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    thr = memo(
        spark,
        "incr_thr",
        lambda: snapshot_threshold(docs),
        sf_dir,
    )
    return _span_audit_tagged(
        _span_occurrences(docs).select(
            "doc_id",
            "source",
            "h",
            (F.col("doc_id") < thr).cast("int").alias("is_prior"),
        )
    )


def _incremental_span_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS l FROM documents
),
thr AS (SELECT ((MAX(doc_id) + 1) * 3) // 4 AS t FROM documents),
tid AS (
  SELECT doc_id, source,
         list_transform(l, t -> {T.sql_term_hash('t')}) AS tids,
         len(l) AS n
  FROM t WHERE len(l) >= {SPAN_W}
),
sp AS (
  SELECT doc_id, source,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_slice(tids, p + 1, p + {SPAN_W})),
           (h, x) -> (h * {T.TERM_HASH_BASE} + x) % {HASH_P}) AS h
  FROM tid, unnest(range(0, n - {SPAN_W} + 1, {SPAN_HOP})) AS u(p)
),
hs AS (
  SELECT h,
         MAX(CASE WHEN doc_id < (SELECT t FROM thr) THEN 1 ELSE 0 END)
           AS has_prior,
         MIN(CASE WHEN doc_id >= (SELECT t FROM thr) THEN doc_id END) AS mn,
         MAX(CASE WHEN doc_id >= (SELECT t FROM thr) THEN doc_id END) AS mx
  FROM sp GROUP BY h
),
flags AS (
  SELECT s.doc_id, s.source,
         hs.has_prior AS dup_prior,
         CASE WHEN hs.mn != hs.mx THEN 1 ELSE 0 END AS dup_new
  FROM sp s JOIN hs USING (h)
  WHERE s.doc_id >= (SELECT t FROM thr)
),
pd AS (
  SELECT doc_id, source, COUNT(*) AS spans_doc,
         SUM(dup_prior) AS dp, SUM(dup_new) AS dn,
         SUM(GREATEST(dup_prior, dup_new)) AS da
  FROM flags GROUP BY 1, 2
)
SELECT source,
       COUNT(*) AS new_docs,
       CAST(SUM(spans_doc) AS BIGINT) AS total_spans,
       CAST(SUM(dp) AS BIGINT) AS dup_prior_spans,
       CAST(SUM(dn) AS BIGINT) AS dup_new_spans,
       CAST(SUM(da) AS BIGINT) AS dup_spans,
       CAST(SUM(CASE WHEN da > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_affected,
       {sql_det_round("CAST(SUM(da) AS DOUBLE) / CAST(SUM(spans_doc) AS DOUBLE)", 4)}
         AS dup_frac
FROM pd GROUP BY source ORDER BY source
"""


INCREMENTAL_SPAN_DEDUP_SQL = _incremental_span_sql()

INCREMENTAL_QUERIES: list[DeclaredQuery] = [
    DeclaredQuery(
        "incremental_dedup",
        incremental_dedup,
        INCREMENTAL_DEDUP_SQL,
        "incremental cross-snapshot near-dup: new crawl vs prior corpus",
        eager=True,  # threshold collect + CC strategy probe run at build
    ),
    DeclaredQuery(
        "incremental_span_dedup",
        incremental_span_dedup,
        INCREMENTAL_SPAN_DEDUP_SQL,
        "incremental span-level dedup: new crawl's spans vs the prior "
        "corpus' span-hash store",
        eager=True,  # shared threshold collect runs at build
    ),
]
