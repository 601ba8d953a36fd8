"""kmeans_clusters: distributed Lloyd's over the embeddings table.

Engine extension (no reference analog — the training-pipeline cluster
map / learned-IVF-cells operator). The oracle is the SAME fixed-point
computation unrolled as chained CTEs: init = k lowest vec_ids,
`KMEANS_ITERS` assignment+update rounds with exact scaled-long means,
then a final assignment under the converged centroids. Every float op
follows the cross-engine determinism conventions
(functions.arrays / functions.deterministic), so the 8-row summary
hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.caches import memo
from etl_wikipedia_updates_spark.functions.arrays import (
    sql_cosine_similarity,
    sql_l2_norm,
)
from etl_wikipedia_updates_spark.functions.deterministic import (
    dec_sum,
    det_round,
    sql_dec_sum,
    sql_det_round,
)
from etl_wikipedia_updates_spark.operators import clustering as C
from etl_wikipedia_updates_spark.operators import similarity as S
from etl_wikipedia_updates_spark.plans.base import DeclaredQuery
from etl_wikipedia_updates_spark.stages import (
    KMEANS_ITERS,
    KMEANS_K,
    PQ_KS,
    PQ_M,
    PQ_SUB,
    SEMDEDUP_TAU,
    _NRM_SQL,
    _d2_array_expr,
    _pq_slice,
    ne_sql,
    total_order,
)
from etl_wikipedia_updates_spark.tables import load_table, spread


def _fit_centroids(emb: DataFrame, sf_dir: str) -> list[list[float]]:
    """The k-means centroid matrix, memoized per sf_dir. The fit is
    bit-deterministic in its inputs (init = k lowest vec_ids, exact
    scaled-long means — see operators/clustering.py), so
    kmeans_clusters and ann_kmeans, which train on the IDENTICAL
    frame, share one fit: train-once-serve-many, the same contract as
    a model registry."""
    return memo(
        emb.sparkSession,
        ("kmeans", KMEANS_K, KMEANS_ITERS),
        lambda: C.kmeans_fit(emb, KMEANS_K, KMEANS_ITERS),
        sf_dir,
    )


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit k-means (fixed k/iters), then summarize: per cluster the
    member count, exact mean squared distance, and the first centroid
    coordinate as a value fingerprint."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    cents = _fit_centroids(emb, sf_dir)
    assigned = C.assignment(emb, cents)
    # cent1 is a driver-known constant per cid after the fit — a k-double
    # array literal indexed by cid instead of a broadcast join against a
    # centroid frame (one fewer exchange + frame round trip; repr
    # round-trips doubles exactly, same as _matrix_sql).
    cent1 = F.expr(
        "element_at(array("
        + ",".join(repr(float(c[0])) + "D" for c in cents)
        + "), cid + 1)"
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            det_round(
                dec_sum(F.col("d2"), scale=C.MEAN_SCALE) / F.count("d2"), 4
            ).alias("mean_dist2"),
        )
        .select(
            "cid",
            "n_members",
            "mean_dist2",
            det_round(cent1, 4).alias("cent1"),
        )
        .transform(total_order, "cid")
    )


def _assign_sql(cents: str, rel: str = "embeddings") -> str:
    d = C.sql_squared_l2("emb.embedding", "c.cent")
    return (
        "SELECT vec_id, embedding, cid, d2 FROM ("
        f"SELECT emb.vec_id, emb.embedding, c.cid, {d} AS d2, "
        f"row_number() OVER (PARTITION BY emb.vec_id ORDER BY {d}, c.cid) AS rn "
        f"FROM {rel} emb CROSS JOIN {cents} c) WHERE rn = 1"
    )


def _kmeans_ctes(
    k: int, iters: int, rel: str = "embeddings", prefix: str = ""
) -> list[str]:
    """CTE chain {p}c0 .. {p}c{iters} (fit) + {p}af (final assignment)
    over relation ``rel``. The caller prepends WITH; ``prefix`` keeps
    several chains (ann_pq runs one per subspace) from colliding."""
    p = prefix
    parts = [
        f"{p}c0 AS ("
        "SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent "
        f"FROM (SELECT vec_id, embedding FROM {rel} ORDER BY vec_id LIMIT {k}))"
    ]
    mean = f"({sql_dec_sum('u.x', scale=C.MEAN_SCALE)} / COUNT(u.x))"
    for i in range(1, iters + 1):
        parts.append(f"{p}a{i} AS ({_assign_sql(f'{p}c{i - 1}', rel=rel)})")
        parts.append(
            f"{p}g{i} AS (SELECT cid, u.pos AS pos, {mean} AS m FROM ("
            "SELECT cid, unnest(list_transform(range(1, len(embedding) + 1), "
            "i -> struct_pack(pos := i, x := CAST(embedding[i] AS DOUBLE)))) AS u "
            f"FROM {p}a{i}) GROUP BY cid, u.pos)"
        )
        parts.append(
            f"{p}n{i} AS (SELECT cid, list(m ORDER BY pos) AS cent FROM {p}g{i} "
            "GROUP BY cid)"
        )
        parts.append(
            f"{p}c{i} AS (SELECT p.cid, coalesce(q.cent, p.cent) AS cent "
            f"FROM {p}c{i - 1} p LEFT JOIN {p}n{i} q USING (cid))"
        )
    parts.append(f"{p}af AS ({_assign_sql(f'{p}c{iters}', rel=rel)})")
    return parts


def _kmeans_sql(k: int, iters: int) -> str:
    mean_d2 = sql_det_round(
        f"{sql_dec_sum('af.d2', scale=C.MEAN_SCALE)} / COUNT(af.d2)", 4
    )
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(k, iters))
        + f"\nSELECT af.cid AS cid, COUNT(*) AS n_members, {mean_d2} AS mean_dist2, "
        + sql_det_round("max(c.cent[1])", 4)
        + f" AS cent1\nFROM af JOIN c{iters} c USING (cid) "
        "GROUP BY af.cid ORDER BY cid"
    )


KMEANS_SQL = _kmeans_sql(KMEANS_K, KMEANS_ITERS)


# --- ann_kmeans: IVF top-k over the LEARNED cells -----------------------------
# Same probe shape as ann_ivf, but the cells come from kmeans_fit instead
# of the fixture's label column — the full "train cells, then search"
# loop of a production vector index.
ANN_KMEANS_K = 3
ANN_KMEANS_N_QUERIES = 5


# The double-cast embedding as SQL text; with its L2 norm
# (stages._NRM_SQL) the exact op sequence of functions.arrays.l2_norm
# (cast per element, square, sequential left fold from a 0.0 seed,
# sqrt), so cos_sim stays bit-identical to sql_cosine_similarity in
# the oracle.
_E_SQL = "transform(embedding, x -> CAST(x AS DOUBLE))"


def ann_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over the learned cells, built as a handful of
    ``selectExpr`` string projections rather than the generic
    operators/similarity Column chain: this builder is EAGER (the fit
    blocks plan caching), so it pays plan-build py4j cost on every
    call, and the Column-lambda HOF chain measured ~0.45s of driver
    time per build vs ~0.2s for the string form — same physical plan
    (broadcast hash probe join + ranked window), same bit-exact
    arithmetic (functions.arrays op sequence, inlined as SQL text)."""
    emb_raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    emb = spread(emb_raw)
    cents = _fit_centroids(emb, sf_dir)
    best = C._best_expr(cents)
    # Assign the query rows in their OWN tiny plan instead of filtering
    # `cells`: the two sides of the probe join never share a physical
    # subplan (self-join sides get no exchange reuse), so filtering
    # `cells` would evaluate the full-corpus assignment twice. This way
    # the vec_id filter reaches the parquet scan and the k-distance
    # struct-min runs over N_QUERIES rows, not the corpus. The query
    # side builds from the UNSPREAD scan — spread()'s repartition would
    # put a 32-partition exchange under the broadcast of 5 rows.
    cells = emb.selectExpr(
        "vec_id", f"{best}.cid AS cid", f"{_E_SQL} AS e"
    ).selectExpr("vec_id", "cid", "e", f"{_NRM_SQL.format(e='e')} AS nrm")
    queries = F.broadcast(
        emb_raw.filter(F.col("vec_id") < ANN_KMEANS_N_QUERIES)
        .selectExpr(
            "vec_id AS q_vec_id", f"{best}.cid AS q_cell", f"{_E_SQL} AS qe"
        )
        .selectExpr(
            "q_vec_id", "q_cell", "qe", f"{_NRM_SQL.format(e='qe')} AS q_nrm"
        )
    )
    joined = cells.join(
        queries,
        (F.col("cid") == F.col("q_cell"))
        & (F.col("vec_id") != F.col("q_vec_id")),
    ).selectExpr(
        "q_vec_id",
        "vec_id",
        # dot(qe, e) / (q_nrm * nrm): functions.arrays._pair_cosine as text
        "aggregate(zip_with(qe, e, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
        " / (q_nrm * nrm) AS sim",
    )
    return (
        joined.selectExpr(
            "q_vec_id",
            "vec_id",
            "sim",
            "CAST(row_number() OVER (PARTITION BY q_vec_id"
            " ORDER BY sim DESC, vec_id) AS BIGINT) AS rk",
        )
        .filter(F.col("rk") <= ANN_KMEANS_K)
        .select(
            "q_vec_id", "rk", "vec_id", det_round(F.col("sim"), 4).alias("cos_sim")
        )
        .transform(total_order, "q_vec_id", "rk")
    )


def _ann_kmeans_sql(k: int, iters: int) -> str:
    cos = sql_cosine_similarity("q.qe", "e.embedding")
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(k, iters))
        + f""",
q AS (
  SELECT vec_id AS q_vec_id, embedding AS qe, cid
  FROM af WHERE vec_id < {ANN_KMEANS_N_QUERIES}
),
pairs AS (
  SELECT q.q_vec_id, e.vec_id, {cos} AS cos
  FROM af e JOIN q ON e.cid = q.cid AND e.vec_id != q.q_vec_id
)
SELECT q_vec_id,
       CAST(row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rk,
       vec_id, {sql_det_round('cos', 4)} AS cos_sim
FROM pairs
QUALIFY rk <= {ANN_KMEANS_K}
ORDER BY q_vec_id, rk
"""
    )


ANN_KMEANS_SQL = _ann_kmeans_sql(KMEANS_K, KMEANS_ITERS)


# --- ann_pq: product quantization + ADC scan + exact rescore ------------------
# Product quantization (Jégou et al. 2011): the 64-dim embedding splits
# into PQ_M contiguous subvectors, each quantized to its own
# PQ_KS-centroid codebook (k-means per subspace), so a vector stores as
# PQ_M small codes. Search is the ADC (asymmetric distance computation)
# scan: the query precomputes a PQ_M x PQ_KS table of exact
# subvector-to-centroid distances, and every candidate's approximate
# distance is PQ_M table lookups + adds — the compressed-domain linear
# scan that is memory-bandwidth-bound instead of FLOP-bound at scale
# (and composes with IVF cells for sublinearity; here it scans the full
# corpus, PQ's standalone role). Overfetched shortlist re-scored with
# exact float cosine, the ann_sq8 contract.
PQ_TOPK = 3
PQ_N_QUERIES = 5
# Overfetch dial, swept at sf0.1 (normalized codes, k=3): 12 -> 0.40
# recall, 24 -> 0.53, 48 -> 0.73, 96 -> 0.73 (plateau; m=8 sub-spaces
# plateau identically). The fixture embeddings are random unit
# vectors — PQ's worst case (no low-dimensional structure for the
# codebooks to exploit) — so the plateau is the data's, not the
# dial's; 48 buys the whole achievable recall for a 16x-smaller
# shortlist than the corpus.
PQ_OVERFETCH = 48


_NE_SQL = ne_sql()


def _fit_codebooks(emb: DataFrame, sf_dir: str) -> list[list[list[float]]]:
    """One k-means codebook per subspace, each memoized per sf_dir
    (all books share (k, iters))."""

    def fit(m: int) -> list[list[float]]:
        sub = emb.selectExpr("vec_id", f"{_pq_slice(m, _NE_SQL)} AS embedding")
        return C.kmeans_fit(sub, PQ_KS, KMEANS_ITERS)

    return [
        memo(emb.sparkSession, ("pq_codebook", m), lambda m=m: fit(m), sf_dir)
        for m in range(PQ_M)
    ]


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k: encode the corpus to PQ_M codes (map-side
    struct-min per subspace over inlined codebook literals), broadcast
    the queries WITH their precomputed distance tables, score every
    candidate by PQ_M element_at lookups + adds, shortlist by
    approximate distance, rescore the shortlist with exact cosine.

    Scale shape: encoding and the ADC scan are pure projections over
    one corpus pass (at 100 TB the codes table is what you'd
    materialize — 4 bytes/vector here vs 256 for the floats); the only
    corpus-wide state is the per-query shortlist window, the q25/
    ann_kmeans ranked-window shape. Eager (four codebook fits run at
    build), so the same plan-rebuild trade as ann_kmeans applies."""
    emb_raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    emb = spread(emb_raw)
    books = _fit_codebooks(emb, sf_dir)
    # The normalized subvector binds ONCE per (row, subspace) through
    # a 1-element transform: passing _pq_slice(m, _NE_SQL) straight to
    # _best_expr would inline the full O(dim) normalization into every
    # one of the PQ_KS zip_withs — 64 whole-vector normalizations per
    # corpus row on the side PQ exists to make cheap.
    def _code(m: int) -> str:
        best = C._best_expr(books[m], col="sub")
        return (
            f"element_at(transform(array({_pq_slice(m, _NE_SQL)}), "
            f"sub -> {best}), 1).cid AS code{m}"
        )

    cands = emb.selectExpr(
        "vec_id",
        f"{_E_SQL} AS e",
        *[_code(m) for m in range(PQ_M)],
    ).selectExpr("*", f"{_NRM_SQL.format(e='e')} AS nrm")
    queries = F.broadcast(
        emb_raw.filter(F.col("vec_id") < PQ_N_QUERIES)
        .selectExpr(
            "vec_id AS q_vec_id", f"{_E_SQL} AS qe", f"{_NE_SQL} AS nqe"
        )
        .selectExpr(
            "q_vec_id",
            "qe",
            f"{_NRM_SQL.format(e='qe')} AS q_nrm",
            *[
                f"{_d2_array_expr(books[m], _pq_slice(m, 'nqe'))} AS qt{m}"
                for m in range(PQ_M)
            ],
        )
    )
    adc = " + ".join(
        f"element_at(qt{m}, code{m} + 1)" for m in range(PQ_M)
    )
    pairs = cands.join(
        queries, F.col("vec_id") != F.col("q_vec_id")
    ).selectExpr("q_vec_id", "vec_id", "qe", "e", "q_nrm", "nrm", f"{adc} AS ad2")
    short = (
        pairs.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY q_vec_id"
            " ORDER BY ad2, vec_id) AS rn",
        )
        .filter(F.col("rn") <= PQ_OVERFETCH)
        .selectExpr(
            "q_vec_id",
            "vec_id",
            "aggregate(zip_with(qe, e, (x, y) -> x * y), 0.0D,"
            " (acc, v) -> acc + v) / (q_nrm * nrm) AS sim",
        )
    )
    return (
        short.selectExpr(
            "q_vec_id",
            "vec_id",
            "sim",
            "CAST(row_number() OVER (PARTITION BY q_vec_id"
            " ORDER BY sim DESC, vec_id) AS BIGINT) AS rk",
        )
        .filter(F.col("rk") <= PQ_TOPK)
        .select(
            "q_vec_id",
            "rk",
            "vec_id",
            det_round(F.col("sim"), 4).alias("cos_sim"),
        )
        .transform(total_order, "q_vec_id", "rk")
    )


def _ann_pq_sql(iters: int) -> str:
    # unit-normalize exactly as Spark's _NE_SQL: per element
    # CAST-to-double divided by the full-vector norm (identical IEEE
    # op sequence -> identical doubles), with the same 1e-300
    # zero-norm floor (see ne_sql)
    ne = (
        "list_transform(embedding, x -> CAST(x AS DOUBLE) / "
        f"greatest({sql_l2_norm('embedding')}, 1e-300))"
    )
    parts = [f"en AS (SELECT vec_id, {ne} AS ne FROM embeddings)"]
    for m in range(PQ_M):
        lo, hi = m * PQ_SUB + 1, (m + 1) * PQ_SUB
        parts.append(
            f"e{m} AS (SELECT vec_id, list_slice(ne, {lo}, {hi})"
            " AS embedding FROM en)"
        )
        parts.extend(_kmeans_ctes(PQ_KS, iters, rel=f"e{m}", prefix=f"p{m}"))
    joins = " ".join(
        f"JOIN p{m}af a{m} USING (vec_id)" for m in range(1, PQ_M)
    )
    codes = (
        "codes AS (SELECT a0.vec_id, "
        + ", ".join(f"a{m}.cid AS k{m}" for m in range(PQ_M))
        + f" FROM p0af a0 {joins})"
    )
    book_joins = " ".join(
        f"JOIN p{m}c{iters} b{m} ON b{m}.cid = c.k{m}" for m in range(PQ_M)
    )
    ad2 = " + ".join(
        C.sql_squared_l2(
            f"list_slice(q.nqe, {m * PQ_SUB + 1}, {(m + 1) * PQ_SUB})",
            f"b{m}.cent",
        )
        for m in range(PQ_M)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + ",\n"
        + codes
        + f""",
q AS (
  SELECT e.vec_id AS q_vec_id,
         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS qe,
         n.ne AS nqe
  FROM embeddings e JOIN en n ON n.vec_id = e.vec_id
  WHERE e.vec_id < {PQ_N_QUERIES}
),
pairs AS (
  SELECT q.q_vec_id, c.vec_id, {ad2} AS ad2
  FROM codes c CROSS JOIN q {book_joins}
  WHERE c.vec_id != q.q_vec_id
),
short AS (
  SELECT q_vec_id, vec_id FROM (
    SELECT q_vec_id, vec_id,
           row_number() OVER (PARTITION BY q_vec_id ORDER BY ad2, vec_id) AS rn
    FROM pairs) WHERE rn <= {PQ_OVERFETCH}
),
resc AS (
  SELECT s.q_vec_id, s.vec_id,
         {sql_cosine_similarity('q.qe', 'e.embedding')} AS cos
  FROM short s JOIN q ON q.q_vec_id = s.q_vec_id
  JOIN embeddings e ON e.vec_id = s.vec_id
)
SELECT q_vec_id,
       CAST(row_number() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, vec_id)
            AS BIGINT) AS rk,
       vec_id, {sql_det_round('cos', 4)} AS cos_sim
FROM resc
QUALIFY rk <= {PQ_TOPK}
ORDER BY q_vec_id, rk
"""
    )


ANN_PQ_SQL = _ann_pq_sql(KMEANS_ITERS)


# --- semantic_dedup: SemDeDup over the learned cells --------------------------
# SemDeDup (Abbas et al. 2023): cluster the embedding space, then call
# two vectors in the SAME cluster semantic duplicates when their cosine
# clears a threshold, and keep one representative. Survivorship follows
# the repo-wide near-dup convention (dedup_corpus, span_removal): the
# LOWEST vec_id in a duplicate relation is canonical — a vector is
# removed iff a smaller vec_id in its cluster sits within the
# threshold. The threshold matches cosine_neardup's, but over LEARNED
# cells instead of the fixture's label column — the label-free
# composition a real curation run needs.


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup audit: members, removed duplicates, and
    removed/kept id checksums.

    Scale shape: the fit is the SHARED memoized k-means
    (_fit_centroids — kmeans_clusters / ann_kmeans / semantic_dedup
    train once per session+sf); assignment carries the centroid matrix
    as a 1-row broadcast COLUMN (C.assignment_matrix_col) so the k*dim
    literal appears once in the plan, not once per consumer; the pair
    space is per-cell (equi-join on cid + id inequality), so the
    quadratic term is bounded by the largest CELL, never the corpus —
    at 100 TB a skewed cell is salted or sub-clustered, and k grows
    with the corpus (SemDeDup uses k ~ sqrt(n)).

    The normed+assigned frame feeds three branches (pair left, pair
    right, per-cell totals), so it is persisted — the materialize-
    shared-subplan DuckDB's CTE gives the oracle for free; lineage is
    intact (plain persist, no checkpoint), and the audit is AGGREGATE-
    side: removed ids reduce per cell and join the per-cell totals on
    k rows (kept_checksum = total - removed), so no corpus-sized
    join-back exists anywhere in the plan. r12 replan history in
    SCALE.md: 1.28s -> 0.88s at sf0.1 (DuckDB 0.55s)."""
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    cents = _fit_centroids(emb, sf_dir)
    assigned = C.assignment_matrix_col(emb, cents).select(
        "vec_id", "embedding", "cid"
    )
    normed = S.prenormed_cells(assigned, "cid").persist()
    removed = (
        S.near_pairs_of_prenormed(normed, SEMDEDUP_TAU)
        .select("cell", "vec_id2")
        .distinct()
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_removed"),
            F.sum("vec_id2").cast("bigint").alias("removed_checksum"),
        )
    )
    totals = normed.groupBy(F.col("cell").alias("cid")).agg(
        F.count("*").alias("n_members"),
        F.sum("vec_id").cast("bigint").alias("total_checksum"),
    )
    return (
        totals.join(removed, totals.cid == removed.cell, "left")
        .select(
            "cid",
            "n_members",
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("removed_checksum"), F.lit(0))
            .cast("bigint")
            .alias("removed_checksum"),
            (
                F.col("total_checksum")
                - F.coalesce(F.col("removed_checksum"), F.lit(0))
            )
            .cast("bigint")
            .alias("kept_checksum"),
        )
        .transform(total_order, "cid")
    )


def _semantic_dedup_sql(k: int, iters: int) -> str:
    cos = sql_cosine_similarity("a.embedding", "b.embedding")
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(k, iters))
        + f""",
rmv AS (
  SELECT DISTINCT b.vec_id AS rm
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {cos} >= {SEMDEDUP_TAU}
)
SELECT af.cid AS cid, COUNT(*) AS n_members,
  CAST(COALESCE(SUM(CASE WHEN rm IS NOT NULL THEN 1 END), 0) AS BIGINT)
    AS n_removed,
  CAST(COALESCE(SUM(CASE WHEN rm IS NOT NULL THEN af.vec_id END), 0) AS BIGINT)
    AS removed_checksum,
  CAST(COALESCE(SUM(CASE WHEN rm IS NULL THEN af.vec_id END), 0) AS BIGINT)
    AS kept_checksum
FROM af LEFT JOIN rmv ON af.vec_id = rmv.rm
GROUP BY af.cid ORDER BY cid
"""
    )


SEMANTIC_DEDUP_SQL = _semantic_dedup_sql(KMEANS_K, KMEANS_ITERS)

CLUSTERING_QUERIES: list[DeclaredQuery] = [
    DeclaredQuery(
        "kmeans_clusters",
        kmeans_clusters,
        KMEANS_SQL,
        "distributed k-means (learned IVF cells)",
        eager=True,  # Lloyd's fit runs jobs at build time
    ),
    DeclaredQuery(
        "ann_kmeans",
        ann_kmeans,
        ANN_KMEANS_SQL,
        "IVF top-k over learned k-means cells",
        eager=True,  # Lloyd's fit runs jobs at build time
    ),
    DeclaredQuery(
        "semantic_dedup",
        semantic_dedup,
        SEMANTIC_DEDUP_SQL,
        "SemDeDup: within-learned-cluster cosine near-dup removal audit",
        eager=True,  # Lloyd's fit runs jobs at build time
    ),
    DeclaredQuery(
        "ann_pq",
        ann_pq,
        ANN_PQ_SQL,
        "product-quantized ADC scan + exact rescore top-k",
        eager=True,  # four per-subspace codebook fits run at build time
    ),
]
