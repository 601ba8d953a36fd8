"""Distributed k-means (Lloyd's) over an embedding column.

Reference parity: the reference app has no clustering, but a
training-data pipeline needs learned cells for IVF-style similarity
search and corpus topic maps; this is the standard distributed recipe
(same shape as Spark MLlib's KMeans): the driver holds only the
k x dim centroid matrix between iterations (a few KB), every
data-sized step is a DataFrame op. Assignment is a pure projection —
centroids are embedded as literal arrays, each vector computes its k
distances and takes the (d2, cid) struct-min, so no join and no
shuffle touches the corpus. The update is one shuffle keyed on
(cid, dim-position): k*dim cells, independent of corpus size.

Determinism (oracle hash-matching):
- init = the k vectors with the smallest vec_id, in vec_id order.
- distances fold sequentially in array order from a 0.0 seed on both
  engines (functions.arrays conventions) -> bit-identical doubles;
  assignment ties break toward the lowest cid via struct-min.
- the centroid update is an exact scaled-long mean
  (functions.deterministic.dec_sum), so partial-aggregation order can
  never change it; a cluster that loses every member keeps its
  previous centroid.
- iteration count is fixed (no data-dependent convergence loop), so
  the oracle is expressible as unrolled SQL and the job count is
  bounded.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.caches import memo

MEAN_SCALE = 6  # scaled-long mean precision (1e-6) for centroid updates


def _matrix_sql(cents: list[list[float]]) -> str:
    """The k x dim centroid matrix as ONE SQL array-of-arrays literal.

    Built as a string and parsed JVM-side by ``F.expr``: constructing the
    same literal through k*dim ``F.lit`` py4j calls costs ~0.4s of driver
    time per call site at k=8, dim=64 (measured), which multiplies across
    Lloyd's iterations. ``repr(float)`` round-trips doubles exactly, so
    the parsed literal is bit-identical to the Python value."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
            for c in cents
        )
        + ")"
    )


def sql_squared_l2(e: str, c: str) -> str:
    """DuckDB twin of squared_l2_to for centroid arrays already cast to
    double — identical IEEE op sequence (cast, subtract, square, left
    fold from 0.0)."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({e}, {c}), "
        f"p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))), "
        f"(acc, v) -> acc + v)"
    )


def _dist_structs_expr(
    centroids: list[list[float]], col: str = "embedding"
) -> str:
    """Per-row array of (d2, cid) structs, one per centroid. ``col``
    is any SQL array expression (the PQ encoder passes subvector
    slices) — it appears once per zip_with call, so a slice() there is
    evaluated k times per row, not k*dim times."""
    return (
        f"transform({_matrix_sql(centroids)}, (c, i) -> "
        f"named_struct('d2', aggregate(zip_with({col}, c, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, v) -> acc + v), 'cid', CAST(i AS INT)))"
    )


def _best_expr(centroids: list[list[float]], col: str = "embedding") -> str:
    return f"array_min({_dist_structs_expr(centroids, col=col)})"


def probe_cells(
    emb: DataFrame, centroids: list[list[float]], p: int
) -> DataFrame:
    """Multi-probe assignment: (vec_id, embedding, probe_cells) with
    each vector's p NEAREST centroid ids as an ARRAY (struct
    array_sort orders by d2 then cid — the same tie-break as
    assignment). One row per vector — the shape
    similarity.cosine_topk_multiprobe consumes, and the shape that
    keeps downstream rescore joins duplicate-free by construction.
    Pure projection; p is a tiny constant, so this stays map-side at
    any corpus size."""
    return emb.selectExpr(
        "vec_id",
        "embedding",
        f"transform(slice(array_sort({_dist_structs_expr(centroids)}), 1, {p}), "
        "s -> s.cid) AS probe_cells",
    )


def assignment(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, cid, d2): nearest centroid per vector, ties to lowest
    cid. Pure projection (struct-min over the per-centroid distances) —
    scales map-side at any corpus size. One selectExpr call (single
    py4j round trip; see _matrix_sql). The distance keeps the
    cross-engine op sequence: per element cast-to-double, subtract,
    square, then a sequential left fold from a 0.0 seed
    (sql_squared_l2 is the DuckDB twin). The cast happens per element
    inside the lambda — never reference a computed array from inside a
    lambda body (Catalyst re-evaluates it per element access). The
    struct-min is projected ONCE and fields are split in an outer
    select, so the k-distance scan never runs twice per row."""
    return emb.selectExpr(
        "vec_id", "embedding", f"{_best_expr(centroids)} AS __best"
    ).select(
        "vec_id",
        "embedding",
        F.col("__best.cid").alias("cid"),
        F.col("__best.d2").alias("d2"),
    )


def assign_cids(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Update-path assignment: (embedding, cid) only. Omitting d2
    halves the struct-min tree the optimizer carries through each
    Lloyd's round (the update never reads d2)."""
    return emb.selectExpr("embedding", f"{_best_expr(centroids)}.cid AS cid")


def assignment_matrix_col(
    emb: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """(all emb columns + cid) with the k x dim centroid matrix carried
    as a COLUMN through a 1-row broadcast instead of inlined literals.

    Same IEEE op sequence as ``assignment`` (cast, subtract, square,
    left fold from 0.0; struct-min ties to lowest cid) — bit-identical
    cids — but the matrix literal appears ONCE in the plan, in the
    broadcast LocalRelation, instead of once per consumer of the
    assignment expression. For multi-consumer DAGs (semantic_dedup
    reads the assigned frame from three branches) the literal form
    re-inlines k*dim doubles into every branch and the optimizer/
    codegen chew the blown-up tree each time: at k=8, dim=64 that
    fixed overhead measured ~0.25s per execution at sf0.1 (SCALE.md
    r12). The broadcast is a BroadcastNestedLoopJoin against one row —
    map-side at any corpus size, no shuffle of the big side."""
    spark = emb.sparkSession
    one = F.broadcast(
        spark.range(1).select(F.expr(_matrix_sql(centroids)).alias("__cmat"))
    )
    best = (
        "array_min(transform(__cmat, (c, i) -> named_struct('d2', "
        "aggregate(zip_with(embedding, c, (x, y) -> "
        "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, v) -> acc + v), 'cid', CAST(i AS INT))))"
    )
    cols = emb.columns
    return emb.join(one).selectExpr(*cols, f"{best}.cid AS cid")


def init_centroids(emb: DataFrame, k: int) -> list[list[float]]:
    """The k vectors with the smallest vec_id, in vec_id order."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    return [[float(x) for x in r.embedding] for r in rows]


def _update_agg(dim: int) -> Column:
    """The constant per-dimension sum aggregate. Column objects are
    immutable expression handles, safely reused across frames and
    rounds (rebuilding one per round costs a py4j expression parse per
    call), so callers memoize it per session (caches.memo)."""
    s = float(10**MEAN_SCALE)
    # try_element_at: NULL (skipped by sum) past the end of a short
    # array under ANY ansi setting — plain element_at errors out under
    # ansi=true, and this operator may run in a foreign session.
    sums = ",".join(
        f"'s{i}', sum(cast(floor(cast(try_element_at(embedding, {i + 1}) as double)"
        f" * {s!r}D + 0.5D) as bigint))"
        for i in range(dim)
    )
    # one named_struct holding every aggregate = ONE F.expr (a single
    # py4j round trip instead of dim+1 of them — measured ~0.3s of
    # driver time per round at dim=64 the other way).
    return F.expr(f"named_struct('n', count(*), {sums})").alias("st")


def update_centroids(
    assigned: DataFrame, prev: list[list[float]]
) -> list[list[float]]:
    """Exact scaled-long per-dimension means. One grouped aggregation
    straight on the vectors — dim sum-columns + a count per cid, so the
    shuffle carries k rows of (dim+1) longs and there is NO row
    explosion (the earlier posexplode shape shuffled |corpus|*dim rows
    on (cid, pos); same multiset of scaled addends, so results are
    bit-identical — the oracle SQL is unchanged). Map-side partials
    keep it one pass at any corpus size. Empty clusters keep their
    previous centroid."""
    # Declared precondition: dense, uniform-dimension embeddings (the
    # mean divides by the member COUNT, which equals the per-dimension
    # non-null count only when no row is ragged or null-padded). The
    # fixture schema and quantize/ANN operators share this contract.
    dim = len(prev[0])
    s = float(10**MEAN_SCALE)
    agg = memo(assigned.sparkSession, ("update_agg", dim), lambda: _update_agg(dim))
    rows = assigned.groupBy("cid").agg(agg).collect()
    cents = [list(c) for c in prev]
    for r in rows:
        n = float(r.st.n)
        # same IEEE sequence as the dec_sum/count column math: long sum
        # -> double, / 10^scale, / count. Scaled sums stay < 2^53, so
        # the double conversion is exact.
        cents[r.cid] = [(float(r.st[f"s{i}"]) / s) / n for i in range(dim)]
    return cents


# Execution conf scoped to the fit loop's driver-round jobs. (fit_conf
# below is exported for any future EAGER k-row collect; note the
# registered summaries stay lazy — an eager collect of them measured
# slower, and wrapping a lazy plan BUILD in this scope is a no-op.)
# Rationale per knob, valid at every scale (not a local-mode hack):
# - wholeStage=false: the per-round assignment expression embeds the
#   fresh centroid literals, so codegen recompiles every round — and
#   the hot expressions (aggregate/zip_with higher-order functions)
#   are CodegenFallback: they run interpreted either way. Compile cost
#   with no runtime payoff.
# - adaptive=false: the update shuffle carries exactly k rows of
#   (dim+1) longs; AQE's per-stage re-planning adds driver latency per
#   round and has nothing to optimize on a k-row exchange.
# - shuffle.partitions=8: the right reducer count for a k-group
#   aggregation is ~k at ANY corpus size (map-side partials do the
#   data-sized work); AQE coalescing exists to discover this number at
#   runtime, presetting it is strictly cheaper.
_FIT_CONF = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
}


@contextmanager
def fit_conf(spark):
    """Apply _FIT_CONF for the duration of an eager block, restoring
    the caller's values on exit — only meaningful around code that
    RUNS jobs (collects); a lazy plan built inside executes later
    under whatever conf is active then."""
    saved = {key: spark.conf.get(key) for key in _FIT_CONF}
    try:
        for key, val in _FIT_CONF.items():
            spark.conf.set(key, val)
        yield
    finally:
        for key, val in saved.items():
            spark.conf.set(key, val)


def kmeans_fit(
    emb: DataFrame, k: int, iters: int
) -> list[list[float]]:
    """Lloyd's with fixed iteration count; returns the final centroid
    matrix (driver-side, k x dim). The training set is cached for the
    duration of the fit — init + every update re-reads it (MLlib's
    KMeans caches the same way); the cache is dropped before returning
    so the caller's final assignment plan owns its own scan. The fit's
    internal jobs run under _FIT_CONF (set/restored here — the loop is
    eager, so the conf is active exactly for its own jobs and invisible
    to the caller's lazy plans)."""
    spark = emb.sparkSession
    emb = emb.persist()
    try:
        with fit_conf(spark):
            cents = init_centroids(emb, k)
            if not cents:
                raise ValueError("kmeans_fit: empty training set (no vectors)")
            for _ in range(iters):
                cents = update_centroids(assign_cids(emb, cents), cents)
    finally:
        emb.unpersist()
    return cents


