"""Similarity search over embedding columns (array<float>).

All vector math is JVM-side (``functions.arrays``: zip_with/aggregate
folds) — no Python round trips. Three strategies, by scale:

1. ``cosine_topk`` — brute force. Exact; O(|queries| x n). Right when
   the query set is small (broadcast) or n is modest.
2. ``cosine_topk_ivf`` — IVF-style: a coarse partition column (here the
   pre-assigned ``label``; in general a cluster id from any assignment)
   restricts the search to one cell. The probe is an equi-join on the
   cell key — shuffle-partitioned, never all-pairs. This is the 100 TB
   shape: cells bound candidate counts, and cell ids can be bucketed
   for storage co-location.
3. ``cosine_near_pairs`` — blocked pair generation (same cell), for
   near-dup detection rather than top-k.

A random-hyperplane LSH variant of (2) — sign-bit bucket from
dot(v, r_i) over fixed pseudo-random hyperplanes — drops in the same
way (bucket id instead of label); IVF-by-label is implemented because
the test corpus ships cluster assignments, making the oracle exact.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.functions.arrays import (
    dot_product,
    l2_norm,
    sql_dot_product,
)
from etl_wikipedia_updates_spark.functions.deterministic import det_round


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _pair_cosine(e1, e2, n1, n2):
    """cos(e1, e2) with the norms precomputed once per *vector* instead
    of once per *pair* — the same dot/(n1*n2) arithmetic in the same
    order as functions.arrays.cosine_similarity (bit-identical), but the
    per-pair fold work drops from 3 array passes to 1. Callers pass
    already-double arrays (cast once per vector, below a join boundary
    so Catalyst can't re-inline it per pair)."""
    return dot_product(e1, e2) / (n1 * n2)


def _with_double_and_norm(emb: DataFrame, out_col: str, norm_col: str) -> DataFrame:
    """Add the double-cast embedding and its L2 norm as columns — one
    cast pass and one norm pass per vector. Downstream pair expressions
    read these materialized columns across a join, so the per-pair work
    is exactly one zip_with+fold."""
    return emb.withColumn(
        out_col, _as_double(F.col("embedding"))
    ).withColumn(norm_col, l2_norm(F.col(out_col)))


def cosine_topk(
    emb: DataFrame, queries: DataFrame, k: int, exclude_self: bool = True
) -> DataFrame:
    """Top-k cosine neighbors for each query vector (brute force).

    queries: (q_vec_id, q_embedding) — small; broadcast so the scan of
    ``emb`` happens exactly once with no shuffle of the big side. The
    per-query top-k is a ranked window on q_vec_id (k rows survive per
    query).
    """
    q = F.broadcast(
        queries.withColumn("qe", _as_double(F.col("q_embedding"))).withColumn(
            "q_nrm", l2_norm(F.col("qe"))
        )
    )
    base = _with_double_and_norm(emb, "e", "nrm")
    joined = base.crossJoin(q)
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("q_vec_id"))
    sim = _pair_cosine(F.col("qe"), F.col("e"), F.col("q_nrm"), F.col("nrm"))
    w = W.partitionBy("q_vec_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        joined.select("q_vec_id", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_vec_id",
            "rank",
            "vec_id",
            det_round(F.col("sim"), 4).alias("cos_sim"),
        )
    )


def _cosine_topk_probed(
    emb: DataFrame,
    q: DataFrame,
    k: int,
    cell_col: str,
    dedup: bool,
    exclude_self: bool = True,
) -> DataFrame:
    """Shared probe-join + ranked-window core of the IVF variants.

    ``q``: a (broadcast) query frame carrying one row per (query,
    probed cell): q_vec_id, q_cell, qe (double array), q_nrm.
    ``dedup``: True when a query probes multiple cells — a vector
    reachable via two cells must count once; the single-probe path
    skips it (pairs are unique by construction, the distinct would be
    a pure extra shuffle).
    ``exclude_self``: drop the candidate whose vec_id equals the
    query's id — right for self-queries drawn from the corpus, WRONG
    for an external query set with its own id numbering (a coincident
    id would silently drop a real neighbor); such callers pass False."""
    base = _with_double_and_norm(emb, "e", "nrm")
    joined = base.join(q, base[cell_col] == q["q_cell"])
    if exclude_self:
        joined = joined.filter(F.col("vec_id") != F.col("q_vec_id"))
    sim = _pair_cosine(F.col("qe"), F.col("e"), F.col("q_nrm"), F.col("nrm"))
    sims = joined.select("q_vec_id", "vec_id", sim.alias("sim"))
    if dedup:
        sims = sims.distinct()
    w = W.partitionBy("q_vec_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_vec_id",
            "rank",
            "vec_id",
            det_round(F.col("sim"), 4).alias("cos_sim"),
        )
    )


def cosine_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    cell_col: str = "label",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF top-k: probe only the query's cell (equi-join on cell id).

    queries: (q_vec_id, q_embedding, <cell_col>). Approximate iff true
    neighbors live outside the probed cell; n_probes>1 =
    cosine_topk_multiprobe. Join is shuffle-partitioned on the cell
    key — candidate count is bounded by cell size, independent of
    corpus size.
    """
    q = F.broadcast(
        queries.select(
            "q_vec_id", "q_embedding", F.col(cell_col).alias("q_cell")
        )
        .withColumn("qe", _as_double(F.col("q_embedding")))
        .withColumn("q_nrm", l2_norm(F.col("qe")))
    )
    return _cosine_topk_probed(
        emb, q, k, cell_col, dedup=False, exclude_self=exclude_self
    )


LSH_LCG_A = 1_103_515_245
LSH_LCG_C = 12_345
LSH_LCG_M = 2**31 - 1


def lsh_hyperplanes(n: int, dim: int, seed: int = 11) -> list[list[float]]:
    """n deterministic pseudo-random hyperplanes in [-1, 1]^dim from an
    LCG — plain 6-decimal floats, so the identical literals embed in
    both the Spark plan and the DuckDB oracle SQL (repr round-trips to
    the same double in both engines)."""
    planes: list[list[float]] = []
    state = seed
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (LSH_LCG_A * state + LSH_LCG_C) % LSH_LCG_M
            row.append(round((state % 2_000_001 - 1_000_000) / 1e6, 6))
        planes.append(row)
    return planes


def lsh_probe_masks(n_planes: int, radius: int) -> list[int]:
    """XOR masks enumerating every bucket within Hamming distance
    ``radius`` of a query's own sign bucket — the multi-probe LSH
    recall dial as a real code path (radius=0 is single-probe,
    radius=1 the standard near-bucket probe, radius=n_planes probes
    every bucket and degenerates to exact brute force; the r10 recall
    audit measured radius 0 -> 1 at 0.1333 -> 0.3333 recall@3 on the
    4-plane sf0.1 configuration). Mask count is sum_{r<=radius}
    C(n_planes, r), so candidates grow combinatorially with radius —
    the production setting pairs MORE planes (smaller buckets) with a
    SMALL radius. Order: radius-ascending, so masks[0] == 0 (the home
    bucket) and a prefix of the list is itself a valid smaller-radius
    probe set."""
    if not 0 <= radius <= n_planes:
        raise ValueError(
            f"radius must be in [0, {n_planes}], got {radius}"
        )
    return [
        sum(1 << b for b in bits)
        for r in range(radius + 1)
        for bits in combinations(range(n_planes), r)
    ]


def lsh_bucket_col(emb_col_name: str, planes: list[list[float]]):
    """Sign-bit bucket id: bit h set iff dot(vec, plane_h) > 0. Same
    fold arithmetic as functions.arrays.dot_product, so the oracle
    (sql_lsh_bucket) computes identical signs.

    Takes the embedding *column name* and builds one JVM-parsed SQL
    expression: composing n_planes x dim plane literals through F.lit
    costs ~0.3s of py4j driver time per plan build (repr round-trips
    each double exactly, so the parsed literals match the Python
    values bit-for-bit)."""
    terms = []
    for h, plane in enumerate(planes):
        lit = "array(" + ",".join(repr(float(v)) + "D" for v in plane) + ")"
        d = (
            f"aggregate(zip_with(transform({emb_col_name}, "
            f"x -> CAST(x AS DOUBLE)), {lit}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"if({d} > 0, {2 ** h}, 0)")
    return F.expr("CAST((" + " + ".join(terms) + ") AS BIGINT)")


def sql_lsh_bucket(expr: str, planes: list[list[float]]) -> str:
    terms = []
    for h, plane in enumerate(planes):
        # 6dp decimal strings: DuckDB's DECIMAL(k,6)->DOUBLE conversion is
        # a correctly-rounded small-int division, equal to Python's strtod
        # of the same string — the two engines bind identical doubles.
        lit = "[" + ", ".join(f"{v:.6f}" for v in plane) + "]"
        terms.append(
            f"(CASE WHEN {sql_dot_product(expr, lit)} > 0 THEN {2**h} ELSE 0 END)"
        )
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def cosine_topk_multiprobe(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    cell_col: str = "label",
    probe_cells_col: str = "probe_cells",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF top-k with n_probes > 1: each query carries an ARRAY of cell
    ids to probe (typically its nearest n centroid cells); the array
    explodes into one equi-join probe per cell and candidates from all
    probed cells compete in one ranked window. Recall rises with every
    added cell at linearly more candidates — the standard IVF recall
    lever (SCALE.md); n_probes = total cells degenerates to exact
    brute force."""
    q = F.broadcast(
        queries.select(
            "q_vec_id",
            "q_embedding",
            F.explode(F.col(probe_cells_col)).alias("q_cell"),
        )
        .withColumn("qe", _as_double(F.col("q_embedding")))
        .withColumn("q_nrm", l2_norm(F.col("qe")))
    )
    return _cosine_topk_probed(
        emb, q, k, cell_col, dedup=True, exclude_self=exclude_self
    )


def prenormed_cells(emb: DataFrame, cell_col: str) -> DataFrame:
    """(vec_id, cell, e, nrm): the double-cast embedding and its L2
    norm, one pass per vector, with the blocking key renamed to
    ``cell``. Public so a multi-consumer plan (semantic_dedup) can
    persist ONE prenormed frame and fan pair-left/pair-right/audit
    branches out of it instead of recomputing the cast+norm per
    branch."""
    return _with_double_and_norm(emb, "e", "nrm").select(
        "vec_id", F.col(cell_col).alias("cell"), "e", "nrm"
    )


def near_pairs_of_prenormed(normed: DataFrame, threshold: float) -> DataFrame:
    """(cell, vec_id, vec_id2, sim) pairs above threshold from a
    prenormed_cells frame. The pair space is per-cell (equi-join on
    the cell key + id inequality), so the quadratic term is bounded by
    the largest cell, not the corpus. Skewed cells would be
    salted/sub-clustered at scale."""
    left = normed.select(
        "cell",
        "vec_id",
        F.col("e").alias("e1"),
        F.col("nrm").alias("n1"),
    )
    right = normed.select(
        "cell",
        F.col("vec_id").alias("vec_id2"),
        F.col("e").alias("e2"),
        F.col("nrm").alias("n2"),
    )
    sim = _pair_cosine(F.col("e1"), F.col("e2"), F.col("n1"), F.col("n2"))
    return (
        left.join(right, ["cell"])
        .filter(F.col("vec_id") < F.col("vec_id2"))
        .select("cell", "vec_id", "vec_id2", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def cosine_near_pairs(
    emb: DataFrame, threshold: float, cell_col: str = "label"
) -> DataFrame:
    """(vec_id, vec_id2, cos_sim) pairs above threshold, blocked by
    cell (see near_pairs_of_prenormed for the scale argument)."""
    return near_pairs_of_prenormed(
        prenormed_cells(emb, cell_col), threshold
    ).select("vec_id", "vec_id2", det_round(F.col("sim"), 4).alias("cos_sim"))
