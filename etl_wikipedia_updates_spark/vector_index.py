"""Persistent IVF vector index: build once, version, query many times.

ann_kmeans demonstrates the train-then-search loop inside one session
(memoized fit); a production vector index is BUILT once, PUBLISHED,
and then queried by many later sessions without retraining. This
module is that lifecycle on the engine's own pieces:

- ``build_ivf_index``: k-means fit (operators.clustering — the same
  deterministic scaled-long Lloyd's the certified queries use), then
  the full corpus assignment published as a SnapshotTable version,
  hive-partitioned by cell with the centroid matrix in the version's
  metadata. Index data and its model are one atomic publish; rebuilds
  are new versions; readers pin.
- ``query_ivf_index``: resolve (or pin) a version, read the centroid
  matrix from metadata (k x dim floats — driver-side literals, no
  Spark job), assign each query vector to its nearest cell with the
  SAME literal-matrix projection, and probe ONLY the matching cell
  partitions — the filter on the partition column prunes every other
  cell's files at the parquet source, so query cost scales with cell
  size, not corpus size.

At 100 TB this is the standard IVF serving shape: the partition prune
is what makes a trillion-vector index queryable (read k/N of the
files), and SnapshotTable's pointer gives lock-free index rebuilds
under live query traffic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.functions.arrays import cosine_similarity
from etl_wikipedia_updates_spark.functions.deterministic import det_round
from etl_wikipedia_updates_spark.operators import clustering as C
from etl_wikipedia_updates_spark.operators import similarity as S
from etl_wikipedia_updates_spark.stages import (
    KMEANS_ITERS,
    KMEANS_K,
    PQ_KS,
    PQ_M,
    PQ_SUB,
    _d2_array_expr,
    _pq_slice,
    ne_sql,
)
from etl_wikipedia_updates_spark.streaming.snapshot import (
    SnapshotTable,
    dir_row_count,
)
from etl_wikipedia_updates_spark.tables import load_table, spread


# Symmetric SQ8 (same math as ann_sq8/quantize_embeddings): s =
# 127/absmax, q_i = round(v_i * s) as int8, dq_i = q_i / s.
_SQ8_ABSMAX = (
    "aggregate(transform(embedding, v -> abs(CAST(v AS DOUBLE))), 0.0D, "
    "(a, v) -> greatest(a, v))"
)
_SQ8_QV = (
    "IF(absmax > 0.0D, transform(embedding, v -> "
    "CAST(floor(CAST(v AS DOUBLE) * (127.0D / absmax) + 0.5D) AS TINYINT)), "
    "transform(embedding, v -> CAST(0 AS TINYINT)))"
)
_SQ8_DEQUANT = (
    "IF(absmax > 0.0D, transform(qv, x -> "
    "CAST(x AS DOUBLE) / (127.0D / absmax)), "
    "transform(qv, x -> 0.0D))"
)


def _norm_quantize(quantize) -> str | bool:
    """Normalize the quantize knob: False/None -> False, True (the
    pre-PQ boolean API) -> 'sq8', else the mode string."""
    if not quantize:
        return False
    if quantize is True:
        return "sq8"
    if quantize in ("sq8", "pq"):
        return quantize
    raise ValueError(f"quantize={quantize!r}: expected False, 'sq8' or 'pq'")


def _pq_fit_books(emb: DataFrame) -> list[list[list[float]]]:
    """Per-subspace codebooks over the UNIT-NORMALIZED vectors (the
    ann_pq design: on the unit sphere ADC's L2 order equals the cosine
    order the exact rescore uses)."""
    return [
        C.kmeans_fit(
            emb.selectExpr(
                "vec_id", f"{_pq_slice(m, ne_sql())} AS embedding"
            ),
            PQ_KS,
            KMEANS_ITERS,
        )
        for m in range(PQ_M)
    ]


def _pq_encode(df: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """Add code0..code{M-1}: each subvector's nearest codebook entry.
    The normalized subvector binds once per (row, subspace) — the
    ann_pq encoder shape."""

    def code(m: int) -> str:
        best = C._best_expr(books[m], col="sub")
        return (
            f"element_at(transform(array({_pq_slice(m, ne_sql())}), "
            f"sub -> {best}), 1).cid AS code{m}"
        )

    return df.selectExpr("*", *[code(m) for m in range(PQ_M)])


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    keep_last: int = 2,
    quantize: bool | str = False,
) -> dict:
    """Fit, assign, publish. Returns {"version": N, "k": k}.

    quantize='sq8' (or legacy True) additionally stores each vector's
    symmetric-int8 form (qv tinyint array + absmax) beside the exact
    floats — the ann_sq8 storage trade INSIDE the cell layout: the
    approximate probe scans 1-byte elements (column pruning keeps the
    float column unread), exact floats are touched only for the
    overfetched rescore rows. quantize='pq' stores product-quantized
    codes instead (PQ_M small ints per vector — the IVF-PQ layout, the
    ann_pq trade inside the cell layout) with the per-subspace
    codebooks in the version metadata; the approximate probe is the
    ADC table scan over the code columns alone."""
    quantize = _norm_quantize(quantize)
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    if quantize == "pq":
        # The PQ layout slices subvectors at fixed PQ_SUB offsets; a
        # table whose dim != PQ_M*PQ_SUB would silently fit codebooks
        # over a truncated prefix (empty slices for higher subspaces)
        # and degrade recall with no error. Fail loudly BEFORE the
        # expensive IVF k-means fit. One row's dim suffices:
        # embedding_stats is the audit that catches MIXED dims.
        row = emb.select(F.size("embedding").alias("d")).first()
        dim = None if row is None else row["d"]
        if dim != PQ_M * PQ_SUB:
            raise ValueError(
                f"quantize='pq' requires dim == PQ_M*PQ_SUB "
                f"({PQ_M}*{PQ_SUB}={PQ_M * PQ_SUB}); embeddings table "
                f"has dim {dim} (None = empty table) — use "
                "quantize='sq8' (dim-agnostic) or retune PQ_M/PQ_SUB"
            )
    cents = C.kmeans_fit(emb, k, iters)
    assigned = C.assignment(emb, cents).select(
        "vec_id", "embedding", F.col("cid").cast("int").alias("cell")
    )
    pq_books = None
    if quantize == "sq8":
        assigned = assigned.selectExpr(
            "vec_id", "embedding", "cell", f"{_SQ8_ABSMAX} AS absmax"
        ).selectExpr("vec_id", "embedding", "cell", "absmax", f"{_SQ8_QV} AS qv")
    elif quantize == "pq":
        # dim checked before the fit, above
        pq_books = _pq_fit_books(emb)
        assigned = _pq_encode(assigned, pq_books)
    table = SnapshotTable(out_root)
    meta = {
        "k": k,
        "iters": iters,
        "sf_dir": sf_dir,
        "centroids": cents,
        "quantized": quantize,
    }
    if pq_books is not None:
        meta["pq_books"] = pq_books
    version = table.publish(
        assigned,
        meta=meta,
        partition_by=["cell"],
    )
    table.vacuum(keep_last=keep_last)
    sel = probe_selectivity(out_root, version)
    return {
        "version": version,
        "k": k,
        "quantized": quantize,
        "imbalance": sel["imbalance"],
        "needs_refit": sel["needs_refit"],
    }


def append_to_ivf_index(
    spark: SparkSession,
    index_root: str,
    new_vectors: DataFrame,
    version: int | None = None,
    keep_last: int = 2,
) -> dict:
    """Incremental index maintenance: fold NEW vectors into a published
    index without refitting.

    Only the new rows are assigned — against the centroid matrix read
    from the base version's metadata (a k x dim driver-side literal,
    no Spark job to fetch) — and existing ∪ new publishes as the next
    version carrying the SAME centroids. The expensive steps of a
    rebuild (the k-means fit's Lloyd's rounds over the corpus, and the
    corpus-wide re-assignment) are skipped entirely; the Spark work is
    O(new vectors) plus the union write. On this filesystem layout the
    union write is the snapshot cost of an immutable complete version;
    on Delta/Iceberg the same operation is a partition-level append of
    just the new rows' cell files.

    The refit-vs-append trade: with frozen centroids the space
    partition stays VALID — queries probe with the same matrix, so a
    vector appended here is found exactly as if a from-scratch
    assignment had placed it (the equality the tests pin). What drifts
    is BALANCE: as the ingested distribution shifts, frozen cells
    grow unevenly, degrading probe selectivity (hot cells make probes
    read more rows) — never correctness. Periodic build_ivf_index
    rebuilds refit; SnapshotTable's pointer makes that rebuild
    lock-free under live queries.

    new_vectors: (vec_id, embedding). Returns {"version", "base",
    "appended_rows"}."""
    table = SnapshotTable(index_root)
    base = table.current_version() if version is None else version
    if base is None:
        raise FileNotFoundError(f"no published index under {index_root}")
    meta = table.meta_for(base)
    assigned = C.assignment(
        new_vectors.select("vec_id", "embedding"), meta["centroids"]
    ).select("vec_id", "embedding", F.col("cid").cast("int").alias("cell"))
    quant = _norm_quantize(meta.get("quantized"))
    if quant == "sq8":
        assigned = assigned.selectExpr(
            "vec_id", "embedding", "cell", f"{_SQ8_ABSMAX} AS absmax"
        ).selectExpr(
            "vec_id", "embedding", "cell", "absmax", f"{_SQ8_QV} AS qv"
        )
    elif quant == "pq":
        # frozen codebooks, like the frozen centroids: an appended
        # vector encodes exactly as a from-scratch encode would
        assigned = _pq_encode(assigned, meta["pq_books"])
    existing = table.read(spark, base)
    base_rows = int(meta["n_rows"])
    merged = existing.unionByName(assigned)
    new_version = table.publish(
        merged,
        meta={**{k: v for k, v in meta.items() if k != "n_rows"},
              "appended_from": base},
        partition_by=["cell"],
    )
    table.vacuum(keep_last=keep_last)
    appended = int(table.meta_for(new_version)["n_rows"]) - base_rows
    # balance telemetry per append: frozen centroids mean cells drift
    # as the ingested distribution shifts — surface it so the operator
    # sees probe selectivity degrade instead of discovering it in
    # query latency (probe_selectivity documents the refit trigger)
    sel = probe_selectivity(index_root, new_version)
    return {
        "version": new_version,
        "base": base,
        "appended_rows": appended,
        "imbalance": sel["imbalance"],
        "needs_refit": sel["needs_refit"],
    }


# Refit trigger for append-drifted indexes: imbalance = largest cell's
# corpus share x k (a perfectly balanced index sits at 1.0). Past this
# factor a 1-probe query against the hot cell reads >REFIT_IMBALANCE x
# its fair share of rows — the docstring-prescribed periodic
# build_ivf_index refit is due.
REFIT_IMBALANCE = 4.0


def cell_histogram(index_root: str, version: int | None = None) -> dict:
    """Per-cell row counts {cell: rows} for a published version, from
    the parquet FOOTERS of the hive ``cell=N`` layout — driver-side
    I/O of a few KB per file, no Spark job. A version dir is
    immutable, so its histogram is a pure function of the layout;
    computing it on demand can never disagree with the data the way a
    stored copy could after a partial write."""
    table = SnapshotTable(index_root)
    v = table.current_version() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published index under {index_root}")
    vdir = table.version_path(v)
    counts: dict[int, int] = {}
    for d in sorted(os.listdir(vdir)):
        if d.startswith("cell="):
            counts[int(d.split("=", 1)[1])] = dir_row_count(
                os.path.join(vdir, d)
            )
    return counts


def probe_selectivity(index_root: str, version: int | None = None) -> dict:
    """Operational balance readout for a published index version — the
    telemetry an operator watches to decide when append drift
    (append_to_ivf_index keeps centroids frozen, so cells grow
    unevenly as the ingested distribution shifts) warrants the
    periodic refit:

    - max_cell_share: largest cell's fraction of all rows;
    - expected_probe_fraction: fraction of the corpus a 1-probe query
      reads in expectation when queries land on cells proportionally
      to their mass (sum of squared shares; 1/k when balanced);
    - imbalance: max_cell_share * k (1.0 = perfectly balanced);
    - needs_refit: imbalance > REFIT_IMBALANCE.
    """
    table = SnapshotTable(index_root)
    v = table.current_version() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published index under {index_root}")
    meta = table.meta_for(v)
    counts = cell_histogram(index_root, v)
    n = sum(counts.values())
    k = int(meta.get("k", max(len(counts), 1)))
    max_cell = max(counts.values(), default=0)
    max_share = (max_cell / n) if n else 0.0
    exp_read = sum((c / n) ** 2 for c in counts.values()) if n else 0.0
    imbalance = max_share * k
    return {
        "version": v,
        "n_rows": n,
        "k": k,
        "quantized": _norm_quantize(meta.get("quantized")),
        "nonempty_cells": sum(1 for c in counts.values() if c),
        "max_cell_rows": max_cell,
        "max_cell_share": round(max_share, 6),
        "expected_probe_fraction": round(exp_read, 6),
        "imbalance": round(imbalance, 4),
        "needs_refit": imbalance > REFIT_IMBALANCE,
        "cells": {str(c): r for c, r in sorted(counts.items())},
    }


def index_recall(
    spark: SparkSession,
    index_root: str,
    queries: DataFrame,
    topk: int = 5,
    version: int | None = None,
    n_probes: int = 1,
    exclude_self: bool = True,
    overfetch: int = 4,
) -> dict:
    """Measured recall@k of the index probe vs brute-force cosine over
    the SAME published version's vectors — the accuracy half of the
    probe_selectivity telemetry (selectivity says what a probe READS;
    recall says what it FINDS). A cell-probed query is exact only when
    every true neighbor shares the query's probed cells, so recall < 1
    is expected and n_probes is the knob that buys it back. On a
    QUANTIZED index (sq8/pq) the approximate scan adds its own rank
    error on top of the cell miss; ``overfetch`` is that mode's dial —
    the exact rescore sees topk*overfetch candidates, so raising it
    converges the quantized probe to the float probe within the same
    probed cells (pinned per storage mode in test_vector_index).

    queries: (q_vec_id, q_embedding). Cost: one probe run + one
    brute-force run over |queries| x |index| pairs — a MEASUREMENT
    (run on a sample or a small tier), not a serving path; the
    per-query overlap compare is |queries|-bounded driver work.
    Returns {"recall_at_k", "per_query", "topk", "n_probes", ...}."""
    table = SnapshotTable(index_root)
    v = table.current_version() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published index under {index_root}")
    approx = query_ivf_index(
        spark,
        index_root,
        queries,
        topk=topk,
        version=v,
        n_probes=n_probes,
        exclude_self=exclude_self,
        overfetch=overfetch,
    )
    exact = S.cosine_topk(
        table.read(spark, v).select("vec_id", "embedding"),
        queries,
        k=topk,
        exclude_self=exclude_self,
    )

    def hit_sets(df: DataFrame) -> dict:
        return {
            r["q_vec_id"]: set(r["hits"])
            for r in df.groupBy("q_vec_id")
            .agg(F.collect_set("vec_id").alias("hits"))
            .collect()
        }

    got, want = hit_sets(approx), hit_sets(exact)
    per_query = {
        str(q): round(len(got.get(q, set()) & hits) / len(hits), 4)
        for q, hits in sorted(want.items())
        if hits
    }
    mean = (
        round(sum(per_query.values()) / len(per_query), 4)
        if per_query
        else 1.0
    )
    return {
        "version": v,
        "topk": topk,
        "n_probes": n_probes,
        "overfetch": overfetch,
        "quantized": _norm_quantize(table.meta_for(v).get("quantized")),
        "n_queries": len(per_query),
        "recall_at_k": mean,
        "per_query": per_query,
    }


def query_ivf_index(
    spark: SparkSession,
    index_root: str,
    queries: DataFrame,
    topk: int = 5,
    version: int | None = None,
    overfetch: int = 4,
    n_probes: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a published index. queries: (q_vec_id, q_embedding).

    Output: (q_vec_id, rank, vec_id, cos_sim), ordered. The query
    cells are collected (|queries| * n_probes ints — bounded driver
    work) and pushed as a partition-column filter so only the probed
    cells' files are ever read. n_probes > 1 probes each query's
    nearest P cells (the standard IVF recall knob — a corpus vector
    lives in exactly one cell, so multi-probe unions candidates
    without duplicates). On a quantized index the cell scan ranks by
    int8-dequantized cosine first (the float column stays unread —
    column pruning), then rescores the topk*overfetch candidates
    against the exact floats.

    ``exclude_self`` (default True) drops the corpus vector whose
    vec_id equals the query's q_vec_id — the self-match suppression a
    corpus-drawn query set wants. An EXTERNAL query set with its own
    id numbering must pass False: a coincidental id equal to a corpus
    vec_id would otherwise silently drop that vector — possibly the
    true nearest neighbor — from the results."""
    table = SnapshotTable(index_root)
    v = table.current_version() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published index under {index_root}")
    meta = table.meta_for(v)
    # ONE row per query with its probe cells as an ARRAY — the shape
    # cosine_topk_multiprobe consumes, and the shape that keeps the
    # rescore join below duplicate-free by construction (a per-probe
    # ROW form would multiply every candidate by n_probes there).
    qprobe = C.probe_cells(
        queries.select(
            F.col("q_vec_id").alias("vec_id"),
            F.col("q_embedding").alias("embedding"),
        ),
        meta["centroids"],
        p=n_probes,
    ).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("probe_cells").cast("array<int>").alias("probe_cells"),
    )
    # Materialize the probe assignment ONCE: the rows are |queries|-
    # bounded by the serving contract, so collecting them and
    # rebuilding qprobe as a local relation both yields the partition
    # filter AND stops the joined plan from re-embedding (and
    # re-executing) the k x dim centroid-literal projection a second
    # time per probe.
    schema = qprobe.schema
    qrows = qprobe.collect()
    cells = sorted({c for r in qrows for c in r["probe_cells"]})
    qprobe = spark.createDataFrame(qrows, schema)
    data = table.read(spark, v).filter(F.col("cell").isin(cells))
    quant = _norm_quantize(meta.get("quantized"))
    if not quant:
        out = S.cosine_topk_multiprobe(
            data, qprobe, k=topk, cell_col="cell", exclude_self=exclude_self
        )
        return out.orderBy("q_vec_id", "rank")
    if quant == "sq8":
        # approximate scan over dq (reads qv/absmax, not the float
        # column), then exact rescore of the overfetched candidates
        approx_side = data.selectExpr(
            "vec_id", "cell", f"{_SQ8_DEQUANT} AS embedding"
        )
        cand = S.cosine_topk_multiprobe(
            approx_side,
            qprobe,
            k=topk * overfetch,
            cell_col="cell",
            exclude_self=exclude_self,
        ).select("q_vec_id", "vec_id")
    else:  # pq: ADC table scan over the code columns alone — neither
        # the float column nor any per-candidate vector math is
        # touched until the rescore; each candidate costs PQ_M
        # element_at lookups + adds against the query's precomputed
        # tables (the ann_pq probe inside the cell layout)
        books = meta["pq_books"]
        qtab = F.broadcast(
            qprobe.selectExpr(
                "q_vec_id",
                "probe_cells",
                *[
                    f"{_d2_array_expr(books[m], _pq_slice(m, ne_sql('q_embedding')))}"
                    f" AS qt{m}"
                    for m in range(PQ_M)
                ],
            )
        )
        adc = " + ".join(
            f"element_at(qt{m}, code{m} + 1)" for m in range(PQ_M)
        )
        cond = F.expr("array_contains(probe_cells, cell)")
        if exclude_self:
            cond = cond & (F.col("vec_id") != F.col("q_vec_id"))
        pairs = (
            data.select(
                "vec_id", "cell", *[f"code{m}" for m in range(PQ_M)]
            )
            .join(qtab, cond)
            .selectExpr("q_vec_id", "vec_id", f"{adc} AS ad2")
        )
        wadc = W.partitionBy("q_vec_id").orderBy(
            F.col("ad2").asc(), F.col("vec_id")
        )
        cand = (
            pairs.withColumn("rn", F.row_number().over(wadc))
            .filter(F.col("rn") <= topk * overfetch)
            .select("q_vec_id", "vec_id")
        )
    exact = cand.join(
        data.select("vec_id", "embedding"), "vec_id"
    ).join(
        F.broadcast(qprobe.select("q_vec_id", "q_embedding")), "q_vec_id"
    )
    sim = cosine_similarity(F.col("q_embedding"), F.col("embedding"))
    w = W.partitionBy("q_vec_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        exact.select("q_vec_id", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "q_vec_id",
            "rank",
            "vec_id",
            det_round(F.col("sim"), 4).alias("cos_sim"),
        )
        .orderBy("q_vec_id", "rank")
    )
