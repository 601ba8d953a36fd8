"""Persistent IVF index: build/publish/probe lifecycle + pruning."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.operators import clustering as C
from etl_wikipedia_updates_spark.operators import similarity as S
from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable
from etl_wikipedia_updates_spark.tables import load_table
from etl_wikipedia_updates_spark.vector_index import (
    build_ivf_index,
    index_recall,
    query_ivf_index,
)

# Measured 1-probe recall@5 on the sf0.001 fixture is 0.875 (the whole
# pipeline is deterministic: scaled-long k-means fit, tie-broken
# ranking); the floor leaves margin for fixture regeneration, not for
# noise. An index whose single-probe recall drops below this is
# misbuilt (wrong assignment or broken probe), not merely unlucky.
RECALL_FLOOR_1PROBE = 0.7


def _queries(emb, n=3):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )


def test_index_build_query_matches_inmemory_probe(spark, sf_smoke, tmp_path):
    """The persisted index must answer exactly like an in-session IVF
    probe under the same (deterministic) centroids — persistence adds
    no approximation — and the probe's scan must prune to the queried
    cell partitions."""
    root = str(tmp_path / "idx")
    out = build_ivf_index(spark, sf_smoke, root)
    assert out["version"] == 1

    table = SnapshotTable(root)
    meta = table.meta_for(1)
    assert len(meta["centroids"]) == out["k"]
    assert any(
        d.startswith("cell=") for d in os.listdir(table.version_path(1))
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(emb)
    got = query_ivf_index(spark, root, q, topk=3)

    # in-memory reference: same assignment + probe, no persistence
    cents = meta["centroids"]
    data = C.assignment(emb, cents).select(
        "vec_id", "embedding", F.col("cid").cast("int").alias("cell")
    )
    qcell = C.assignment(
        q.select(
            F.col("q_vec_id").alias("vec_id"),
            F.col("q_embedding").alias("embedding"),
        ),
        cents,
    ).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("cid").cast("int").alias("cell"),
    )
    want = S.cosine_topk_ivf(data, qcell, k=3, cell_col="cell").orderBy(
        "q_vec_id", "rank"
    )
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]

    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [cell" in plan


def test_index_rebuild_versions_and_pins(spark, sf_smoke, tmp_path):
    """A rebuild publishes a new version; a reader pinned to the old
    version keeps answering from it."""
    root = str(tmp_path / "idx")
    build_ivf_index(spark, sf_smoke, root)
    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(emb)
    v1_answer = [r.asDict() for r in query_ivf_index(spark, root, q).collect()]

    out2 = build_ivf_index(spark, sf_smoke, root, k=4)
    assert out2["version"] == 2
    assert len(SnapshotTable(root).meta_for(2)["centroids"]) == 4
    pinned = [
        r.asDict()
        for r in query_ivf_index(spark, root, q, version=1).collect()
    ]
    assert pinned == v1_answer


def test_quantized_index_rescore_recovers_exact_ranking(
    spark, sf_smoke, tmp_path
):
    """SQ8-in-cells: the quantized index stores int8 vectors beside the
    floats; with overfetch covering the whole cell, the exact rescore
    must reproduce the float index's answer EXACTLY (the approximation
    only prunes candidates, never the final scores). The stored qv
    column must be 1-byte elements."""
    froot, qroot = str(tmp_path / "f"), str(tmp_path / "q")
    build_ivf_index(spark, sf_smoke, froot)
    out = build_ivf_index(spark, sf_smoke, qroot, quantize=True)
    assert out["quantized"] == "sq8"  # legacy True normalizes

    qdata = SnapshotTable(qroot).read(spark, 1)
    assert dict(qdata.dtypes)["qv"] == "array<tinyint>"

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(emb)
    want = [
        r.asDict() for r in query_ivf_index(spark, froot, q, topk=3).collect()
    ]
    got = [
        r.asDict()
        for r in query_ivf_index(
            spark, qroot, q, topk=3, overfetch=10_000
        ).collect()
    ]
    assert got == want
    # default overfetch: same ids in the top-k at this scale
    fast = [
        r.asDict() for r in query_ivf_index(spark, qroot, q, topk=3).collect()
    ]
    assert {(r["q_vec_id"], r["vec_id"]) for r in fast} == {
        (r["q_vec_id"], r["vec_id"]) for r in want
    }


def test_multi_probe_widens_candidates_and_keeps_p1_semantics(
    spark, sf_smoke, tmp_path
):
    """n_probes=1 must reproduce the single-cell probe exactly (the
    top-1 of the sorted distance structs is assignment's struct-min);
    n_probes=k (every cell) must equal brute-force top-k over the
    whole corpus, and per-query similarity at n_probes=k is >= the
    single-probe answer (more candidates can only improve recall)."""
    root = str(tmp_path / "idx")
    out = build_ivf_index(spark, sf_smoke, root)
    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(emb)

    p1 = [r.asDict() for r in query_ivf_index(spark, root, q, topk=3).collect()]
    p1_again = [
        r.asDict()
        for r in query_ivf_index(spark, root, q, topk=3, n_probes=1).collect()
    ]
    assert p1 == p1_again

    allp = {
        (r["q_vec_id"], r["rank"]): r
        for r in (
            r.asDict()
            for r in query_ivf_index(
                spark, root, q, topk=3, n_probes=out["k"]
            ).collect()
        )
    }
    brute = S.cosine_topk(emb, _queries(emb), k=3)
    want = {
        (r["q_vec_id"], r["rank"]): r.asDict()
        for r in brute.orderBy("q_vec_id", "rank").collect()
    }
    assert set(allp) == set(want)
    for key, row in allp.items():
        assert row["vec_id"] == want[key]["vec_id"]
        assert row["cos_sim"] == want[key]["cos_sim"]


def test_quantized_multiprobe_no_duplicates_and_converges(
    spark, sf_smoke, tmp_path
):
    """The quantized rescore with n_probes > 1 must emit each
    (q_vec_id, vec_id) at most once with contiguous ranks (the
    per-probe ROW form of the query side would multiply candidates by
    n_probes here), and with all cells probed + unbounded overfetch it
    must equal brute-force top-k exactly."""
    root = str(tmp_path / "q")
    out = build_ivf_index(spark, sf_smoke, root, quantize=True)
    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(emb)

    got = [
        r.asDict()
        for r in query_ivf_index(spark, root, q, topk=3, n_probes=2).collect()
    ]
    pairs = [(r["q_vec_id"], r["vec_id"]) for r in got]
    assert len(pairs) == len(set(pairs))
    for qid in {p[0] for p in pairs}:
        assert [r["rank"] for r in got if r["q_vec_id"] == qid] == [1, 2, 3]

    full = [
        r.asDict()
        for r in query_ivf_index(
            spark, root, q, topk=3, n_probes=out["k"], overfetch=10_000
        ).collect()
    ]
    brute = [
        r.asDict()
        for r in S.cosine_topk(emb, _queries(emb), k=3)
        .orderBy("q_vec_id", "rank")
        .collect()
    ]
    assert [(r["q_vec_id"], r["rank"], r["vec_id"]) for r in full] == [
        (r["q_vec_id"], r["rank"], r["vec_id"]) for r in brute
    ]


def test_append_equals_from_scratch_assignment_under_fixed_centroids(
    spark, sf_smoke, tmp_path
):
    """Incremental maintenance: build, then append new vectors. Given
    the (frozen) centroids of the base version, the appended index's
    contents must equal a from-scratch assignment over the union —
    appending skips the fit and the corpus re-assignment but changes
    nothing about where any vector lives. A query probing an appended
    vector must find it through the same partition-pruned path."""
    from etl_wikipedia_updates_spark.vector_index import append_to_ivf_index

    root = str(tmp_path / "idx")
    build_ivf_index(spark, sf_smoke, root)
    emb = load_table(spark, sf_smoke, "embeddings")
    base_n = emb.count()

    # "newly crawled" vectors: fresh ids, same distribution
    new = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    out = append_to_ivf_index(spark, root, new)
    assert (out["version"], out["base"], out["appended_rows"]) == (2, 1, 50)

    table = SnapshotTable(root)
    meta2 = table.meta_for(2)
    assert meta2["centroids"] == table.meta_for(1)["centroids"]
    assert meta2["appended_from"] == 1
    assert int(meta2["n_rows"]) == base_n + 50

    union = emb.select("vec_id", "embedding").unionByName(new)
    want = C.assignment(union, meta2["centroids"]).select(
        "vec_id", F.col("cid").cast("int").alias("cell")
    )
    got = table.read(spark, 2).select("vec_id", "cell")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # an appended vector is served: its nearest neighbor is the
    # original it duplicates, at cosine 1.0
    probe = new.filter(F.col("vec_id") == 1_000_007).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    top = query_ivf_index(spark, root, probe, topk=2).collect()
    assert {r["vec_id"] for r in top} >= {7}
    assert top[0]["cos_sim"] == 1.0


def test_append_to_quantized_index_preserves_sq8_columns(
    spark, sf_smoke, tmp_path
):
    """Appending to a quantized index derives qv/absmax for the new
    rows, so the approximate scan keeps working over old + new alike."""
    from etl_wikipedia_updates_spark.vector_index import append_to_ivf_index

    root = str(tmp_path / "q")
    build_ivf_index(spark, sf_smoke, root, quantize=True)
    emb = load_table(spark, sf_smoke, "embeddings")
    new = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    out = append_to_ivf_index(spark, root, new)
    assert out["appended_rows"] == 20

    data = SnapshotTable(root).read(spark, out["version"])
    assert dict(data.dtypes)["qv"] == "array<tinyint>"
    assert data.filter(
        F.col("vec_id") >= 1_000_000
    ).filter(F.col("qv").isNull() | F.col("absmax").isNull()).count() == 0

    probe = new.limit(1).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    top = query_ivf_index(spark, root, probe, topk=2).collect()
    assert top[0]["cos_sim"] == 1.0


def test_cell_histogram_and_selectivity_track_append(
    spark, sf_smoke, tmp_path
):
    """Per-cell counts come from the published version's own footers:
    they sum to the version's n_rows, update across an append (every
    cell monotonically non-decreasing, delta == appended_rows), and
    the probe_selectivity readout exposes the balance numbers the
    refit trigger is defined on."""
    from etl_wikipedia_updates_spark.vector_index import (
        append_to_ivf_index,
        cell_histogram,
        probe_selectivity,
    )

    root = str(tmp_path / "idx")
    out = build_ivf_index(spark, sf_smoke, root)
    assert "imbalance" in out and "needs_refit" in out

    table = SnapshotTable(root)
    h1 = cell_histogram(root)
    assert sum(h1.values()) == int(table.meta_for(out["version"])["n_rows"])

    emb = load_table(spark, sf_smoke, "embeddings")
    new = emb.limit(40).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    out2 = append_to_ivf_index(spark, root, new)
    h2 = cell_histogram(root)
    assert sum(h2.values()) == sum(h1.values()) + out2["appended_rows"]
    assert all(h2.get(c, 0) >= n for c, n in h1.items())

    sel = probe_selectivity(root)
    assert sel["version"] == out2["version"]
    assert sel["n_rows"] == sum(h2.values())
    assert 0.0 < sel["expected_probe_fraction"] <= 1.0
    assert sel["imbalance"] >= 1.0  # max share can't beat balanced
    assert sel["cells"] == {str(c): n for c, n in sorted(h2.items())}


def test_query_external_ids_with_exclude_self_false(spark, sf_smoke, tmp_path):
    """An external query set numbers its ids independently of the
    corpus: with exclude_self=False a query whose q_vec_id happens to
    collide with a corpus vec_id still sees that vector as a candidate
    — the self-exclusion (right for corpus-drawn queries) must not
    silently drop a real neighbor for external callers."""
    root = str(tmp_path / "idx")
    build_ivf_index(spark, sf_smoke, root)
    emb = load_table(spark, sf_smoke, "embeddings")
    # query WITH vector 0's embedding AND vec_id 0 — the collision case
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    excl = query_ivf_index(spark, root, q, topk=3).collect()
    incl = query_ivf_index(spark, root, q, topk=3, exclude_self=False).collect()
    assert all(r.vec_id != 0 for r in excl)  # corpus-query behavior
    # external behavior: the colliding vector ranks first (cos=1 with itself)
    assert incl[0].vec_id == 0 and incl[0].rank == 1
    assert abs(incl[0].cos_sim - 1.0) < 1e-6


def test_index_recall_floor_monotone_and_exact_at_full_probe(
    spark, sf_smoke, tmp_path
):
    """The recall@k audit: 1-probe recall holds the declared floor,
    recall is monotone in n_probes (more probed cells can only add
    candidates), and probing every cell IS brute force — recall
    exactly 1.0. Also pins the readout shape probe_selectivity's
    consumers (CLI index stats --recall) rely on."""
    root = str(tmp_path / "idx")
    out = build_ivf_index(spark, sf_smoke, root)
    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(emb, n=8)
    recalls = {}
    for p in (1, 2, out["k"]):
        r = index_recall(spark, root, q, topk=5, n_probes=p)
        recalls[p] = r["recall_at_k"]
        assert r["n_queries"] == 8
        assert set(r) >= {"recall_at_k", "per_query", "topk", "n_probes"}
        assert all(0.0 <= v <= 1.0 for v in r["per_query"].values())
    assert recalls[1] >= RECALL_FLOOR_1PROBE
    assert recalls[1] <= recalls[2] <= recalls[out["k"]]
    assert recalls[out["k"]] == 1.0


def test_pq_index_adc_rescore_and_frozen_codebook_append(
    spark, sf_smoke, tmp_path
):
    """IVF-PQ: codes + codebooks publish with the index; with
    overfetch covering the probed cells, the exact rescore reproduces
    the float index's answer exactly (the ADC shortlist only prunes,
    never scores); and appended vectors encode under the FROZEN
    codebooks exactly as a from-scratch encode would."""
    from etl_wikipedia_updates_spark.vector_index import (
        _pq_encode,
        append_to_ivf_index,
    )
    from etl_wikipedia_updates_spark.stages import PQ_KS, PQ_M

    froot, proot = str(tmp_path / "f"), str(tmp_path / "p")
    build_ivf_index(spark, sf_smoke, froot)
    out = build_ivf_index(spark, sf_smoke, proot, quantize="pq")
    assert out["quantized"] == "pq"

    table = SnapshotTable(proot)
    meta = table.meta_for(1)
    assert len(meta["pq_books"]) == PQ_M
    assert all(len(b) == PQ_KS for b in meta["pq_books"])
    pdata = table.read(spark, 1)
    dt = dict(pdata.dtypes)
    assert all(f"code{m}" in dt for m in range(PQ_M))

    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(emb)
    want = [
        r.asDict() for r in query_ivf_index(spark, froot, q, topk=3).collect()
    ]
    got = [
        r.asDict()
        for r in query_ivf_index(
            spark, proot, q, topk=3, overfetch=10_000
        ).collect()
    ]
    assert got == want
    # default overfetch: well-formed per-query top-k (quality under a
    # tight shortlist is the recall tests' domain — PQ on random unit
    # vectors legitimately misses under a 12-candidate shortlist)
    fast = query_ivf_index(spark, proot, q, topk=3).collect()
    per_q = {}
    for r in fast:
        per_q.setdefault(r["q_vec_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    for rows in per_q.values():
        assert [r["rank"] for r in rows] == [1, 2, 3]
        assert len({r["vec_id"] for r in rows}) == 3

    # frozen-codebook append parity
    new = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    out2 = append_to_ivf_index(spark, proot, new)
    assert out2["appended_rows"] == 20
    data2 = SnapshotTable(proot).read(spark, out2["version"])
    appended = {
        r["vec_id"]: tuple(r[f"code{m}"] for m in range(PQ_M))
        for r in data2.filter(F.col("vec_id") >= 1_000_000).collect()
    }
    scratch = {
        r["vec_id"]: tuple(r[f"code{m}"] for m in range(PQ_M))
        for r in _pq_encode(new, meta["pq_books"]).collect()
    }
    assert appended == scratch


def test_pq_build_rejects_wrong_dimension(spark, tmp_path):
    """quantize='pq' slices subvectors at fixed PQ_SUB offsets; a
    table whose dim != PQ_M*PQ_SUB must fail loudly at build time, not
    silently fit codebooks over a truncated prefix (r10 ADVICE)."""
    import pytest

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    rows = [(i, [float(i + j) for j in range(8)], 0) for i in range(30)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(sf, "embeddings.parquet"))
    with pytest.raises(ValueError, match="dim 8"):
        build_ivf_index(
            spark, sf, str(tmp_path / "idx"), k=2, quantize="pq"
        )
    # sq8 stays dim-agnostic: same table builds fine
    out = build_ivf_index(
        spark, sf, str(tmp_path / "idx2"), k=2, quantize="sq8"
    )
    assert out["version"] >= 1


def test_unit_normalize_zero_vector_yields_zeros_not_nan(spark):
    """ne_sql floors the norm at 1e-300: a zero vector normalizes to
    the zero vector instead of NaN subvectors (whose ordering inside
    struct-min/window ranks is a cross-engine divergence hazard — r10
    ADVICE), and any nonzero vector is bit-level unaffected."""
    import math

    from etl_wikipedia_updates_spark.stages import ne_sql

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [3.0, 0.0, 4.0])],
        "vec_id long, embedding array<float>",
    ).selectExpr("vec_id", f"{ne_sql()} AS ne")
    rows = {r["vec_id"]: r["ne"] for r in df.collect()}
    assert rows[0] == [0.0, 0.0, 0.0]
    assert not any(math.isnan(x) for x in rows[0])
    assert rows[1] == [0.6, 0.0, 0.8]


# Declared per-storage-mode recall floors at the DEFAULT overfetch (4),
# 1 probe, topk=5 on the sf0.001 fixture (random unit vectors — the
# quantizers' worst case). Measured: float 0.875 (the 1-probe cell-miss
# ceiling), sq8 0.875 (int8 rank error immaterial at 64 dims), pq 0.55
# (4x16 codebooks lose rank resolution; overfetch is the dial — 0.875
# at overfetch 16, i.e. the full float ceiling restored). Floors leave
# margin for fixture regeneration, not for regressions.
RECALL_FLOOR_SQ8 = 0.7
RECALL_FLOOR_PQ_DEFAULT = 0.4
PQ_RESTORE_OVERFETCH = 16


def test_quantized_index_recall_floors_and_overfetch_dial(
    spark, sf_smoke, tmp_path
):
    """Per-mode recall audit (r10 verdict item 7): sq8 holds the float
    floor at the default overfetch; pq holds its own declared floor
    and the overfetch dial restores the float ceiling; recall is
    monotone in overfetch on a quantized index; and the readout names
    its mode + dial so `index stats --recall` consumers see which
    storage mode the number describes."""
    emb = load_table(spark, sf_smoke, "embeddings")
    q = _queries(emb, n=8)

    froot = str(tmp_path / "f")
    build_ivf_index(spark, sf_smoke, froot)
    r_float = index_recall(spark, froot, q, topk=5)
    assert r_float["quantized"] is False
    assert r_float["recall_at_k"] >= RECALL_FLOOR_1PROBE

    sroot = str(tmp_path / "s")
    build_ivf_index(spark, sf_smoke, sroot, quantize="sq8")
    r_sq8 = index_recall(spark, sroot, q, topk=5)
    assert r_sq8["quantized"] == "sq8"
    assert r_sq8["recall_at_k"] >= RECALL_FLOOR_SQ8

    proot = str(tmp_path / "p")
    build_ivf_index(spark, sf_smoke, proot, quantize="pq")
    r_pq = {
        ovf: index_recall(spark, proot, q, topk=5, overfetch=ovf)
        for ovf in (1, 4, PQ_RESTORE_OVERFETCH)
    }
    assert all(r["quantized"] == "pq" for r in r_pq.values())
    assert all(r["overfetch"] == ovf for ovf, r in r_pq.items())
    assert r_pq[4]["recall_at_k"] >= RECALL_FLOOR_PQ_DEFAULT
    # monotone in the dial, and the declared restore point reaches the
    # float probe's own recall (same probed cells, exact rescore)
    assert (
        r_pq[1]["recall_at_k"]
        <= r_pq[4]["recall_at_k"]
        <= r_pq[PQ_RESTORE_OVERFETCH]["recall_at_k"]
    )
    assert (
        r_pq[PQ_RESTORE_OVERFETCH]["recall_at_k"]
        >= r_float["recall_at_k"]
    )

