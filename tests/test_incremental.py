"""incremental_dedup (plans/incremental.py): the recrawl workflow.

The load-bearing property the oracle hash alone can't certify: when
the prior side IS a published release (internally deduped under the
same pair relation, ids preceding the snapshot's), the incremental
pass over release ∪ recrawl keeps exactly the docs a from-scratch
dedup of the union keeps — the prior×prior pair skip loses nothing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.operators import dedup as D
from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.plans.incremental import (
    incremental_vs_prior,
)
from etl_wikipedia_updates_spark.plans.northstar import (
    JACCARD_THRESHOLD,
    MINHASH_BANDS,
    MINHASH_PARAMS,
    MINHASH_ROWS,
)


def _docs_frame(spark, rows):
    return spark.createDataFrame(
        [(i, lang, src, txt) for (i, lang, src, txt) in rows],
        ["doc_id", "lang", "source", "text"],
    )


def _from_scratch_kept(docs):
    """From-scratch dedup over the full corpus on the SAME pair
    relation the incremental pass uses (banded MinHash candidates +
    exact-Jaccard verify + CC, min-id survivorship)."""
    dtok = T.doc_shingles(docs).withColumn("tid", T.term_hash_col())
    sig = D.minhash_signatures(
        dtok.select("doc_id", "lang", "tid"), MINHASH_PARAMS
    )
    cand = D.lsh_candidate_pairs(sig, MINHASH_BANDS, MINHASH_ROWS)
    tok_arrays = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(F.transform(T.shingles_col(), T.term_hash_fn))
        ).alias("toks"),
    )
    verified = D.jaccard_verify(cand, tok_arrays, JACCARD_THRESHOLD)
    labels = D.connected_components(verified.select("doc_id", "doc_id2"))
    dropped = {
        r["doc_id"]
        for r in labels.filter(
            F.col("cluster_id") != F.col("doc_id")
        ).collect()
    }
    return {r["doc_id"] for r in docs.collect() if r["doc_id"] not in dropped}


# ~8-token texts: long enough for 3-shingles, distinct enough that only
# the planted pairs collide.
_T = {
    "alpha": "the quick brown fox jumps over the lazy dog today",
    "alpha2": "the quick brown fox jumps over the lazy dog tonight",
    "beta": "spark shuffles keyed data between stages during wide ops",
    "beta2": "spark shuffles keyed data between stages during wide joins",
    "gamma": "ducks quack loudly near the quiet pond every morning",
    "delta": "completely unrelated sentence about gardening tools and soil",
    "eps": "another fully distinct document concerning maritime navigation rules",
}


def test_incremental_equals_from_scratch_on_release_plus_recrawl(spark):
    """release(v1) ∪ recrawl: incremental keep/drop == from-scratch."""
    initial = [
        (0, "en", "s0", _T["alpha"]),
        (1, "en", "s0", _T["alpha2"]),  # near-dup of 0 -> dropped in v1
        (2, "en", "s1", _T["beta"]),
        (3, "en", "s1", _T["gamma"]),
        (4, "en", "s1", _T["delta"]),
    ]
    init_docs = _docs_frame(spark, initial)
    v1_kept = _from_scratch_kept(init_docs)
    assert v1_kept == {0, 2, 3, 4}  # the planted near-dup collapsed
    release = [r for r in initial if r[0] in v1_kept]

    thr = 100
    # 101 reuses the alpha/alpha2 near-dup pair: v1 above just PROVED
    # it band-collides under the fixed MinHash params (the beta/beta2
    # pair does not — Jaccard ~7/9 but zero shared bands at 4x4).
    recrawl = [
        (100, "en", "s0", _T["alpha"]),  # exact dup of prior 0
        (101, "en", "s2", _T["alpha2"]),  # near-dup of prior 0
        (102, "en", "s2", _T["eps"]),  # fresh
        (103, "en", "s2", _T["eps"]),  # within-snapshot dup of 102
        (104, "en", "s0", _T["gamma"]),  # exact dup of prior 3
    ]
    union = _docs_frame(spark, release + recrawl)

    flagged = incremental_vs_prior(union, thr)
    inc_kept_new = {
        r["doc_id"]
        for r in flagged.collect()
        if r["cluster_id"] is None or r["cluster_id"] == r["doc_id"]
    }
    inc_kept = v1_kept | inc_kept_new

    assert inc_kept == _from_scratch_kept(union)
    # and the expected fates, spelled out: 100 (exact) and 101
    # (near-dup) collide with prior 0, 104 with prior 3; 103 collides
    # with the smaller kept 102
    assert inc_kept_new == {102}


def test_incremental_candidates_skip_prior_pairs(spark):
    """lsh_candidate_pairs_vs never emits a prior×prior pair, even
    when prior docs collide with each other (the release-side dup is
    someone else's bug — the incremental pass must not pay for it)."""
    rows = [
        (0, "en", "s0", _T["alpha"]),
        (1, "en", "s0", _T["alpha"]),  # prior x prior exact dup
        (2, "en", "s0", _T["beta"]),
        (10, "en", "s1", _T["alpha2"]),  # new, collides with 0 and 1
        (11, "en", "s1", _T["beta"]),  # new, collides with 2
    ]
    docs = _docs_frame(spark, rows)
    thr = 10
    dtok = T.doc_shingles(docs).withColumn("tid", T.term_hash_col())
    sig = D.minhash_signatures(
        dtok.select("doc_id", "lang", "tid"), MINHASH_PARAMS
    )
    band_all = D.lsh_band_rows(sig, MINHASH_BANDS, MINHASH_ROWS)
    band_new = band_all.filter(F.col("doc_id") >= thr)
    cand = D.lsh_candidate_pairs_vs(band_new, band_all).collect()
    assert cand, "planted collisions must surface"
    for r in cand:
        assert r["doc_id"] < r["doc_id2"]
        assert r["doc_id"] >= thr or r["doc_id2"] >= thr, (
            f"prior x prior pair leaked: {tuple(r)}"
        )
    # the prior x prior dup (0, 1) is exactly the pair that must NOT
    # appear
    assert (0, 1) not in {(r["doc_id"], r["doc_id2"]) for r in cand}
    # r20: the registered incremental path now uses the single-
    # aggregation split form — pinned bit-equal to the join form on
    # the same adversarial frame (prior×prior collisions planted)
    cand_split = D.lsh_candidate_pairs_split(band_all, thr).collect()
    assert {(r["doc_id"], r["doc_id2"]) for r in cand_split} == {
        (r["doc_id"], r["doc_id2"]) for r in cand
    }
    # a duplicated band row lists a doc twice in its bucket; neither
    # form may pair it with itself, and the pin still holds
    band_dup = band_all.unionByName(band_all.filter(F.col("doc_id") == 10))
    pairs = {
        form: {(r["doc_id"], r["doc_id2"]) for r in cands.collect()}
        for form, cands in (
            ("vs", D.lsh_candidate_pairs_vs(
                band_dup.filter(F.col("doc_id") >= thr), band_dup
            )),
            ("split", D.lsh_candidate_pairs_split(band_dup, thr)),
        )
    }
    assert pairs["split"] == pairs["vs"]
    assert all(a != b for a, b in pairs["split"])


def test_incremental_prior_is_never_dropped(spark):
    """A component spanning prior+new always keeps the prior doc: the
    flagged frame only ever contains new ids, and cluster ids below
    the threshold mark drops AGAINST the release, not of it."""
    rows = [
        (0, "en", "s0", _T["alpha"]),
        (1, "en", "s1", _T["delta"]),
        (10, "en", "s2", _T["alpha2"]),
    ]
    docs = _docs_frame(spark, rows)
    flagged = incremental_vs_prior(docs, 10).collect()
    assert {r["doc_id"] for r in flagged} == {10}
    (row,) = flagged
    assert row["cluster_id"] == 0  # canonical = the prior doc


# --- incremental_span_dedup (r17): the recrawl story for spans ---------------


def _span_docs(spark, rows):
    """(doc_id, source, text) frames for the span tests; texts are
    concatenations of 8-token blocks so the HOP=8-aligned SPAN_W=16
    windows line up exactly on block pairs."""
    return spark.createDataFrame(rows, ["doc_id", "source", "text"])


def _block(name: str) -> str:
    return " ".join(f"{name}t{i}" for i in range(8))


def _from_scratch_span_audit(docs, thr):
    """From-scratch reference: span_dedup's union-wide min!=max dup
    rule, then the incremental audit's per-source aggregation
    restricted to new docs — what the incremental pass must equal."""
    from etl_wikipedia_updates_spark.functions.deterministic import (
        det_round,
    )
    from etl_wikipedia_updates_spark.plans.base import total_order
    from etl_wikipedia_updates_spark.plans.northstar import (
        _span_occurrences,
    )
    from pyspark.sql import Window as W

    spans = _span_occurrences(docs)
    wh = W.partitionBy("h")
    marked = spans.select(
        "doc_id",
        "source",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh))
        .cast("long")
        .alias("dup"),
        F.max((F.col("doc_id") < thr).cast("long"))
        .over(wh)
        .alias("has_prior"),
        F.min(F.when(F.col("doc_id") >= thr, F.col("doc_id")))
        .over(wh)
        .alias("mn"),
        F.max(F.when(F.col("doc_id") >= thr, F.col("doc_id")))
        .over(wh)
        .alias("mx"),
    ).filter(F.col("doc_id") >= thr)
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count("*").alias("spans_doc"),
        F.sum("has_prior").alias("dp"),
        F.sum((F.col("mn") != F.col("mx")).cast("long")).alias("dn"),
        F.sum("dup").alias("da"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("new_docs"),
            F.sum("spans_doc").cast("bigint").alias("total_spans"),
            F.sum("dp").cast("bigint").alias("dup_prior_spans"),
            F.sum("dn").cast("bigint").alias("dup_new_spans"),
            F.sum("da").cast("bigint").alias("dup_spans"),
            F.sum((F.col("da") > 0).cast("bigint"))
            .cast("bigint")
            .alias("docs_affected"),
        )
        .withColumn(
            "dup_frac",
            det_round(
                F.col("dup_spans").cast("double")
                / F.col("total_spans").cast("double"),
                4,
            ),
        )
        .transform(total_order, "source")
    )


_SPAN_ROWS_PRIOR = [
    (0, "wiki", " ".join(map(_block, ["A", "B", "C", "D"]))),
    (1, "web", " ".join(map(_block, ["E", "F", "G", "H"]))),
]
_SPAN_ROWS_NEW = [
    # A+B verbatim from prior doc 0 (dup_prior), tail unique
    (100, "wiki", " ".join(map(_block, ["A", "B", "X1", "X2"]))),
    # Y1+Y2 shared between the two new docs (dup_new), never in prior
    (101, "web", " ".join(map(_block, ["Y1", "Y2", "Z1", "Z2"]))),
    (102, "web", " ".join(map(_block, ["Y1", "Y2", "W1", "W2"]))),
    # C+D from prior doc 0 at a DIFFERENT aligned offset (hash is
    # content-only), E+F from prior doc 1 -> dup_prior from two docs
    (103, "wiki", " ".join(map(_block, ["C", "D", "E", "F"]))),
    # all-unique doc
    (104, "web", " ".join(map(_block, ["U1", "U2", "U3", "U4"]))),
]


def test_incremental_span_equals_from_scratch(spark):
    """The span analog of the MinHash equivalence contract: the
    one-exchange incremental audit (span_audit_vs_prior) over
    new-vs-prior equals the from-scratch union span_dedup rule
    aggregated the same way — dup_prior | dup_new decomposes
    min(doc)!=max(doc) across the snapshot boundary exactly."""
    from etl_wikipedia_updates_spark.plans.incremental import (
        span_audit_vs_prior,
    )
    from etl_wikipedia_updates_spark.plans.northstar import (
        _span_occurrences,
    )

    thr = 100
    union = _span_docs(spark, _SPAN_ROWS_PRIOR + _SPAN_ROWS_NEW)
    spans = _span_occurrences(union)
    inc = span_audit_vs_prior(
        spans.filter(F.col("doc_id") >= thr).select(
            "doc_id", "source", "h"
        ),
        spans.filter(F.col("doc_id") < thr).select("h"),
    ).collect()
    ref = _from_scratch_span_audit(union, thr).collect()
    assert [r.asDict() for r in inc] == [r.asDict() for r in ref]
    # and the fixture exercises every branch: dup-vs-prior only,
    # dup-within-new only, and clean
    by_src = {r["source"]: r for r in inc}
    assert by_src["wiki"]["dup_prior_spans"] > 0
    assert by_src["wiki"]["dup_new_spans"] == 0
    assert by_src["web"]["dup_new_spans"] > 0
    assert by_src["web"]["dup_prior_spans"] == 0
    assert by_src["web"]["docs_affected"] == 2  # 101, 102; 104 clean
    assert by_src["wiki"]["docs_affected"] == 2  # 100, 103


def test_span_store_feed_equals_recomputed_and_merges(spark, tmp_path):
    """publish_span_store -> span_store_audit gives the IDENTICAL
    audit as recomputing the prior side from the corpus (the
    registered query's feed), and merge_prior appends a snapshot so
    the two-step store equals the from-scratch store over the union."""
    from etl_wikipedia_updates_spark.plans.incremental import (
        span_audit_vs_prior,
    )
    from etl_wikipedia_updates_spark.plans.northstar import (
        _span_occurrences,
    )
    from etl_wikipedia_updates_spark.release import (
        publish_span_store,
        span_store_audit,
    )
    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    prior = _span_docs(spark, _SPAN_ROWS_PRIOR)
    new = _span_docs(spark, _SPAN_ROWS_NEW)
    root = str(tmp_path / "span_store")
    out = publish_span_store(spark, prior, root, source_desc="prior")
    assert out["version"] == 1

    via_store = span_store_audit(spark, new, root).collect()
    recomputed = span_audit_vs_prior(
        _span_occurrences(new).select("doc_id", "source", "h"),
        _span_occurrences(prior).select("h"),
    ).collect()
    assert [r.asDict() for r in via_store] == [
        r.asDict() for r in recomputed
    ]

    # recrawl append: store v2 = v1 union new snapshot's hashes ==
    # from-scratch store over prior ∪ new
    out2 = publish_span_store(spark, new, root, merge_prior=True)
    assert out2["version"] == 2
    got = {
        r["h"]
        for r in SnapshotTable(root).read(spark, 2).select("h").collect()
    }
    want = {
        r["h"]
        for r in _span_occurrences(
            _span_docs(spark, _SPAN_ROWS_PRIOR + _SPAN_ROWS_NEW)
        )
        .select("h")
        .distinct()
        .collect()
    }
    assert got == want
    # growth telemetry (r17 verdict #5): each publish reports its
    # distinct-span count, on-disk bytes, and growth vs the version
    # it superseded — and the merge's growth is EXACTLY the number of
    # appended new distinct spans (union keeps every prior hash)
    from etl_wikipedia_updates_spark.release import span_store_stats

    n_prior = (
        _span_occurrences(prior).select("h").distinct().count()
    )
    assert out["n_spans"] == n_prior
    assert out["n_bytes"] > 0
    assert out["growth_spans"] == n_prior  # grew from nothing
    assert out2["n_spans"] == len(want)
    assert out2["growth_spans"] == len(want) - n_prior
    stats = span_store_stats(root)
    assert [s["version"] for s in stats] == [1, 2]
    assert stats[0]["n_spans"] == n_prior
    assert stats[1]["growth_spans"] == len(want) - n_prior
    assert stats[1]["prior_version"] == 1
    assert all(s["n_bytes"] > 0 for s in stats)
    # store meta guards: probing a non-store snapshot fails loudly
    import pytest

    other = str(tmp_path / "not_a_store")
    SnapshotTable(other).publish(prior, meta={"kind": "other"})
    with pytest.raises(ValueError):
        span_store_audit(spark, new, other)
    # growth gating (r18 advice): publishing a span store over a root
    # whose current version is some OTHER artifact kind must report
    # growth from zero, not a delta against the unrelated row count
    out3 = publish_span_store(spark, prior, other, source_desc="over-other")
    assert out3["growth_spans"] == out3["n_spans"] == n_prior


def test_span_store_param_guard(spark, tmp_path, monkeypatch):
    """A store built under different SPAN_W/SPAN_HOP is a different
    hash universe: probing or merging it must fail loudly, not return
    an all-zero audit (r17 review)."""
    import pytest

    import etl_wikipedia_updates_spark.plans.northstar as ns
    from etl_wikipedia_updates_spark.release import (
        publish_span_store,
        span_store_audit,
    )

    prior = _span_docs(spark, _SPAN_ROWS_PRIOR)
    new = _span_docs(spark, _SPAN_ROWS_NEW)
    root = str(tmp_path / "store")
    publish_span_store(spark, prior, root)

    monkeypatch.setattr(ns, "SPAN_W", ns.SPAN_W + 2)
    with pytest.raises(ValueError, match="incomparable"):
        span_store_audit(spark, new, root)
    with pytest.raises(ValueError, match="incomparable"):
        publish_span_store(spark, new, root, merge_prior=True)
