"""Unit + property tests for the north-star operators (SURVEY §5.2:
dedup idempotence, operator wrappers on small inputs, multimodal stub)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark import stages
from etl_wikipedia_updates_spark.operators import dedup as D
from etl_wikipedia_updates_spark.operators import multimodal as M
from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.tables import load_table


def test_exact_dedup_idempotent(spark, sf_smoke):
    events = load_table(spark, sf_smoke, "events")
    keys = ["user_id", "event_type", "ts"]
    once = D.exact_dedup(events, keys, ["event_id"])
    twice = D.exact_dedup(once, keys, ["event_id"])
    assert once.count() == twice.count()
    # survivors are unique on the key
    assert once.groupBy(*keys).count().filter(F.col("count") > 1).count() == 0


def test_exact_dedup_keeps_min_order_col(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 5), (2, "b", 7)], "k int, g string, v int"
    )
    out = D.exact_dedup(df, ["k", "g"], ["v"]).collect()
    assert {(r.k, r.v) for r in out} == {(1, 5), (2, 7)}


def test_hash_params_are_stable():
    assert D.hash_params(4) == D.hash_params(4)
    assert len({a for a, _ in D.hash_params(16)}) > 1


def test_minhash_lsh_candidates_superset_of_identical_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en"),
            (2, "a b c d", "en"),  # identical to 1 -> must collide
            (3, "x y z w", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    dtok = T.doc_tokens(docs, distinct=True).withColumn(
        "tid", T.term_hash_col()
    )
    sig = D.minhash_signatures(
        dtok.select("doc_id", "lang", "tid"), D.hash_params(16)
    )
    cand = {
        (r.doc_id, r.doc_id2)
        for r in D.lsh_candidate_pairs(sig, 4, 4).collect()
    }
    assert (1, 2) in cand


def test_simhash_identical_docs_zero_hamming(spark):
    docs = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "a b c", "en")],
        "doc_id long, text string, lang string",
    )
    dtok = T.doc_tokens(docs, distinct=True).withColumn(
        "tid", T.term_hash_col()
    )
    fps = D.simhash_fingerprints(dtok.select("doc_id", "lang", "tid"))
    pairs = D.simhash_near_pairs(fps, 3).collect()
    assert len(pairs) == 1 and pairs[0].hamming == 0


def test_byte_features_schema_and_values(spark):
    docs = spark.createDataFrame(
        [(1, "ab c"), (2, "xyz")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in M.byte_features(M.with_binary_payload(docs)).collect()
    }
    assert out[1].byte_len == 4 and out[1].n_space == 1
    assert out[1].first_byte == ord("a") and out[1].last_byte == ord("c")
    assert out[2].byte_len == 3 and out[2].n_space == 0


def test_frame_sample_windows_and_nested_schema(spark):
    text = "x" * 100
    docs = spark.createDataFrame(
        [(1, text), (2, "tiny")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in M.frame_sample(
            M.with_binary_payload(docs), frame_len=16, stride=32
        ).collect()
    }
    # 100 bytes, windows at 0/32/64 (96+16 > 100): 3 frames of 16 bytes
    assert out[1].n_frames == 3
    assert all(len(f) == 16 for f in out[1].frames)
    assert bytes(out[1].frames[0]) == b"x" * 16
    # shorter than one frame -> no frames
    assert out[2].n_frames == 0 and list(out[2].frames) == []


def test_shingle_df_cap_drops_only_hot_shingles(spark):
    """The near-dup df-cap: shingles shared by more than ``cap`` docs
    vanish from the universe (per language), everything else survives —
    the bound that keeps one boilerplate shingle from going quadratic
    in the inverted-index self-join."""
    from etl_wikipedia_updates_spark.plans.northstar import capped_shingles

    rows = [
        # "hot hot hot" shingle appears in 3 docs; rare ones in 1 each
        (1, "en", "common boiler plate"),
        (2, "en", "common boiler plate"),
        (3, "en", "common boiler plate"),
        (4, "en", "rare unique phrase"),
        # same text in another lang: df counted per (lang, term)
        (5, "de", "common boiler plate"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    sh = T.doc_shingles(docs)
    capped = capped_shingles(sh, cap=2)
    kept = {(r.lang, r.term) for r in capped.collect()}
    # en 'common boiler plate' has df=3 > 2: dropped for en only
    assert ("en", "common boiler plate") not in kept
    assert ("de", "common boiler plate") in kept
    assert ("en", "rare unique phrase") in kept
    # a cap that never binds is the identity
    assert capped_shingles(sh, cap=3).count() == sh.count()


def test_q26_pairs_postings_enumeration(spark, monkeypatch, tmp_path):
    """The posting-list pair shape: pairs come ordered (d1 < d2) from
    the sorted per-shingle doc list, the df cap binds as a size filter,
    and the prefilter_hot variant (count-prefilter before the array
    build — the unknown-df-corpus knob) is result-identical."""
    import etl_wikipedia_updates_spark.plans.northstar as N

    rows = [
        (1, "en", "alpha beta gamma delta"),
        (2, "en", "alpha beta gamma delta"),  # exact near-dup of 1
        (3, "en", "totally different words here"),
        (4, "en", "alpha beta gamma epsilon"),  # partial overlap
    ]
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).withColumn("source", F.lit("s")).write.parquet(f"{sf}/documents.parquet")

    base = {
        (r.doc_id, r.doc_id2, round(r.jaccard, 9))
        for r in N._q26_pairs(spark, sf).collect()
    }
    pre = {
        (r.doc_id, r.doc_id2, round(r.jaccard, 9))
        for r in N._q26_pairs(spark, sf, prefilter_hot=True).collect()
    }
    assert base == pre
    assert (1, 2, 1.0) in base  # identical docs: jaccard exactly 1
    assert all(d1 < d2 for d1, d2, _ in base)

    # a cap of 1 kills every shared shingle -> no pairs at all
    monkeypatch.setattr(stages, "SHINGLE_DF_CAP", 1)
    assert N._q26_pairs(spark, sf).count() == 0
    assert N._q26_pairs(spark, sf, prefilter_hot=True).count() == 0


def test_pair_enumeration_streams_large_buckets_and_drops_null_lang(spark):
    """enumerate_sorted_pairs emits n(n-1)/2 ordered pairs as rows with
    per-value memory O(n) (two chained explodes — no whole pair array
    per bucket), and the bucketed pair operators drop NULL-lang rows,
    matching the oracle SQL where lang is a JOIN key (NULL = NULL is
    false)."""
    n = 3000  # one bucket; a nested-transform shape would build ~4.5M
    # structs in a single value here — the streamed shape just flows
    buckets = spark.createDataFrame(
        [(list(range(n)),)], "ds array<bigint>"
    )
    pairs = D.enumerate_sorted_pairs(buckets)
    assert pairs.count() == n * (n - 1) // 2
    sample = pairs.filter(F.col("x") == 0).agg(F.count("*")).first()[0]
    assert sample == n - 1

    # NULL-lang docs share a band but must not pair
    tids = [(1, None, 7), (2, None, 7), (3, "en", 7), (4, "en", 7)]
    df = spark.createDataFrame(tids, "doc_id long, lang string, tid long")
    sig = D.minhash_signatures(df, D.hash_params(4))
    got = {
        (r.doc_id, r.doc_id2)
        for r in D.lsh_candidate_pairs(sig, bands=2, rows=2).collect()
    }
    assert got == {(3, 4)}
    fps = D.simhash_fingerprints(df)
    got_sh = {
        (r.doc_id, r.doc_id2)
        for r in D.simhash_near_pairs(fps, max_hamming=3).collect()
    }
    assert got_sh == {(3, 4)}


def test_connected_components_merges_chains(spark):
    # 1-2, 2-3 chain plus isolated pair 10-11: two components. Both
    # physical strategies must agree: driver union-find (default — the
    # edge list is tiny) and the distributed min-label loop (forced via
    # driver_max_edges=None), which is what runs past the driver bound.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id long, doc_id2 long"
    )
    expect = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    cc = {r.doc_id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert cc == expect
    dist = {
        r.doc_id: r.cluster_id
        for r in D.connected_components(pairs, driver_max_edges=None).collect()
    }
    assert dist == expect


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """The distributed loop with checkpoint(dir) — the 100 TB posture:
    a lost executor invalidates localCheckpoint blocks, reliable
    checkpoints survive. Same labels, and checkpoint files land in the
    given dir."""
    import os

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "doc_id long, doc_id2 long"
    )
    ckdir = str(tmp_path / "cc_ck")
    cc = {
        r.doc_id: r.cluster_id
        for r in D.connected_components(
            pairs, driver_max_edges=None, checkpoint_dir=ckdir
        ).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}
    assert os.path.isdir(ckdir) and any(os.scandir(ckdir))


def test_connected_components_raises_when_not_converged(spark):
    """A component whose diameter exceeds max_iters must raise, not
    return wrong-but-plausible labels: min-label propagation moves one
    hop per round, so a 6-chain under max_iters=2 cannot settle — and
    unsettled labels would split one real cluster into several,
    silently keeping near-duplicates downstream."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_id long, doc_id2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(chain, max_iters=2, driver_max_edges=None)
    # the same graph converges with enough rounds
    cc = {
        r.doc_id: r.cluster_id
        for r in D.connected_components(
            chain, max_iters=10, driver_max_edges=None
        ).collect()
    }
    assert set(cc.values()) == {1}


def test_connected_components_converges_at_exact_diameter(spark):
    """A component whose diameter is EXACTLY max_iters converges and
    must NOT raise: convergence is only detectable by a round that
    moves nothing, so the loop allows one verification round beyond
    max_iters (the guard used to fire here — off by one). A 7-node
    chain needs 6 propagation rounds for label 1 to reach node 7."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_id long, doc_id2 long"
    )
    cc = {
        r.doc_id: r.cluster_id
        for r in D.connected_components(
            chain, max_iters=6, driver_max_edges=None
        ).collect()
    }
    assert set(cc.values()) == {1}
    assert len(cc) == 7


def test_ann_lsh_multiprobe_dominates_single_probe(spark, sf_correctness):
    """The Hamming<=1 multi-probe's candidate pool is a superset of
    the single probe's (it always includes the query's own bucket),
    so per (query, rank) its similarity must dominate, and its
    recall@k vs brute force must be >= the single probe's."""
    from etl_wikipedia_updates_spark.operators import similarity as S
    from etl_wikipedia_updates_spark.registry import REGISTRY

    emb = load_table(spark, sf_correctness, "embeddings").select(
        "vec_id", "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
    )
    exact = {
        r["q_vec_id"]: set(r["hits"])
        for r in S.cosine_topk(emb, queries, k=3)
        .groupBy("q_vec_id")
        .agg(F.collect_set("vec_id").alias("hits"))
        .collect()
    }

    def run(name):
        rows = (
            REGISTRY.queries[name]
            .builder(spark, sf_correctness)
            .collect()
        )
        sims = {(r["q_vec_id"], r["rk"]): r["cos_sim"] for r in rows}
        hits: dict = {}
        for r in rows:
            hits.setdefault(r["q_vec_id"], set()).add(r["vec_id"])
        recall = sum(
            len(hits.get(q, set()) & e) / len(e) for q, e in exact.items()
        ) / len(exact)
        return sims, recall

    sp_sims, sp_recall = run("ann_lsh")
    mp_sims, mp_recall = run("ann_lsh_multiprobe")
    for key, sim in sp_sims.items():
        assert mp_sims[key] >= sim, f"multiprobe lost ground at {key}"
    assert mp_recall >= sp_recall


def test_lsh_probe_masks_enumeration():
    """Radius-ascending Hamming-ball masks: the dial's contract.
    radius=1 must reproduce the [home, single-bit-flips] list the
    Hamming<=1 query ships, prefixes must nest (a radius-r list is a
    prefix of radius r+1), counts follow sum C(n, r), and out-of-range
    radii fail loudly."""
    from math import comb

    from etl_wikipedia_updates_spark.operators import similarity as S

    assert S.lsh_probe_masks(4, 0) == [0]
    assert S.lsh_probe_masks(4, 1) == [0, 1, 2, 4, 8]
    for radius in range(5):
        masks = S.lsh_probe_masks(4, radius)
        assert len(masks) == sum(comb(4, r) for r in range(radius + 1))
        assert len(set(masks)) == len(masks)
        assert all(bin(m).count("1") <= radius for m in masks)
        if radius:
            smaller = S.lsh_probe_masks(4, radius - 1)
            assert masks[: len(smaller)] == smaller
    assert sorted(S.lsh_probe_masks(4, 4)) == list(range(16))
    with pytest.raises(ValueError):
        S.lsh_probe_masks(4, 5)
    with pytest.raises(ValueError):
        S.lsh_probe_masks(4, -1)


def test_lsh_full_radius_probe_is_exact(spark, sf_correctness):
    """radius == n_planes probes every sign bucket, so the multi-probe
    candidate pool is the whole corpus and the result must be
    row-identical to brute-force cosine_topk (same tie-break, same
    rounding) — the degenerate end of the recall dial, pinning that
    the probe join + distinct loses nothing."""
    from etl_wikipedia_updates_spark.operators import similarity as S
    from etl_wikipedia_updates_spark.plans.northstar import ANN_LSH_PLANES

    n = len(ANN_LSH_PLANES)
    masks = S.lsh_probe_masks(n, radius=n)
    emb = load_table(spark, sf_correctness, "embeddings").select(
        "vec_id", "embedding"
    )
    bucketed = emb.withColumn(
        "lsh_cell", S.lsh_bucket_col("embedding", ANN_LSH_PLANES)
    )
    probes = F.array(
        *[F.col("lsh_cell").bitwiseXOR(F.lit(m)) for m in masks]
    )
    queries = bucketed.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        probes.alias("probe_cells"),
    )
    full = S.cosine_topk_multiprobe(
        bucketed, queries, k=3, cell_col="lsh_cell"
    )
    exact = S.cosine_topk(
        emb, queries.select("q_vec_id", "q_embedding"), k=3
    )
    key = ["q_vec_id", "rank"]
    got = [r.asDict() for r in full.orderBy(*key).collect()]
    want = [r.asDict() for r in exact.orderBy(*key).collect()]
    assert got == want


def _span_fixture(spark):
    """doc 1 = shared 16-token span + 8 unique tail; doc 2 = 8 unique
    head + the same shared span (HOP-aligned at p=8); doc 3 = all
    unique. With SPAN_W=16/HOP=8 doc1@p0 and doc2@p8 hash equal."""
    shared = " ".join(f"s{i}" for i in range(16))
    d1 = shared + " " + " ".join(f"a{i}" for i in range(8))
    d2 = " ".join(f"b{i}" for i in range(8)) + " " + shared
    d3 = " ".join(f"c{i}" for i in range(24))
    return spark.createDataFrame(
        [(1, d1, "en", "srcA"), (2, d2, "en", "srcA"), (3, d3, "en", "srcB")],
        "doc_id long, text string, lang string, source string",
    )


def test_remove_dup_spans_keeps_canonical_copy(spark):
    """Span excision: the minimum-id owner of a duplicated span keeps
    its text verbatim; every other doc loses exactly the span's
    tokens; untouched docs pass through unchanged."""
    from etl_wikipedia_updates_spark.stages import remove_dup_spans

    docs = _span_fixture(spark)
    out = {r["doc_id"]: r for r in remove_dup_spans(docs).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert out[1]["text_clean"] == texts[1]  # canonical owner: verbatim
    assert out[3]["text_clean"] == texts[3]  # no dup spans: verbatim
    # doc 2 loses the 16 shared tokens, keeps its 8-token head
    assert out[2]["text_clean"] == " ".join(f"b{i}" for i in range(8))


def test_remove_dup_spans_long_doc_linear(spark):
    """Excision on a 30k-token doc: full-coverage removal (an exact
    long duplicate loses EVERY token -> empty text_clean) and a
    multi-run gap structure (unique insertions split the removal into
    several runs, each complement gap kept verbatim). Also the
    excision's de-facto runtime guard: the old per-token
    array_contains filter was O(n x removed) — ~10^9 comparisons on
    this fixture, minutes instead of seconds."""
    from etl_wikipedia_updates_spark.stages import (
        SPAN_HOP,
        SPAN_W,
        remove_dup_spans,
    )

    n = 30_000
    base = [f"t{i % 997}" for i in range(n)]
    # doc 2 = exact duplicate of doc 1; doc 3 = doc 1 with a unique
    # 5-token island at two HOP-aligned offsets (too short to form a
    # clean span on its own, so removal splits into runs around it)
    d3 = list(base)
    for off in (8_000, 16_000):
        d3[off : off + 5] = [f"u{off}_{j}" for j in range(5)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(base), "en", "s"),
            (2, " ".join(base), "en", "s"),
            (3, " ".join(d3), "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r["doc_id"]: r["text_clean"] for r in remove_dup_spans(docs).collect()}
    assert out[1] == " ".join(base)  # canonical owner: verbatim
    assert out[2] == ""  # exact duplicate: fully excised
    kept3 = out[3].split(" ")
    # doc 3 keeps every unique token and nothing HOP-aligned far from
    # the islands; removal is span-granular so a W-token neighborhood
    # around each island also survives (no span covering it is shared
    # cleanly — windows overlapping the island hash uniquely)
    for off in (8_000, 16_000):
        for j in range(5):
            assert f"u{off}_{j}" in kept3
    assert len(kept3) < 2 * (5 + 2 * (SPAN_W + SPAN_HOP))


def test_span_removal_extents_match_excision(spark, tmp_path):
    """The registered span_removal extents agree with what
    remove_dup_spans actually excises (n_kept == token count of
    text_clean) on the crafted fixture, written as a parquet table so
    the query builder's load path is exercised."""
    from etl_wikipedia_updates_spark.plans.northstar import span_removal
    from etl_wikipedia_updates_spark.stages import remove_dup_spans

    docs = _span_fixture(spark)
    docs.toPandas().to_parquet(str(tmp_path / "documents.parquet"))
    ext = {r["doc_id"]: r for r in span_removal(spark, str(tmp_path)).collect()}
    assert ext[1]["n_removed"] == 0 and ext[1]["n_kept"] == 24
    assert ext[2]["n_removed"] == 16 and ext[2]["n_kept"] == 8
    assert ext[3]["n_removed"] == 0
    cleaned = {
        r["doc_id"]: len(r["text_clean"].split(" "))
        for r in remove_dup_spans(docs).collect()
    }
    for doc_id, row in ext.items():
        assert cleaned[doc_id] == row["n_kept"]


def test_multimodal_null_payload_yields_null_features(spark):
    """NULL payloads (encode(NULL) upstream) must map to NULL features
    in byte_features/frame_sample — SQL-null semantics, matching
    decode_image's quarantine contract — never a len(None) TypeError
    that kills the task."""
    docs = spark.createDataFrame(
        [(1, "ab c"), (2, None)], "doc_id long, text string"
    )
    wp = M.with_binary_payload(docs)
    bf = {r.doc_id: r for r in M.byte_features(wp).collect()}
    assert bf[1].byte_len == 4 and bf[1].n_space == 1
    assert bf[2].byte_len is None and bf[2].first_byte is None
    assert bf[2].last_byte is None and bf[2].n_space is None
    fs = {
        r.doc_id: r
        for r in M.frame_sample(wp, frame_len=2, stride=2).collect()
    }
    assert fs[1].n_frames == 2
    assert fs[2].n_frames is None and fs[2].frames is None
    dec = {r.doc_id: r for r in M.decode_image(wp).collect()}
    assert dec[2].error == "null payload"


def test_operators_on_empty_input(spark):
    """Empty-input behavior (SURVEY §5.2): no operator should throw on
    an empty frame, and outputs must be empty with the right schema."""
    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string"
    )
    assert T.doc_tokens(empty_docs).count() == 0
    assert T.doc_shingles(empty_docs).count() == 0
    empty_rows = spark.createDataFrame([], "k int, g int, v int")
    assert D.exact_dedup(empty_rows, ["k", "g"], ["v"]).count() == 0
    empty_tids = spark.createDataFrame([], "doc_id long, lang string, tid long")
    sig = D.minhash_signatures(empty_tids, D.hash_params(4))
    assert sig.count() == 0 and len(sig.columns) == 2 + 4
    empty_pairs = spark.createDataFrame([], "doc_id long, doc_id2 long")
    assert D.connected_components(empty_pairs).count() == 0


def _ppm_bytes(w, h, pixels):
    """Binary PPM (P6) from [(r,g,b), ...] row-major pixels."""
    body = b"".join(bytes(p) for p in pixels)
    return f"P6\n{w} {h}\n255\n".encode() + body


def _bmp_bytes(w, h, pixels):
    """24-bit BI_RGB BMP (bottom-up) from row-major RGB pixels."""
    import struct

    stride = (w * 3 + 3) & ~3
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = b"".join(
            bytes((pixels[y * w + x][2], pixels[y * w + x][1], pixels[y * w + x][0]))
            for x in range(w)
        )
        rows.append(row + b"\0" * (stride - len(row)))
    data = b"".join(rows)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0)
    return header + info + data


def test_decode_image_ppm_and_bmp(spark):
    """decode_image really decodes: dimensions, channel means, and the
    nearest-neighbor thumbnail all come from parsed pixels, and the two
    container formats agree on identical image content."""
    px = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]  # 2x2
    rows = [
        (1, bytearray(_ppm_bytes(2, 2, px))),
        (2, bytearray(_bmp_bytes(2, 2, px))),
        (3, bytearray(b"GIF89a not supported")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in M.decode_image(df).collect()}

    for doc, fmt in ((1, "ppm"), (2, "bmp")):
        r = out[doc]
        assert r.format == fmt and r.error is None
        assert (r.width, r.height, r.channels) == (2, 2, 3)
        # mean of [255,0,0,255] = 127.5 per channel
        assert (r.mean_r, r.mean_g, r.mean_b) == (127.5, 127.5, 127.5)
        # 2x2 fits under thumb_max=8: thumbnail is the full RGB image
        assert (r.thumb_w, r.thumb_h) == (2, 2)
        assert bytes(r.thumbnail) == b"".join(bytes(p) for p in px)
    assert out[3].error == "unsupported format" and out[3].format is None


def test_decode_image_downsamples_and_quarantines(spark):
    """A 16x4 gradient shrinks to an 8x2 thumbnail (stride 2, ceil);
    truncated payloads produce error rows, never stage failures."""
    w, h = 16, 4
    px = [(x * 16, y * 60, 7) for y in range(h) for x in range(w)]
    good = _ppm_bytes(w, h, px)
    rows = [
        (1, bytearray(good)),
        (2, bytearray(good[:20])),  # truncated pixel block
        (3, None),  # NULL payload cell must quarantine, not TypeError
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in M.decode_image(df, thumb_max=8).collect()}
    r = out[1]
    assert (r.width, r.height) == (w, h)
    assert (r.thumb_w, r.thumb_h) == (8, 2)
    # nearest-neighbor keeps pixels at even (x, y): first thumb pixel is
    # px[0], second is px[2]
    thumb = bytes(r.thumbnail)
    assert thumb[0:3] == bytes(px[0]) and thumb[3:6] == bytes(px[2])
    assert out[2].error is not None and out[2].format is None
    assert out[3].error == "null payload" and out[3].format is None


def test_kmeans_assignment_is_argmin(spark):
    """Every vector lands on its true nearest centroid, ties to the
    lowest cid."""
    from etl_wikipedia_updates_spark.operators import clustering as C

    vecs = [(i, [float(i % 4), float(i % 3)]) for i in range(12)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = [[0.0, 0.0], [3.0, 2.0], [0.0, 0.0]]  # cid 2 duplicates cid 0
    got = {r.vec_id: (r.cid, r.d2) for r in C.assignment(df, cents).collect()}
    for i, v in vecs:
        dists = [sum((x - y) ** 2 for x, y in zip(v, c)) for c in cents]
        best = min(range(len(cents)), key=lambda j: (dists[j], j))
        assert got[i][0] == best, f"vec {i}"
        assert abs(got[i][1] - dists[best]) < 1e-12


def test_kmeans_fit_deterministic_and_total(spark):
    from etl_wikipedia_updates_spark.operators import clustering as C
    from etl_wikipedia_updates_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    a = C.kmeans_fit(emb, k=4, iters=2)
    b = C.kmeans_fit(emb, k=4, iters=2)
    assert a == b  # bit-identical across runs
    sizes = (
        C.assignment(emb, a).groupBy("cid").count().agg(F.sum("count")).first()[0]
    )
    assert sizes == emb.count()  # assignment partitions the corpus


def test_multiprobe_ivf_recall_and_exhaustive_equivalence(spark):
    """n_probes recall lever: more probed cells never lowers top-k
    quality, and probing every cell equals brute force exactly."""
    from etl_wikipedia_updates_spark.operators import similarity as S

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    all_cells = [r.label for r in emb.select("label").distinct().collect()]
    qbase = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("embedding").alias("q_embedding"),
        "label",
    )
    k = 3

    def topk_sims(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.q_vec_id, []).append(r.cos_sim)
        return {q: sorted(v, reverse=True) for q, v in out.items()}

    one = topk_sims(
        S.cosine_topk_multiprobe(
            emb, qbase.select("q_vec_id", "q_embedding",
                              F.array("label").alias("probe_cells")), k
        )
    )
    two = topk_sims(
        S.cosine_topk_multiprobe(
            emb,
            qbase.select(
                "q_vec_id", "q_embedding",
                F.array("label", (F.col("label") + 1) % 10).alias("probe_cells"),
            ),
            k,
        )
    )
    for q in one:
        assert two[q] >= one[q], "adding a probe cell lowered top-k quality"
    exhaustive = topk_sims(
        S.cosine_topk_multiprobe(
            emb,
            qbase.select(
                "q_vec_id", "q_embedding",
                F.array(*[F.lit(c) for c in all_cells]).alias("probe_cells"),
            ),
            k,
        )
    )
    brute = topk_sims(S.cosine_topk(emb, qbase.select("q_vec_id", "q_embedding"), k))
    assert exhaustive == brute


def test_quantization_error_bound(spark):
    """int8 symmetric quantization: per-element reconstruction error is
    bounded by half a quantization step (0.5/scale)."""
    from etl_wikipedia_updates_spark.plans.northstar import quantize_embeddings

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dim = len(emb.first().embedding)
    out = quantize_embeddings(spark, "/root/testdata/sf0.001").collect()
    assert sum(r.n_vecs for r in out) == emb.count()
    # mean sse <= dim * (0.5/scale)^2; scale >= 127/max|x| with |x|<=~4
    # for the synthetic unit-ish embeddings -> bound ~ dim*(2/127)^2
    bound = dim * (4.0 / 127.0) ** 2
    for r in out:
        assert 0.0 <= r.mean_sse <= bound, f"label {r.label}: {r.mean_sse}"


def test_quality_features_from_array_literal_escaping(spark):
    """The SQL-text scorer inlines the fitted stopword model as string
    literals: tokens containing quotes/backslashes must round-trip
    through sql_str_lit, and the array-op counts must equal the explode
    semantics they replaced."""
    docs = spark.createDataFrame(
        [
            (1, "it's it's o'br\\ien the the the cat", "en"),
            (2, "x", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    stop = ["the", "it's", "o'br\\ien"]
    rows = {r.doc_id: r for r in T.quality_features(docs, stop).collect()}
    r1 = rows[1]
    assert r1.n_tokens == 7
    assert r1.n_distinct == 4
    assert r1.avg_token_len == 4.0  # 28 chars / 7 tokens
    # it's x2 + o'br\ien + the x3 = 6 stopword hits of 7 tokens
    assert r1.stop_ratio == 0.857
    assert r1.alpha_ratio == 0.571  # the x3 + cat
    r2 = rows[2]
    assert (r2.n_tokens, r2.n_distinct, r2.stop_ratio, r2.alpha_ratio) == (
        1,
        1,
        0.0,
        1.0,
    )


def test_predict_language_literal_model_argmax(spark):
    """Argmax over per-lang profile overlap: max overlap wins, ties go
    to the lexicographically smallest lang, zero overlap -> unknown."""
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc", "en"),   # en: 2 hits, fr: 1 -> en
            (2, "aa dd", "en"),      # en: 1, fr: 1 -> tie -> en
            (3, "dd ee", "fr"),      # en: 0, fr: 2 -> fr
            (4, "zz", "fr"),         # no overlap -> unknown
        ],
        "doc_id long, text string, lang string",
    )
    profiles = {"fr": ["dd", "ee"], "en": ["aa", "bb"]}
    got = {
        r.doc_id: r.predicted_lang
        for r in T.predict_language(docs, profiles).collect()
    }
    assert got == {1: "en", 2: "en", 3: "fr", 4: "unknown"}


def test_rep_filter_both_classes_and_partition(spark, sf_smoke):
    """The repetition filter must actually split the corpus (both
    verdicts populated) and partition it exactly: per-source keep+drop
    counts sum to the source's doc count."""
    from etl_wikipedia_updates_spark.plans.northstar import rep_filter

    out = rep_filter(spark, sf_smoke).collect()
    verdicts = {r.verdict for r in out}
    assert verdicts == {"keep", "drop"}
    per_source: dict[str, int] = {}
    for r in out:
        per_source[r.source] = per_source.get(r.source, 0) + r.n_docs
        assert 0.0 <= r.mean_top_word_frac <= 1.0
        assert 0.0 <= r.mean_dup_word_frac <= 1.0
        assert 0.0 <= r.mean_top_bigram_frac <= 1.0
    docs = load_table(spark, sf_smoke, "documents")
    truth = {
        r.source: r.n for r in docs.groupBy("source").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert per_source == truth


def test_source_mix_budget_and_determinism(spark, sf_smoke):
    """Mixing audit invariants: the smallest-budget source keeps
    everything (rate 1.0), every rate is in (0, 1], kept counts never
    exceed docs_in, and the sample is deterministic across runs."""
    from etl_wikipedia_updates_spark.plans.northstar import source_mix

    rows = source_mix(spark, sf_smoke).collect()
    assert rows  # one row per source
    min_chars = min(r.chars_in for r in rows)
    for r in rows:
        assert 0.0 < r.mix_rate <= 1.0
        assert r.docs_kept <= r.docs_in
        assert r.chars_kept <= r.chars_in
        if r.chars_in == min_chars:
            assert r.mix_rate == 1.0 and r.docs_kept == r.docs_in
    again = source_mix(spark, sf_smoke).collect()
    assert rows == again


def test_corpus_release_funnel_invariants(spark, sf_smoke):
    """The release is a strict funnel: released docs are a subset of
    the quality keeps net of dedup drops, both splits appear, and the
    audit card is internally consistent (chars and checksums positive
    where docs exist)."""
    from etl_wikipedia_updates_spark.plans.northstar import (
        corpus_release,
        rep_filter,
    )

    card = corpus_release(spark, sf_smoke).collect()
    assert card
    splits = {r.split for r in card}
    assert splits == {"train", "test"}
    released = sum(r.n_docs for r in card)
    keeps = sum(
        r.n_docs for r in rep_filter(spark, sf_smoke).collect()
        if r.verdict == "keep"
    )
    assert 0 < released <= keeps
    for r in card:
        assert r.n_chars_total > 0 and r.id_checksum > 0


def test_source_mix_fused_path_null_degenerates(spark):
    """r15 advice: the fused (budget_rows) path rendered a NULL source
    group key as the literal string 'None' and TypeError'd on a NULL
    chars_in aggregate. Both degenerate shapes must now render
    NULL-safe literals and produce EXACTLY what the computed-budget
    path produces on the same frame: a NULL-source group audits with
    zero kept (equi-join semantics drop NULL keys), an all-NULL-chars
    source carries NULL through rate and keep-filter."""
    import etl_wikipedia_updates_spark.plans.northstar as N

    df = spark.createDataFrame(
        [
            (1, "a", 100),
            (2, "a", 50),
            (3, None, 40),  # NULL source group key
            (4, "b", None),  # all-NULL chars for source b
            (5, "c", 60),
        ],
        "doc_id long, source string, n_chars int",
    )
    computed = sorted(
        (r.asDict() for r in N._source_mix(df).collect()),
        key=lambda r: (r["source"] is not None, r["source"]),
    )
    fused = sorted(
        (
            r.asDict()
            for r in N._source_mix(df, N.mix_budgets(df)).collect()
        ),
        key=lambda r: (r["source"] is not None, r["source"]),
    )
    assert fused == computed
    # the NULL source survived as a real NULL, not the string 'None'
    assert any(r["source"] is None for r in fused)
    assert not any(r["source"] == "None" for r in fused)


def test_release_members_classifier_uses_weight_memo(spark, sf_smoke):
    """r15 advice: release_members(quality_classifier=True) ran the
    full-corpus n-gram fit eagerly at plan-BUILD time on every call,
    bypassing the ngq_weights memo ngram_quality uses. Now it fetches
    through the SAME memo key: warm the cache, poison the fit, and the
    builder must still construct (and execute) without refitting."""
    from unittest import mock

    import etl_wikipedia_updates_spark.plans.corpus as C
    from etl_wikipedia_updates_spark.caches import memo

    # warm the shared memo the way ngram_quality does
    C.ngram_quality(spark, sf_smoke)
    key = f"ngq_weights_{stages.NGQ_BUCKETS}"
    assert memo(spark, key, lambda: pytest.fail("not memoized"), sf_smoke)
    with mock.patch.object(
        stages, "fit_ngram_weights", side_effect=AssertionError("refit!")
    ):
        out = stages.release_members(spark, sf_smoke, quality_classifier=True)
        assert out.count() > 0  # executes off the cached weights


def test_span_decontam_semantics(spark, tmp_path):
    """Hand-derivable decontamination fixture: a train doc carrying a
    verbatim SPAN_W-token run copied from a benchmark doc is flagged;
    a train doc sharing most-but-not-all of a window is NOT (exact
    substring, not overlap); spans shared only BETWEEN train docs
    never count; the benchmark stratum itself is absent from the
    audit. Alignment note: the copied run sits at a HOP-aligned
    offset in BOTH docs, so the strided windows line up (the
    operator's documented stride/alignment trade)."""
    import pandas as pd

    import etl_wikipedia_updates_spark.plans.northstar as N

    W, H = N.SPAN_W, N.SPAN_HOP
    bench_toks = [f"b{i}" for i in range(2 * W)]
    leak = bench_toks[H : H + W]  # HOP-aligned run inside the bench doc
    near = list(leak)
    near[W // 2] = "MUTATED"  # one token off -> no exact window match
    rows = [
        # the benchmark stratum (src0 = CONTAM_BENCH_SOURCE)
        (0, " ".join(bench_toks), "en", "src0", 0),
        # contaminated: pad to keep the leaked run HOP-aligned
        (1, " ".join([f"p{i}" for i in range(H)] + leak), "en", "srcA", 0),
        # near-miss: same run with one mutated token
        (2, " ".join([f"q{i}" for i in range(H)] + near), "en", "srcA", 0),
        # train-only duplication: two srcB docs share a run absent
        # from the benchmark — must NOT count as contamination
        (3, " ".join([f"t{i}" for i in range(W)]), "en", "srcB", 0),
        (4, " ".join([f"t{i}" for i in range(W)]), "en", "srcB", 0),
        # NULL text rides along
        (5, None, "en", "srcA", 0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["n_chars"] = pdf["n_chars"].astype("int64")
    pdf.to_parquet(str(tmp_path) + "/documents.parquet")

    got = {
        r["source"]: r.asDict()
        for r in N.span_decontam(spark, str(tmp_path)).collect()
    }
    assert set(got) == {"srcA", "srcB"}  # bench stratum absent
    a = got["srcA"]
    assert a["contam_docs"] == 1 and a["contam_checksum"] == 1
    assert a["contam_spans"] >= 1  # doc 1's aligned window matched
    assert a["n_docs"] == 2  # NULL-text doc carries no spans
    b = got["srcB"]
    assert b["contam_docs"] == 0 and b["contam_spans"] == 0


def test_release_decontam_spans_stage(spark, sf_smoke):
    """release_members(decontam_spans=True): no released doc carries
    an exact benchmark span (the span_decontam contaminated set is
    disjoint from the release), the bench stratum's own membership is
    untouched by the filter, and the stage composes as a strict
    funnel (flag-on membership is a subset of flag-off membership
    plus mixing re-decisions — checked on the pre-mixing invariant:
    every flag-on member is a flag-off *quality* survivor)."""
    from etl_wikipedia_updates_spark.plans.northstar import span_decontam
    from etl_wikipedia_updates_spark.stages import (
        CONTAM_BENCH_SOURCE,
        release_members,
    )

    base = {
        r["doc_id"] for r in release_members(spark, sf_smoke).collect()
    }
    got = release_members(spark, sf_smoke, decontam_spans=True).collect()
    released = {r["doc_id"] for r in got}
    assert released  # the release survives decontamination

    audit = span_decontam(spark, sf_smoke).collect()
    n_contam = sum(r["contam_docs"] for r in audit)
    assert n_contam > 0  # the stage has something to bite on
    # recompute the contaminated id set the way the audit counts it
    checksum = sum(r["contam_checksum"] for r in audit)
    # disjointness: no released doc can be contaminated. The audit
    # only exposes count+checksum, so assert via the core:
    from etl_wikipedia_updates_spark.stages import _span_occurrences
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    bench_h = (
        _span_occurrences(
            docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
        ).select("h").distinct()
    )
    contaminated = {
        r["doc_id"]
        for r in _span_occurrences(
            docs.filter(F.col("source") != CONTAM_BENCH_SOURCE)
        )
        .join(F.broadcast(bench_h), "h")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert len(contaminated) == n_contam
    assert sum(contaminated) == checksum
    assert released.isdisjoint(contaminated)
    # a flag-off member that is neither contaminated nor re-decided by
    # mixing stays released: any doc in base - released must be
    # explained by contamination or by the recomputed mixing budgets
    # (strictly smaller per-source chars -> possibly different keeps);
    # at minimum, every contaminated flag-off member is gone
    assert (base & contaminated).isdisjoint(released)
