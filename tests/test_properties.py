"""Property-based tests (hypothesis) for operator invariants.

Each property is the algebraic fact the 100 TB design depends on —
order-independence of the deterministic sums, permutation-invariance of
signatures, dedup idempotence — checked over generated inputs rather
than one fixture. Spark round-trips are expensive, so properties that
are pure column math run through a single reused DataFrame per example
batch where possible.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark import stages
from etl_wikipedia_updates_spark.operators import dedup as D

SLOW = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

prices = st.lists(
    st.floats(
        min_value=0.0, max_value=100_000.0, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=40,
)


@given(xs=prices)
@SLOW
def test_scaled_long_sum_is_order_independent(spark, xs):
    """dec_sum must give bit-identical results under any input order —
    the property that makes map-side partials safe under AQE re-plans."""
    from etl_wikipedia_updates_spark.functions.deterministic import dec_sum

    def run(vals):
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        return df.agg(dec_sum(F.col("x")).alias("s")).first()["s"]

    assert run(xs) == run(list(reversed(xs)))


@given(xs=prices)
@SLOW
def test_scaled_long_sum_matches_exact_decimal(spark, xs):
    """The scaled-long sum equals the exact decimal sum of the rounded
    addends (the scaling maps each double to its 4dp floor-half-up)."""
    from etl_wikipedia_updates_spark.functions.deterministic import dec_sum

    df = spark.createDataFrame([(v,) for v in xs], "x double")
    got = df.agg(dec_sum(F.col("x")).alias("s")).first()["s"]
    exact = sum(math.floor(v * 10_000.0 + 0.5) for v in xs)
    assert got == float(exact) / 10_000.0


rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=0, max_value=5),  # sub-key
        st.integers(min_value=0, max_value=1_000),  # order col
    ),
    min_size=1,
    max_size=50,
)


@given(data=rows)
@SLOW
def test_exact_dedup_idempotent_and_minimal(spark, data):
    df = spark.createDataFrame(data, "k int, g int, v int")
    once = D.exact_dedup(df, ["k", "g"], ["v"])
    got = {(r.k, r.g, r.v) for r in once.collect()}
    # survivor = min v per key (ties collapse to the same row value)
    expected = {}
    for k, g, v in data:
        key = (k, g)
        expected[key] = min(expected.get(key, v), v)
    assert got == {(k, g, v) for (k, g), v in expected.items()}
    # idempotent
    assert {(r.k, r.g, r.v) for r in D.exact_dedup(once, ["k", "g"], ["v"]).collect()} == got


small_frames = st.lists(
    st.integers(min_value=0, max_value=8), min_size=0, max_size=20
)


@given(xs=small_frames, ys=small_frames)
@SLOW
def test_set_algebra(spark, xs, ys):
    """unionAll preserves multiset cardinality; exceptAll is a true
    multiset difference; intersect ⊆ both sides — the algebra Q11
    (set ops) relies on."""
    a = spark.createDataFrame([(x,) for x in xs], "v int")
    b = spark.createDataFrame([(y,) for y in ys], "v int")
    assert a.unionAll(b).count() == len(xs) + len(ys)
    assert a.exceptAll(a).count() == 0
    got_diff = sorted(r.v for r in a.exceptAll(b).collect())
    expect = list(xs)
    for y in ys:
        if y in expect:
            expect.remove(y)
    assert got_diff == sorted(expect)
    inter = {r.v for r in a.intersect(b).collect()}
    assert inter == set(xs) & set(ys)


docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=30),
        st.text(alphabet="ab ", min_size=0, max_size=30),
    ),
    min_size=1,
    max_size=10,
    unique_by=lambda t: t[0],
)


@given(docs=docs_strategy)
@SLOW
def test_minhash_signature_is_set_function(spark, docs):
    """Signatures depend only on the token-id SET: shuffling row order
    or duplicating rows never changes any h_i (min is idempotent and
    commutative) — the invariant LSH correctness rests on."""
    tids = [
        (doc_id, "en", tid)
        for doc_id, text in docs
        for tid in {hash(w) % 1000 + 1 for w in text.split()}
    ]
    if not tids:
        return
    params = D.hash_params(8)
    base = spark.createDataFrame(tids, "doc_id long, lang string, tid long")
    dup = base.unionByName(base)  # duplicated rows
    sig_a = {
        tuple(r) for r in D.minhash_signatures(base, params).collect()
    }
    sig_b = {tuple(r) for r in D.minhash_signatures(dup, params).collect()}
    assert sig_a == sig_b


@given(docs=docs_strategy)
@SLOW
def test_posting_list_pairs_match_naive_jaccard(spark, docs, tmp_path_factory):
    """The posting-list pair enumeration (r5 physical shape for the q26
    family) must equal a from-scratch Python computation of shingle
    Jaccard on ANY corpus: same pairs, same values, d1 < d2. Guards the
    nested transform/slice pair generator and the size-filter cap
    placement."""
    import os

    import etl_wikipedia_updates_spark.plans.northstar as N

    sf = str(tmp_path_factory.mktemp("pl") / "sf")
    os.makedirs(sf)
    rows = [(doc_id, "en", text) for doc_id, text in docs]
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).withColumn("source", F.lit("s")).write.parquet(f"{sf}/documents.parquet")

    # naive reference: distinct 3-token shingles per doc, exact jaccard
    def shingles(text):
        toks = text.lower().split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    sets = {d: shingles(t) for d, _, t in rows}
    expect = set()
    ids = sorted(sets)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            s1, s2 = sets[d1], sets[d2]
            if not s1 or not s2:
                continue
            inter = len(s1 & s2)
            if inter == 0:
                continue
            jac = inter / len(s1 | s2)
            if jac >= N.JACCARD_THRESHOLD:
                expect.add((d1, d2, round(jac, 9)))

    got = {
        (r.doc_id, r.doc_id2, round(r.jaccard, 9))
        for r in N._q26_pairs(spark, sf).collect()
    }
    assert got == expect


def test_dedup_corpus_partition_invariants(spark, sf_smoke):
    """kept + dropped = in, per source and in total; every near-dup
    cluster keeps exactly its minimum doc_id (the canonical survivor)."""
    from etl_wikipedia_updates_spark.plans.northstar import dedup_corpus
    from etl_wikipedia_updates_spark.stages import _q26_pairs

    rows = dedup_corpus(spark, sf_smoke).collect()
    assert rows, "at least one source group"
    for r in rows:
        assert r.docs_kept + r.docs_dropped == r.docs_in
        assert r.docs_kept >= 1
    pairs = _q26_pairs(spark, sf_smoke).select("doc_id", "doc_id2")
    labels = D.connected_components(pairs)
    per_cluster = (
        labels.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("min_id"), F.count("*").alias("n"))
        .collect()
    )
    total_dropped = sum(r.docs_dropped for r in rows)
    assert total_dropped == sum(r.n - 1 for r in per_cluster)
    for r in per_cluster:
        assert r.cluster_id == r.min_id  # survivor = min label


def test_bm25_scores_positive_and_rank_consistent(spark, sf_smoke):
    """BM25 with rational idf: idf > 0 whenever df < N, so scores of
    matched docs are strictly positive; ranks are 1..k without gaps and
    ordered by (score desc, doc_id)."""
    from etl_wikipedia_updates_spark.plans.northstar import bm25_rank

    rows = bm25_rank(spark, sf_smoke).collect()
    assert rows
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert (a.bm25, -a.doc_id) >= (b.bm25, -b.doc_id)
        assert a.bm25 > 0


def test_corpus_stats_totals_match_docs(spark, sf_smoke):
    """corpus_stats group totals must re-aggregate to whole-corpus
    numbers (no row lost to grouping)."""
    from etl_wikipedia_updates_spark.plans.northstar import corpus_stats
    from etl_wikipedia_updates_spark.tables import load_table

    rows = corpus_stats(spark, sf_smoke).collect()
    docs = load_table(spark, sf_smoke, "documents")
    assert sum(r.n_docs for r in rows) == docs.count()
    assert sum(r.total_chars for r in rows) == docs.agg(
        F.sum("n_chars")
    ).first()[0]


@given(docs=docs_strategy)
@SLOW
def test_rep_filter_per_doc_matches_python_reference(spark, docs):
    """rep_filter's per-doc repetition signals must equal a
    from-scratch Python computation on ANY corpus: word/bigram counts,
    fractions, and the keep/drop verdict — guards the map-side
    array_sort + run-max struct (r14 replan) and the NULL-bigram
    coalesce for single-word docs."""
    from collections import Counter

    import etl_wikipedia_updates_spark.plans.northstar as N

    rows = [
        (doc_id, text, "en", "src", len(text))
        for doc_id, text in docs
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    got = {r["doc_id"]: r.asDict() for r in N._rep_per_doc(df).collect()}
    for doc_id, text in docs:
        ws = text.lower().split(" ")
        wc = Counter(ws)
        n, nd, topw = len(ws), len(wc), max(wc.values())
        bigrams = [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]
        bc = Counter(bigrams)
        dup = 1 - nd / n
        topwf = topw / n
        topbf = (max(bc.values()) / len(bigrams)) if bigrams else 0.0
        keep = (
            topwf <= N.REP_TOPW_MAX
            and topbf <= N.REP_TOPB_MAX
            and dup <= N.REP_DUP_MAX
        )
        r = got[doc_id]
        assert r["dup"] == dup and r["topw"] == topwf and r["topb"] == topbf
        assert r["verdict"] == ("keep" if keep else "drop")


mix_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),  # doc_id
        st.sampled_from(["a", "b", "c"]),  # source
        st.integers(min_value=1, max_value=500),  # n_chars
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(rows=mix_rows)
@SLOW
def test_source_mix_matches_python_reference(spark, rows):
    """source_mix's all-integer membership rule and audit arithmetic
    must equal a from-scratch Python computation on ANY corpus —
    guards the LCG bucket math, the budget-floor comparison direction,
    and the left-join zero-fill for sources whose sample came up
    empty."""
    import etl_wikipedia_updates_spark.plans.northstar as N

    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars int"
    )
    got = {r["source"]: r.asDict() for r in N._source_mix(df).collect()}

    budgets: dict[str, list[int]] = {}
    for d, s_, c in rows:
        budgets.setdefault(s_, [0, 0])
        budgets[s_][0] += 1
        budgets[s_][1] += c
    min_chars = min(v[1] for v in budgets.values())
    for s_, (docs_in, chars_in) in budgets.items():
        kept = [
            (d, c)
            for d, src, c in rows
            if src == s_
            and ((d * N.MIX_A + N.MIX_B) % 2_147_483_647 % N.MIX_BUCKETS)
            * chars_in
            < min_chars * N.MIX_BUCKETS
        ]
        r = got[s_]
        assert (r["docs_in"], r["chars_in"]) == (docs_in, chars_in)
        assert r["docs_kept"] == len(kept)
        assert r["chars_kept"] == sum(c for _, c in kept)
        assert r["kept_checksum"] == sum(d for d, _ in kept)


def test_seq_pack_matches_python_packing(spark, sf_smoke):
    """seq_pack's per-source numbers must equal a from-scratch Python
    simulation of concat-then-chunk packing in doc_id order: sequence
    count = ceil(total/L), split docs = docs whose first and last
    token land in different chunks, fill = total/(n_seqs*L). Guards
    the window arithmetic (cum-1 vs cum-n_tok flooring) against
    off-by-one drift."""
    import math

    from etl_wikipedia_updates_spark.plans.northstar import seq_pack
    from etl_wikipedia_updates_spark.stages import SEQ_LEN
    from etl_wikipedia_updates_spark.tables import load_table

    docs = sorted(
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", "source", "text")
        .collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    want: dict[str, dict] = {}
    cursors: dict[str, int] = {}
    for r in docs:
        n_tok = len(r.text.lower().split(" "))
        s = want.setdefault(
            r.source, {"n_docs": 0, "total": 0, "split": 0}
        )
        start = cursors.get(r.source, 0)
        end = start + n_tok
        s["n_docs"] += 1
        s["total"] += n_tok
        if (end - 1) // SEQ_LEN > start // SEQ_LEN:
            s["split"] += 1
        cursors[r.source] = end

    got = {r.source: r for r in seq_pack(spark, sf_smoke).collect()}
    assert set(got) == set(want)
    for src, s in want.items():
        g = got[src]
        n_seqs = math.ceil(s["total"] / SEQ_LEN)
        assert g.n_docs == s["n_docs"]
        assert g.total_tokens == s["total"]
        assert g.n_seqs == n_seqs
        assert g.n_split_docs == s["split"]
        assert 0 < g.fill_frac <= 1.0
        assert abs(g.fill_frac - s["total"] / (n_seqs * SEQ_LEN)) < 1e-3


@given(
    pairs=st.lists(
        st.tuples(
            st.sets(st.integers(min_value=0, max_value=400), max_size=60),
            st.sets(st.integers(min_value=0, max_value=400), max_size=60),
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(min_value=4, max_value=32),
)
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_jaccard_sketch_matches_python_estimator(spark, pairs, k):
    """jaccard_verify_sketch == the Python bottom-k estimator on
    arbitrary id sets: S = k smallest of A∪B, J = |S∩A∩B|/|S|; and
    whenever |A∪B| <= k the estimate equals EXACT Jaccard (the cap
    never bends small pairs)."""
    rows, ref = [], {}
    for i, (a, b) in enumerate(pairs):
        ida, idb = 2 * i, 2 * i + 1
        rows.append((ida, sorted(a)[:k]))
        rows.append((idb, sorted(b)[:k]))
        sa, sb = set(sorted(a)[:k]), set(sorted(b)[:k])
        s = sorted(sa | sb)[:k]
        if s:
            est = len([x for x in s if x in sa and x in sb]) / len(s)
            ref[(ida, idb)] = est
            if len(a | b) <= k:
                exact = len(a & b) / len(a | b) if (a | b) else None
                assert exact is None or abs(est - exact) < 1e-12
    toks = spark.createDataFrame(rows, "doc_id long, toks array<long>")
    cand = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(len(pairs))],
        "doc_id long, doc_id2 long",
    )
    got = {
        (r["doc_id"], r["doc_id2"]): r["jaccard"]
        for r in D.jaccard_verify_sketch(cand, toks, 0.0, k).collect()
    }
    for key, est in ref.items():
        assert key in got and abs(got[key] - est) < 1e-12
    # pairs whose S is empty (both sketches empty) yield NULL jaccard
    # and are filtered — never spuriously verified
    assert set(got) <= set(ref)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=2000),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_seq_pack_bucketing_monotone_under_arbitrary_ids(spark, rows):
    """The two-phase prefix sum must reproduce the single-stream
    packing numbers for ANY doc_id distribution — sparse, huge, and
    NEGATIVE ids included (negatives exercise the two's-complement
    octave remap; a non-monotone bucket would silently reorder the
    concatenation and shift every split count)."""
    import math

    from etl_wikipedia_updates_spark.plans.northstar import _seq_pack
    from etl_wikipedia_updates_spark.stages import SEQ_LEN

    want: dict[str, dict] = {}
    cursors: dict[str, int] = {}
    for doc_id, src, n_tok in sorted(rows):
        s = want.setdefault(src, {"n_docs": 0, "total": 0, "split": 0})
        start = cursors.get(src, 0)
        end = start + n_tok
        s["n_docs"] += 1
        s["total"] += n_tok
        if n_tok and (end - 1) // SEQ_LEN > start // SEQ_LEN:
            s["split"] += 1
        cursors[src] = end

    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_tok long"
    )
    got = {r.source: r for r in _seq_pack(docs).collect()}
    assert set(got) == set(want)
    for src, s in want.items():
        g = got[src]
        assert g.n_docs == s["n_docs"]
        assert g.total_tokens == s["total"]
        assert g.n_seqs == math.ceil(s["total"] / SEQ_LEN)
        assert g.n_split_docs == s["split"]


def _shingles3(tokens):
    return {
        " ".join(tokens[i : i + 3]) for i in range(len(tokens) - 2)
    }


@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from("a b c d e f g h i j".split()),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=12,
    ),
    bench=st.lists(
        st.lists(
            st.sampled_from("a b c d e f g h i j".split()),
            min_size=3,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    ),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_decontam_matches_python_reference(spark, corpus, bench):
    """batch_decontam_keep == a from-scratch Python statement of the
    rule: drop a doc iff it shares >= CONTAM_MIN_SHARED distinct
    3-token shingles with any single (df-capped) benchmark doc,
    self-pairs excluded per exclude_self. The tiny 10-token alphabet
    makes shingle collisions common, exercising the threshold edge."""
    from etl_wikipedia_updates_spark.stages import CONTAM_MIN_SHARED
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_decontam_keep,
    )

    docs_rows = [
        (i, "xx", " ".join(toks)) for i, toks in enumerate(corpus)
    ]
    bench_rows = [
        (j, "xx", " ".join(toks)) for j, toks in enumerate(bench)
    ]
    bench_sh = {j: _shingles3(toks) for j, toks in enumerate(bench)}
    # default cap (1000) never binds at this size — full shingle sets

    def expected_keep(exclude_self):
        out = set()
        for i, toks in enumerate(corpus):
            mine = _shingles3(toks)
            hit = any(
                len(mine & bsh) >= CONTAM_MIN_SHARED
                for j, bsh in bench_sh.items()
                if not (exclude_self and i == j)
            )
            if not hit:
                out.add(i)
        return out

    docs_df = spark.createDataFrame(
        docs_rows, "doc_id long, lang string, text string"
    )
    bench_df = spark.createDataFrame(
        bench_rows, "doc_id long, lang string, text string"
    )
    for exclude_self in (True, False):
        got = {
            r["doc_id"]
            for r in batch_decontam_keep(
                docs_df, bench_df, exclude_self=exclude_self
            ).collect()
        }
        assert got == expected_keep(exclude_self)


# --- span_removal vs a pure-Python reference model ---------------------------
@st.composite
def _span_corpus(draw):
    """Corpora with DELIBERATE cross-doc span sharing: each doc is a
    concatenation of HOP-sized segments drawn from a tiny shared pool,
    so HOP-aligned SPAN_W windows (two adjacent segments) recur across
    docs with high probability — plus short docs (< SPAN_W tokens)
    exercising the no-span path."""
    from etl_wikipedia_updates_spark.stages import SPAN_HOP

    pool = draw(
        st.lists(
            st.lists(
                st.sampled_from(["a", "b", "c"]),
                min_size=SPAN_HOP,
                max_size=SPAN_HOP,
            ),
            min_size=2,
            max_size=4,
        )
    )
    n_docs = draw(st.integers(min_value=2, max_value=6))
    corpus = {}
    for d in range(1, n_docs + 1):
        idxs = draw(
            st.lists(
                st.integers(min_value=0, max_value=len(pool) - 1),
                min_size=1,
                max_size=5,
            )
        )
        corpus[d] = [t for i in idxs for t in pool[i]]
    return corpus


def _py_span_removal(corpus, W, HOP):
    """Reference model on literal token tuples (no hashing): an
    occurrence is removed iff a smaller doc_id holds the same span
    anywhere; removed tokens = union of removed spans' positions."""
    owner: dict = {}
    spans: dict = {}
    for d, toks in corpus.items():
        if len(toks) < W:
            continue
        for p in range(0, len(toks) - W + 1, HOP):
            t = tuple(toks[p : p + W])
            owner[t] = min(owner.get(t, d), d)
            spans.setdefault(d, []).append((p, t))
    out = {}
    for d, toks in corpus.items():
        removed: set = set()
        for p, t in spans.get(d, []):
            if owner[t] < d:
                removed.update(range(p, p + W))
        out[d] = (len(toks), removed)
    return out


@given(corpus=_span_corpus())
@SLOW
def test_span_removal_matches_python_reference(spark, corpus):
    """The engine's span excision (hashed HOP-aligned windows, h-window
    ownership, map-side covered-position union) must equal the literal
    Python model on ANY corpus: same per-doc removed counts AND the
    cleaned text equals the model's kept tokens — including the
    invariants that the globally-minimal doc never loses tokens and
    short docs pass through."""
    from etl_wikipedia_updates_spark.stages import (
        SPAN_HOP,
        SPAN_W,
        _span_removed_positions,
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        [(d, " ".join(toks), "en", "s") for d, toks in corpus.items()],
        "doc_id long, text string, lang string, source string",
    )
    want = _py_span_removal(corpus, SPAN_W, SPAN_HOP)

    got_rm = {
        r["doc_id"]: set(r["rmpos"])
        for r in _span_removed_positions(docs).collect()
    }
    for d, (_, removed) in want.items():
        assert got_rm.get(d, set()) == removed, f"doc {d} removed-set differs"

    got_clean = {
        r["doc_id"]: r["text_clean"] for r in remove_dup_spans(docs).collect()
    }
    for d, toks in corpus.items():
        _, removed = want[d]
        expect = " ".join(
            t for i, t in enumerate(toks) if i not in removed
        )
        assert got_clean[d] == expect, f"doc {d} cleaned text differs"
    # the minimum doc_id can never lose tokens (it owns every span it
    # shares downward)
    assert want[min(corpus)][1] == set()


temp_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),  # doc_id
        st.sampled_from(["a", "b", "c"]),  # source
        st.integers(min_value=0, max_value=500),  # n_chars (0 exercises
        # the zero-char-stratum floor guard)
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(rows=temp_rows)
@SLOW
def test_temperature_mix_matches_python_reference(spark, rows):
    """temperature_mix's sqrt-threshold + LCG membership and audit
    arithmetic must equal a from-scratch Python computation on ANY
    corpus — Python's math.sqrt and the JVM's are both IEEE-correctly
    rounded, so even the FP half of the rule replays exactly."""
    import math

    import etl_wikipedia_updates_spark.plans.corpus as CP

    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars int"
    )
    got = {r["source"]: r.asDict() for r in CP._temperature_mix(df).collect()}

    budgets: dict[str, list[int]] = {}
    for d, s_, c in rows:
        budgets.setdefault(s_, [0, 0])
        budgets[s_][0] += 1
        budgets[s_][1] += c
    positive = [v[1] for v in budgets.values() if v[1] > 0]
    min_chars = min(positive) if positive else None
    P = 2_147_483_647
    for s_, (docs_in, chars_in) in budgets.items():
        if chars_in > 0 and min_chars is not None:
            ppm = math.floor(
                math.sqrt(min_chars / float(chars_in)) * CP.TEMP_BUCKETS
            )
        else:
            ppm = 0
        kept = [
            (d, c)
            for d, src, c in rows
            if src == s_
            and ((d % P) * CP.TEMP_A + CP.TEMP_B) % P % CP.TEMP_BUCKETS < ppm
        ]
        r = got[s_]
        assert (r["docs_in"], r["chars_in"]) == (docs_in, chars_in), s_
        assert r["rate_ppm"] == ppm, s_
        assert r["docs_kept"] == len(kept), s_
        assert r["chars_kept"] == sum(c for _, c in kept), s_
        assert r["kept_checksum"] == sum(d for d, _ in kept), s_


@given(rows=temp_rows)
@SLOW
def test_shard_manifest_matches_python_reference(spark, rows):
    """manifest_of + shard_assign_col (the write_sharded planner AND
    verifier aggregation) must equal a from-scratch Python replay on
    ANY corpus: per-shard doc/char/checksum/source totals, shares that
    are exact det-rounded ratios, and every doc assigned by the pure
    integer LCG. Also pins the conservation laws a verifier depends
    on: per-shard totals sum to the corpus totals."""
    import math

    import etl_wikipedia_updates_spark.plans.corpus as CP

    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars int"
    ).select("doc_id", "source", "n_chars", CP.shard_assign_col().alias("shard"))
    got = {r["shard"]: r.asDict() for r in CP.manifest_of(df).collect()}

    P = 2_147_483_647
    want: dict[int, dict] = {}
    for d, s_, c in rows:
        sh = ((d % P) * CP.SHARD_A + CP.SHARD_B) % P % CP.N_SHARDS
        w = want.setdefault(
            sh, {"n_docs": 0, "n_chars_total": 0, "id_checksum": 0,
                 "sources": set()},
        )
        w["n_docs"] += 1
        w["n_chars_total"] += c
        w["id_checksum"] += d
        w["sources"].add(s_)
    total_docs = len(rows)
    total_chars = sum(c for _, _, c in rows)

    assert set(got) == set(want)
    for sh, w in want.items():
        g = got[sh]
        assert g["n_docs"] == w["n_docs"], sh
        assert g["n_chars_total"] == w["n_chars_total"], sh
        assert g["id_checksum"] == w["id_checksum"], sh
        assert g["n_sources"] == len(w["sources"]), sh
        assert g["doc_share"] == round(
            math.floor(w["n_docs"] / total_docs * 1e6 + 0.5) / 1e6, 6
        ), sh
        if total_chars > 0:
            assert g["char_share"] == round(
                math.floor(
                    w["n_chars_total"] / total_chars * 1e6 + 0.5
                ) / 1e6,
                6,
            ), sh
    # conservation: the verifier's totals are the corpus totals
    assert sum(g["n_docs"] for g in got.values()) == total_docs
    assert sum(g["n_chars_total"] for g in got.values()) == total_chars
    assert sum(g["id_checksum"] for g in got.values()) == sum(
        d for d, _, _ in rows
    )


def test_rep_per_doc_drops_null_text_like_the_oracle(spark):
    """NULL-text docs must be ABSENT from the per-doc frame (the r13
    explode dropped them naturally; the oracle's unnest agrees; the
    r14 map-side projection would have emitted them as drop rows with
    NULL signals — the latent parity trap self-review caught). Also:
    quality_keep must drop them."""
    import etl_wikipedia_updates_spark.plans.northstar as N

    df = spark.createDataFrame(
        [(1, "a b c", "en", "s", 5), (2, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = {r["doc_id"] for r in N._rep_per_doc(df).collect()}
    assert got == {1}
    kept = {r["doc_id"] for r in stages.quality_keep(df).collect()}
    assert 2 not in kept


def test_q26_packed_pair_key_gate_and_roundtrip(spark):
    """The packed pair-aggregation key (r20): _doc_ids_fit_u32 must
    gate exactly on [0, 2^31), and the pack/unpack expressions must
    round-trip every boundary id — the physical key changes, the
    (d1, d2, count) results must not."""
    import etl_wikipedia_updates_spark.plans.northstar as N
    from pyspark.sql import functions as F

    mk = lambda ids: spark.createDataFrame(
        [(i,) for i in ids], "doc_id long"
    )
    assert stages._doc_ids_fit_u32(mk([0, (1 << 31) - 1]))
    assert not stages._doc_ids_fit_u32(mk([-1, 5]))
    assert not stages._doc_ids_fit_u32(mk([0, 1 << 31]))
    assert not stages._doc_ids_fit_u32(mk([None]))
    assert not stages._doc_ids_fit_u32(mk([]))

    hi = (1 << 31) - 1
    pairs = [(0, 1), (0, hi), (1, hi), (hi - 1, hi), (0, 0)]
    df = spark.createDataFrame(pairs, "x long, y long")
    packed = (
        df.select(
            (F.col("x") * F.lit(1 << 32).cast("long") + F.col("y")).alias("p")
        )
        .select(
            F.shiftright("p", 32).alias("x"),
            (F.col("p") % F.lit(1 << 32).cast("long")).alias("y"),
        )
        .collect()
    )
    assert sorted((r["x"], r["y"]) for r in packed) == sorted(pairs)


def test_release_barrier_gate_matches_streaming_quality_keep(spark):
    """The release pipeline filters on eval_here(rep_keep_col())
    directly (the r19 pushdown barrier), while the streaming ingest
    paths route through quality_keep's plain rep_keep_col() filter.
    Pin that BOTH produce the identical keep set on an adversarial
    frame — NULL text, single-word (NULL bigram evidence), clean text
    and each repetition trip-wire (top-word, top-bigram, dup-ratio) —
    so the two gates can never diverge (r19 verdict item 8; the
    barrier's always-false OR disjunct must stay value-neutral under
    3-valued logic)."""
    import etl_wikipedia_updates_spark.plans.northstar as N
    from pyspark.sql import functions as F

    rows = [
        (1, None),  # NULL text: both gates drop
        (2, "w"),  # single word, no bigrams: keep (evidence absent)
        (3, " ".join(f"u{i}" for i in range(40))),  # clean: keep
        (4, "x " * 40 + "tail"),  # top-word ratio trips: drop
        (5, " ".join(["a b"] * 30) + " c d e f g h"),  # top-bigram
        (6, " ".join(["dup"] * 10 + ["q", "r"])),  # dup-ratio trips
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        r["doc_id"]
        for r in df.filter(F.col("text").isNotNull())
        .filter(stages.eval_here(stages.rep_keep_col()))
        .collect()
    }
    stream = {r["doc_id"] for r in stages.quality_keep(df).collect()}
    assert batch == stream
    # the fixture must exercise both verdicts, or the pin is vacuous
    assert batch and batch != {r[0] for r in rows}


# doc_nsub_col property: chars that make adversarial merge rules —
# heavy repeats (overlap chains), a few distinct letters, and the
# space-free control chars a corpus word can legally contain
_bpe_chars = st.sampled_from(list("aab") + ["\t", "'", "\\"])
_bpe_words = st.lists(
    st.text(alphabet=_bpe_chars, min_size=0, max_size=6),
    min_size=1,
    max_size=8,
)
_bpe_corpus = st.lists(_bpe_words, min_size=1, max_size=6)


@given(corpus=_bpe_corpus, n_merges=st.integers(min_value=0, max_value=8))
@SLOW
def test_doc_nsub_col_matches_python_on_random_corpora(
    spark, corpus, n_merges
):
    """doc_nsub_col (the whole-text separator-string BPE count) equals
    the per-word definitional encode on ANY corpus and ANY merge table
    the fit can learn from it — the randomized twin of the fixed
    adversarial list in test_bpe (overlap chains, empty words from
    double spaces, hostile rule tokens all arise here by generation)."""
    from collections import Counter

    from bpe_reference import bpe_encode
    from etl_wikipedia_updates_spark.plans import bpe as B

    texts = [" ".join(ws) for ws in corpus]
    freqs = Counter(w for ws in corpus for w in ws)
    merges = B.bpe_fit(sorted(freqs.items()), n_merges)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select("text", B.doc_nsub_col(merges).alias("n")).collect()
    for r in got:
        want = sum(
            len(bpe_encode(w, merges))
            for w in r["text"].lower().split(" ")
        )
        assert r["n"] == want, (repr(r["text"]), merges)


@given(corpus=_span_corpus())
@SLOW
def test_span_decontam_matches_python_reference(spark, corpus):
    """span_decontam's audit (hashed spans, broadcast bench probe,
    two-level aggregate) must equal a literal-token Python model on
    ANY corpus: the lowest doc_id plays the benchmark, odd/even train
    docs split across two sources, short docs carry no spans."""
    from etl_wikipedia_updates_spark.plans.northstar import span_decontam_audit
    from etl_wikipedia_updates_spark.stages import SPAN_HOP, SPAN_W

    bench_id = min(corpus)
    src = {d: ("sA" if d % 2 else "sB") for d in corpus}

    def spans_of(toks):
        if len(toks) < SPAN_W:
            return []
        return [
            tuple(toks[p : p + SPAN_W])
            for p in range(0, len(toks) - SPAN_W + 1, SPAN_HOP)
        ]

    bench_set = set(spans_of(corpus[bench_id]))
    want: dict = {}
    for d, toks in corpus.items():
        if d == bench_id:
            continue
        sp = spans_of(toks)
        if not sp:
            continue
        hits = sum(1 for t in sp if t in bench_set)
        a = want.setdefault(
            src[d],
            {"n_docs": 0, "total_spans": 0, "contam_spans": 0,
             "contam_docs": 0, "contam_checksum": 0},
        )
        a["n_docs"] += 1
        a["total_spans"] += len(sp)
        a["contam_spans"] += hits
        if hits:
            a["contam_docs"] += 1
            a["contam_checksum"] += d

    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {
        r["source"]: r.asDict()
        for r in span_decontam_audit(
            mk([
                (d, " ".join(toks), "en", src[d])
                for d, toks in corpus.items()
                if d != bench_id
            ]),
            mk([(bench_id, " ".join(corpus[bench_id]), "en", "bench")]),
        ).collect()
    }
    assert set(got) == set(want)
    for s, a in want.items():
        for k, v in a.items():
            assert got[s][k] == v, (s, k, got[s], a)
