"""bpe_token_stats (plans/bpe.py): the merge fit, the fold encode, and
the three-way pin the module docstring promises (pure-Python replay ==
Spark fold expression == oracle CTE) on a controlled fixture — the
sf0.01 oracle hash (tests/test_queries_oracle.py) certifies the full
operator; these tests pin the PARTS on inputs where the expected
answer is hand-derivable, plus the empty-word/no-pairs edges the
_chars_col guard claims to handle (the reference encodes live in
tests/bpe_reference.py)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bpe_reference import bpe_encode, encode_col
from etl_wikipedia_updates_spark.plans import bpe as B


# --- bpe_fit: the greedy merge loop -------------------------------------------


def test_bpe_fit_known_merges():
    """Hand-derived merge sequence. freqs: aaab x5, ab x3.
    Iter 1: (a,a)=10 beats (a,b)=8 -> merge (a,a); aaab -> [aa,a,b].
    Iter 2: (a,b)=5+3 beats (aa,a)=5 -> merge (a,b); aaab -> [aa,ab].
    Iter 3: only (aa,ab)=5 remains."""
    merges = B.bpe_fit([("aaab", 5), ("ab", 3)], 3)
    assert merges == [("a", "a"), ("a", "b"), ("aa", "ab")]


def test_bpe_fit_tie_breaks_lexicographically():
    """Equal counts resolve to the lexicographically smallest (a, b):
    'ba' and 'ab' each appear once -> (a,b) and (b,a) both count 1."""
    merges = B.bpe_fit([("ab", 1), ("ba", 1)], 1)
    assert merges == [("a", "b")]


def test_bpe_fit_stops_early_when_no_pairs():
    """Single-char and empty words produce no adjacent pairs: the fit
    stops before exhausting its merge budget instead of looping."""
    assert B.bpe_fit([("a", 9), ("", 4), ("b", 1)], 32) == []
    # and a vocab that COLLAPSES to single tokens stops mid-budget
    merges = B.bpe_fit([("ab", 5)], 32)
    assert merges == [("a", "b")]


def test_bpe_fit_weighting_uses_frequency():
    """The pair count is frequency-weighted, not type-weighted: one
    high-freq word outvotes many distinct low-freq words."""
    merges = B.bpe_fit([("xy", 10), ("ab", 1), ("ac", 1), ("ad", 1)], 1)
    assert merges == [("x", "y")]


# --- encode: Python replay vs the Spark fold expression -----------------------

_WORDS = [
    "aaab",
    "ab",
    "ba",
    "abab",
    "aabb",
    "",  # empty word: the _chars_col sequence(1, 0) guard
    "a",  # single char: no pairs
    "zzz",  # chars outside every merge rule
    "é€中",  # non-ASCII code points
    "aaaa",  # overlapping-pair chain: left-to-right fold order matters
]


def test_encode_col_matches_python_replay(spark):
    """The Spark fold expression and the pure-Python replay are the
    same function, on every edge word including empty/unicode."""
    merges = B.bpe_fit([("aaab", 5), ("ab", 3), ("abab", 2)], 4)
    assert merges  # the fixture must actually learn rules
    df = spark.createDataFrame([(w,) for w in _WORDS], ["w"])
    got = {
        r["w"]: r["toks"]
        for r in df.select(
            "w", encode_col("w", merges).alias("toks")
        ).collect()
    }
    for w in _WORDS:
        assert got[w] == bpe_encode(w, merges), (w, merges)


def test_encode_col_no_merges_is_char_split(spark):
    """With an empty merge table the encode is the raw char array."""
    df = spark.createDataFrame([(w,) for w in _WORDS], ["w"])
    got = {
        r["w"]: r["toks"]
        for r in df.select("w", encode_col("w", []).alias("toks")).collect()
    }
    for w in _WORDS:
        assert got[w] == list(w), w


def _py_doc_nsub(text, merges):
    return sum(len(bpe_encode(w, merges)) for w in text.lower().split(" "))


def test_doc_nsub_col_matches_encode_col(spark):
    """The r14 whole-text separator-string count (doc_nsub_col) is the
    SAME function as summing F.size(encode_col(token, ...)) over the
    doc's whitespace tokens: checked on adversarial single words
    (overlap chains ababab / aaaa where greedy left-to-right
    non-overlap semantics bite; empty; unicode incl. a supplementary
    code point), on texts engineered so a merge pair SPANS a word
    boundary (must NOT merge), on double/leading/trailing spaces
    (empty words), under a table that repeats a pair, and on every
    document of the sf0.001 corpus under the corpus-fit merge
    table."""
    from etl_wikipedia_updates_spark.caches import memo
    from etl_wikipedia_updates_spark.tables import load_table

    merges = B.bpe_fit(
        [("aaab", 5), ("ab", 3), ("abab", 2), ("aaaa", 2)], 6
    )
    assert merges
    texts = (
        [w for w in _WORDS if w]
        + ["ababab", "abababa", "aabab", "babab"]
        + [
            "aaab aa",  # fit words as a doc
            "a b",  # pair (a,b) spanning the word boundary: no merge
            "aa bb a a",  # (a,a) spanning boundaries: no merge
            "a  b",  # double space -> empty word between
            " ab ",  # leading/trailing spaces -> edge empty words
            "",  # empty text: one empty word, 0 subwords
            "é€中 ab 𝄞a",  # unicode + supplementary code point U+1D11E
            "a\tb ab\nba",  # tab/newline INSIDE tokens (split is ' ')
        ]
    )
    # a repeated pair, re-applied at its second rank: (xy, z) matches
    # nothing before (x, y) has formed xy, so the chain must follow
    # rank order as the sequential fold does
    repeated = [("xy", "z"), ("x", "y"), ("xy", "z"), ("a", "b"), ("a", "b")]
    df = spark.createDataFrame(
        [(t,) for t in texts + ["xyz", "xyzxyz xy z", "zxyzy abab"]],
        ["text"],
    )
    for table in (merges, repeated):
        got = df.select(
            "text", B.doc_nsub_col(table).alias("n")
        ).collect()
        for r in got:
            assert r["n"] == _py_doc_nsub(r["text"], table), (
                repr(r["text"]),
                table,
            )
    assert _py_doc_nsub("xyz", repeated) == 1  # the repeat merged it

    # full sf0.001 corpus under the REAL fitted table, doc by doc
    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
    )
    corpus_merges = memo(
        spark, "bpe_merges", lambda: B._fit_from_corpus(docs), sf
    )
    per_word_sum = F.aggregate(
        F.split(F.lower("text"), " "),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.size(encode_col(w, corpus_merges)).cast("bigint"),
    )
    bad = docs.select(
        "doc_id",
        B.doc_nsub_col(corpus_merges).alias("n"),
        per_word_sum.alias("m"),
    ).filter(F.col("n") != F.col("m"))
    assert bad.count() == 0, bad.limit(5).collect()


def test_doc_nsub_col_hostile_merge_tokens(spark):
    """doc_nsub_col inlines merge tokens into SQL text (sql_str_lit) —
    pin the escaping against tokens containing quotes, backslashes,
    tabs, and newlines (all legal inside whitespace-split corpus
    words; only ' ' is impossible)."""
    merges = [("'", "'"), ("\\", "a"), ("\t", "\t"), ("\n", "b"), ("''", "\\a")]
    texts = [
        "'' ''' \\a \\a\\a",
        "\t\t a\nb \n\nbb '\\",
        "don't can\\'t",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = df.select("text", B.doc_nsub_col(merges).alias("n")).collect()
    for r in got:
        assert r["n"] == _py_doc_nsub(r["text"], merges), repr(r["text"])


def _fold_rule(toks, a, b):
    out = []
    for x in toks:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def test_single_pass_per_rule_is_complete():
    """The docstring's completeness claim: after one left-to-right
    pass of a rule, a second pass of the SAME rule changes nothing
    (a||b can never re-form the (a,b) adjacency with its neighbors)."""
    merges = B.bpe_fit([("aaaa", 3), ("aabb", 2), ("abab", 1)], 6)
    assert merges
    for w in _WORDS:
        toks = list(w)
        for a, b in merges:
            toks = _fold_rule(toks, a, b)
            assert _fold_rule(toks, a, b) == toks, (w, (a, b), toks)
        assert toks == bpe_encode(w, merges), w


# --- the operator on a controlled corpus: Spark == oracle == Python -----------


def _py_token_stats(rows, merges):
    """Literal third implementation of the per-source audit."""
    out: dict[str, dict[str, float]] = {}
    for _doc_id, text, _lang, source, _n in rows:
        if text is None:
            continue
        st = out.setdefault(
            source, {"n_docs": 0, "n_words": 0, "n_subwords": 0, "n_chars": 0}
        )
        st["n_docs"] += 1
        for w in text.lower().split(" "):
            st["n_words"] += 1
            st["n_chars"] += len(w)
            st["n_subwords"] += len(bpe_encode(w, merges))
    return {
        s: {
            "n_docs": st["n_docs"],
            "n_words": st["n_words"],
            "n_subwords": st["n_subwords"],
            "fertility": round(st["n_subwords"] / st["n_words"], 4),
            "chars_per_subword": round(st["n_chars"] / st["n_subwords"], 4),
        }
        for s, st in out.items()
    }


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["n_chars"] = pdf["n_chars"].astype("int64")
    pdf.to_parquet(str(tmp_path) + "/documents.parquet")
    return str(tmp_path)


def test_bpe_token_stats_three_way(spark, tmp_path):
    """Spark plan == DuckDB oracle == pure-Python on a corpus with a
    planted high-freq pattern (so the fit learns real merges), a NULL
    text, a double space (empty word), and unicode."""
    rows = [
        (0, "the cat sat on the mat", "en", "s0", 22),
        (1, "the cats sat there the mat the", "en", "s0", 30),
        (2, "thematic theory there then the", "en", "s1", 30),
        (3, "a  b", "en", "s1", 4),  # double space -> empty word token
        (4, None, "en", "s1", 0),  # filtered by text IS NOT NULL
        (5, "é€中 the é€中", "en", "s1", 11),
    ]
    sf = _write_docs(tmp_path, rows)

    spark_rows = {
        r["source"]: r.asDict()
        for r in B.bpe_token_stats(spark, sf).collect()
    }

    # the Python replay must use the SAME merges the Spark fit learned
    # (memoized per sf_dir — read it back through the same memo)
    from etl_wikipedia_updates_spark.caches import memo

    merges = memo(spark, "bpe_merges", lambda: None, sf)
    assert merges, "fit must have been memoized by the operator run"
    want = _py_token_stats(rows, merges)
    assert set(spark_rows) == set(want)
    for s, w in want.items():
        g = spark_rows[s]
        for k, v in w.items():
            assert g[k] == pytest.approx(v, abs=0), (s, k, g[k], v)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    oracle = con.execute(B.BPE_TOKEN_STATS_SQL).fetchall()
    o_rows = {
        r[0]: dict(
            zip(
                [
                    "n_docs",
                    "n_words",
                    "n_subwords",
                    "fertility",
                    "chars_per_subword",
                ],
                r[1:],
            )
        )
        for r in oracle
    }
    assert set(o_rows) == set(want)
    for s, w in want.items():
        for k, v in w.items():
            assert o_rows[s][k] == pytest.approx(v, abs=0), (s, k)


def test_seq_pack_subword_consistent_with_token_stats(spark, sf_smoke):
    """The two consumers of the shared fit must agree: the packing
    audit's per-source total_tokens IS bpe_token_stats' n_subwords
    (same merges, same corpus, different aggregation paths), n_docs
    match, and subword n_seqs >= whitespace n_seqs (fertility >= 1
    means the stream only lengthens under subword denomination)."""
    from etl_wikipedia_updates_spark.plans.northstar import seq_pack

    stats = {r["source"]: r for r in B.bpe_token_stats(spark, sf_smoke).collect()}
    sub = {r["source"]: r for r in B.seq_pack_subword(spark, sf_smoke).collect()}
    ws = {r["source"]: r for r in seq_pack(spark, sf_smoke).collect()}
    assert set(stats) == set(sub) == set(ws)
    for s in stats:
        assert sub[s]["total_tokens"] == stats[s]["n_subwords"], s
        assert sub[s]["n_docs"] == stats[s]["n_docs"] == ws[s]["n_docs"], s
        assert sub[s]["n_seqs"] >= ws[s]["n_seqs"], s
        assert sub[s]["total_tokens"] >= ws[s]["total_tokens"], s


def test_bpe_fit_corpus_bound(spark, tmp_path):
    """The fit collect is bounded by BPE_TOP_V even when the corpus
    has more distinct words: fertility still computes over ALL words
    (the encode runs on every (source, word), not just the fit set)."""
    import random

    rng = random.Random(7)
    words = [
        "".join(rng.choice("abcdef") for _ in range(6)) for _ in range(50)
    ]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(8)), "en", "s0", 55)
        for i in range(30)
    ]
    sf = _write_docs(tmp_path, rows)
    out = B.bpe_token_stats(spark, sf).collect()
    (row,) = out
    assert row["n_words"] == 30 * 8
    assert row["n_subwords"] >= row["n_words"]  # subwords never fewer
    assert row["fertility"] >= 1.0


def test_source_mix_subword_budgets_match_token_stats(spark, sf_smoke):
    """The three consumers of the shared fit + shared count must agree:
    source_mix_subword's per-source subwords_in IS bpe_token_stats'
    n_subwords (same merges, same doc_nsub_col, different plans),
    docs_in matches n_docs, the kept side never exceeds the budget,
    and the floor source (smallest subword budget) keeps everything
    (its mix rate is exactly 1)."""
    stats = {
        r["source"]: r for r in B.bpe_token_stats(spark, sf_smoke).collect()
    }
    mix = {
        r["source"]: r
        for r in B.source_mix_subword(spark, sf_smoke).collect()
    }
    assert set(stats) == set(mix)
    for s in stats:
        assert mix[s]["subwords_in"] == stats[s]["n_subwords"], s
        assert mix[s]["docs_in"] == stats[s]["n_docs"], s
        assert mix[s]["subwords_kept"] <= mix[s]["subwords_in"], s
    floor_src = min(mix.values(), key=lambda r: r["subwords_in"])
    assert floor_src["docs_kept"] == floor_src["docs_in"]
    assert floor_src["subwords_kept"] == floor_src["subwords_in"]


def test_per_doc_subwords_dispatch_threshold(spark, sf_smoke):
    """The per-doc subword count is the map-side chain: no join, no
    explode. Structural check on the physical plan, so a token explode
    or a word join cannot slip back onto the path."""
    from etl_wikipedia_updates_spark.tables import load_table, spread

    docs = spread(load_table(spark, sf_smoke, "documents")).filter(
        F.col("text").isNotNull()
    )
    merges = B._fit_from_corpus(docs)
    plan = (
        B.per_doc_subwords(docs, merges, "n_sub")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "Generate" not in plan


def test_validate_merges_rejects_duplicate_pairs(spark):
    """Only space-carrying rules are rejected (the separator encode
    needs space-free tokens); the test keeps the name of the
    duplicate-pair rejection it also checked while a ranked-pair
    encoder existed. A repeated pair is a valid table now: the chain
    applies it again at its second rank, as the sequential fold does
    (pinned in test_doc_nsub_col_matches_encode_col)."""
    B._validate_merges([("a", "b"), ("b", "c"), ("a", "b")])
    with pytest.raises(ValueError, match="space"):
        B._validate_merges([("a b", "c")])
    # the gate fires from the shipped count
    df = spark.createDataFrame([("abc",)], ["text"])
    with pytest.raises(ValueError, match="space"):
        df.select(B.doc_nsub_col([("a", "b"), ("c", " ")]))
