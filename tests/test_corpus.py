"""Unit + reference-model tests for plans/corpus.py (temperature_mix,
charlm_score, shard_manifest). The DuckDB differential runs in
test_queries_oracle.py like every registered query; these tests pin
the SEMANTICS against independent Python reference models and the
conservation laws the oracle hash alone wouldn't explain.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
import pytest

from etl_wikipedia_updates_spark.plans import corpus as C


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["n_chars"] = pdf["n_chars"].astype("int64")
    pdf.to_parquet(str(tmp_path) + "/documents.parquet")
    return str(tmp_path)


# --- temperature_mix ----------------------------------------------------------


def test_temperature_rate_math(spark, sf_smoke):
    """rate_ppm must equal floor(sqrt(min_chars/chars_s) * 1e6) computed
    independently, the min-char source must keep at 100% rate (ppm ==
    BUCKETS), and rates must be monotone non-increasing in chars_in."""
    rows = C.temperature_mix(spark, sf_smoke).collect()
    chars = {r["source"]: r["chars_in"] for r in rows}
    min_chars = min(v for v in chars.values() if v > 0)
    for r in rows:
        expect = math.floor(
            math.sqrt(min_chars / float(r["chars_in"])) * C.TEMP_BUCKETS
        )
        assert r["rate_ppm"] == expect, r
    by_rate = sorted(rows, key=lambda r: r["chars_in"])
    assert by_rate[0]["rate_ppm"] == C.TEMP_BUCKETS  # smallest keeps all
    ppms = [r["rate_ppm"] for r in by_rate]
    assert ppms == sorted(ppms, reverse=True)


def test_temperature_membership_matches_reference(spark, tmp_path):
    """Row membership is exactly the shared universal-hash rule: replay
    bucket < rate_ppm in pure Python and demand identical kept sets
    (via the checksum) — including a source with a huge int64 doc_id
    (the overflow regime ubucket_col defends against)."""
    rows = []
    for i in range(40):
        rows.append((i, "x" * (10 + i % 3), "en", "small", 10 + i % 3))
    for i in range(160):
        rows.append((100 + i, "y" * 40, "en", "big", 40))
    rows.append((9_223_372_036, "z" * 40, "en", "big", 40))
    sf = _write_docs(tmp_path, rows)
    out = {r["source"]: r for r in C.temperature_mix(spark, sf).collect()}

    chars = Counter()
    for doc_id, _, _, src, n in rows:
        chars[src] += n
    min_chars = min(chars.values())
    for src in chars:
        ppm = math.floor(
            math.sqrt(min_chars / float(chars[src])) * C.TEMP_BUCKETS
        )
        kept = [
            d
            for d, _, _, s, _ in rows
            if s == src
            and ((d % 2147483647) * C.TEMP_A + C.TEMP_B)
            % 2147483647
            % C.TEMP_BUCKETS
            < ppm
        ]
        assert out[src]["rate_ppm"] == ppm
        assert out[src]["docs_kept"] == len(kept)
        assert out[src]["kept_checksum"] == sum(kept)
    # alpha=0.5 keeps MORE of the big source than char-equalization
    # (alpha=0) would, but less than everything: the temperature law.
    big = out["big"]
    assert 0 < big["docs_kept"] < big["docs_in"]
    assert big["chars_kept"] * 1.0 / big["chars_in"] > min_chars / chars["big"]


# --- charlm_score -------------------------------------------------------------


def _ref_charlm(rows, flag_bits):
    """Literal Python reference of the add-one char-bigram model +
    scoring + per-source audit, floor-rounding exactly as declared."""

    def r(x, d):
        s = float(10**d)
        return math.floor(x * s + 0.5) / s

    bigs = []
    for doc_id, text, _, src, _ in rows:
        if text is None or len(text) < 2:
            continue
        for i in range(len(text) - 1):
            bigs.append((doc_id, src, text[i : i + 2]))
    mc = Counter(bg for _, _, bg in bigs)
    ctx = Counter()
    for bg, c in mc.items():
        ctx[bg[0]] += c
    vs = len({bg[1] for bg in mc})
    logp = {
        bg: r(math.log2((c + 1) / float(ctx[bg[0]] + vs)), C.CHARLM_ROUND)
        for bg, c in mc.items()
    }
    per = {}
    for d, s, bg in bigs:
        t = per.setdefault((d, s), [0, 0])
        t[0] += math.floor(logp[bg] * 10**C.CHARLM_ROUND + 0.5)
        t[1] += 1
    bits = {
        k: -(v[0] / float(10**C.CHARLM_ROUND)) / v[1] for k, v in per.items()
    }
    out = {}
    for (d, s), b in bits.items():
        o = out.setdefault(s, {"n": 0, "sum": 0, "mx": -1e18, "fd": 0, "fc": 0})
        o["n"] += 1
        o["sum"] += math.floor(b * 10**C.CHARLM_ROUND + 0.5)
        o["mx"] = max(o["mx"], b)
        if b > flag_bits:
            o["fd"] += 1
            o["fc"] += d
    return {
        s: {
            "n_docs": o["n"],
            "mean_bits": r(
                (o["sum"] / float(10**C.CHARLM_ROUND)) / o["n"], 4
            ),
            "max_bits": r(o["mx"], 4),
            "flagged_docs": o["fd"],
            "flagged_checksum": o["fc"],
        }
        for s, o in out.items()
    }


def test_charlm_matches_python_reference(spark, tmp_path):
    """Third-implementation check (Spark vs DuckDB vs literal Python):
    a skewed corpus where srcREP repeats one character pair (low
    surprise) and srcMIX cycles many pairs (high surprise), plus the
    degenerate rows — NULL text and a single-char doc score nothing
    on every implementation."""
    rows = []
    for i in range(8):
        rows.append((i, "ababab" + "ab" * i, "en", "srcREP", 6 + 2 * i))
    for i in range(8):
        # quadratic stepping over 26 letters: mostly one-off bigrams,
        # each carrying near-maximal surprise under the corpus model
        text = "".join(
            chr(ord("a") + (i * 7 + j * j) % 26) for j in range(30)
        )
        rows.append((100 + i, text, "en", "srcMIX", 30))
    rows.append((200, None, "en", "srcREP", 0))
    rows.append((201, "q", "en", "srcMIX", 1))
    # non-ASCII incl. an astral-plane char: the packed-codepoint
    # transition id must agree with Python ord() beyond Latin-1
    rows.append((202, "é€中\U0001D11E é€中", "en", "srcMIX", 8))
    # SQL-literal hazard chars (backslash, quotes, newline, tab): the
    # dense scorer's charset must be BOUND, never inlined into SQL
    # source text — an inlined 'C:\path' charset would be
    # escape-processed and misalign every rank (review r10)
    rows.append((203, "C:\\path\\x 'q' \"d\"\n\tend", "en", "srcMIX", 22))
    sf = _write_docs(tmp_path, rows)
    got = {r["source"]: r.asDict() for r in C.charlm_score(spark, sf).collect()}
    want = _ref_charlm(rows, C.CHARLM_FLAG_BITS)
    assert set(got) == set(want)
    for src, w in want.items():
        g = got[src]
        for k, v in w.items():
            assert g[k] == v, (src, k, g[k], v)
    # the repeated-pair source must be less surprising than the mixer
    assert got["srcREP"]["mean_bits"] < got["srcMIX"]["mean_bits"]


# --- shard_manifest -----------------------------------------------------------


def test_shard_manifest_conserves_corpus(spark, sf_smoke):
    """Shards partition the corpus exactly: doc/char/checksum totals
    across shards equal the corpus totals, shard ids live in
    [0, N_SHARDS), and the share columns sum to ~1."""
    import duckdb

    rows = C.shard_manifest(spark, sf_smoke).collect()
    con = duckdb.connect()
    total_docs, total_chars, total_ids = con.execute(
        "SELECT COUNT(*), SUM(n_chars), SUM(doc_id) FROM "
        f"'{sf_smoke}/documents.parquet'"
    ).fetchone()
    con.close()
    assert sum(r["n_docs"] for r in rows) == total_docs
    assert sum(r["n_chars_total"] for r in rows) == total_chars
    assert sum(r["id_checksum"] for r in rows) == total_ids
    assert all(0 <= r["shard"] < C.N_SHARDS for r in rows)
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["char_share"] for r in rows) - 1.0) < 1e-4
    # the universal hash should spread this corpus: no empty shard and
    # no shard above 3x its fair share
    assert len(rows) == C.N_SHARDS
    assert max(r["doc_share"] for r in rows) < 3.0 / C.N_SHARDS


# --- semantic_dedup (plans/clustering.py) --------------------------------------


def test_semantic_dedup_conserves_and_keeps_canonical(spark, sf_smoke):
    """SemDeDup invariants the oracle hash alone wouldn't explain:
    clusters partition the corpus (member/checksum conservation vs the
    raw table), and every cluster keeps at least one member — the
    cluster's minimum vec_id has no smaller partner, so it can never
    be removed."""
    import duckdb

    from etl_wikipedia_updates_spark.plans.clustering import semantic_dedup

    rows = semantic_dedup(spark, sf_smoke).collect()
    con = duckdb.connect()
    n, ids = con.execute(
        f"SELECT COUNT(*), SUM(vec_id) FROM '{sf_smoke}/embeddings.parquet'"
    ).fetchone()
    con.close()
    assert sum(r["n_members"] for r in rows) == n
    assert (
        sum(r["removed_checksum"] + r["kept_checksum"] for r in rows) == ids
    )
    for r in rows:
        assert 0 <= r["n_removed"] < r["n_members"], r


# --- pii_scrub ------------------------------------------------------------------


def test_pii_scrub_on_pii_bearing_fixture(spark, tmp_path):
    """The sf corpora carry no PII (all-zero audit rows), so the regex
    semantics are pinned here on a corpus that DOES: expected counts
    computed independently with Python re, and the full oracle SQL
    cross-checked on the same fixture (three implementations again)."""
    import re

    from etl_wikipedia_updates_spark.oracle import (
        compare_frames,
        duckdb_connection,
    )

    rows = [
        (1, "contact a.smith+x@ex-ample.co.uk or b@c.io now", "en", "srcA", 46),
        (2, "server at 10.0.255.7 and 999.1.2.3 edge", "en", "srcA", 40),
        (3, "call +44 2079460000 or +1-5551234567 ok", "en", "srcB", 40),
        (4, "no pii here at all", "en", "srcB", 18),
        (5, "mixed bob@x.org 192.168.0.1 +49 301234567", "en", "srcB", 42),
        (6, None, "en", "srcB", 0),  # NULL text scans as ''
    ]
    sf = _write_docs(tmp_path, rows)
    got = {r["source"]: r.asDict() for r in C.pii_scrub(spark, sf).collect()}

    tags = [(C.PII_EMAIL, "<EMAIL>"), (C.PII_IPV4, "<IP>"), (C.PII_PHONE, "<PHONE>")]
    want = {}
    for _, text, _, src, _ in rows:
        t = text or ""
        w = want.setdefault(
            src,
            {"n_docs": 0, "docs_flagged": 0, "n_emails": 0, "n_ipv4": 0,
             "n_phones": 0, "redacted_len_sum": 0},
        )
        e, i, p = (len(re.findall(pat, t)) for pat, _ in tags)
        red = t
        for pat, tag in tags:
            red = re.sub(pat, tag, red)
        w["n_docs"] += 1
        w["docs_flagged"] += 1 if e + i + p > 0 else 0
        w["n_emails"] += e
        w["n_ipv4"] += i
        w["n_phones"] += p
        w["redacted_len_sum"] += len(red)
    assert {s: {k: g[k] for k in want[s]} for s, g in got.items()} == want
    # at least one of every class actually fired in this fixture
    assert sum(w["n_emails"] for w in want.values()) >= 3
    assert sum(w["n_ipv4"] for w in want.values()) >= 3
    assert sum(w["n_phones"] for w in want.values()) >= 3

    duck = duckdb_connection(sf)
    q = next(d for d in C.CORPUS_QUERIES if d.name == "pii_scrub")
    r = compare_frames(
        "pii_scrub", C.pii_scrub(spark, sf).toPandas(), duck.sql(q.oracle).df()
    )
    assert r.ok, r.detail


# --- distinct_kmv ---------------------------------------------------------------


def test_distinct_kmv_matches_python_replay(spark, tmp_path):
    """Replay the whole sketch in Python — shingle, fold-hash, prune,
    bottom-k — on a fixture that exercises BOTH estimator paths: a
    tiny source (fewer than K survivors -> threshold fallback,
    kth_min = 0) and a large one (kth-min path)."""
    from etl_wikipedia_updates_spark.plans.corpus import (
        KMV_K,
        KMV_PRUNE,
        distinct_kmv,
    )

    P = 2_147_483_647

    def th(term):
        a = 0
        for ch in term:
            a = (a * 131 + ord(ch)) % P
        return a

    def shingle_hashes(texts):
        out = set()
        for t in texts:
            toks = t.lower().split(" ")
            out |= {
                th(" ".join(toks[i : i + 3]))
                for i in range(len(toks) - 2)
            }
        return out

    rows = []
    rows.append((0, "a b c d", "en", "tiny", 7))  # 2 shingles
    big_texts = []
    for i in range(120):
        words = [f"w{(i * 17 + j * j) % 997}" for j in range(40)]
        big_texts.append(" ".join(words))
        rows.append((100 + i, big_texts[-1], "en", "big", 200))
    sf = _write_docs(tmp_path, rows)
    got = {r["source"]: r.asDict() for r in distinct_kmv(spark, sf).collect()}

    for src, texts in [("tiny", ["a b c d"]), ("big", big_texts)]:
        hs = shingle_hashes(texts)
        surv = sorted(h for h in hs if h < KMV_PRUNE)
        g = got[src]
        assert g["exact_distinct"] == len(hs), src
        assert g["n_surv"] == len(surv), src
        if len(surv) >= KMV_K:
            kth = surv[KMV_K - 1]
            assert g["kth_min"] == kth
            assert g["kmv_estimate"] == (KMV_K - 1) * P // kth
        else:
            assert g["kth_min"] == 0
            assert g["kmv_estimate"] == len(surv) * P // KMV_PRUNE
    # both paths genuinely exercised
    assert got["tiny"]["kth_min"] == 0
    assert got["big"]["kth_min"] > 0
    # estimator accuracy on the big source: within ~4 standard errors
    # (1/sqrt(K-1) each) of the truth
    err = abs(got["big"]["kmv_estimate"] - got["big"]["exact_distinct"])
    assert err / got["big"]["exact_distinct"] < 4.0 / (KMV_K - 1) ** 0.5


# --- ann_pq (plans/clustering.py) -----------------------------------------------


def test_ann_pq_recall_floor(spark, sf_smoke):
    """PQ-ADC with the swept overfetch must recover most of the exact
    cosine top-k even on random unit vectors (PQ's worst case):
    measured 0.80 at sf0.001 / 0.87 at sf0.01 / 0.73 at sf0.1 — floor
    pinned beneath the worst measured tier."""
    from etl_wikipedia_updates_spark.plans.clustering import (
        PQ_N_QUERIES,
        PQ_TOPK,
    )
    from tools.ann_recall import recall_of

    r = recall_of(spark, sf_smoke, "ann_pq", PQ_N_QUERIES, PQ_TOPK)
    assert r["recall_at_k"] >= 0.6, r


def test_charlm_fallback_join_path_matches_dense(spark, tmp_path, monkeypatch):
    """The huge-charset fallback (explode + broadcast-model join) must
    produce byte-identical audits to the dense in-array scorer —
    forced by dropping the dense ceiling to 0."""
    from etl_wikipedia_updates_spark.plans import corpus as CC

    rows = [
        (i, "the quick brown fox " * (2 + i % 3), "en", f"src{i % 3}", 60)
        for i in range(24)
    ]
    rows.append((100, None, "en", "src0", 0))
    sf = _write_docs(tmp_path, rows)
    dense = C.charlm_score(spark, sf).collect()
    monkeypatch.setattr(CC, "CHARLM_DENSE_MAX", 0)
    # fresh model key is unnecessary (counts identical); the path
    # switch is decided per build
    fallback = C.charlm_score(spark, sf).collect()
    assert [r.asDict() for r in dense] == [r.asDict() for r in fallback]


def test_pii_regex_three_way_fuzz(spark):
    """Seeded fuzz over an adversarial alphabet (dots, @-runs, partial
    IPs/phones, quotes, backslashes, newlines) plus injected true/near
    PII fragments: Spark (Java regex), DuckDB (RE2) and Python (re)
    must agree on every match count AND the full redacted string —
    the common-subset discipline, checked on inputs no fixture
    curates. 0 mismatches over 400 docs in the exploratory run; 120
    here for suite cost."""
    import random
    import re

    import duckdb

    random.seed(42)
    alphabet = list("abcXYZ019 .@+-_%\\'\"\n\t()/:;,!?") + ["..", "@@", "++"]
    frags = [
        "user@host.com", "1.2.3.4", "+49 1234567", "a@b", "@x.co",
        "10.0.0.256", "+1-", "...", "a.b@c.d.e.ff", "255.255.255.255x",
        " +123456789012345 ", "e@e.e", "x@-.com", "1.2.3.4.5", "+0 000000",
    ]
    texts = []
    for _ in range(120):
        parts = [random.choice(alphabet) for _ in range(random.randint(0, 12))]
        for _ in range(random.randint(0, 3)):
            parts.insert(random.randint(0, len(parts)), random.choice(frags))
        texts.append("".join(parts))

    tags = [(C.PII_EMAIL, "<EMAIL>"), (C.PII_IPV4, "<IP>"), (C.PII_PHONE, "<PHONE>")]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    red = F.col("text")
    for pat, tag in tags:
        red = F.regexp_replace(red, F.lit(pat), F.lit(tag))
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            *[
                F.size(F.regexp_extract_all("text", F.lit(p), F.lit(0))).alias(n)
                for n, (p, _) in zip(("e", "i", "p"), tags)
            ],
            red.alias("r"),
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = tuple(len(re.findall(p, t)) for p, _ in tags)
        pr = t
        for pat, tag in tags:
            pr = re.sub(pat, tag, pr)
        drow = con.execute(
            "select len(regexp_extract_all(?,?)), len(regexp_extract_all(?,?)),"
            " len(regexp_extract_all(?,?)),"
            " regexp_replace(regexp_replace(regexp_replace(?,?,'<EMAIL>','g'),"
            "?,'<IP>','g'),?,'<PHONE>','g')",
            [t, C.PII_EMAIL, t, C.PII_IPV4, t, C.PII_PHONE,
             t, C.PII_EMAIL, C.PII_IPV4, C.PII_PHONE],
        ).fetchone()
        s = got[i]
        assert (s["e"], s["i"], s["p"]) == want == drow[:3], repr(t)
        assert s["r"] == pr == drow[3], repr(t)
    con.close()


# --- zipf_fit ---------------------------------------------------------------------


def test_zipf_fit_matches_python_ols(spark, tmp_path):
    """Replay the whole fit in Python (tokenize, count, threshold,
    rank, rounded logs, OLS) on a corpus with a KNOWN Zipf-ish source
    (term i repeated ~N/i times -> alpha near 1) and a uniform source
    (alpha near 0); also a degenerate single-frequent-term source must
    emit NULL alpha/r2, never a divide-by-zero artifact."""
    rows = []
    # zipfy: word i appears floor(120/i) times
    words = []
    for i in range(1, 13):
        words += [f"z{i}"] * (120 // i)
    rows.append((1, " ".join(words), "en", "zipfy", len(" ".join(words))))
    # uniform: 10 words x 12 times each
    uni = " ".join(f"u{i % 10}" for i in range(120))
    rows.append((2, uni, "en", "uniform", len(uni)))
    # degenerate: one frequent term only
    rows.append((3, "only " * 9 + "rare", "en", "degen", 50))
    sf = _write_docs(tmp_path, rows)
    from etl_wikipedia_updates_spark.plans.corpus import (
        ZIPF_MIN_COUNT,
        zipf_fit,
    )

    got = {r["source"]: r.asDict() for r in zipf_fit(spark, sf).collect()}

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def ref(texts):
        cnt = Counter()
        for t in texts:
            cnt.update(t.lower().split(" "))
        freq = sorted(
            ((c, t) for t, c in cnt.items() if c >= ZIPF_MIN_COUNT),
            key=lambda x: (-x[0], x[1]),
        )
        pts = [
            (r6(math.log(rk + 1)), r6(math.log(c)))
            for rk, (c, _) in enumerate(freq)
        ]
        n = len(pts)
        S = lambda f: sum(math.floor(f(p) * 1e6 + 0.5) for p in pts) / 1e6
        sx, sy = S(lambda p: p[0]), S(lambda p: p[1])
        sxx, syy = S(lambda p: p[0] * p[0]), S(lambda p: p[1] * p[1])
        sxy = S(lambda p: p[0] * p[1])
        den_x, den_y = n * sxx - sx * sx, n * syy - sy * sy
        num = n * sxy - sx * sy
        if den_x == 0 or den_x * den_y == 0:
            return n, None, None
        return (
            n,
            math.floor(-(num / den_x) * 1e4 + 0.5) / 1e4,
            math.floor((num * num) / (den_x * den_y) * 1e4 + 0.5) / 1e4,
        )

    for src, texts in [("zipfy", [rows[0][1]]), ("uniform", [rows[1][1]])]:
        n, alpha, r2 = ref(texts)
        g = got[src]
        assert (g["n_terms"], g["alpha"], g["r2"]) == (n, alpha, r2), src
    assert got["zipfy"]["alpha"] > 0.8 and got["zipfy"]["r2"] > 0.9
    assert abs(got["uniform"]["alpha"]) < 0.05
    assert got["degen"]["n_terms"] == 1
    assert got["degen"]["alpha"] is None and got["degen"]["r2"] is None


def test_charlm_dense_out_of_charset_fails_loudly(spark, tmp_path):
    """A char absent from the model charset must ERROR, not wrap:
    instr() ranks it 0, and the raw element_at index would then be
    <= 0 — Spark errors on 0 but silently wraps on negatives,
    mis-scoring with no signal on a stale model/corpus desync (r10
    ADVICE). The guard routes any rank-0 to index 0, which throws."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "abz", "src0")], "doc_id long, text string, source string"
    )
    # model charset {a, b} only; 'z' is out-of-charset
    chars = [ord("a"), ord("b")]
    table = [100, 200, 300, 400]  # 2x2 scaled-logp grid
    with pytest.raises(Exception, match="INVALID_INDEX_OF_ZERO|index 0"):
        C._charlm_score_dense(docs, chars, table).collect()
    # in-charset scores fine under the same guard
    ok = C._charlm_score_dense(
        spark.createDataFrame(
            [(1, "abab", "src0")],
            "doc_id long, text string, source string",
        ),
        chars,
        table,
    ).collect()
    assert len(ok) == 1 and ok[0]["bits"] is not None


# --- ngram_quality scorer equivalence ------------------------------------------


def test_ngram_score_sql_matches_python_replay(spark, tmp_path):
    """The r15 map-side scorer (ngram_score_sql — SQL text, array-
    literal weight lookup) replayed entirely in Python: distinct
    word-bigram shingles, the 131-fold term hash, bucket lookup,
    integer-ppm mean. Fixture exercises the edge rows the corpus
    tiers don't: an empty doc, a 1-token doc (both must score NULL
    and be absent from the audit), consecutive-space empty tokens,
    and a NULL-text doc (filtered before scoring, like every
    consumer). The fit itself is replayed too, so fit AND score pin
    against an implementation-independent oracle."""
    from etl_wikipedia_updates_spark.stages import (
        NGQ_BUCKETS,
        fit_ngram_weights,
        ngram_doc_scores,
    )
    from etl_wikipedia_updates_spark.stages import rep_keep_col
    from pyspark.sql import functions as F

    P = 2_147_483_647

    def th(term):
        a = 0
        for ch in term:
            a = (a * 131 + ord(ch)) % P
        return a

    rows = [
        (0, "alpha beta gamma alpha beta", "en", "s0", 27),
        (1, "alpha  beta", "en", "s0", 11),  # empty middle token
        (2, "", "en", "s0", 0),  # no bigrams -> NULL score
        (3, "single", "en", "s0", 6),  # 1 token -> NULL score
        (4, "Beta GAMMA beta gamma beta", "en", "s1", 26),  # case fold
        (5, None, "en", "s1", 0),  # NULL text: filtered pre-score
    ]
    sf = _write_docs(tmp_path, rows)
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
    )

    def bigrams(text):
        toks = text.lower().split(" ")
        return sorted(
            {
                f"{toks[i]} {toks[i + 1]}"
                for i in range(len(toks) - 1)
            }
        ) if len(toks) >= 2 else []

    # python fit replay: keep label from the engine's own rep verdict
    # (reading it back keeps this test about the SCORER, not Gopher)
    keeps = {
        r["doc_id"]: r["k"]
        for r in docs.select(
            "doc_id", rep_keep_col().cast("int").alias("k")
        ).collect()
    }
    texts = {r[0]: r[1] for r in rows if r[1] is not None}
    agg = {}
    for did, text in texts.items():
        for g in bigrams(text):
            b = th(g) % NGQ_BUCKETS
            s, c = agg.get(b, (0, 0))
            agg[b] = (s + keeps[did], c + 1)
    expect_w = [0] * NGQ_BUCKETS
    for b, (s, c) in agg.items():
        expect_w[b] = s * 1_000_000 // c

    got_w = fit_ngram_weights(docs)
    assert got_w == expect_w

    def score(text):
        gs = bigrams(text)
        if not gs:
            return None
        tot = sum(expect_w[th(g) % NGQ_BUCKETS] for g in gs)
        return tot // len(gs)

    expect = {did: score(text) for did, text in texts.items()}
    got = {
        r["doc_id"]: r["score_ppm"]
        for r in ngram_doc_scores(docs, got_w).collect()
    }
    assert got == expect
    assert got[2] is None and got[3] is None
