"""Text-analysis operators over a documents table (doc_id, text, lang, ...).

Everything here is whitespace/regex tokenization + relational algebra —
no Python in the hot path. The reference's only text handling is
str() casts and one replace (/root/reference/pipeline.py:119-124); these
operators are the north-star extension of that surface for LLM-corpus
work: token stats, language-ID, quality scores, fingerprints.

Cross-engine determinism: operators that need a token->integer id use
``term_hash_col`` — a stateless polynomial fold, a pure map-side
expression with no shuffle, which ``sql_term_hash`` replays bit-for-bit
in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.functions.deterministic import (
    spark_sql_det_round,
)

# Universal-hash modulus: the Mersenne prime 2^31 - 1. a*x+b stays under
# 2^62 for any dictionary id, so all arithmetic fits in a long on both
# engines (no overflow divergence).
HASH_P = 2_147_483_647


def tokens_col(text_col: str = "text"):
    """Whitespace tokens, lowercased — the canonical tokenizer."""
    return F.split(F.lower(F.col(text_col)), " ")


def doc_tokens(docs: DataFrame, distinct: bool = False) -> DataFrame:
    """Explode documents into (doc_id, lang, term) rows."""
    toks = tokens_col()
    if distinct:
        toks = F.array_distinct(toks)
    return docs.select("doc_id", "lang", F.explode(toks).alias("term"))


def shingles_col(text_col: str = "text", k: int = 3):
    """Distinct k-token shingles (w-shingling): the canonical near-dup
    representation. Unigram token sets degenerate when the vocabulary is
    small (every doc resembles every doc); k-shingles keep sequence
    context, so only true near-duplicates overlap. Docs with fewer than
    k tokens have no shingles (empty array).

    The token array is bound as a lambda variable (transform over a
    1-element array) so ``split(lower(text))`` is evaluated ONCE per
    row. Referencing the split expression directly from every
    ``element_at`` would re-evaluate it per element access — Catalyst
    does not common-subexpression-eliminate into lambda bodies — which
    measured ~12x slower on the documents corpus."""

    def per_tokens(t):
        n = F.size(t)

        def shingle_at(i):
            return F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)])

        return F.when(
            n >= k,
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), n - (k - 1)), shingle_at)
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens_col(text_col)), per_tokens), 1)


def doc_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Explode documents into (doc_id, lang, term) shingle rows."""
    return docs.select(
        "doc_id", "lang", F.explode(shingles_col(k=k)).alias("term")
    )


TERM_HASH_BASE = 131


def term_hash_col(term_col: str = "term"):
    """Stateless term -> integer id: polynomial char fold
    ``fold((a*131 + ascii(c)) % (2^31-1))`` — a pure map-side
    expression, no distinct, no global sort, no broadcast join. It is
    usable in the CONTRACT because ``sql_term_hash`` replays the identical
    integer sequence in DuckDB (verified bit-equal): hash collisions
    are possible but occur identically in both engines, and
    MinHash/SimHash tolerate them by construction."""
    return F.expr(
        f"aggregate(split({term_col}, ''), 0L, "
        f"(a, c) -> (a * {TERM_HASH_BASE} + ascii(c)) % {HASH_P})"
    )


def term_hash_fn(c):
    """term_hash_col as a Column-lambda form, for hashing INSIDE an
    array (transform(shingles, term_hash_fn)) where there is no named
    column to reference — identical fold to term_hash_col /
    sql_term_hash."""
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda a, ch: (a * F.lit(TERM_HASH_BASE) + F.ascii(ch))
        % F.lit(HASH_P),
    )


def sql_term_hash(expr: str = "term") -> str:
    """DuckDB twin of term_hash_col — identical fold sequence."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, v) -> (a * {TERM_HASH_BASE} + v) % {HASH_P})"
    )


def doc_tokens_with_pos(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, term) with 1-based positions (order-preserving)."""
    return docs.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")


def fit_stopwords(docs: DataFrame, n: int) -> list[str]:
    """Fit the corpus stopword model eagerly: top-n terms by
    (count desc, term asc), collected as n strings.

    One count job; sort+limit compiles to TakeOrderedAndProject (per-
    partition top-n + driver merge — no single-partition window, no
    global sort). The model is a few dozen strings, i.e. the classic
    fit-small/score-big split: at 100 TB the fit is one map-side-
    combined aggregation and the scorer carries the model as literals,
    the same way a broadcast variable would.
    """
    rows = (
        doc_tokens(docs)
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(n)
        .collect()
    )
    return [r["term"] for r in rows]


def fit_term_profiles(terms: DataFrame, n: int) -> dict[str, list[str]]:
    """Fit per-language top-n profiles from a (lang, term) occurrence
    frame: one count job, |langs| * n strings collected. The
    (cnt desc, term asc) tie-break is THE profile contract the oracles
    mirror — lang_id (whitespace tokens) and lang_id_chargram
    (character trigrams) both fit through here so it cannot drift
    between term representations."""
    # a NULL-lang row can't define a language profile: it would put a
    # None key in the model dict and crash predict_language's
    # sorted(profiles) (None vs str); the oracle CTEs carry the same
    # lang IS NOT NULL guard so both engines fit identical models
    counts = (
        terms.filter(F.col("lang").isNotNull())
        .groupBy("lang", "term")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("term"))
    rows = (
        counts.select("lang", "term", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= n)
        .select("lang", "term")
        .collect()
    )
    profiles: dict[str, list[str]] = {}
    for r in rows:
        profiles.setdefault(r["lang"], []).append(r["term"])
    return profiles


def fit_lang_profiles(docs: DataFrame, n: int) -> dict[str, list[str]]:
    """Fit the per-language top-n whitespace-token model eagerly."""
    return fit_term_profiles(doc_tokens(docs).select("lang", "term"), n)


def sql_str_lit(t: str) -> str:
    """Escape a Python string as a Spark SQL string literal (backslash
    escaping is on by default: spark.sql.parser.escapedStringLiterals
    false)."""
    return "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"


def quality_features(docs: DataFrame, stop_terms: list[str]) -> DataFrame:
    """Per-doc quality features + a composite score, computed entirely
    from the token array with JVM higher-order functions.

    stop_terms: the fitted stopword model (``fit_stopwords``), inlined
    as literals. Scoring is a pure per-row projection — no explode, no
    join, no shuffle — so at 100 TB it runs map-side in one
    whole-stage-codegen pass over the corpus (the old explode +
    broadcast-join + doc_id re-aggregation shape shuffled the full
    exploded token frame back together per doc). Integer counts + one
    final division keep every ratio deterministic cross-engine.

    Built as selectExpr SQL text (one parse) rather than a Column
    lambda tree: the py4j round-trips of the HOF builders cost ~0.2s
    per build (same finding as the ann_kmeans probe rework). The token
    array is bound as a lambda variable (transform over a 1-element
    array) so ``split(lower(text))`` is evaluated once per row (see
    shingles_col); the counts struct lands in a child projection so
    the ratio expressions don't re-run the fold (CollapseProject keeps
    non-cheap aliases referenced more than once in their own project).
    """
    # An empty fitted model (degenerate corpus) must not render the
    # unparsable `x IN ()` — no stopwords means nothing is a stopword.
    if stop_terms:
        stop_set = ", ".join(sql_str_lit(t) for t in stop_terms)
        is_stop = f"x IN ({stop_set})"
    else:
        is_stop = "false"
    counts = (
        "element_at(transform(array(split(lower(text), ' ')), t -> named_struct("
        "'n_tokens', CAST(size(t) AS BIGINT), "
        "'n_distinct', CAST(size(array_distinct(t)) AS BIGINT), "
        "'sum_len', aggregate(t, CAST(0 AS BIGINT), (a, x) -> a + length(x)), "
        f"'n_stop', CAST(size(filter(t, x -> {is_stop})) AS BIGINT), "
        "'n_alpha', CAST(size(filter(t, x -> x RLIKE '^[a-z]+$')) AS BIGINT)"
        ")), 1)"
    )
    per_doc_df = docs.selectExpr("doc_id", f"{counts} AS f")
    n = "CAST(f.n_tokens AS DOUBLE)"
    stop_ratio = f"(f.n_stop / {n})"
    alpha_ratio = f"(f.n_alpha / {n})"
    len_score = f"least(1.0D, {n} / 100)"
    # Left-associated exactly like the oracle SQL (IEEE addition is not
    # associative) and D-suffixed constants (Spark parses bare decimal
    # literals as DECIMAL; see spark_sql_det_round).
    score = (
        f"(0.4D * {alpha_ratio} + 0.3D * (1 - {stop_ratio}) + 0.3D * {len_score})"
    )
    return per_doc_df.selectExpr(
        "doc_id",
        "f.n_tokens AS n_tokens",
        "f.n_distinct AS n_distinct",
        f"{spark_sql_det_round(f'(f.sum_len / {n})', 3)} AS avg_token_len",
        f"{spark_sql_det_round(stop_ratio, 3)} AS stop_ratio",
        f"{spark_sql_det_round(alpha_ratio, 3)} AS alpha_ratio",
        f"{spark_sql_det_round(score, 3)} AS quality_score",
    )


DISTINCT_TOKENS_EXPR = "array_distinct(split(lower(text), ' '))"


def predict_language(
    docs: DataFrame,
    profiles: dict[str, list[str]],
    terms_expr: str = DISTINCT_TOKENS_EXPR,
) -> DataFrame:
    """Language-ID by term-profile overlap, as a per-row projection.

    profiles: the fitted per-language top-terms model
    (``fit_lang_profiles``), inlined as literals. terms_expr: SQL text
    producing the doc's DISTINCT term array (default: whitespace
    tokens; lang_id_chargram passes its character-trigram expression).
    Each doc is scored by |distinct(doc terms) ∩ profile(lang)| and
    assigned the argmax (ties -> lexicographically smallest lang; no
    overlap anywhere -> 'unknown'). The model is |langs| * n strings,
    so the per-lang intersects are a fixed, small expression tree:
    scoring is map-side only — no explode, no broadcast join, no
    per-doc argmax window — which is the shape that survives 100 TB
    (the old plan shuffled the exploded overlap frame on doc_id twice:
    groupBy + window). SQL-text build for the same py4j reason as
    quality_features.
    """
    langs = sorted(profiles)
    structs = ", ".join(
        "named_struct('n', size(array_intersect(d, array({terms}))), "
        "'cand_lang', {lang})".format(
            terms=", ".join(sql_str_lit(t) for t in profiles[lang]),
            lang=sql_str_lit(lang),
        )
        for lang in langs
    )
    # One projection, with the distinct-token array, the per-lang
    # overlap array, and its max each bound once via the 1-element
    # transform trick (nested lambda binds instead of chained selects).
    pred = (
        "element_at(transform(array("
        f"element_at(transform(array({terms_expr}), "
        f"d -> array({structs})), 1)"
        "), ovs -> element_at(transform(array(array_max(transform(ovs, s -> s.n))), "
        "m -> CASE WHEN m > 0 THEN array_min(transform("
        "filter(ovs, s -> s.n = m), s -> s.cand_lang)) "
        "ELSE 'unknown' END), 1)), 1)"
    )
    return docs.selectExpr("doc_id", "lang", f"{pred} AS predicted_lang")


def rolling_fingerprint(
    docs: DataFrame, base: int = 131, mod: int = HASH_P
) -> DataFrame:
    """Per-doc polynomial rolling hash over ordered token ids:
    fp = fold(acc * base + tid) mod P.

    Position-sensitive (unlike set-based MinHash/SimHash), so it
    fingerprints *exact* token sequences — the cheap first pass of
    exact-dup detection on a corpus. Token ids are the stateless
    char-fold hash (term_hash_col), so the whole id step is map-side;
    one explode + one shuffle on doc_id, and the fold itself is a JVM
    higher-order function over the re-collected id array.
    """
    with_ids = doc_tokens_with_pos(docs).withColumn("tid", term_hash_col())
    ordered = (
        with_ids.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tid"))).alias("pt"))
        .select("doc_id", F.transform("pt", lambda s: s.getField("tid")).alias("ids"))
    )
    fp = F.aggregate(
        "ids",
        F.lit(0).cast("long"),
        lambda acc, v: (acc * base + v) % mod,
    )
    return ordered.select("doc_id", fp.alias("fingerprint"))
