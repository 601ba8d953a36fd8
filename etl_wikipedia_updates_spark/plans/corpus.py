"""Corpus-engineering operators: temperature mixing, char-LM quality
scoring, and output-shard planning.

These extend the training-data-pipeline surface past the reference's
own operator set (the reference pipeline ships filtered rows straight
to one SQLite sink — `/root/reference/pipeline.py` has no mixing,
perplexity-filter, or shard-planning stage), re-expressed the way a
100 TB Spark curation job would run them:

- ``temperature_mix``: temperature-scaled multinomial source sampling
  (the mixing rule multilingual LM training uses — sample source s
  with p_s proportional to share_s^alpha, alpha < 1 upweighting small
  sources; see mT5/XLM-R-style temperature sampling). Deterministic
  hash-bucket membership, no RNG state.
- ``charlm_score``: corpus-fit character-bigram language model scoring
  every document in bits per character transition — the CCNet-style
  "perplexity filter" quality signal, with the model fit and the
  scoring both expressed as DataFrame aggregations (no driver-side
  fit, no UDF).
- ``shard_manifest``: deterministic assignment of every document to a
  fixed number of output shards plus the per-shard manifest (doc/char
  budgets, checksums, balance shares) a dataloader or writer consumes.
  The actual sharded write is release.write_sharded; this is the
  planning/audit view of it.
- ``pii_scrub``: regex PII detection + redaction audit
  (email/IPv4/phone) in the Java-regex/RE2 common subset, map-side
  only.
- ``distinct_kmv``: deterministic bottom-k (KMV) distinct-cardinality
  sketch over hashed shingles — approximate in accuracy, exact in
  value, so the sketch itself is oracle-hash-certifiable.
- ``zipf_fit``: per-source Zipf-law exponent via closed-form OLS on
  the log-log rank/frequency curve — corpus forensics (natural text
  ~1, synthetic/boilerplate flattens toward 0).

Determinism conventions: membership rules are the shared universal
hash (``ubucket_col`` / ``sql_ubucket`` — identical integer sequences
on both engines); every floating-point value that crosses the oracle
hash is either produced by IEEE-correctly-rounded ops only (divide,
sqrt, multiply, floor) or pinned through functions.deterministic
(det_round / dec_sum) at a declared scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.caches import memo
from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.operators.text import (
    HASH_P,
    TERM_HASH_BASE,
)

from etl_wikipedia_updates_spark.functions.arrays import l2_norm, sql_l2_norm
from etl_wikipedia_updates_spark.functions.deterministic import (
    dec_sum,
    det_round,
    sql_dec_sum,
    sql_det_round,
)
from etl_wikipedia_updates_spark.operators.quantiles import (
    exact_quantiles_refined,
)
from etl_wikipedia_updates_spark.plans.base import DeclaredQuery
from etl_wikipedia_updates_spark.plans.northstar import (
    _REP_KEEP_COND,
    _REP_PER_DOC_CTES,
    sql_temp_rate_ppm,
    sql_ubucket,
)
from etl_wikipedia_updates_spark.stages import (
    CONTAM_BENCH_SOURCE,
    NGQ_BUCKETS,
    NGQ_HI_PPM,
    N_SHARDS,
    PII_EMAIL,
    PII_IPV4,
    PII_PHONE,
    SHARD_A,
    SHARD_B,
    TEMP_A,
    TEMP_B,
    TEMP_BUCKETS,
    fit_ngram_weights,
    manifest_of,
    ngram_doc_scores,
    pii_redacted_col,
    shard_assign_col,
    temp_keep_cond,
    temp_rates,
    total_order,
)
from etl_wikipedia_updates_spark.tables import load_table, spread

# --- temperature_mix: temperature-scaled source sampling ----------------------
# rate_s = (min_chars / chars_s)^(1 - alpha): alpha = 1 is the natural
# distribution (keep everything), alpha = 0 equalizes character
# budgets (source_mix's rule), and the contract pins alpha = 0.5.
# The RULE (constants, threshold expression, membership compare, and
# the determinism argument) lives beside mix_keep_cond in
# plans.northstar — shared with release_members(mix_alpha=0.5) so the
# standalone mixer and the composed release can never diverge. The FP
# math runs once per SOURCE (a handful of rows); each ROW's membership
# is a pure integer compare against the precomputed integer threshold,
# like source_mix/sample_hash.


def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the alpha=0.5 temperature downsample.

    Scale shape (mirrors _source_mix): the budget pass is one
    map-side-combined tiny agg (|sources| rows); the per-source sqrt
    threshold is computed on that tiny frame and broadcast back onto
    the corpus; membership is stateless per-row integer math (bucket <
    rate_ppm — reproducible on any cluster size, no RNG); only the
    final audit agg shuffles, on source. Two 3-column corpus scans
    (budget + filter), same trade as source_mix: a cheap partial-agg
    pass beats shuffling a skewed source key.
    """
    return _temperature_mix(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
    )


def _temperature_mix(docs: DataFrame) -> DataFrame:
    """The temperature audit over a (doc_id, source, n_chars) frame —
    split out (like northstar._source_mix) for property tests over
    arbitrary corpora."""
    budgets = docs.groupBy("source").agg(
        F.count("*").alias("docs_in"),
        F.sum("n_chars").alias("chars_in"),
    )
    # THE shared temperature model (northstar.temp_rates): the floor
    # is a window min over the |sources|-row post-agg budgets frame.
    # The previous crossJoin(broadcast(budgets.filter.agg(min))) form
    # planned the budgets subtree — a full corpus aggregation — TWICE
    # (r19 replanned the other consumers; this one was missed, caught
    # by the r19 verdict). min-over-chars_in>0 semantics are identical
    # (temp_rates' docstring carries the equivalence argument).
    rates = temp_rates(
        budgets.withColumnRenamed("chars_in", "chars_q")
    ).select(
        "source",
        "docs_in",
        F.col("chars_q").alias("chars_in"),
        "rate_ppm",
    )
    kept = docs.join(F.broadcast(rates), "source").filter(temp_keep_cond())
    out = kept.groupBy("source").agg(
        F.count("*").alias("docs_kept"),
        F.sum("n_chars").alias("chars_kept"),
        F.sum("doc_id").alias("kept_checksum"),
    )
    return (
        rates.join(F.broadcast(out), "source", "left")
        .select(
            "source",
            "docs_in",
            F.col("chars_in").cast("bigint").alias("chars_in"),
            "rate_ppm",
            F.coalesce("docs_kept", F.lit(0)).cast("bigint").alias("docs_kept"),
            F.coalesce("chars_kept", F.lit(0)).cast("bigint").alias("chars_kept"),
            F.coalesce("kept_checksum", F.lit(0))
            .cast("bigint")
            .alias("kept_checksum"),
        )
        .transform(total_order, "source")
    )


TEMPERATURE_MIX_SQL = f"""
WITH b AS (
  SELECT source, COUNT(*) AS docs_in, SUM(n_chars) AS chars_in
  FROM documents GROUP BY source
),
f AS (SELECT MIN(chars_in) AS min_chars FROM b WHERE chars_in > 0),
r AS (
  SELECT source, docs_in, chars_in,
    {sql_temp_rate_ppm('chars_in', 'min_chars')} AS rate_ppm
  FROM b CROSS JOIN f
),
k AS (
  SELECT d.source, COUNT(*) AS docs_kept, SUM(d.n_chars) AS chars_kept,
         SUM(d.doc_id) AS kept_checksum
  FROM documents d JOIN r USING (source)
  WHERE {sql_ubucket(TEMP_A, TEMP_B, TEMP_BUCKETS, col="d.doc_id")} < rate_ppm
  GROUP BY d.source
)
SELECT r.source,
  CAST(docs_in AS BIGINT) AS docs_in,
  CAST(chars_in AS BIGINT) AS chars_in,
  rate_ppm,
  CAST(COALESCE(docs_kept, 0) AS BIGINT) AS docs_kept,
  CAST(COALESCE(chars_kept, 0) AS BIGINT) AS chars_kept,
  CAST(COALESCE(kept_checksum, 0) AS BIGINT) AS kept_checksum
FROM r LEFT JOIN k USING (source) ORDER BY source
"""


# --- charlm_score: character-bigram LM quality scoring ------------------------
# Add-one-smoothed bigram model fit on the WHOLE corpus, every doc
# scored in bits per character transition (mean -log2 p(c2|c1)) — high
# bits = the doc's character sequence is surprising under the corpus
# model, the CCNet perplexity-filter signal. logp is det-rounded to
# CHARLM_ROUND decimals AT THE MODEL (a vocabulary-sized frame), so
# every downstream sum is exact scaled-integer arithmetic; the only
# libm call in the whole query (log2) happens once per distinct
# bigram, not once per corpus position.
CHARLM_ROUND = 6
CHARLM_FLAG_BITS = 2.52  # audit threshold: ~p90 of the fixture corpus


def _doc_bigrams(docs: DataFrame, keep: tuple = ("source",)) -> DataFrame:
    """(doc_id, *keep, bg): every adjacent character pair. Docs with
    NULL or single-char text have no transitions and are excluded on
    BOTH engines (the explicit length filter — Spark's sequence(1, 0)
    would DESCEND and fabricate positions, DuckDB's range(1, 1) is
    empty; never rely on that divergence).

    Built by splitting to a char array once and zipping it against its
    own tail — O(len) per doc. The tempting one-liner
    ``transform(sequence(1, len-1), i -> substring(text, i, 2))`` is
    O(len^2): Spark's UTF8String.substring walks from the string start
    for every position (at 100 TB the quadratic blowup scales with
    document length, not corpus size — long documents stall single
    tasks).

    The transition is emitted as a PACKED INTEGER id, codepoint(c1) *
    0x110000 + codepoint(c2) — injective for every Unicode pair (code
    points are < 0x110000), and a long join/group key beats a 2-char
    string key measurably (string bigrams: 2.4s full query at sf0.1;
    packed longs: ~1.6s — the broadcast probe and the vocab agg both
    hash longs instead of strings, and the explode allocates no
    per-transition string). Spark's ascii() returns the true first
    codepoint (astral planes included — test-pinned), so the driver
    unpacks with // and % in exact integer math."""
    return (
        docs.filter(F.col("text").isNotNull() & (F.length("text") >= 2))
        .withColumn("cs", F.split("text", ""))
        .select(
            "doc_id",
            *keep,
            F.explode(
                F.expr(
                    "zip_with(slice(cs, 1, size(cs) - 1),"
                    " slice(cs, 2, size(cs) - 1),"
                    " (a, b) -> cast(ascii(a) as bigint) * 1114112"
                    " + ascii(b))"
                )
            ).alias("bg"),
        )
    )


def _fit_bigram_counts(big: DataFrame) -> list[tuple[int, int]]:
    """One count job down to the bigram vocabulary — the fit-small
    half. The result is bounded by observed-charset^2 (thousands of
    rows even on a multilingual web corpus, never corpus-scale), so
    collecting it is the same bounded-model collect lang_id and
    kmeans_clusters already rely on."""
    return [
        (r["bg"], r["c"])
        for r in big.groupBy("bg").agg(F.count("*").alias("c")).collect()
    ]


# Dense-dispatch ceiling: an observed charset up to this size scores
# through a |C|^2 scaled-long array LITERAL (128 -> 16k longs, a ~130KB
# folded constant); a larger charset (CJK-heavy corpora) falls back to
# the broadcast-join path. Both paths compute identical values.
CHARLM_DENSE_MAX = 128


def _charlm_table(counts: list[tuple[int, int]]):
    """(sorted codepoints, dense |C|x|C| scaled-logp longs): the
    add-one model as an O(1)-lookup table. The scaled value is
    floor(log2((c+1)/(ctx+V)) * 1e6 + 0.5) — exactly the integer
    dec_sum would recover from the det-rounded logp, computed here
    with Python's libm log2 (the same libm as the DuckDB oracle's;
    the unit reference test pins it against math.log2 directly).
    Unseen transitions stay 0: impossible for the fit corpus (the
    model is fit on the very text it scores)."""
    import math

    ctx: dict[int, int] = {}
    for bg, c in counts:
        ctx[bg // 1114112] = ctx.get(bg // 1114112, 0) + c
    vs = len({bg % 1114112 for bg, _ in counts})
    chars = sorted(
        {bg // 1114112 for bg, _ in counts}
        | {bg % 1114112 for bg, _ in counts}
    )
    rank = {cp: i for i, cp in enumerate(chars)}
    n = len(chars)
    scale = float(10**CHARLM_ROUND)
    table = [0] * (n * n)
    for bg, c in counts:
        i, j = rank[bg // 1114112], rank[bg % 1114112]
        lp = math.log2((c + 1) / float(ctx[bg // 1114112] + vs))
        table[i * n + j] = int(math.floor(lp * scale + 0.5))
    return chars, table, ctx, vs


def charlm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of corpus-fit char-bigram LM scores.

    Eager fit-then-score (the lang_id/kmeans pattern): the bigram
    counts are fitted in ONE map-side-combined count job at build time
    and memoized. Scoring is a PURE PROJECTION: each doc splits to
    chars once, ranks them against the observed-charset literal, and
    folds element_at(dense scaled-logp table, rank1*|C| + rank2) over
    adjacent pairs — no explode, no join, no per-doc shuffle; the only
    shuffle in the whole query is the |sources|-key audit agg with
    map-side partials. (History: a declarative diamond re-executed the
    corpus explode per model branch, 3.7s at sf0.1; an explode +
    broadcast-join scorer ran 2.2s; the in-array scorer runs ~0.9s.
    The 100 TB shape is the same projection.) Charsets past
    CHARLM_DENSE_MAX fall back to the explode + broadcast-model join
    (identical values, the bounded side broadcasts).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    counts = memo(
        spark,
        "charlm_bigram_counts",
        lambda: _fit_bigram_counts(_doc_bigrams(spread(docs))),
        sf_dir,
    )
    chars, table, ctx, vs = _charlm_table(counts)
    if chars and len(chars) <= CHARLM_DENSE_MAX:
        per_doc = _charlm_score_dense(docs, chars, table)
    else:
        per_doc = _charlm_score_join(spark, docs, counts, ctx, vs)
    flagged = F.col("bits") > F.lit(CHARLM_FLAG_BITS)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            det_round(
                dec_sum(F.col("bits"), scale=CHARLM_ROUND) / F.count("*"), 4
            ).alias("mean_bits"),
            det_round(F.max("bits"), 4).alias("max_bits"),
            F.coalesce(
                F.sum(F.when(flagged, 1)), F.lit(0)
            ).cast("bigint").alias("flagged_docs"),
            F.coalesce(
                F.sum(F.when(flagged, F.col("doc_id"))), F.lit(0)
            ).cast("bigint").alias("flagged_checksum"),
        )
        .transform(total_order, "source")
    )


def _charlm_score_dense(
    docs: DataFrame,
    chars: list[int],
    table: list[int],
    keep: tuple = ("source",),
) -> DataFrame:
    """(doc_id, *keep, bits) via the in-array scorer. The charset is
    bound through F.lit (call_function passes it as a VALUE) — NEVER
    inlined into SQL source text, where Spark's string-literal escape
    processing would corrupt any charset containing a backslash (or
    quote/newline) and silently misalign every rank against the
    Python-side table (hazard chars are in the unit fixture). The
    table literal is digits-only, so its inline array() is safe. The
    rank array binds ONCE through a 1-element transform (the
    no-CSE-into-lambdas pitfall); instr on the tiny charset constant
    is an O(|C|) scan per char (measured ~0.5s/corpus-pass cheaper
    than array_position's per-element string comparisons at sf0.1)."""
    n = len(chars)
    cs_lit = F.lit("".join(chr(cp) for cp in chars))
    tbl = F.expr("array(" + ",".join(f"{v}L" for v in table) + ")")
    ranks = F.transform(
        F.split("text", ""),
        lambda c: F.call_function("instr", cs_lit, c).cast("long"),
    )
    fold = F.element_at(
        F.transform(
            F.array(ranks),
            lambda r: F.aggregate(
                F.zip_with(
                    F.slice(r, F.lit(1), F.size(r) - 1),
                    F.slice(r, F.lit(2), F.size(r) - 1),
                    # An out-of-charset char ranks 0 (instr miss). The
                    # raw index would then be <= 0, where element_at
                    # ERRORS on 0 but silently WRAPS on negatives —
                    # mis-scoring with no signal. Route any rank-0 to
                    # index 0 so a model/corpus desync (stale
                    # model) fails loudly instead: element_at(_, 0)
                    # throws on both ANSI settings. Unreachable while
                    # model and corpus are in sync (the memo refits
                    # when a file under sf_dir changes).
                    lambda a, b: F.element_at(
                        tbl,
                        F.when(
                            (a >= 1) & (b >= 1),
                            ((a - 1) * n + b).cast("int"),
                        ).otherwise(F.lit(0)),
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        ),
        1,
    )
    scale = float(10**CHARLM_ROUND)
    return (
        docs.filter(F.col("text").isNotNull() & (F.length("text") >= 2))
        .select(
            "doc_id",
            *keep,
            fold.alias("s_scaled"),
            (F.length("text") - 1).alias("nt"),
        )
        .select(
            "doc_id",
            *keep,
            (
                -(F.col("s_scaled").cast("double") / F.lit(scale))
                / F.col("nt")
            ).alias("bits"),
        )
    )


def _charlm_score_join(
    spark: SparkSession,
    docs: DataFrame,
    counts: list[tuple[int, int]],
    ctx: dict[int, int],
    vs: int,
    keep: tuple = ("source",),
) -> DataFrame:
    """(doc_id, *keep, bits) via explode + broadcast-model join — the
    huge-charset fallback. logp is computed JVM-side over the inlined
    integer counts; the per-doc agg partial-aggregates map-side before
    the |docs|-row shuffle."""
    model_rows = [(bg, c, ctx[bg // 1114112], vs) for bg, c in counts]
    model = spark.createDataFrame(
        model_rows, schema="bg bigint, c bigint, ctx_c bigint, vs bigint"
    ).select(
        "bg",
        det_round(
            F.log2(
                (F.col("c") + 1)
                / (F.col("ctx_c") + F.col("vs")).cast("double")
            ),
            CHARLM_ROUND,
        ).alias("logp"),
    )
    big = _doc_bigrams(docs, keep=keep)
    return (
        big.join(F.broadcast(model), "bg")
        .groupBy("doc_id", *keep)
        .agg(
            (
                -dec_sum(F.col("logp"), scale=CHARLM_ROUND) / F.count("*")
            ).alias("bits")
        )
    )


CHARLM_SCORE_SQL = f"""
WITH big AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, length(text)),
                               i -> substr(text, i, 2))) AS bg
  FROM documents WHERE text IS NOT NULL AND length(text) >= 2
),
mc AS (SELECT bg, COUNT(*) AS c FROM big GROUP BY bg),
ctx AS (SELECT substr(bg, 1, 1) AS c1, SUM(c) AS ctx_c FROM mc GROUP BY 1),
v AS (SELECT COUNT(DISTINCT substr(bg, 2, 1)) AS vs FROM mc),
model AS (
  SELECT bg,
    {sql_det_round('log2((c + 1) / CAST(ctx_c + vs AS DOUBLE))', CHARLM_ROUND)}
      AS logp
  FROM mc JOIN ctx ON substr(mc.bg, 1, 1) = ctx.c1 CROSS JOIN v
),
pd AS (
  SELECT doc_id, source,
         -({sql_dec_sum('logp', CHARLM_ROUND)}) / COUNT(*) AS bits
  FROM big JOIN model USING (bg) GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
  {sql_det_round(f"{sql_dec_sum('bits', CHARLM_ROUND)} / COUNT(*)", 4)}
    AS mean_bits,
  {sql_det_round('MAX(bits)', 4)} AS max_bits,
  CAST(COALESCE(SUM(CASE WHEN bits > {CHARLM_FLAG_BITS} THEN 1 END), 0)
       AS BIGINT) AS flagged_docs,
  CAST(COALESCE(SUM(CASE WHEN bits > {CHARLM_FLAG_BITS} THEN doc_id END), 0)
       AS BIGINT) AS flagged_checksum
FROM pd GROUP BY source ORDER BY source
"""


# --- ccnet_buckets: per-language perplexity head/middle/tail split ------------
# Wenzek et al. 2020 ("CCNet: Extracting High Quality Monolingual
# Datasets from Web Crawl Data") — the published corpus-curation split:
# score every document with a language-model perplexity and cut each
# LANGUAGE's distribution into head / middle / tail terciles (head =
# lowest perplexity, the cleanest third); downstream pipelines train
# on head+middle or reweight by bucket. The scorer here is the
# repo's charlm bits-per-transition (the CCNet paper's wikipedia
# 5-gram KenLM swaps in as the same per-doc score column), reusing
# the SAME memoized bigram model as charlm_score — one fit job feeds
# both queries in a session.
#
# Scale shape — the composition is the point: per-doc scoring is a
# pure projection (charlm's in-array fold, no explode/join/shuffle);
# the per-language cutpoints come from operators.quantiles.
# exact_quantiles_refined (the r18 flagship: sketch partials +
# broadcast bracket joins — EXACT tercile values with no per-language
# sort funnel and no corpus shuffle); bucket assignment is a
# broadcast join of the |langs|x2 cutpoint frame back onto the scored
# projection; the only output shuffle is the (lang, bucket)-key agg
# with map-side partials. The scored projection feeds three branches
# (quantile pass-1/pass-2 + the bucket branch); since the r19
# optimization round it is PERSISTED (declared in
# tests/test_cache_hygiene.py), so the text is scored once and the
# branches re-read the ~30-byte/doc (doc_id, lang, n_chars, bits)
# frame — the cluster-side variant the original multi-scan docstring
# pointed at, now the registered shape. Nothing corpus-sized ever
# crosses the wire (the percentiles_refined precedent, composed).
#
# Cutpoint semantics: c_q = value at rank ceil(q*n) (the registered
# rational-rank rule), bucket = bits <= c_1/3 -> head, <= c_2/3 ->
# middle, else tail — comparisons against exact VALUES, so tie runs
# at a cutpoint land identically on both engines regardless of rank
# permutation. Docs with un-scoreable text (NULL or < 2 chars) or
# NULL lang are outside the split on both engines (CCNet drops
# unidentified-language pages).
CCNET_QS = [(1, 3), (2, 3)]


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, bucket) dataset-card row of the CCNet tercile split:
    (lang, bucket, n_docs, n_chars, mean_bits) with bucket in
    head/middle/tail by per-language charlm-perplexity terciles."""
    fit_docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    counts = memo(
        spark,
        "charlm_bigram_counts",
        lambda: _fit_bigram_counts(_doc_bigrams(spread(fit_docs))),
        sf_dir,
    )
    chars, table, ctx, vs = _charlm_table(counts)
    base = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars", "text"
        )
    ).filter(F.col("lang").isNotNull())
    keep = ("lang", "n_chars")
    if chars and len(chars) <= CHARLM_DENSE_MAX:
        per_doc = _charlm_score_dense(base, chars, table, keep=keep)
    else:
        per_doc = _charlm_score_join(spark, base, counts, ctx, vs, keep=keep)
    # per_doc feeds THREE branches (quantile pass-1 sketch, pass-2
    # bracket probe, and the bucket assignment), and each would re-run
    # the charlm in-array fold over the full text (measured: 3x the
    # scoring stage at sf0.1). The scored projection is (doc_id, lang,
    # n_chars, bits) — ~30 bytes/doc vs the text it summarizes — so
    # persisting it is the materialize-shared-subplan trade the
    # semantic_dedup precedent declares (DECLARED_LAZY_PERSISTS);
    # the docstring's cluster-side note about persisting the scored
    # projection, made the registered shape. Reclaimed by clearCache().
    per_doc = per_doc.persist()
    cuts = (
        exact_quantiles_refined(
            per_doc.select("lang", "bits"), "lang", "bits", CCNET_QS
        )
        .groupBy("lang")
        .agg(
            F.max(F.when(F.col("q_num") == 1, F.col("value"))).alias("c1"),
            F.max(F.when(F.col("q_num") == 2, F.col("value"))).alias("c2"),
        )
    )
    bucket = (
        F.when(F.col("bits") <= F.col("c1"), F.lit("head"))
        .when(F.col("bits") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        per_doc.join(F.broadcast(cuts), "lang")
        .select("lang", bucket.alias("bucket"), "bits", "n_chars")
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            det_round(
                dec_sum(F.col("bits"), scale=CHARLM_ROUND) / F.count("*"), 4
            ).alias("mean_bits"),
        )
        .transform(total_order, "lang", "bucket")
    )


CCNET_BUCKETS_SQL = f"""
WITH big AS (
  SELECT doc_id, lang, n_chars,
         unnest(list_transform(range(1, length(text)),
                               i -> substr(text, i, 2))) AS bg
  FROM documents WHERE text IS NOT NULL AND length(text) >= 2
),
mc AS (SELECT bg, COUNT(*) AS c FROM big GROUP BY bg),
ctx AS (SELECT substr(bg, 1, 1) AS c1, SUM(c) AS ctx_c FROM mc GROUP BY 1),
v AS (SELECT COUNT(DISTINCT substr(bg, 2, 1)) AS vs FROM mc),
model AS (
  SELECT bg,
    {sql_det_round('log2((c + 1) / CAST(ctx_c + vs AS DOUBLE))', CHARLM_ROUND)}
      AS logp
  FROM mc JOIN ctx ON substr(mc.bg, 1, 1) = ctx.c1 CROSS JOIN v
),
pd AS (
  SELECT doc_id, lang, n_chars,
         -({sql_dec_sum('logp', CHARLM_ROUND)}) / COUNT(*) AS bits
  FROM big JOIN model USING (bg)
  WHERE lang IS NOT NULL
  GROUP BY doc_id, lang, n_chars
),
ranked AS (
  SELECT lang, bits,
         row_number() OVER (PARTITION BY lang ORDER BY bits) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM pd
),
cuts AS (
  SELECT lang,
         MAX(CASE WHEN rn = (1 * n + 3 - 1) // 3 THEN bits END) AS c1,
         MAX(CASE WHEN rn = (2 * n + 3 - 1) // 3 THEN bits END) AS c2
  FROM ranked GROUP BY lang
),
b AS (
  SELECT pd.lang,
         CASE WHEN bits <= c1 THEN 'head'
              WHEN bits <= c2 THEN 'middle'
              ELSE 'tail' END AS bucket,
         bits, n_chars
  FROM pd JOIN cuts USING (lang)
)
SELECT lang, bucket, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       {sql_det_round(f"{sql_dec_sum('bits', CHARLM_ROUND)} / COUNT(*)", 4)}
         AS mean_bits
FROM b GROUP BY lang, bucket ORDER BY lang, bucket
"""


# --- shard_manifest: deterministic output sharding + manifest -----------------
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every doc to one of N_SHARDS output shards by the
    universal hash and emit the per-shard manifest: doc/char budgets,
    id checksum, source spread, and balance shares.

    Scale shape: assignment is stateless per-row integer math (the
    writer's repartition key — any cluster size reproduces it); the
    manifest is one N_SHARDS-key agg with map-side partials plus a
    broadcast single-row total for the share columns. The actual
    sharded WRITE is release.write_sharded — it repartitions on this
    same assignment, lands one file per shard, and verify_sharded
    recomputes this manifest from the produced files.
    doc_share/char_share expose skew directly: a hot shard shows up as
    share >> 1/N before any file is written.
    """
    return manifest_of(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars", shard_assign_col().alias("shard")
        )
    )


SHARD_MANIFEST_SQL = f"""
WITH t AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS total_docs,
         CAST(SUM(n_chars) AS DOUBLE) AS total_chars
  FROM documents
),
s AS (
  SELECT {sql_ubucket(SHARD_A, SHARD_B, N_SHARDS)} AS shard,
         COUNT(*) AS n_docs, SUM(n_chars) AS n_chars_total,
         SUM(doc_id) AS id_checksum, COUNT(DISTINCT source) AS n_sources
  FROM documents GROUP BY 1
)
SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_chars_total AS BIGINT) AS n_chars_total,
  CAST(id_checksum AS BIGINT) AS id_checksum,
  CAST(n_sources AS BIGINT) AS n_sources,
  {sql_det_round('n_docs / total_docs', 6)} AS doc_share,
  {sql_det_round('n_chars_total / total_chars', 6)} AS char_share
FROM s CROSS JOIN t ORDER BY shard
"""


# --- pii_scrub: PII detection + redaction audit -------------------------------
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII audit: match counts per class, flagged docs, and
    the redacted-text length checksum (proves the REPLACEMENT, not
    just the detection, agrees across engines).

    Scale shape: pure map-side regex projections over one corpus scan
    (Java regex on the JVM side, no Python), then a |sources|-key agg
    with map-side partials. NULL text scans as '' (coalesce on BOTH
    engines — the size(NULL) = -1 trap class), so every doc is
    counted. The redaction chain is the same expression a release
    pipeline applies before write_release; this query is its audit.
    spread(): six regex passes are the query's only real compute, and
    the single-row-group test scan would otherwise run them all on
    one core (r15 pair: 0.46s -> ~0.2s; pass-through on any
    well-partitioned source)."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.coalesce("text", F.lit("")).alias("t")
    )
    red = pii_redacted_col("t")
    counts = {
        name: F.size(F.regexp_extract_all("t", F.lit(pat), F.lit(0)))
        for name, pat in [
            ("emails", PII_EMAIL),
            ("ipv4", PII_IPV4),
            ("phones", PII_PHONE),
        ]
    }
    per_doc = docs.select(
        "source",
        *[c.alias(n) for n, c in counts.items()],
        F.length(red).alias("red_len"),
    )
    hit = sum(F.col(n) for n in counts)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(hit > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_flagged"),
            *[
                F.sum(n).cast("bigint").alias(f"n_{n}")
                for n in ("emails", "ipv4", "phones")
            ],
            F.sum("red_len").cast("bigint").alias("redacted_len_sum"),
        )
        .transform(total_order, "source")
    )


PII_SCRUB_SQL = f"""
WITH d AS (SELECT source, COALESCE(text, '') AS t FROM documents),
per_doc AS (
  SELECT source,
    len(regexp_extract_all(t, '{PII_EMAIL}')) AS emails,
    len(regexp_extract_all(t, '{PII_IPV4}')) AS ipv4,
    len(regexp_extract_all(t, '{PII_PHONE}')) AS phones,
    length(regexp_replace(regexp_replace(regexp_replace(t,
      '{PII_EMAIL}', '<EMAIL>', 'g'),
      '{PII_IPV4}', '<IP>', 'g'),
      '{PII_PHONE}', '<PHONE>', 'g')) AS red_len
  FROM d
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN emails + ipv4 + phones > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_flagged,
  CAST(SUM(emails) AS BIGINT) AS n_emails,
  CAST(SUM(ipv4) AS BIGINT) AS n_ipv4,
  CAST(SUM(phones) AS BIGINT) AS n_phones,
  CAST(SUM(red_len) AS BIGINT) AS redacted_len_sum
FROM per_doc GROUP BY source ORDER BY source
"""


# --- distinct_kmv: deterministic bottom-k (KMV) distinct sketch ---------------
# K-minimum-values estimator (Bar-Yossef et al. 2002) over the hashed
# 3-token shingle universe: the kth-smallest of the distinct term
# hashes estimates the distinct count as (k-1) * HASH_P / kth. Unlike
# HLL (q12_approx, rows-only check), a KMV over the STATELESS term
# hash is fully deterministic — both engines compute the identical
# integer hash sequence, so the sketch itself (kth min, estimate) is
# hash-certifiable, not just its row count: an approximate-in-accuracy
# but exact-in-value operator. The audit emits the exact distinct
# count beside the estimate with the relative error.
KMV_K = 64
# Map-side prune: only hashes below HASH_P/8 can be among the bottom-k
# whenever the true distinct count exceeds ~8k (kth min ~ k*P/n). The
# prune makes the sketch's shuffle 1/8 of the vocabulary INDEPENDENT of
# k's position — a deployment tunes the ratio so expected survivors
# stay >> k; when a stratum is so small the kth survivor doesn't exist,
# the estimator falls back to the threshold form n_surv * P / T (the
# prune IS a sketch: survivors are a fixed 1/8 coin-flip of the hash
# space).
KMV_PRUNE = HASH_P // 8


def distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-shingle cardinality: exact count (the audit
    column) beside the KMV bottom-k estimate and its relative error.

    Scale shape: the SKETCH path filters hashes map-side BEFORE any
    distinct (tid < PRUNE is a stateless projection over the exploded
    shingles), so its shuffle carries ~1/8 of the vocabulary; the
    per-source window then ranks only survivors. The EXACT column is
    the audit — a vocabulary-scale distinct a 100 TB run would skip,
    publishing the estimate alone (that is the sketch's point). All
    estimator math is 64-bit integer (k, HASH_P, kth min), so the
    published estimate is bit-identical cross-engine.

    The two branches share only the MAP-SIDE scan+explode+hash
    projection — Catalyst duplicates it per branch and each re-run is
    stateless and fully recoverable from lineage. The r10 version
    instead localCheckpoint()ed a shared distinct frame, which stored
    vocabulary-scale blocks on executor-local disk with lineage
    truncated: one lost executor (preemption, OOM) on a real cluster
    made the blocks unrecoverable and failed the job. Re-running a
    projection beats unrecoverable state; the exact branch fuses its
    distinct into the aggregation (partial dedup map-side via
    count(DISTINCT tid)), so neither branch materializes anything."""
    docs = (
        spread(load_table(spark, sf_dir, "documents"))
        .filter(F.col("text").isNotNull())
        .select("source", F.explode(T.shingles_col()).alias("term"))
        .select("source", T.term_hash_col("term").alias("tid"))
    )
    # Exact audit: count(DISTINCT tid) plans as a two-level aggregate
    # — partial dedup on (source, tid) map-side, final count per
    # source — one shuffle of the partially-deduped vocabulary, no
    # intermediate frame.
    exact = docs.groupBy("source").agg(
        F.countDistinct("tid").alias("exact_distinct")
    )
    # Sketch: prune BEFORE the distinct, so this branch shuffles ~1/8
    # of the vocabulary; the per-source window ranks only survivors.
    surv = docs.filter(F.col("tid") < KMV_PRUNE).distinct()
    w = W.partitionBy("source").orderBy("tid")
    agg = (
        surv.withColumn("rk", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_surv"),
            F.max(F.when(F.col("rk") == KMV_K, F.col("tid"))).alias("kth"),
        )
    )
    est = F.when(
        F.col("kth").isNotNull(),
        F.expr(f"({KMV_K - 1}L * {HASH_P}L) div kth"),
    ).otherwise(
        F.expr(f"(coalesce(n_surv, 0L) * {HASH_P}L) div {KMV_PRUNE}L")
    )
    return (
        exact.join(F.broadcast(agg), "source", "left")
        .withColumn("kmv_estimate", est.cast("bigint"))
        .select(
            "source",
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
            F.coalesce("n_surv", F.lit(0)).cast("bigint").alias("n_surv"),
            F.coalesce("kth", F.lit(0)).cast("bigint").alias("kth_min"),
            "kmv_estimate",
            det_round(
                F.abs(F.col("kmv_estimate") - F.col("exact_distinct"))
                / F.col("exact_distinct").cast("double"),
                4,
            ).alias("rel_err"),
        )
        .transform(total_order, "source")
    )


DISTINCT_KMV_SQL = f"""
WITH sh AS (
  SELECT source, unnest(list_distinct(list_transform(range(1, len(l) - 1),
         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS term
  FROM (SELECT source, string_split(lower(text), ' ') AS l
        FROM documents WHERE text IS NOT NULL)
),
tids AS (SELECT DISTINCT source, {T.sql_term_hash('term')} AS tid FROM sh),
exact AS (SELECT source, COUNT(*) AS exact_distinct FROM tids GROUP BY source),
surv AS (
  SELECT source, tid,
         row_number() OVER (PARTITION BY source ORDER BY tid) AS rk
  FROM tids WHERE tid < {KMV_PRUNE}
),
agg AS (
  SELECT source, COUNT(*) AS n_surv,
         MAX(CASE WHEN rk = {KMV_K} THEN tid END) AS kth
  FROM surv GROUP BY source
),
j AS (
  SELECT e.source, exact_distinct, n_surv, kth,
    CASE WHEN kth IS NOT NULL
         THEN (CAST({KMV_K - 1} AS BIGINT) * {HASH_P}) // kth
         ELSE (CAST(COALESCE(n_surv, 0) AS BIGINT) * {HASH_P}) // {KMV_PRUNE}
    END AS kmv_estimate
  FROM exact e LEFT JOIN agg USING (source)
)
SELECT source, CAST(exact_distinct AS BIGINT) AS exact_distinct,
  CAST(COALESCE(n_surv, 0) AS BIGINT) AS n_surv,
  CAST(COALESCE(kth, 0) AS BIGINT) AS kth_min,
  CAST(kmv_estimate AS BIGINT) AS kmv_estimate,
  {sql_det_round('abs(kmv_estimate - exact_distinct)'
                 ' / CAST(exact_distinct AS DOUBLE)', 4)} AS rel_err
FROM j ORDER BY source
"""


# --- zipf_fit: per-source Zipf-law exponent ------------------------------------
# A natural-language source follows freq(rank) ~ rank^-alpha with
# alpha ~ 1 (Zipf); machine-generated/boilerplate text flattens toward
# alpha ~ 0 and template spam steepens it — the fitted exponent plus
# its r^2 is a corpus-forensics signal (and the lorem fixture reads
# alpha ~ 0.15, near-uniform, exactly as synthetic text should).
# Closed-form OLS of ln(count) on ln(rank) over each source's FREQUENT
# terms: all five moment sums are exact scaled-long dec_sums of
# 6dp-det-rounded logs, so the slope/r2 arithmetic runs on bit-equal
# inputs cross-engine; the only libm (ln) happens once per frequent
# term and is pinned by the rounding.
ZIPF_MIN_COUNT = 5  # frequent-term floor: bounds the ranked set at
# corpus_chars/MIN regardless of corpus size (the per-source rank
# window never sees the long tail)


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_terms, alpha, r2): the fitted Zipf exponent per
    source with its goodness of fit.

    Scale shape: one token explode feeds a map-side-combined
    (source, term) count; the c >= MIN filter bounds the per-source
    rank window's input to the frequent vocabulary; the OLS moments
    are one more |sources|-key agg. Degenerate strata (a single
    frequent term — zero rank variance) emit NULL alpha/r2 on both
    engines (NULLIF), never a divide-by-zero artifact."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
    )
    cnt = (
        tok.groupBy("source", "term")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= ZIPF_MIN_COUNT)
    )
    w = W.partitionBy("source").orderBy(F.col("c").desc(), "term")
    lg = cnt.withColumn("rk", F.row_number().over(w)).select(
        "source",
        det_round(F.log(F.col("rk").cast("double")), 6).alias("lx"),
        det_round(F.log(F.col("c").cast("double")), 6).alias("ly"),
    )
    s = lg.groupBy("source").agg(
        F.count("*").alias("n"),
        dec_sum(F.col("lx"), scale=6).alias("sx"),
        dec_sum(F.col("ly"), scale=6).alias("sy"),
        dec_sum(F.col("lx") * F.col("lx"), scale=6).alias("sxx"),
        dec_sum(F.col("ly") * F.col("ly"), scale=6).alias("syy"),
        dec_sum(F.col("lx") * F.col("ly"), scale=6).alias("sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    nz = lambda c: F.when(c != 0, c)  # noqa: E731 — NULLIF twin
    return (
        s.select(
            "source",
            F.col("n").cast("bigint").alias("n_terms"),
            det_round(-(num / nz(den_x)), 4).alias("alpha"),
            det_round((num * num) / nz(den_x * den_y), 4).alias("r2"),
        )
        .transform(total_order, "source")
    )


ZIPF_FIT_SQL = f"""
WITH tok AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS term
  FROM documents WHERE text IS NOT NULL
),
cnt AS (SELECT source, term, COUNT(*) AS c FROM tok GROUP BY source, term),
freq AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rk
  FROM cnt WHERE c >= {ZIPF_MIN_COUNT}
),
lg AS (
  SELECT source,
         {sql_det_round('ln(CAST(rk AS DOUBLE))', 6)} AS lx,
         {sql_det_round('ln(CAST(c AS DOUBLE))', 6)} AS ly
  FROM freq
),
s AS (
  SELECT source, COUNT(*) AS n,
    {sql_dec_sum('lx', 6)} AS sx,
    {sql_dec_sum('ly', 6)} AS sy,
    {sql_dec_sum('lx * lx', 6)} AS sxx,
    {sql_dec_sum('ly * ly', 6)} AS syy,
    {sql_dec_sum('lx * ly', 6)} AS sxy
  FROM lg GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n_terms,
  {sql_det_round(
      '-((CAST(n AS DOUBLE) * sxy - sx * sy)'
      ' / NULLIF(CAST(n AS DOUBLE) * sxx - sx * sx, 0))', 4)} AS alpha,
  {sql_det_round(
      '((CAST(n AS DOUBLE) * sxy - sx * sy)'
      ' * (CAST(n AS DOUBLE) * sxy - sx * sy))'
      ' / NULLIF((CAST(n AS DOUBLE) * sxx - sx * sx)'
      ' * (CAST(n AS DOUBLE) * syy - sy * sy), 0)', 4)} AS r2
FROM s ORDER BY source
"""


# --- length_hist: log2-bucketed document-length histogram ---------------------
# The dataset-card length distribution: bucket b holds docs with
# n_chars in [2^b, 2^(b+1)); bucket -1 holds empty docs. Log buckets
# are the standard card axis (lengths span orders of magnitude).


def length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, bucket, n_docs, n_chars_total): the per-source doc
    length histogram on log2 buckets. Pure map-side bucket math + one
    (source, bucket)-key agg; the bucket expression is exact integer
    arithmetic (shiftright loop unrolled as 63-bit msb via
    bit_length-equivalent), identical on both engines."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.coalesce("n_chars", F.lit(0)).alias("n")
    )
    # exact msb: bucket = (binary digit count of n) - 1 for n > 0 —
    # length(bin(n)) on BOTH engines, an integer string op with no
    # libm anywhere (floor(ln(n)/ln(2)) is off-by-one near powers of
    # two from rounding).
    bucket = F.when(
        F.col("n") > 0,
        (F.length(F.bin("n")) - 1).cast("int"),
    ).otherwise(F.lit(-1))
    return (
        docs.select("source", bucket.alias("bucket"), "n")
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_chars_total"),
        )
        .transform(total_order, "source", "bucket")
    )


LENGTH_HIST_SQL = """
WITH d AS (
  SELECT source, COALESCE(n_chars, 0) AS n FROM documents
),
b AS (
  SELECT source, n,
    CASE WHEN n > 0 THEN CAST(length(bin(n)) - 1 AS INTEGER)
         ELSE -1 END AS bucket
  FROM d
)
SELECT source, bucket, COUNT(*) AS n_docs,
  CAST(SUM(n) AS BIGINT) AS n_chars_total
FROM b GROUP BY source, bucket ORDER BY source, bucket
"""


# --- embedding_stats: the vector dataset card ---------------------------------
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_vectors, dim, mean_norm, min_norm, max_norm): the
    per-label vector audit — catches the classic embedding-table
    defects (mixed dimensionality, unnormalized batches, zero vectors)
    before any index build. One map-side projection (the norm is the
    functions.arrays fold — identical sequence on both engines) + one
    |labels|-key agg; norms cross the oracle hash through the standard
    dec_sum/det_round pins, min/max are order-free."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.size("embedding").alias("dim"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.max("dim").cast("int").alias("dim"),
            det_round(dec_sum(F.col("nrm"), scale=6) / F.count("*"), 4).alias(
                "mean_norm"
            ),
            det_round(F.min("nrm"), 4).alias("min_norm"),
            det_round(F.max("nrm"), 4).alias("max_norm"),
        )
        .transform(total_order, "label")
    )


def _embedding_stats_sql() -> str:
    return f"""
WITH e AS (
  SELECT label, len(embedding) AS dim,
         {sql_l2_norm('embedding')} AS nrm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vectors,
  CAST(MAX(dim) AS INTEGER) AS dim,
  {sql_det_round(f"{sql_dec_sum('nrm', 6)} / COUNT(*)", 4)} AS mean_norm,
  {sql_det_round('MIN(nrm)', 4)} AS min_norm,
  {sql_det_round('MAX(nrm)', 4)} AS max_norm
FROM e GROUP BY label ORDER BY label
"""


EMBEDDING_STATS_SQL = _embedding_stats_sql()


# --- ngram_quality: hashed-n-gram quality classifier ---------------------------
def ngram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the hashed-n-gram quality classifier:
    scored docs, mean score (ppm), and the count + id-checksum of
    docs whose features lean keep. Docs with fewer than 2 tokens have
    no bigram features and are not scored (NULL score_ppm — skipped by
    every aggregate here, so counted by no column; the oracle drops
    them structurally). The fit is memoized per (session, sf_dir) —
    the lang_id/charlm train-once-serve-every-build pattern — so the
    steady-state query is the single map-side score pass + one
    |sources|-key aggregate."""

    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    weights = memo(
        spark,
        f"ngq_weights_{NGQ_BUCKETS}",
        lambda: fit_ngram_weights(docs),
        sf_dir,
    )
    per_doc = ngram_doc_scores(docs, weights)
    hi = F.col("score_ppm") >= NGQ_HI_PPM
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("score_ppm").alias("n_docs_scored"),
            F.expr("sum(score_ppm) div count(score_ppm)")
            .cast("bigint")
            .alias("mean_score_ppm"),
            F.coalesce(F.sum(F.when(hi, 1)), F.lit(0))
            .cast("bigint")
            .alias("hi_docs"),
            F.coalesce(F.sum(F.when(hi, F.col("doc_id"))), F.lit(0))
            .cast("bigint")
            .alias("hi_checksum"),
        )
        # a source whose every doc lacks bigram features has no scored
        # rows and is structurally absent from the oracle's pd CTE —
        # drop it HERE (post-agg, cheap) rather than filtering NULL
        # scores per row (predicate pushdown would inline the whole
        # score fold into the filter, doubling the map work)
        .filter(F.col("n_docs_scored") > 0)
        .transform(total_order, "source")
    )


def _ngram_quality_sql() -> str:
    return f"""
WITH {_REP_PER_DOC_CTES},
lab AS (
  SELECT doc_id, CASE WHEN {_REP_KEEP_COND} THEN 1 ELSE 0 END AS keep FROM m
),
g AS (
  SELECT doc_id, source, unnest(list_distinct(list_transform(
    range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS g
  FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS l
        FROM documents WHERE text IS NOT NULL)
),
gb AS (
  SELECT g.doc_id, g.source, lab.keep,
         ({T.sql_term_hash('g')}) % {NGQ_BUCKETS} AS b
  FROM g JOIN lab USING (doc_id)
),
wt AS (
  SELECT b, CAST((SUM(keep) * 1000000) // COUNT(*) AS BIGINT) AS w_ppm
  FROM gb GROUP BY b
),
pd AS (
  SELECT doc_id, source, CAST(SUM(w_ppm) // COUNT(*) AS BIGINT) AS score_ppm
  FROM gb JOIN wt USING (b) GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs_scored,
  CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
  CAST(COALESCE(SUM(CASE WHEN score_ppm >= {NGQ_HI_PPM} THEN 1 END), 0)
       AS BIGINT) AS hi_docs,
  CAST(COALESCE(SUM(CASE WHEN score_ppm >= {NGQ_HI_PPM} THEN doc_id END), 0)
       AS BIGINT) AS hi_checksum
FROM pd GROUP BY source ORDER BY source
"""


NGRAM_QUALITY_SQL = _ngram_quality_sql()


# --- dsir_select: importance-resampling data selection (DSIR) -----------------
# Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling" (NeurIPS) — the published method for picking pretraining
# documents that LOOK LIKE a target domain: estimate target (p) and
# raw-pool (q) distributions over hashed n-gram features, weight every
# raw document by its summed log importance ratio
# sum_tokens log2(p_b/q_b), and resample by weight. The contract
# variant is the deterministic temperature->0 limit (top-k by weight,
# doc_id tie-break) — a production sampler adds per-doc Gumbel noise
# to the same logw column (one extra expression; RNG is banned from
# the oracle contract). Features here are hashed token unigrams
# (DSIR_B buckets via the shared cross-engine term hash); the paper's
# unigram+bigram space is the same plan shape with one more transform
# over the token-tail zip (doc_bigrams precedent).
#
# Scale shape — fit-small then score-as-projection (the charlm /
# lang_id / ngram_quality pattern): the fit is ONE map-side-combined
# count to <= 2 x DSIR_B rows (never corpus-scale; collected like
# every bounded model); log2 runs DRIVER-side once per bucket and is
# det-rounded AT THE MODEL (DSIR_ROUND decimals, scaled longs), so
# the per-doc score is an exact integer in-array fold over a
# DSIR_B-long literal — no explode, no join, no per-doc shuffle in
# the scoring pass. Selection is orderBy+limit ->
# TakeOrderedAndProject (per-partition heaps; no corpus-scale
# unpartitioned window), with the rank derived AFTER the limit over
# <= DSIR_TOP_K rows (the bm25_rank pattern). The target slice is the
# CONTAM_BENCH_SOURCE convention shared with contamination /
# span_decontam: the held-out domain the pipeline already declares.
DSIR_B = 512  # hashed feature buckets (paper: 10^4 for uni+bigram)
DSIR_TOP_K = 20  # selected docs
DSIR_ROUND = 6  # det-round decimals of each per-bucket log2 at the model


def _fit_dsir_weights(docs: DataFrame) -> list[int]:
    """One count job to <= 2 x DSIR_B (is_target, bucket) rows ->
    dense scaled log-ratio table: w[b] = floor(log2(p_hat_b)*1e6+0.5)
    - floor(log2(q_hat_b)*1e6+0.5), add-one smoothed over DSIR_B
    buckets. Python's libm log2 is the same one the DuckDB oracle
    calls (the charlm model pin), and each log is floored to scaled
    longs separately so the difference is exact integer math."""
    import math

    b = F.explode(
        F.transform(
            T.tokens_col(), lambda t: T.term_hash_fn(t) % F.lit(DSIR_B)
        )
    ).alias("b")
    rows = (
        docs.select(
            (F.col("source") == CONTAM_BENCH_SOURCE).alias("is_target"), b
        )
        .groupBy("is_target", "b")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    pc: dict[int, int] = {}
    qc: dict[int, int] = {}
    for r in rows:
        (pc if r["is_target"] else qc)[r["b"]] = r["c"]
    pt, qt = sum(pc.values()), sum(qc.values())
    scale = float(10**DSIR_ROUND)

    def slog(c: int, tot: int) -> int:
        return int(
            math.floor(
                math.log2((c + 1) / float(tot + DSIR_B)) * scale + 0.5
            )
        )

    return [
        slog(pc.get(i, 0), pt) - slog(qc.get(i, 0), qt)
        for i in range(DSIR_B)
    ]


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-DSIR_TOP_K raw documents by DSIR importance weight toward
    the CONTAM_BENCH_SOURCE target domain: (rk, doc_id, source, n_tok,
    logw). Raw pool = every non-target source; target docs are the
    domain sample, never selection candidates."""
    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    table = memo(
        spark,
        f"dsir_weights_{DSIR_B}",
        lambda: _fit_dsir_weights(docs),
        sf_dir,
    )
    # ONE py4j call for the whole literal (digits-only, so the inline
    # array() is injection-safe — the _charlm_score_dense precedent).
    # The F.array(*[F.lit(v).cast(...)]) form issued ~3 py4j
    # round-trips per slot = ~1.3 s of DRIVER time per build at
    # DSIR_B=512 (measured r20: build 1.36 s vs 0.5 s execute — the
    # bench times warm build + execute, and a real cluster pays plan
    # construction per job the same way). Catalyst constant-folds both
    # forms to the identical array literal; the executed plan is
    # byte-identical (plans/r20/dsir_select_{before,after}.txt).
    wlit = F.expr(
        "array(" + ",".join(f"{int(v)}L" for v in table) + ")"
    )
    toks = T.tokens_col()
    per = docs.filter(F.col("source") != CONTAM_BENCH_SOURCE).select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.element_at(
                wlit,
                (T.term_hash_fn(t) % F.lit(DSIR_B) + F.lit(1)).cast("int"),
            ),
        ).alias("ss"),
    )
    topk = per.orderBy(F.col("ss").desc(), "doc_id").limit(DSIR_TOP_K)
    w = W.orderBy(F.col("ss").desc(), "doc_id")
    return (
        topk.withColumn("rk", F.row_number().over(w))
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "doc_id",
            "source",
            "n_tok",
            (F.col("ss").cast("double") / float(10**DSIR_ROUND)).alias(
                "logw"
            ),
        )
        .transform(total_order, "rk")
    )


def _dsir_select_sql() -> str:
    s = float(10**DSIR_ROUND)
    return f"""
WITH tok AS (
  SELECT doc_id, source, (source = '{CONTAM_BENCH_SOURCE}') AS is_target,
         unnest(string_split(lower(text), ' ')) AS term
  FROM documents WHERE text IS NOT NULL
),
bt AS (
  SELECT doc_id, source, is_target,
         ({T.sql_term_hash('term')}) % {DSIR_B} AS b
  FROM tok
),
cnt AS (
  SELECT b,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS pc,
         SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS qc
  FROM bt GROUP BY b
),
tot AS (SELECT SUM(pc) AS pt, SUM(qc) AS qt FROM cnt),
w AS (
  SELECT b,
    CAST(floor(log2((pc + 1) / CAST(pt + {DSIR_B} AS DOUBLE)) * {s} + 0.5)
         AS BIGINT)
    - CAST(floor(log2((qc + 1) / CAST(qt + {DSIR_B} AS DOUBLE)) * {s} + 0.5)
           AS BIGINT) AS ws
  FROM cnt CROSS JOIN tot
),
pd AS (
  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tok, SUM(ws) AS ss
  FROM bt JOIN w USING (b)
  WHERE NOT is_target
  GROUP BY doc_id, source
)
SELECT CAST(row_number() OVER (ORDER BY ss DESC, doc_id) AS BIGINT) AS rk,
       doc_id, source, n_tok, CAST(ss AS DOUBLE) / {s} AS logw
FROM pd
ORDER BY rk
LIMIT {DSIR_TOP_K}
"""


DSIR_SELECT_SQL = _dsir_select_sql()


# --- winnow_fp: robust-winnowing fingerprint audit -----------------------------
# Schleimer/Wilkerson/Aiken 2003 ("Winnowing: Local Algorithms for
# Document Fingerprinting" — the MOSS sketch): hash every token
# K-gram, slide a window of WINNOW_W consecutive hashes, keep each
# window's MINIMUM — a locally-decidable fingerprint set with BOTH
# guarantees the fixed-stride span sketch lacks: any shared token run
# of length >= WINNOW_W + WINNOW_K - 1 is detected regardless of
# alignment, and the expected density is bounded (~2/(W+1) of the
# k-grams), so the sketch size is a tunable fraction of the corpus
# independent of document layout. Complements doc_fingerprint (one
# whole-doc hash: equality only), span_dedup (fixed-hop spans: stride
# alignment can miss short matches), and minhash_lsh (set-similarity,
# no locality). Docs with >= 1 k-gram but fewer than W of them keep
# the single whole-doc minimum (the standard short-doc degeneration).
#
# Scale shape: the k-gram hashes and the window minima are PER-DOC
# in-array expressions (transform over sequence + slice/array_min —
# O(len x W) integer ops, no explode until the selected fingerprints,
# which are the ~2/(W+1)-DENSITY subsample); the only shuffle is the
# per-source distinct-count aggregate over (source, fp). Dedup of
# selected minima is BY VALUE (array_distinct), the usual audit
# simplification of position-set winnowing — both engines apply it
# identically.
WINNOW_K = 3  # token k-gram width
WINNOW_W = 4  # winnowing window (guarantee: runs >= W+K-1 = 6 tokens)


def winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winnowing-sketch audit: (source, n_docs, n_fp,
    n_distinct_fp, fp_per_kgram_ppm) — sketch size, cross-doc
    redundancy, and measured density vs the ~2/(W+1) expectation."""
    docs = spread(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )

    # EVALUATE-ONCE binding (the shingles_col idiom): Catalyst's
    # CollapseProject inlines a projected array column into every
    # lambda-body reference and does NOT common-subexpression-
    # eliminate into HOFs — a naive hs column re-evaluates the whole
    # k-gram hash chain PER WINDOW POSITION, O(len^2) per doc with the
    # char fold inside (measured: 500 docs took 52 s). Binding tokens
    # and then the hash array as transform-lambda VARIABLES
    # (element_at(transform(array(x), f), 1)) materializes each
    # exactly once per doc; every window then slices a materialized
    # array. The per-doc output is transform(fps, f -> struct(
    # n_kgrams, f)) so ONE explode carries both the fingerprints and
    # the per-doc k-gram total (no second scan, no join).
    def _winnow_fps(hs):
        # window minimum as least() over W direct element accesses —
        # no per-position slice allocation (array_min(slice(...))
        # allocates a W-array per window; measured above the
        # element_at form at the 10x tier)
        m = F.size(hs)
        return F.when(
            m >= WINNOW_W,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), m - (WINNOW_W - 1)),
                    lambda j: F.least(
                        *[
                            F.element_at(hs, j + F.lit(k))
                            for k in range(WINNOW_W)
                        ]
                    ),
                )
            ),
        ).otherwise(F.array(F.array_min(hs)))

    def _over_token_hashes(th):
        # k-gram hash = polynomial combination of the PER-TOKEN hashes
        # (fold(acc*131 + h_tok) mod P, the same base/modulus as the
        # char fold): each text byte is hashed ONCE instead of
        # WINNOW_K times through overlapping k-gram strings, and no
        # per-k-gram string is ever allocated — th is a materialized
        # long array, so each k-gram costs K element_at + K
        # multiply-mods. Replayed verbatim in the oracle SQL.
        def kgram_at(i):
            h = F.element_at(th, i)
            for j in range(1, WINNOW_K):
                h = (h * F.lit(TERM_HASH_BASE) + F.element_at(th, i + j)) % F.lit(
                    HASH_P
                )
            return h

        # The k-gram chain must be TOTAL, not merely row-filtered: the
        # posexplode's inferred non-empty-output predicate evaluates
        # this whole expression inside the scan-side Filter, BEFORE
        # the size(tokens) >= K row filter is guaranteed to have
        # pruned short docs (codegen subexpression elimination shares
        # one evaluation). On a < K-token doc the unguarded
        # sequence(1, size-K+1) DESCENDS through 0 and
        # element_at(th, 0) aborts the whole job under either ANSI
        # setting — so guard with a lazy CASE WHEN (CaseWhen branches
        # evaluate per-row, only when taken) instead of relying on
        # filter ordering. Short docs still never reach the output
        # (the row filter stands); the guard only makes evaluation
        # on them safe.
        hs = F.when(
            F.size(th) >= WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), F.size(th) - (WINNOW_K - 1)),
                kgram_at,
            ),
        ).otherwise(F.array().cast("array<long>"))
        inner = F.transform(
            F.array(hs),
            lambda h: F.transform(
                _winnow_fps(h),
                lambda f: F.struct(
                    F.size(h).alias("n_kgrams"), f.alias("f")
                ),
            ),
        )
        return F.element_at(inner, 1)

    def _over_toks(t):
        th = F.transform(t, T.term_hash_fn)
        return F.element_at(
            F.transform(F.array(th), _over_token_hashes), 1
        )

    rows = F.element_at(
        F.transform(F.array(T.tokens_col()), _over_toks), 1
    )
    per = (
        docs.filter(F.size(T.tokens_col()) >= WINNOW_K)
        .select("doc_id", "source", rows.alias("rows"))
        .select(
            "doc_id", "source", F.posexplode("rows").alias("pos", "s")
        )
        .select(
            "doc_id",
            "source",
            "pos",
            F.col("s.n_kgrams").alias("n_kgrams"),
            F.col("s.f").alias("f"),
        )
    )
    first = F.col("pos") == 0
    return (
        per.groupBy("source")
        .agg(
            F.sum(F.when(first, 1)).cast("bigint").alias("n_docs"),
            F.count("*").alias("n_fp"),
            F.countDistinct("f").alias("n_distinct_fp"),
            F.sum(F.when(first, F.col("n_kgrams")))
            .cast("bigint")
            .alias("n_kgrams"),
        )
        .select(
            "source",
            "n_docs",
            "n_fp",
            "n_distinct_fp",
            # density vs the paper's ~2/(W+1) expectation, integer ppm
            F.expr("n_fp * 1000000 div n_kgrams")
            .cast("bigint")
            .alias("fp_per_kgram_ppm"),
        )
        .transform(total_order, "source")
    )


def _winnow_fp_sql() -> str:
    h = "th[i]"
    for j in range(1, WINNOW_K):
        h = f"(({h}) * {TERM_HASH_BASE} + th[i + {j}]) % {HASH_P}"
    return f"""
WITH d AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS l
  FROM documents WHERE text IS NOT NULL
),
t AS (
  SELECT doc_id, source,
         list_transform(l, tok -> {T.sql_term_hash('tok')}) AS th
  FROM d WHERE len(l) >= {WINNOW_K}
),
kg AS (
  SELECT doc_id, source,
         list_transform(range(1, len(th) - {WINNOW_K - 1} + 1),
                        i -> {h}) AS hs
  FROM t
),
fp AS (
  SELECT doc_id, source, len(hs) AS n_kgrams,
         CASE WHEN len(hs) >= {WINNOW_W}
              THEN list_distinct(list_transform(
                     range(1, len(hs) - {WINNOW_W - 1} + 1),
                     j -> least({", ".join(
                         f"hs[j + {k}]" for k in range(WINNOW_W)
                     )})))
              ELSE [list_min(hs)] END AS fps
  FROM kg
),
ex AS (
  SELECT doc_id, source, n_kgrams,
         unnest(fps) AS f,
         unnest(range(1, len(fps) + 1)) AS pos
  FROM fp
)
SELECT source,
       CAST(SUM(CASE WHEN pos = 1 THEN 1 END) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_fp,
       CAST(COUNT(DISTINCT f) AS BIGINT) AS n_distinct_fp,
       CAST(COUNT(*) * 1000000 //
            SUM(CASE WHEN pos = 1 THEN n_kgrams END)
            AS BIGINT) AS fp_per_kgram_ppm
FROM ex GROUP BY source ORDER BY source
"""


WINNOW_FP_SQL = _winnow_fp_sql()


CORPUS_QUERIES: list[DeclaredQuery] = [
    DeclaredQuery(
        "winnow_fp",
        winnow_fp,
        WINNOW_FP_SQL,
        "robust-winnowing (MOSS) fingerprint sketch audit per source",
    ),
    DeclaredQuery(
        "dsir_select",
        dsir_select,
        DSIR_SELECT_SQL,
        "DSIR importance-resampling selection toward the bench domain",
        eager=True,  # bucket log-ratio model fit runs a job at build time
    ),
    DeclaredQuery(
        "ngram_quality",
        ngram_quality,
        NGRAM_QUALITY_SQL,
        "hashed word-bigram quality classifier (fastText/CCNet-style)",
        eager=True,  # bucket-weight model fit runs a job at build time
    ),
    DeclaredQuery(
        "temperature_mix",
        temperature_mix,
        TEMPERATURE_MIX_SQL,
        "temperature-scaled (alpha=0.5) deterministic source sampling",
    ),
    DeclaredQuery(
        "charlm_score",
        charlm_score,
        CHARLM_SCORE_SQL,
        "char-bigram LM bits-per-transition quality scoring (CCNet-style)",
        eager=True,  # bigram-count model fit runs a job at build time
    ),
    DeclaredQuery(
        "ccnet_buckets",
        ccnet_buckets,
        CCNET_BUCKETS_SQL,
        "CCNet per-language perplexity head/middle/tail tercile split",
        eager=True,  # shares charlm's memoized bigram-model fit job
    ),
    DeclaredQuery(
        "shard_manifest",
        shard_manifest,
        SHARD_MANIFEST_SQL,
        "deterministic output-shard assignment + balance manifest",
    ),
    DeclaredQuery(
        "pii_scrub",
        pii_scrub,
        PII_SCRUB_SQL,
        "PII detection + redaction audit (email/IPv4/phone)",
    ),
    DeclaredQuery(
        "length_hist",
        length_hist,
        LENGTH_HIST_SQL,
        "log2-bucketed doc-length histogram (dataset card)",
    ),
    DeclaredQuery(
        "embedding_stats",
        embedding_stats,
        EMBEDDING_STATS_SQL,
        "per-label vector norm/dim audit (vector dataset card)",
    ),
    DeclaredQuery(
        "zipf_fit",
        zipf_fit,
        ZIPF_FIT_SQL,
        "per-source Zipf exponent via closed-form OLS on log-log ranks",
    ),
    DeclaredQuery(
        "distinct_kmv",
        distinct_kmv,
        DISTINCT_KMV_SQL,
        "deterministic bottom-k (KMV) distinct-cardinality sketch + audit",
        # fully lazy since r11: no checkpoint, no persist — the two
        # branches share only a map-side projection, so there is
        # nothing to materialize at build time
    ),
]
