"""Pipeline stages shared by the query plans, the release writer and
the streaming ingests: one statement of each rule (near-dup pairs,
quality gate, split and mixing laws, spans, packing, PII redaction,
n-gram classifier, sharding, release membership, PQ helpers) that all
three import downward (functions/operators → stages → plans / release
/ streaming → CLI)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.caches import memo
from etl_wikipedia_updates_spark.functions.deterministic import det_round
from etl_wikipedia_updates_spark.operators import clustering as C
from etl_wikipedia_updates_spark.operators import dedup as D
from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.operators.text import HASH_P
from etl_wikipedia_updates_spark.tables import load_table, spread


def total_order(df: DataFrame, *cols) -> DataFrame:
    """The contract's total ORDER BY, as a single-partition sort.

    A plain ``orderBy`` plans a range exchange, and computing the range
    bounds SAMPLES the child — re-executing the entire upstream plan a
    second time (measured: the final sort nearly doubled the near-dup
    queries). ``repartition(1)`` is a round-robin exchange (no sampling)
    and a single partition satisfies the sort's required distribution,
    so the plan becomes Exchange(1) + in-partition sort. Contract
    outputs are small (a few rows to ~10^5), so the serial sort is
    noise. At 100 TB a large *result* would never be globally sorted at
    all — you write partitioned/sorted files (release.write_sharded) — so
    the total order stays a contract artifact, not a scale path.

    Use with ``DataFrame.transform``:
    ``df.transform(total_order, "k1", "k2")``. Not for orderBy+limit
    top-k queries — those already compile to TakeOrderedAndProject.
    """
    return df.repartition(1).orderBy(*cols)


JACCARD_THRESHOLD = 0.5


# Document-frequency cap for the near-dup shingle universe (q26,
# dedup_clusters/dedup_corpus via _q26_pairs, contamination). A shingle
# shared by more than this many documents carries no near-duplicate
# signal (it's boilerplate: "in the of ...", license headers) but makes
# the inverted-index self-join quadratic in its df — ONE ultra-common
# shingle at web scale produces a candidate block of df^2 pairs. Capping
# df bounds every shingle's pair contribution at CAP^2 and is the
# standard trade in production near-dup pipelines. Semantics: Jaccard
# over the df<=CAP shingle universe — the cap is applied identically in
# the oracle SQL (same constant, same anti-join), so both engines agree
# bit-for-bit. At the test tiers the cap never binds (max df at sf0.1 is
# 14), so results equal uncapped Jaccard there; at 100 TB it is the
# difference between a bounded join and a runaway stage.
SHINGLE_DF_CAP = 1000


def _doc_ids_fit_u32(docs: DataFrame) -> bool:
    """One bounded agg job: True iff every doc_id sits in [0, 2^31)
    so a pair of ids packs losslessly into one signed long. An empty
    or all-NULL id column returns False (nothing to pack; the
    two-column path is trivially fine)."""
    row = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    ).collect()[0]
    mn, mx = row["mn"], row["mx"]
    return mn is not None and mn >= 0 and mx < (1 << 31)


def _q26_pairs(
    spark: SparkSession, sf_dir: str, prefilter_hot: bool | None = None
) -> DataFrame:
    """Unordered (doc_id, doc_id2, jaccard) pairs above threshold —
    shared by q26 (which adds rounding + total order) and
    dedup_clusters (which only needs the edges, so no sort).

    Shape: POSTING-LIST PAIR ENUMERATION, not a self-join. One
    aggregation groups the exploded shingles into a sorted per-(lang,
    term) doc list; the df cap is then a plain size filter, and the
    candidate pairs are enumerated JVM-side from each surviving list
    (nested transform over the sorted array — d1 < d2 by
    construction). Compared with the classic inverted-index self-join
    this computes the explode ONCE instead of once per join side
    (Catalyst's ReuseExchange does not unify the sides' subplans here
    — verified on the physical plan — and AQE stage reuse didn't
    either: 28 runtime stages for the join shape vs ~14 for this one;
    measured ~35% faster end-to-end, identical output).

    ``prefilter_hot``: the one-pass shape builds each posting array
    BEFORE the size filter can drop it, so a single pathological
    shingle (df in the tens of millions on raw web text) would
    materialize its full array in one aggregation buffer. True inserts
    a cheap count-prefilter (map-side partials, tiny hot set
    anti-joined away) so no over-cap array is ever built — the knob to
    flip on corpora with unknown df distribution; semantics identical
    (same cap, same oracle). Deployments flip it without code via
    ``SPARK_GRAFT_NEARDUP_PREFILTER=1`` (the None default reads the
    env), since the registered builders only pass (spark, sf_dir)."""
    if prefilter_hot is None:
        flag = os.environ.get("SPARK_GRAFT_NEARDUP_PREFILTER", "")
        prefilter_hot = flag.strip().lower() not in ("", "0", "false", "no", "off")
    # spread: see cosine_neardup — the shingle explode is the heavy
    # pre-shuffle compute (measured ~2x on this pipeline).
    docs = spread(load_table(spark, sf_dir, "documents"))
    # Pairs on raw shingle strings: a dense-id dictionary costs two
    # extra shuffles (the 100 TB swap to 8-byte keys is a map-side
    # operators.text.term_hash_col). NULL
    # lang never pairs — (lang, term) is a JOIN key in the oracle SQL,
    # where NULL = NULL is false, but only a grouping key here.
    raw = T.doc_shingles(docs).filter(F.col("lang").isNotNull())
    if prefilter_hot:
        hot = (
            raw.groupBy("lang", "term")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > SHINGLE_DF_CAP)
            .select("lang", "term")
        )
        raw = raw.join(hot, ["lang", "term"], "left_anti")
    postings = (
        raw.groupBy("lang", "term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") <= SHINGLE_DF_CAP)
    )
    # Pair-count aggregation key: when every doc_id provably fits an
    # unsigned 32-bit slot, the two ids pack into ONE long
    # (x * 2^32 + y, injective and overflow-free for 0 <= id < 2^31)
    # — the aggregation and its exchange carry one 8-byte key instead
    # of two (UnsafeRow 16 -> 8 key bytes/row, one hash/compare
    # instead of two). Pair occurrences scatter across postings
    # partitions, so map-side partials collapse only ~4x before the
    # wire (r19 stage profile: ~431 MB of enumerated pair rows at the
    # 10x tier) — guide §2.3 "narrower types". Measured at the 10x
    # tier (adjacent pairs): 34.6 -> 24.3 s and 14.0 -> 6.6 s for the
    # pair pipeline. The gate is a memoized one-job (min, max) bound
    # probe — the fit-small pattern (incr_thr precedent); ids past
    # 2^31 (a 100 TB crawl with hash ids) keep the two-column key,
    # same results either way.
    ids_fit_32 = memo(
        spark,
        "doc_id_bounds_u32",
        lambda: _doc_ids_fit_u32(load_table(spark, sf_dir, "documents")),
        sf_dir,
    )
    enum = D.enumerate_sorted_pairs(postings)
    if ids_fit_32:
        inter = (
            enum.select(
                (F.col("x") * F.lit(1 << 32).cast("long") + F.col("y")).alias(
                    "p"
                )
            )
            .groupBy("p")
            .agg(F.count("*").alias("i"))
            .select(
                F.shiftright("p", 32).alias("d1"),
                (F.col("p") % F.lit(1 << 32).cast("long")).alias("d2"),
                "i",
            )
        )
    else:
        inter = enum.groupBy(
            F.col("x").alias("d1"), F.col("y").alias("d2")
        ).agg(F.count("*").alias("i"))
    # per-doc set sizes over the SAME capped universe, from the postings
    sizes = (
        postings.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("i").cast("double") / (
        (F.col("n1") + F.col("n2") - F.col("i")).cast("double")
    )
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select(
            F.col("d1").alias("doc_id"),
            F.col("d2").alias("doc_id2"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


MINHASH_H = 16
MINHASH_BANDS = 4
MINHASH_ROWS = 4
MINHASH_PARAMS = D.hash_params(MINHASH_H)


# Universal integer hash on the stable doc key: reproducible across runs,
# engines, and cluster sizes (stateless per-row math — no shuffle until the
# final audit agg, no RNG). The 100 TB path is the same expression; only
# the audit aggregation shuffles, on (source, split).
SAMPLE_A = 1_103_515_245
SAMPLE_B = 12_345
SAMPLE_BUCKETS = 1_000
SAMPLE_TEST_BUCKETS = 100  # 10% eval holdout


def ubucket_col(a: int, b: int, buckets: int) -> "F.Column":
    """THE universal-hash bucket, (doc_id*a + b) mod HASH_P mod
    buckets, computed as ((doc_id mod HASH_P)*a + b) mod HASH_P — the
    same value for every doc_id by modular identity, but the
    intermediate product stays under 2^62 for ANY int64 id, where the
    naive form overflows int64 once doc_id exceeds ~8.4e9 (Spark with
    ANSI off would wrap silently to a garbage bucket while the DuckDB
    twin raises an overflow error — divergent membership AND a
    crashing oracle at the id scale 100 TB implies). Shared by
    split_col, mix_keep_cond and stratified_sample; sql_ubucket is
    the character-identical oracle twin."""
    d = F.col("doc_id").cast("long") % F.lit(HASH_P)
    return (d * F.lit(a) + F.lit(b)) % F.lit(HASH_P) % F.lit(buckets)


def split_col() -> "F.Column":
    """The train/test hash-split verdict for the current row's doc_id —
    THE split rule, shared by sample_hash and release_members so the
    composed release and the standalone splitter can never diverge."""
    bucket = ubucket_col(SAMPLE_A, SAMPLE_B, SAMPLE_BUCKETS)
    return F.when(bucket < SAMPLE_TEST_BUCKETS, "test").otherwise("train")


# Benchmark-contamination check: training docs sharing >= K distinct
# shingles with any doc of the held-out corpus (source 'src0' plays the
# benchmark). Same inverted-index shape as q26, but a two-corpus join —
# candidates only materialize on shared shingles, never a cross join.
CONTAM_BENCH_SOURCE = "src0"
CONTAM_MIN_SHARED = 3


# Per-doc repetition signals over words and word-bigrams, then a
# keep/drop verdict — the filter family Gopher/MassiveText popularized
# (duplicate-word fraction, most-common-word fraction, most-common-
# 2-gram fraction). Thresholds are tuned to this corpus's synthetic
# vocabulary so both classes are populated; a deployment retunes them
# per corpus, the plan is threshold-independent.
REP_TOPW_MAX = 0.125  # most-common word may cover at most 12.5% of words
REP_TOPB_MAX = 0.05  # most-common bigram at most 5% of bigrams
REP_DUP_MAX = 0.65  # at most 65% of word occurrences may be repeats


def _run_max_sql(arr_sql: str) -> str:
    """Max multiplicity of any element in array expression ``arr_sql``
    (0 on empty): sort, then one fold tracking (prev, current run,
    best run) — the map-side replacement for a count-shuffle + MAX.
    `a.prev = x` is NULL on the first element, so the CASE falls to
    the ELSE and the first run correctly starts at 1."""
    return (
        f"aggregate(array_sort({arr_sql}), "
        "named_struct('prev', CAST(NULL AS STRING), "
        "'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
        "(a, x) -> named_struct('prev', x, "
        "'run', CASE WHEN a.prev = x THEN a.run + 1 "
        "ELSE CAST(1 AS BIGINT) END, "
        "'best', greatest(a.best, CASE WHEN a.prev = x THEN a.run + 1 "
        "ELSE CAST(1 AS BIGINT) END)), "
        "a -> a.best)"
    )


# Per-doc repetition counts as ONE map-side struct (r14 replan — the
# previous shape exploded a tagged word+bigram array into a corpus-wide
# (doc_id, term) count shuffle plus a per-doc re-aggregation; measured
# 2.0-2.5x the oracle three rounds running at sf0.1, and at 100 TB it
# shuffled ~2x the corpus's token stream twice. This form computes the
# same five counts inside one whole-stage-codegen projection — no
# explode, no shuffle — via array_sort + run-max folds; quality_features
# pioneered the shape). The token array is bound as a lambda variable
# (1-element-array trick, see shingles_col) so split() runs once per
# row; bigrams join words with a space, which no token can contain.
_REP_BIGRAMS = (
    "transform(slice(t, 1, size(t) - 1), "
    "(w, i) -> concat(w, ' ', element_at(t, i + 2)))"
)
_REP_COUNTS = (
    "element_at(transform(array(split(lower(text), ' ')), t -> named_struct("
    "'n_words', CAST(size(t) AS BIGINT), "
    "'n_distinct', CAST(size(array_distinct(t)) AS BIGINT), "
    f"'top_w', {_run_max_sql('t')}, "
    "'n_bigrams', CAST(size(t) - 1 AS BIGINT), "
    "'top_b', CASE WHEN size(t) > 1 THEN "
    f"{_run_max_sql(_REP_BIGRAMS)} END"
    ")), 1)"
)


def _rep_signals(r):
    """(dup, topw, topb) from a _REP_COUNTS struct column — the single
    statement of the signal math, shared by the audit projection and
    the join-free quality_keep filter. Single-word docs have no
    bigrams (top_b NULL) — repetition evidence absent, so the bigram
    signal contributes 0, not a drop (the NULL-division coalesce,
    matching the oracle's NULL n_bigrams aggregate)."""
    nw = r["n_words"].cast("double")
    dup = F.lit(1) - r["n_distinct"] / nw
    topw = r["top_w"] / nw
    topb = F.coalesce(
        r["top_b"] / r["n_bigrams"].cast("double"), F.lit(0.0)
    )
    return dup, topw, topb


def _rep_keep_cond(r):
    """The keep verdict as a boolean Column over a _REP_COUNTS struct
    — the single statement both the audit's verdict column and
    quality_keep's filter evaluate. ``r`` must be a REAL column (an
    alias or a lambda variable), never the raw _REP_COUNTS expression:
    the condition extracts six fields, and Catalyst inlines a raw
    expression once PER EXTRACT (measured as a 6x fold blowup —
    use rep_keep_col() when no aliased column exists)."""
    dup, topw, topb = _rep_signals(r)
    return (
        (topw <= REP_TOPW_MAX)
        & (topb <= REP_TOPB_MAX)
        & (dup <= REP_DUP_MAX)
    )


def eval_here(cond: "F.Column") -> "F.Column":
    """Pushdown barrier for an EXPENSIVE predicate — the JVM-expression
    analog of guide-§4.4's ``udf.asNondeterministic()``: PushDownPredicates
    only relocates *deterministic* conditions, so OR-ing the verdict with
    an always-FALSE nondeterministic disjunct (``spark_partition_id() <
    0``) pins the filter where it is written while leaving its value
    bit-equal under 3-valued logic. Without it, Catalyst substitutes
    the verdict's defining expressions through the projection chain and
    pushes the result below spread()'s round-robin exchange onto the
    parquet scan — where (a) the single-row-group test file gives it ONE
    task (measured: 3 x ~0.7 s single-threaded stages in corpus_release)
    and (b) alias substitution re-inlines the _REP_COUNTS fold once per
    extracted field (the 6x blowup _rep_keep_cond documents). At 100 TB
    the scan is already parallel, so keeping the filter one exchange
    above it costs nothing — the rows dropped still never reach a
    shuffle. An OR disjunct with an always-false nondeterministic term,
    NOT an AND conjunct and NOT a WHEN branch: SplitConjunctivePredicates
    peels a deterministic conjunct off and pushes it anyway,
    SimplifyConditionalsInPredicate rewrites ``WHEN c THEN cond`` in
    predicate position into ``c AND cond``, and ``rand() < -1`` is
    constant-folded away by the 4.x out-of-range-rand rule (all three
    measured — each form left the filter at the scan).
    ``spark_partition_id() < 0`` is always false (so ``cond OR it`` is
    bit-equal to ``cond``), costs one int comparison, and is flagged
    nondeterministic, which no current rule folds through."""
    return cond | (F.spark_partition_id() < F.lit(0))


def rep_keep_col() -> "F.Column":
    """The keep verdict as a self-contained Column over ``text``, with
    the counts struct bound ONCE via the 1-element-array trick (the
    lambda variable plays the aliased-column role _rep_keep_cond
    requires), so the six signal extracts read one evaluation instead
    of inlining six copies of the fold."""
    return F.element_at(
        F.transform(F.array(F.expr(_REP_COUNTS)), _rep_keep_cond), 1
    )


def quality_keep(docs: DataFrame) -> DataFrame:
    """``docs`` restricted to the rows the repetition quality gate
    keeps — THE single statement of "quality keep" that every gated
    pipeline stage (the streaming quality/curation ingests and their
    batch twins) routes through, so a change to the verdict contract
    cannot desynchronize streamed sinks from their batch references.
    With the r14 map-side _REP_COUNTS this is a plain filter — no
    self-join on doc_id, no shuffle; the r13 form semi-joined the doc
    frame against its own exploded-count aggregation."""
    return docs.filter(rep_keep_col())


# Deterministic downsampling that equalizes the per-source CHARACTER
# budget (the mixing knob a training run actually balances — token
# share, not document count). rate_s = min_source_chars / chars_s;
# membership is the stateless hash-bucket rule, compared in pure
# integer arithmetic (bucket * chars_s < min_chars * BUCKETS) so no
# floating-point rate ever decides a row. Different LCG constants from
# sample_hash so the two samples are uncorrelated.
MIX_A = 69_069
MIX_B = 1
MIX_BUCKETS = 1_000


def mix_keep_cond(budget_col: str, floor_col: str) -> "F.Column":
    """The all-integer mixing membership rule — keep the row iff
    bucket(doc_id) * budget < floor * BUCKETS. THE rule, shared by
    source_mix and release_members so the composed release and the
    standalone mixer can never diverge."""
    # ubucket_col carries both wrap defenses: the long cast (an int32
    # doc_id column would wrap at 32 bits under ANSI off) and the
    # pre-mod reduction (an int64 id above ~8.4e9 would overflow the
    # naive product) — see its docstring.
    bucket = ubucket_col(MIX_A, MIX_B, MIX_BUCKETS)
    return bucket * F.col(budget_col) < F.col(floor_col) * MIX_BUCKETS


# Temperature mixing law (alpha = 0.5): rate_s = (floor/chars_s)^(1-a)
# = sqrt(floor/chars_s) — the mT5/XLM-R small-source upweighting rule.
# THE rule shared by plans.corpus.temperature_mix and
# release_members(mix_alpha=0.5), kept here beside mix_keep_cond for
# the same never-diverge reason. Only the a=0.5 instantiation is in
# the contract: sqrt/divide/multiply/floor are IEEE-correctly-rounded
# in both engines, so the per-source integer ppm threshold is
# bit-identical cross-engine with zero libm in the membership path (a
# deployment choosing another alpha swaps in pow() and accepts
# engine-local determinism only).
TEMP_ALPHA = 0.5
TEMP_BUCKETS = 1_000_000  # ppm resolution on the keep rate
TEMP_A = 22_695_477  # Borland LCG — public constants, a stream
TEMP_B = 1  # uncorrelated with sample_hash/source_mix


def temp_rate_ppm(chars_col: str, floor_col: str) -> "F.Column":
    """floor(sqrt(floor/chars) * BUCKETS) as an integer ppm threshold;
    0 for a zero-char stratum (nothing to balance toward)."""
    rate = F.sqrt(
        F.col(floor_col).cast("double") / F.col(chars_col).cast("double")
    )
    return (
        F.when(
            F.col(chars_col) > 0,
            F.floor(rate * F.lit(float(TEMP_BUCKETS))).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("rate_ppm")
    )


def temp_keep_cond() -> "F.Column":
    """Per-row temperature membership: integer bucket < the stratum's
    precomputed integer rate_ppm column."""
    return ubucket_col(TEMP_A, TEMP_B, TEMP_BUCKETS) < F.col("rate_ppm")


def temp_rates(budgets: DataFrame) -> DataFrame:
    """(source, chars_q, rate_ppm) from a per-source budgets frame —
    THE temperature model, shared verbatim by release_members
    (mix_alpha=TEMP_ALPHA), the batch temperature_mix rule, and the
    stream-static ingest stage, so no consumer can diverge. The floor
    is the min over strata that HAVE characters (a zero-char stratum
    would otherwise zero every ppm threshold and silently empty the
    whole output).

    The floor rides an unpartitioned WINDOW over the budgets frame,
    not a crossJoin(broadcast(budgets.agg(min))): the agg form plans
    the budgets subtree TWICE (once under the broadcast, once as the
    join's left side), and budgets usually hangs off a full corpus
    scan — in corpus_release_temp the duplicate was a whole extra
    quality-filter pass (r19 optimization round, measured). The
    window's input is the POST-aggregation |sources|-row frame — a
    source catalog, never corpus-scale — so the single-task window is
    a no-op at any SF (declared in UNPARTITIONED_WINDOW_ALLOWLIST).
    min(when(chars_q > 0)) ignores the zero-char strata exactly like
    the old filtered aggregate; on an all-zero frame both forms yield
    a NULL floor and rate 0."""
    floor_w = F.min(
        F.when(F.col("chars_q") > 0, F.col("chars_q"))
    ).over(W.partitionBy())
    return budgets.withColumn("min_chars", floor_w).withColumn(
        "rate_ppm", temp_rate_ppm("chars_q", "min_chars")
    )


def static_temp_rates(docs: DataFrame) -> DataFrame:
    """(source, rate_ppm) fit from a STATIC (source, n_chars) frame —
    the stream-static temperature model for ingest-time mixing. The
    budgets MUST come from a declared static corpus (a prior release
    snapshot, the fixture table) rather than the unbounded stream
    itself: per-row membership is stateless integer math against
    these precomputed thresholds, so every micro-batch applies the
    identical rule no matter how the stream is chopped.

    The fit is MATERIALIZED here — the |sources| result rows are
    collected once and rebuilt as a local DataFrame — so the returned
    frame carries no lineage back to the static corpus. Returning the
    lazy plan instead would re-execute the full static-table
    scan+aggregation inside EVERY foreachBatch broadcast (at 100 TB, a
    whole prior-snapshot scan per micro-batch) while claiming to be
    'fit once'."""
    fitted = temp_rates(
        docs.groupBy("source").agg(F.sum("n_chars").alias("chars_q"))
    ).select("source", "rate_ppm")
    rows = fitted.collect()
    return docs.sparkSession.createDataFrame(
        rows, "source string, rate_ppm long"
    )


def temp_membership(docs: DataFrame, rates: DataFrame) -> DataFrame:
    """Filter ``docs`` to temperature members against a precomputed
    (source, rate_ppm) frame; returns docs' own columns. The rates
    side is |sources| rows — always broadcast.

    A doc whose source is ABSENT from the static model fails loudly
    (raise_error) instead of joining to nothing: with an inner join a
    new crawl source arriving mid-stream would silently vanish from
    the sink — 100% loss for that source with no signal — violating
    the engine's apply-or-fail-loudly rule for curation controls. The
    deployment response is to refit the static model to cover the new
    source, not to guess a rate for it."""
    joined = docs.join(
        F.broadcast(rates.select("source", "rate_ppm")), "source", "left"
    ).withColumn(
        "rate_ppm",
        F.when(F.col("rate_ppm").isNotNull(), F.col("rate_ppm")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "temp_membership: source absent from the static "
                        "temperature model: "
                    ),
                    F.col("source"),
                )
            ).cast("long")
        ),
    )
    return joined.filter(temp_keep_cond()).select(*docs.columns)


# Concat-then-chunk packing (the standard pretraining shape): per
# source, documents concatenate in doc_id order and the token stream
# chunks into fixed SEQ_LEN sequences — no padding except the final
# partial sequence, docs may span a boundary. The audit reports, per
# source, how many sequences the corpus packs into, how many docs get
# split across a boundary, and the fill fraction — the numbers a
# training run sizes its dataloader with.
SEQ_LEN = 512
# Sub-octave bits for the two-phase prefix sum's range bucketing.
# Purely a parallelism knob: the cumulative offsets are exact, so the
# audit's integers are invariant to it. The bucket is
# (bit_length(doc_id), top SUB_BITS+1 bits) — monotone in doc_id with
# NO bounds scan needed (no data-dependent range), at most
# 64 * 2^(SUB_BITS+1) buckets (so the offsets frame stays trivially
# broadcastable at any corpus size), and for dense ids the largest
# bucket holds ~2^-(SUB_BITS+1) of the corpus (~0.1% at 9 bits) —
# thousands of independent tasks for the corpus-side window.
SEQ_PACK_SUB_BITS = 9


def _seq_pack_cum(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tok, cum) — each document's EXCLUSIVE-END
    running token total within its source's doc_id-ordered stream, via
    the two-phase distributed prefix sum. The shared core of _seq_pack
    (which aggregates it into the audit card) and pack_assignments
    (which emits the per-doc sequence map a dataloader consumes), so
    the audit and the assignments can never disagree on packing
    math."""
    # Range-bucket on doc_id via (bit_length, top bits): monotone in
    # doc_id, so per-source concatenation order is preserved across
    # bucket boundaries — see SEQ_PACK_SUB_BITS. bin()/shiftright are
    # exact integer ops (floor(log2()) would wobble a ULP at exact
    # powers of two). Negative ids: bin() is 64-bit two's complement,
    # so every negative lands in octave 64 with a sign-extended
    # (negative, still monotone) top — subtracting a constant larger
    # than any positive bucket value places the whole negative range
    # BELOW the positives while preserving its internal order.
    _w = SEQ_PACK_SUB_BITS + 1
    raw_bkt = F.length(F.bin(F.col("doc_id"))).cast("long") * F.lit(
        1 << _w
    ) + F.expr(
        f"shiftright(doc_id, greatest(length(bin(doc_id)) - {_w}, 0))"
    )
    b = docs.withColumn(
        "bkt",
        F.when(
            F.col("doc_id") < 0, raw_bkt - F.lit(1 << (_w + 8))
        ).otherwise(raw_bkt),
    )
    rep = b.repartition("bkt", "source")
    # subtotal branch: grouping keys == exchange partitioning, so this
    # plans as a co-located aggregate with no further exchange.
    #
    # SHUFFLE-STAGE REUSE (r16): the logical plan holds `rep` as two
    # independent subtree copies (one per branch), so without help the
    # optimizer narrows THIS branch's copy — column pruning drops
    # doc_id (and toks, in packed_sequences) below the exchange, and
    # the probe branch's join pushes an isnotnull(bkt, source) filter
    # the subtotal copy lacks. The copies then canonicalize UNEQUAL
    # and the shuffle — and everything under it: the parquet scan,
    # and in the subword variant the whole BPE encode — runs TWICE
    # per execution. Matching the filter explicitly (output-neutral:
    # null-key groups were never consumed — the probe side's inner
    # join drops those rows anyway) and folding a provably-zero,
    # non-foldable term over each otherwise-pruned column into the
    # subtotal keeps both copies identical, and AQE's stage cache
    # materializes the exchange once. Interleaved A/B at sf0.1 on the
    # encode-carrying variant: 0.85-0.99s -> 0.62-0.72s (min-of-4,
    # both orders). The zero terms: least(0, shiftright(id,63)+1) is
    # 0 for every non-null long; the array term wraps size() in
    # coalesce(·, 0) so it stays exactly 0 for NULL arrays under ANY
    # sizeOfNull/ANSI setting (r16 advice: bare size(a)-size(a) is
    # only zero under legacy sizeOfNull) — neither is constant-folded
    # (a simple coalesce(id,0)*0 WAS folded away, measured r16).
    # TRIPWIRE: tests/test_plans.py::test_prefix_sum_exchange_is_reused
    # pins "ReusedExchange" in the AQE-off plan for every consumer —
    # if a future Spark version constant-folds these guards the copies
    # drift, the pin fails loudly, and the scan/encode would otherwise
    # silently run twice.
    repA = rep.filter(
        F.col("bkt").isNotNull() & F.col("source").isNotNull()
    )
    guard = F.least(
        F.lit(0).cast("long"), F.shiftright(F.col("doc_id"), 63) + F.lit(1)
    )
    for c in docs.columns:
        if c not in ("doc_id", "source", "n_tok"):
            _sz = F.coalesce(F.size(F.col(c)), F.lit(0))
            guard = guard + F.least(F.lit(0), _sz - _sz)
    sub = repA.groupBy("bkt", "source").agg(
        F.sum(F.col("n_tok") + guard).alias("sub")
    )
    wo = (
        W.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # The window's exchange(source) is the right price here, NOT a
    # coalesce(1): coalesce is a NARROW dependency, so placing it above
    # sub would pull the corpus-scale subtotal AGGREGATION itself into
    # one task (sub's OUTPUT is |buckets x sources| rows, but its input
    # is every per-doc row in rep). Measured r14 and reverted the same
    # round by self-review: the ~0.1s barrier saving at sf0.1 is not
    # worth single-tasking a full-corpus aggregate at scale.
    off = sub.select(
        "bkt",
        "source",
        F.coalesce(F.sum("sub").over(wo), F.lit(0)).alias("off"),
    )
    # probe branch: broadcast join preserves the streamed side's
    # partitioning, so the intra-bucket window needs only a sort
    wi = W.partitionBy("bkt", "source").orderBy("doc_id")
    return (
        rep.join(F.broadcast(off), ["bkt", "source"])
        .select(
            # every input column rides through (packed_sequences needs
            # the token array beside the prefix sum; _seq_pack and
            # pack_assignments pass exactly (doc_id, source, n_tok))
            *docs.columns,
            (F.col("off") + F.sum("n_tok").over(wi)).alias("cum"),
        )
    )


def packed_sequences(docs: DataFrame) -> DataFrame:
    """MATERIALIZE the packed stream: one row per fixed-SEQ_LEN
    training sequence — (source, seq_id, n_tokens, text) with text the
    sequence's space-joined tokens in corpus order. The end of the
    packing story: seq_pack audits it, pack_assignments maps docs into
    it, this emits the sequences a dataloader reads (write with
    ``df.write.partitionBy("source")`` or release.write_packed). Only
    each source's final sequence may carry fewer than SEQ_LEN tokens.

    Scale shape — FRAGMENT-level, never token-level: each doc emits
    one row per sequence it overlaps (ceil(n_tok/SEQ_LEN) + 1 worst
    case, i.e. ~n_tok/SEQ_LEN rows per doc instead of n_tok), carrying
    the doc-relative token SLICE map-side (the token array rides the
    prefix-sum exchange as a materialized column, so slicing reads it
    without re-splitting text). The assembly shuffle is keyed on
    (source, seq_id) — high-cardinality and skew-free by construction
    (every group holds <= SEQ_LEN tokens across a handful of
    fragments) — and each sequence concatenates its fragments by
    their global start offset (array_sort on the struct's leading
    field). So the corpus text crosses the wire exactly once, in
    fragments, and no single task ever holds more than a sequence.
    Pytest-verified (round-trip + exact-length properties in
    tests/test_plans.py) AND registered with a token-level DuckDB twin
    (packed_sequences_q / PACKED_SEQUENCES_SQL) since r16, so the gate
    hash-certifies the sequence text bodies alongside the packing
    counts seq_pack/pack_assignments certify."""
    per = _seq_pack_cum(
        docs.filter(F.col("text").isNotNull()).select(
            "doc_id",
            "source",
            F.size(T.tokens_col()).alias("n_tok"),
            T.tokens_col().alias("toks"),
        )
    )
    L = SEQ_LEN
    # each fragment leaves the map side as ONE STRING (array_join of
    # the token slice) plus its token count — not a token array. The
    # assembly shuffle then carries flat strings (no per-element array
    # offsets) and the aggregate sorts/joins a handful of strings per
    # sequence instead of flattening token arrays: measured 1.03 ->
    # 0.79s at sf0.1, bit-identical output (r16 A/B)
    frags = (
        f"transform(sequence((cum - n_tok) div {L}, (cum - 1) div {L}), "
        f"k -> named_struct("
        f"'seq_id', k, "
        f"'fp', greatest(k * {L}, cum - n_tok), "
        f"'nt', CAST(least((k + 1) * {L}, cum) "
        f"- greatest(k * {L}, cum - n_tok) AS BIGINT), "
        f"'frag', array_join(slice(toks, "
        f"CAST(greatest(k * {L} - (cum - n_tok), 0) + 1 AS INT), "
        f"CAST(least((k + 1) * {L}, cum) "
        f"- greatest(k * {L}, cum - n_tok) AS INT)), ' ')))"
    )
    ex = per.select(
        "source", F.explode(F.expr(frags)).alias("f")
    ).select(
        "source",
        F.col("f.seq_id").alias("seq_id"),
        F.col("f.fp").alias("fp"),
        F.col("f.nt").alias("nt"),
        F.col("f.frag").alias("frag"),
    )
    return ex.groupBy("source", "seq_id").agg(
        F.sum("nt").cast("bigint").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("fp"), F.col("frag")))
                ),
                lambda s: s["frag"],
            ),
            " ",
        ).alias("text"),
    )


# Substring-level dedup (the "duplicated 50-token span" operator of
# Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better") targets what shingle-Jaccard misses: two mostly-different
# docs sharing one long verbatim run (boilerplate, quoted passages,
# licence blocks). The suffix-array formulation is inherently serial;
# the Spark-scale shape is HASHED FIXED-WIDTH TOKEN WINDOWS at a
# stride: every HOP-aligned SPAN_W-token window hashes to one 64-bit
# ID (polynomial fold over the stateless per-token term hashes — the
# exact chain the oracle replays), and a window occurrence is
# DUPLICATED iff the same hash occurs in at least one OTHER document.
# The stride trades alignment sensitivity for an explode of n/HOP
# rows per doc instead of n; the audit (per source: span totals, dup
# fraction, affected docs) is what sizes a substring-dedup pass.
SPAN_W = 16  # span width in tokens (Lee et al. use 50; test docs are short)
SPAN_HOP = 8  # window stride


def _span_occurrences(docs: DataFrame) -> DataFrame:
    """(doc_id, source, p, h): one row per HOP-aligned SPAN_W-token
    window of each document — ``p`` the 0-based start offset, ``h``
    the polynomial hash of the window's token-id slice. The shared
    core of span_dedup (audit) and span_removal (excision).

    Scale shape: token->tid hashing and the per-window polynomial
    fold happen INSIDE the token array (transform + aggregate over
    slices — map-side, no per-token explode); the ONE Generate emits
    n_tok/HOP span rows per doc. The tids array is bound as a lambda
    variable (transform over a 1-element array, the shingles_col
    idiom) so the per-token hash runs ONCE per row — referencing a
    tids projection from inside the span lambda would be inlined back
    by CollapseProject and re-hash the whole doc per span position
    (measured ~3x slower at the whole-query level, 2.08 -> 0.71s at
    sf0.1). Docs shorter than SPAN_W carry no spans and are absent
    from the output on both engines."""
    tid = (
        f"aggregate(split(t, ''), 0L, "
        f"(a, c) -> (a * {T.TERM_HASH_BASE} + ascii(c)) % {HASH_P})"
    )
    with_toks = docs.select(
        "doc_id", "source", T.tokens_col().alias("toks")
    ).filter(F.size("toks") >= SPAN_W)
    return with_toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(array(transform(toks, t -> {tid})), tids -> "
                f"transform(sequence(0, size(tids) - {SPAN_W}, {SPAN_HOP}), "
                f"p -> named_struct("
                f"'p', p, "
                f"'h', aggregate(slice(tids, p + 1, {SPAN_W}), 0L, "
                f"(h, x) -> (h * {T.TERM_HASH_BASE} + x) % {HASH_P}))))[0]"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        "source",
        F.col("s.p").alias("p"),
        F.col("s.h").alias("h"),
    )


def _span_removed_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, rmpos): per doc, the sorted array of 0-based token
    positions covered by at least one REMOVED span occurrence. An
    occurrence is removed iff its hash appears in a smaller doc_id
    anywhere in the corpus (min(doc_id) over the h-window < doc_id):
    the minimum-id doc is the canonical owner and keeps its copy —
    including all its internal repeats — every other doc loses the
    span (Lee et al. 2021's train-data dedup, at span rather than doc
    granularity; SURVEY §2.3).

    Scale shape: the h-window is the SAME single corpus shuffle
    span_dedup uses (sort-based, spills); the removed starts then
    shuffle ONCE more on doc_id into a per-doc array whose covered-
    position union is computed map-side inside the array (flatten +
    array_distinct over <= n_tok/HOP starts x SPAN_W offsets per doc
    — bounded by 2x the doc's token count at the default W/HOP).
    Only docs that LOSE at least one span appear in the output."""
    occ = _span_occurrences(docs)
    wh = W.partitionBy("h")
    removed = occ.select(
        "doc_id",
        "p",
        (F.min("doc_id").over(wh) < F.col("doc_id")).alias("rm"),
    ).filter(F.col("rm"))
    return (
        removed.groupBy("doc_id")
        .agg(F.collect_set("p").alias("ps"))
        .select(
            "doc_id",
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            "ps",
                            lambda p: F.sequence(
                                p, p + F.lit(SPAN_W - 1)
                            ),
                        )
                    )
                )
            ).alias("rmpos"),
        )
    )


def remove_dup_spans(docs: DataFrame) -> DataFrame:
    """The cleaned corpus VIEW: every input column, plus text_clean =
    the document's kept tokens rejoined (removed-span tokens excised,
    canonical copies retained). Pure per-row array work after the one
    doc_id join, and LINEAR in the doc: rmpos (sorted distinct
    positions) collapses to its consecutive runs via two vectorized
    neighbor scans (element_at peeks, no fold), the runs complement
    into kept gaps, and text_clean is the gap slices flattened and
    rejoined. An array_contains-per-token filter here would be
    O(n_tok x |rmpos|) — quadratic for a long heavily-duplicated doc
    (a 100k-token boilerplate page is ~10^10 comparisons); the run
    walk is O(n_tok + |rmpos|). The token array is bound ONCE as a
    lambda variable (the shingles_col idiom) so the gap slices read a
    materialized array instead of re-splitting text per gap; rmpos
    needs no such binding (a join attribute, not a recomputed
    expression). No second explode, no per-token shuffle."""
    with_text = docs.filter(F.col("text").isNotNull())
    rm = _span_removed_positions(with_text)
    joined = with_text.join(rm, "doc_id", "left")
    rmp = F.col("rmpos")
    # run boundaries: x at 0-based index i starts a run iff i == 0 or
    # its predecessor isn't x - 1 (element_at is 1-based, so the
    # predecessor of 0-based i is element_at(rmp, i); the greatest()
    # keeps the probe in bounds on the i == 0 branch, whose value the
    # OR ignores). A run ends where the successor peek (element_at at
    # i + 2) is NULL (past the end, ANSI off) or isn't x + 1.
    run_starts = F.filter(
        rmp,
        lambda x, i: (i == 0)
        | (x != F.element_at(rmp, F.greatest(i, F.lit(1))) + 1),
    )
    run_ends = F.filter(
        rmp,
        lambda x, i: F.element_at(rmp, i + 2).isNull()
        | (F.element_at(rmp, i + 2) != x + 1),
    )

    def excised(tk):
        # kept gaps: [0, first_run_start), between-run gaps, and
        # [last_run_end + 1, n_tok) — zipped starts/ends are equal
        # length by construction (runs are disjoint and sorted), and
        # an empty gap slices to an empty array (length clamped >= 0).
        gap_starts = F.concat(
            F.array(F.lit(0)), F.transform(run_ends, lambda e: e + 1)
        )
        gap_ends = F.concat(run_starts, F.array(F.size(tk)))
        return F.array_join(
            F.flatten(
                F.zip_with(
                    gap_starts,
                    gap_ends,
                    lambda a, b: F.slice(
                        tk, a + 1, F.greatest(b - a, F.lit(0))
                    ),
                )
            ),
            " ",
        )

    cleaned = F.when(rmp.isNull(), F.col("text")).otherwise(
        F.transform(F.array(T.tokens_col()), excised)[0]
    )
    return joined.withColumn("text_clean", cleaned).drop("rmpos")


def release_members(
    spark: SparkSession,
    sf_dir: str,
    mix_alpha: float | None = None,
    quality_classifier: bool = False,
    decontam_spans: bool = False,
) -> DataFrame:
    """The released doc set — (source, split, doc_id, n_chars), one row
    per surviving document. Shared by corpus_release (which aggregates
    the audit card) and release.write_release (which joins text back on
    and materializes the corpus through SnapshotTable).

    ``mix_alpha`` selects the mixing law: None (default) is the
    all-integer character-budget equalization (source_mix's rule,
    alpha = 0); 0.5 is the temperature law (temperature_mix's rule —
    small sources upweighted, the sqrt form whose integer ppm
    threshold is bit-portable cross-engine). Other alphas are refused:
    their pow() thresholds are engine-local (see temp_rate_ppm).

    ``quality_classifier=True`` composes the hashed-n-gram classifier
    (ngram_doc_scores — the ngram_quality query's exact
    fit+score core) into the quality gate as a STRICT second stage:
    docs scoring below NGQ_HI_PPM are dropped after the repetition
    verdict and before dedup survivorship + mixing, so the budgets and
    splits recompute over the classifier-surviving set (the audit card
    stays internally consistent by construction). Docs with no bigram
    features carry no classifier evidence and pass (anti-join on the
    LOW scorers, not semi-join on the high). Off by default — the
    registered corpus_release contract is unchanged.

    ``decontam_spans=True`` composes exact-substring benchmark
    decontamination (the span_decontam rule: one verbatim SPAN_W-token
    run shared with the CONTAM_BENCH_SOURCE stratum drops the doc)
    into the same pre-mixing stage, so budgets and splits recompute
    over the decontaminated set. The bench stratum itself is not
    touched (release membership for the held-out slice is the
    caller's policy, not this filter's). Off by default."""
    pairs = _q26_pairs(spark, sf_dir).select("doc_id", "doc_id2")
    labels = D.connected_components(pairs)
    dropped = labels.filter(F.col("cluster_id") != F.col("doc_id")).select(
        "doc_id"
    )
    docs = spread(load_table(spark, sf_dir, "documents"))
    # The quality gate as a DIRECT filter on rep_keep_col() — identical
    # verdict to _rep_per_doc + filter(verdict == 'keep') (same counts
    # struct, same keep condition, same NULL handling: a NULL verdict
    # and a NULL filter both drop) — wrapped in eval_here so the
    # expensive predicate is evaluated ONCE, above spread()'s exchange.
    # The r18 shape filtered on the projected `verdict` column, and
    # predicate pushdown substituted it through the projection chain
    # down to the single-partition scan, re-inlining the _REP_COUNTS
    # fold once per extracted field: 6 fold copies x 1 task x 3 plan
    # branches (measured ~0.7 s single-threaded per branch at sf0.1).
    # rep_keep_col binds the struct once (1 fold copy, verified in the
    # plan) and the barrier keeps it on the 16-way-spread side.
    kept = (
        docs.filter(F.col("text").isNotNull())
        .filter(eval_here(rep_keep_col()))
        .select("source", "doc_id", "n_chars")
        .join(dropped, "doc_id", "left_anti")
    )
    if quality_classifier:
        scored = docs.filter(F.col("text").isNotNull())
        # fetch the classifier weights through the SAME memo key
        # ngram_quality uses (r15 advice): the fit is a pure function
        # of (sf_dir, bucket count), so a session that builds both
        # pays it once, and this builder stays lazy on a warm cache
        # instead of collecting the full-corpus fit at plan-BUILD time
        weights = memo(
            spark,
            f"ngq_weights_{NGQ_BUCKETS}",
            lambda: fit_ngram_weights(scored),
            sf_dir,
        )
        low = (
            ngram_doc_scores(scored, weights)
            .filter(F.col("score_ppm") < NGQ_HI_PPM)
            .select("doc_id")
        )
        kept = kept.join(low, "doc_id", "left_anti")
    if decontam_spans:
        # contaminated = any train doc sharing >= 1 exact span with
        # the bench stratum (span_decontam's contam_doc > 0 set); the
        # bench span set is bounded, so the probe broadcasts and the
        # corpus side stays map-side — same asymmetry as the audit
        bench_h = (
            _span_occurrences(
                docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
            )
            .select("h")
            .distinct()
        )
        contaminated = (
            _span_occurrences(
                docs.filter(F.col("source") != CONTAM_BENCH_SOURCE)
            )
            .join(F.broadcast(bench_h), "h")
            .select("doc_id")
            .distinct()
        )
        kept = kept.join(contaminated, "doc_id", "left_anti")
    budgets = kept.groupBy("source").agg(F.sum("n_chars").alias("chars_q"))
    if mix_alpha is None:
        # window floor over the |sources|-row budgets frame — the agg
        # + crossJoin(broadcast) form planned the budgets subtree (and
        # with it the whole quality-filter scan) TWICE; see temp_rates
        rates = budgets.withColumn(
            "min_chars", F.min("chars_q").over(W.partitionBy())
        )
        mixed = kept.join(F.broadcast(rates), "source").filter(
            mix_keep_cond("chars_q", "min_chars")
        )
    elif mix_alpha == TEMP_ALPHA:
        # the shared temperature model (zero-char-stratum guard
        # included) — the same temp_rates the ingest-time stage fits
        # from a static frame, so release and stream cannot diverge
        mixed = kept.join(F.broadcast(temp_rates(budgets)), "source").filter(
            temp_keep_cond()
        )
    else:
        raise ValueError(
            f"mix_alpha={mix_alpha!r}: only None (budget equalization) "
            f"and {TEMP_ALPHA} (bit-portable temperature law) are "
            "contract mixing rules"
        )
    return mixed.select(
        "source", split_col().alias("split"), "doc_id", "n_chars"
    )


def release_audit(members: DataFrame) -> DataFrame:
    """The audit card over a (source, split, doc_id, n_chars) member
    frame — split out so release.write_release can aggregate the SAME
    (persisted) members it materializes instead of rebuilding the
    pipeline twice."""
    return (
        members.groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .transform(total_order, "source", "split")
    )


N_SHARDS = 16
SHARD_A = 1_664_525  # Numerical Recipes LCG — public constants,
SHARD_B = 1_013_904_223  # a third stream uncorrelated with split/mix


def shard_assign_col(n_shards: int = N_SHARDS):
    """The writer's repartition key: stateless per-row integer math —
    any cluster size reproduces the same doc -> shard assignment.
    ``n_shards`` is THE scale dial: the one-file-per-shard layout
    means shard count == write parallelism == file size divisor, so a
    100 TB release raises it (e.g. 10k shards of ~10 GB) while the
    registered shard_manifest query pins N_SHARDS=16 for the oracle."""
    return ubucket_col(SHARD_A, SHARD_B, n_shards)


def manifest_of(docs: DataFrame) -> DataFrame:
    """Per-shard manifest over a (doc_id, source, n_chars, shard)
    frame — shared verbatim by the planning query (shard_manifest) and
    the post-write verifier (release.verify_sharded recomputes THIS
    aggregation from the files the writer produced), so the plan and
    the audit can never diverge."""
    shards = docs.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
        F.sum("doc_id").alias("id_checksum"),
        F.countDistinct("source").alias("n_sources"),
    )
    # Corpus totals as window sums over the POST-aggregation shards
    # frame (N_SHARDS rows, catalog-bounded — allowlisted in
    # explain_audit), not docs.agg(...) crossJoined in: the agg form
    # plans the docs subtree twice (r19's temp_rates lesson, applied
    # here by the r19 verdict). Equivalence: shard assignment is total
    # (stateless integer math on doc_id), so sum(n_docs) over shards ==
    # count(*) over docs, and sum/ignore-NULL of the per-shard sums ==
    # the global sums; an empty docs frame is empty either way (the
    # old crossJoin of an empty left side was also empty).
    totals_w = W.partitionBy()
    return (
        shards.withColumn(
            "total_docs", F.sum("n_docs").over(totals_w)
        )
        .withColumn(
            "total_chars", F.sum("n_chars_total").over(totals_w)
        )
        .select(
            "shard",
            "n_docs",
            F.col("n_chars_total").cast("bigint").alias("n_chars_total"),
            F.col("id_checksum").cast("bigint").alias("id_checksum"),
            "n_sources",
            det_round(
                F.col("n_docs").cast("double")
                / F.col("total_docs").cast("double"),
                6,
            ).alias("doc_share"),
            det_round(
                F.col("n_chars_total").cast("double")
                / F.col("total_chars").cast("double"),
                6,
            ).alias("char_share"),
        )
        .transform(total_order, "shard")
    )


# The standard curation stage the fixture corpus happens not to need
# (synthetic lorem text carries no PII — the per-source rows are
# all-zero there) but a web corpus always does; the regex semantics are
# pinned by tests/test_corpus.py over a fixture that DOES carry PII.
# Patterns live in the Java-regex/RE2 COMMON SUBSET (character classes,
# bounded quantifiers, \b, \d — no backreferences, no lookaround), so
# Spark and DuckDB match identically; parity over emails / IPs / phone
# forms is probed in the test. Spark-side patterns go through the
# Column API (F.lit), never an F.expr SQL literal — Spark SQL string
# literals eat backslashes, DuckDB's don't, and a pattern embedded in
# both dialects' source text is exactly how the engines drift apart.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{1,3}[ -]?\d{6,12}"  # E.164-ish: +CC then 6-12 digits
_PII_TAGS = [(PII_EMAIL, "<EMAIL>"), (PII_IPV4, "<IP>"), (PII_PHONE, "<PHONE>")]


def pii_redacted_col(col: str) -> "F.Column":
    """THE redaction expression — every PII match replaced by its
    class tag, in _PII_TAGS order. The single construction point for
    pii_scrub (audit), pii_redact (applied transform) and therefore
    the streaming curation stage: the audited chain and the applied
    chain are one object, not two copies."""
    red = F.col(col)
    for pat, tag in _PII_TAGS:
        red = F.regexp_replace(red, F.lit(pat), F.lit(tag))
    return red


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """THE redaction transform: every PII match replaced by its class
    tag, n_chars refreshed when present. Shared by the pii_scrub audit
    (same pii_redacted_col chain) and the streaming curation ingest's
    optional stage 0 (streaming/decontam.py, redact_pii=True) so the
    audited expression and the applied expression can never diverge.
    Stateless map-side projection — streams under any batching; NULL
    text stays NULL (regexp_replace of NULL), its n_chars becomes 0
    (the fixture convention)."""
    out = docs.withColumn(text_col, pii_redacted_col(text_col))
    if "n_chars" in docs.columns:
        out = out.withColumn(
            "n_chars",
            F.coalesce(F.length(text_col), F.lit(0)).cast(
                docs.schema["n_chars"].dataType
            ),
        )
    return out


# The fastText-style linear quality classifier (Joulin et al. 2016 bag
# of hashed n-gram features; the CCNet/GPT-3-style "quality classifier"
# companion to charlm_score's perplexity signal): word-bigram shingles
# hash into a fixed feature space, each bucket learns a keep-affinity
# weight from a weak label, and a document scores as the mean weight of
# its features. Everything is corpus-fit and label-self-supervised: the
# weak label is the Gopher repetition verdict (plans.northstar's
# _rep_keep_cond — a map-side expression since r14), the standard
# bootstrap when no human labels exist.
#
# Determinism: weights are integer ppm (floor(keep_grams * 1e6 /
# total_grams) via integer division — Spark `div`, DuckDB `//`, both
# truncating on non-negatives), scores are integer ppm means — zero
# libm, zero float divisions across the oracle hash.
#
# Scale shape (r15 replan — the r14 shape persisted the exploded
# per-gram stream and ran a 5-barrier fit/join/score ladder; the
# barrier decomposition showed each stage paying the fixed per-job
# floor while the actual compute measured ~0.05s): the "fit" is ONE
# job — gram explode onto the FIXED key space with map-side partials,
# so at most NGQ_BUCKETS x partitions rows shuffle — whose 4096-row
# result is COLLECTED (bounded-model state, the charlm charset² /
# lang_id top-terms pattern) and re-bound as an array literal; scoring
# is then a PURE MAP-SIDE fold over each doc's shingle array (weight
# lookup by element_at into the folded constant), so the score pass
# has no join, no explode, and no shuffle before the consumer's own
# aggregation. Nothing persists — the advice-flagged corpus x bigrams
# cache is gone; the only retained state is the 4096-int weight list.
NGQ_BUCKETS = 4096
NGQ_HI_PPM = 500_000  # "leans keep": mean bucket affinity above 50%


def fit_ngram_weights(docs: DataFrame) -> list[int]:
    """Fit the classifier: the per-bucket keep-affinity weights (ppm)
    as a plain NGQ_BUCKETS-long integer list — ONE job (gram explode
    with map-side partials onto the fixed bucket space, collect).

    Bounded-model argument for the collect: the key space is the
    FIXED 4096-bucket feature space, independent of corpus size or
    vocabulary — exactly the charlm charset²-counts / lang_id
    top-terms pattern. Buckets no corpus gram hashes into keep weight
    0; they are unreachable by any scorer fed the same corpus (its
    gram stream is the fit's gram stream), and a cross-corpus caller
    scores an unseen-bucket gram as 0 ("no keep evidence")."""
    # The label rides INSIDE the exploded values: Catalyst pulls a
    # generator-independent projection ABOVE the Generate, which would
    # re-run the whole repetition fold once per GRAM row (measured 13x
    # before this shape); packing (g, keep) structs per doc evaluates
    # the label once and replicates it as a VALUE.
    pairs = F.element_at(
        F.transform(
            F.array(
                F.struct(
                    rep_keep_col().cast("int").alias("ks"),
                    T.shingles_col(k=2).alias("sh"),
                )
            ),
            lambda s: F.transform(
                s["sh"],
                lambda g: F.struct(g.alias("g"), s["ks"].alias("keep")),
            ),
        ),
        1,
    )
    rows = (
        docs.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.keep").alias("keep"),
            (T.term_hash_fn(F.col("p.g")) % NGQ_BUCKETS).alias("b"),
        )
        .groupBy("b")
        .agg(
            F.expr("sum(keep) * 1000000 div count(*)")
            .cast("bigint")
            .alias("w_ppm")
        )
        .collect()
    )
    weights = [0] * NGQ_BUCKETS
    for r in rows:
        weights[r["b"]] = r["w_ppm"]
    return weights


def ngram_score_sql(weights: list[int]) -> str:
    """The map-side scorer as ONE Spark-SQL text (single parse — the
    doc_nsub_col plan-build lesson; the Column-lambda form of the same
    fold measured ~0.3s of py4j per build): mean fitted bucket weight
    over the doc's distinct word-bigram shingles, NULL when the doc
    has no bigram features. The weight table is inlined as a 4096-int
    array literal (constant-folded once by Catalyst) and each gram
    looks its weight up via element_at after the shared term-hash
    fold — no join, no explode, no shuffle. The token array and the
    shingle array are each bound ONCE as a lambda variable (the
    shingles_col idiom); the hash and shingle constructions replay
    T.shingles_col(k=2) / T.term_hash_fn exactly (pinned by
    tests/test_corpus.py's scorer-equivalence test)."""
    warr = "array(" + ",".join(f"{int(x)}L" for x in weights) + ")"
    ghash = (
        f"aggregate(split(g, ''), 0L, "
        f"(h, c) -> (h * {T.TERM_HASH_BASE} + ascii(c)) % {HASH_P})"
    )
    tot = (
        f"aggregate(sh, 0L, (a, g) -> a + element_at({warr}, "
        f"CAST(({ghash}) % {NGQ_BUCKETS} + 1 AS INT)))"
    )
    shingles = (
        "CASE WHEN size(tk) >= 2 THEN array_distinct("
        "transform(sequence(1, size(tk) - 1), "
        "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    per = f"CASE WHEN size(sh) > 0 THEN ({tot}) div size(sh) END"
    return (
        "element_at(transform(array(split(lower(text), ' ')), tk -> "
        f"element_at(transform(array({shingles}), sh -> {per}), 1)), 1)"
    )


def ngram_doc_scores(
    docs: DataFrame, weights: list[int] | None = None
) -> DataFrame:
    """Per-document classifier scores — (doc_id, source, score_ppm) —
    the fit+score core shared by the ngram_quality audit and the
    release gate (release_members(quality_classifier=True)). Docs with
    fewer than 2 tokens have no bigram features and carry a NULL
    score_ppm (every membership consumer — the < NGQ_HI_PPM gate, the
    audit's count/sum — is NULL-skipping, so they behave exactly as if
    absent). Pass precomputed ``weights`` to reuse a fitted model
    (ngram_quality memoizes its fit per sf_dir); otherwise the fit
    runs here, one job. The returned frame is pure map-side — no
    shuffle until the caller's own aggregation."""
    if weights is None:
        weights = fit_ngram_weights(docs)
    return docs.select(
        "doc_id",
        "source",
        F.expr(ngram_score_sql(weights)).cast("bigint").alias("score_ppm"),
    )


def span_audit_vs_prior(
    new_spans: DataFrame, prior_hashes: DataFrame
) -> DataFrame:
    """Per-source audit of a NEW crawl's span duplication against a
    PRIOR published corpus — the shared frame-level core: the
    registered query derives both sides from the table (synthetic id
    threshold), release.publish_span_store's probe path feeds the
    prior side from the persisted store, and the equivalence tests
    feed it adversarial frames. ``new_spans`` is (doc_id, source, h)
    span occurrences (_span_occurrences — the SAME
    machinery as span_dedup/span_removal/span_decontam, so all four
    agree on what a span is); ``prior_hashes`` is any frame with an
    ``h`` column (raw occurrences or the store's distinct hashes —
    max(is_prior) is multiplicity-blind, so both give identical
    audits).

    Scale shape: ONE h-keyed exchange over the union — span_dedup's
    exact shuffle with a side tag. A sort window computes, per span
    hash, whether ANY prior occurrence exists (has_prior) and the
    min/max NEW doc ids (dup within the snapshot = min != max, the
    span_dedup rule); prior x prior duplication is never computed —
    the term a per-recrawl from-scratch span_dedup re-pays at 100 TB.
    The prior side ships as bare hashes (the store artifact), not
    text: the probe's shuffle mass is 8 bytes per stored span.

    Per new doc: spans_doc occurrences, dup_prior (h in the prior
    corpus), dup_new (h shared with another new doc), dup_any
    (either). Per source over new docs (docs shorter than SPAN_W
    carry no spans and are absent, as in span_dedup).
    """
    return _span_audit_tagged(
        new_spans.select(
            "doc_id", "source", "h", F.lit(0).alias("is_prior")
        ).unionByName(
            prior_hashes.select(
                F.lit(None).cast("long").alias("doc_id"),
                F.lit(None).cast("string").alias("source"),
                "h",
                F.lit(1).alias("is_prior"),
            )
        )
    )


def _span_audit_tagged(u: DataFrame) -> DataFrame:
    """The audit body over a single TAGGED occurrence frame
    (doc_id, source, h, is_prior) — split out so the registered query
    can tag one scan's output by the id threshold instead of unioning
    two filtered copies of the same corpus subtree (which would run
    the scan + span hashing twice; the _seq_pack_cum lesson). Prior
    rows may carry real or NULL doc_id/source — both are ignored
    (the is_prior filter runs before either is consumed)."""
    wh = W.partitionBy("h")
    new_doc = F.when(F.col("is_prior") == 0, F.col("doc_id"))
    flagged = (
        u.select(
            "doc_id",
            "source",
            "is_prior",
            F.max("is_prior").over(wh).alias("has_prior"),
            F.min(new_doc).over(wh).alias("mn"),
            F.max(new_doc).over(wh).alias("mx"),
        )
        .filter(F.col("is_prior") == 0)
        .select(
            "doc_id",
            "source",
            F.col("has_prior").cast("long").alias("dup_prior"),
            (F.col("mn") != F.col("mx")).cast("long").alias("dup_new"),
        )
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count("*").alias("spans_doc"),
        F.sum("dup_prior").alias("dp"),
        F.sum("dup_new").alias("dn"),
        F.sum(F.greatest("dup_prior", "dup_new")).alias("da"),
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


KMEANS_K = 8
# 2 Lloyd's rounds (was 3): the fit is a fixed-point ITERATION BUDGET,
# not a convergence loop — the oracle CTE chain in plans.clustering is
# generated from this constant, so Spark and DuckDB always move in
# lockstep. Each round is one sequential driver job (~0.2-0.3s local
# floor regardless of data size; the per-job work is map-side), so the
# round count is the fit's latency knob.
KMEANS_ITERS = 2


# functions.arrays.l2_norm as SQL text over a double-cast array {e}
_NRM_SQL = (
    "sqrt(aggregate(transform({e}, x -> x * x), 0.0D, (acc, v) -> acc + v))"
)


# product quantization (ann_pq, vector_index): PQ_M subvectors, PQ_KS codes
PQ_M = 4  # subspaces (64-dim embedding -> 16-dim subvectors)
PQ_SUB = 16
PQ_KS = 16  # centroids per subspace codebook


# PQ encodes the UNIT-NORMALIZED vectors: on the unit sphere L2 order
# equals cosine order, so the ADC shortlist ranks by the same metric
# the exact rescore uses (unnormalized PQ measured recall@3 0.40 at
# sf0.1, plateauing at 0.73 with any overfetch — the residual loss was
# pure L2-vs-cosine rank disagreement; normalized PQ recovers it, see
# SCALE.md). The norm is bound ONCE per row through a 1-element struct
# array (s.n below): referencing a computed scalar from inside the
# divide lambda would re-inline its fold per ELEMENT (the
# shingles_col/Catalyst no-CSE-into-lambdas pitfall, O(dim^2) per row).
def ne_sql(col: str = "embedding") -> str:
    """The unit-normalize expression over an arbitrary array column
    (vector_index's PQ storage normalizes q_embedding through this).

    The norm is floored at 1e-300 (greatest): a zero vector would
    otherwise divide 0/0 into NaN subvectors, and NaN ordering inside
    the struct-min / window ranks is a Spark-vs-DuckDB divergence
    hazard. With the floor a zero vector normalizes to the zero vector
    (0/1e-300 == 0 exactly) — deterministic, identical cross-engine,
    and a bit-level no-op for every nonzero vector (any representable
    nonzero norm exceeds the floor). The DuckDB twin in _ann_pq_sql
    applies the same floor."""
    e = f"transform({col}, x -> CAST(x AS DOUBLE))"
    return (
        "element_at(transform(array(named_struct('t', {e}, "
        "'n', greatest({n}, 1e-300D))), "
        "s -> transform(s.t, x -> x / s.n)), 1)"
    ).format(e=e, n=_NRM_SQL.format(e=e))


def _pq_slice(m: int, col: str = "embedding") -> str:
    return f"slice({col}, {m * PQ_SUB + 1}, {PQ_SUB})"


def _d2_array_expr(cents: list[list[float]], col: str) -> str:
    """Array of exact squared-L2 distances from ``col`` to every
    codebook centroid — the query-side ADC table for one subspace
    (same fold sequence as _dist_structs_expr, values only)."""
    return (
        f"transform({C._matrix_sql(cents)}, c -> "
        f"aggregate(zip_with({col}, c, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, v) -> acc + v))"
    )


# SemDeDup cosine threshold (semantic_dedup)
SEMDEDUP_TAU = 0.35


def _require_span_params(meta: dict, what: str) -> None:
    """A span-hash store is only probeable under the SPAN_W/SPAN_HOP
    it was built with — different params are a different hash universe
    and every probe silently misses (dup_prior=0 for verbatim dups,
    a veto-nothing seed). The store records its params at publish;
    consumers fail loudly on mismatch (r17 review)."""
    got = (meta.get("span_w"), meta.get("span_hop"))
    if got != (SPAN_W, SPAN_HOP):
        raise ValueError(
            f"{what}: span store built with (span_w, span_hop)={got} "
            f"but the engine runs ({SPAN_W}, {SPAN_HOP}) — hashes are "
            "incomparable; rebuild the store under the current params"
        )
