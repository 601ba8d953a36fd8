"""Ingest-time benchmark decontamination: stream-static veto in two
modes — shingle OVERLAP (the batch `contamination` rule) and, since
r16, exact-substring SPANS (the batch `span_decontam` rule: one
verbatim SPAN_W-token run vetoes; same _span_occurrences machinery,
so stream and batch agree on what a span is).

The batch `contamination` query (plans/northstar.py) audits a corpus
at rest for benchmark n-gram overlap; a training-data pipeline also
wants the INGEST form — refuse a crawled doc the moment it overlaps a
held-out evaluation set, so contaminated rows never enter the corpus
at all. Unlike near-dup ingest (streaming/neardup.py) this operator
is STATELESS per doc: the benchmark shingle set is a small static
frame built once and broadcast into every micro-batch (the
stream-static join shape), so there is no accumulating store, no
replay subtlety beyond the sink's idempotent batch dirs, and the
streamed result trivially equals the batch rule under any batching.

Rule: a doc is CONTAMINATED iff it shares >= CONTAM_MIN_SHARED
distinct shingles with any single benchmark doc (self-pairs excluded,
so a benchmark doc replayed through the stream is not vetoed by
itself). The benchmark side is df-capped on ITS OWN corpus
(shingles present in more than ``cap`` benchmark docs are
boilerplate — licence headers, prompt scaffolding — and carry no
contamination signal); the batch `contamination` query caps across
both corpora, which an ingest pass cannot know — the delta is
documented here and in the batch twin so the two stay comparable.

Dropped rows are not discarded silently: each batch appends its
(doc_id, bench_doc, shared) verdicts to a ``_contaminated``
quarantine table under the sink (same idempotent per-batch-dir layout
as the sink itself, compactable through the same SnapshotTable fold)
— the audit trail an eval-integrity review reads.

At 100 TB: the benchmark frame is tiny by definition (evaluation
sets are thousands of docs, not billions), the broadcast is a few MB,
and the per-batch cost is one shingle explode over the BATCH joined
map-side against the broadcast — no shuffle of corpus-scale data at
all beyond the per-doc aggregate of matched shingles.

As the top of the streaming stack, this module also holds MODES, the
one table of ``dedup-ingest`` modes (the near-dup bodies of
streaming/neardup.py, the veto and curation bodies here), and
start_ingest, their one start-up.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from etl_wikipedia_updates_spark.operators import dedup as D
from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.stages import (
    CONTAM_MIN_SHARED,
    MINHASH_BANDS,
    MINHASH_ROWS,
    SHINGLE_DF_CAP,
    _span_occurrences,
    pii_redact,
    quality_keep,
    rep_keep_col,
    temp_membership,
)
from etl_wikipedia_updates_spark.streaming import neardup
from etl_wikipedia_updates_spark.streaming.ingest import (
    append_batch,
    compact_store,
    start_batches,
)
from etl_wikipedia_updates_spark.streaming.neardup import (
    SigCols,
    batch_neardup_keep,
    dedup_append,
    doc_tids,
    sig_cols,
)

CONTAM_DIRNAME = "_contaminated"  # _-prefixed: invisible to sink readers


def contam_store_path(sink_path: str) -> str:
    return os.path.join(sink_path, CONTAM_DIRNAME)


def bench_shingles(
    bench_docs: DataFrame, cap: int = SHINGLE_DF_CAP
) -> DataFrame:
    """(lang, term, bench_doc): the benchmark corpus's distinct
    shingles, df-capped on the benchmark side (a shingle in more than
    ``cap`` bench docs is boilerplate, not signal — and would multiply
    the per-batch match join by its df). Build once per stream and
    persist: the frame is benchmark-sized, not corpus-sized."""
    sh = T.doc_shingles(bench_docs)
    w = W.partitionBy("lang", "term")
    return (
        sh.withColumn("__df", F.count("*").over(w))
        .filter(F.col("__df") <= cap)
        .drop("__df")
        .select("lang", "term", F.col("doc_id").alias("bench_doc"))
    )


def bench_spans(bench_docs: DataFrame) -> DataFrame:
    """(h, bench_doc): the benchmark corpus's distinct HOP-aligned
    SPAN_W-token span hashes with their owning doc — the static frame
    of SPAN mode (the stream-static statement of the batch
    span_decontam audit; same _span_occurrences machinery, so stream
    and batch agree on what a span is). No df cap: an exact SPAN_W-
    token verbatim run is contamination signal regardless of how many
    bench docs carry it (the shingle cap exists because single
    shingles are weak evidence; a 16-token exact run is not)."""
    return (
        _span_occurrences(bench_docs)
        .select("h", F.col("doc_id").alias("bench_doc"))
        .distinct()
    )


def _strongest_hits(
    matches: DataFrame,
    keys: list[str],
    min_shared: int,
    exclude_self: bool,
    sig=(),
    sig_min=(),
) -> DataFrame:
    """Per ``keys`` group (a doc) of ``matches`` (its shingle or span
    rows joined to the bench frame): ``hit``, the strongest benchmark
    match as struct(neg_shared, bench_doc) — most shared rows, ties to
    the smallest bench_doc, the batch contamination query's reporting
    rule — or NULL when no bench_doc reaches ``min_shared``. One
    doc-keyed aggregation in two levels, (doc, bench_doc) then doc;
    ``sig``/``sig_min`` add the MinHash mins at each level (a shingle
    matching k bench docs appears k times, which a min ignores).

    ``exclude_self`` reads a (doc_id == bench_doc) match as no match.
    It is ONLY valid when the benchmark rows are an id-sharing subset
    of the streamed corpus (the in-table source-slice convention),
    where vetoing the pair would empty the benchmark out of its own
    corpus. For an EXTERNAL benchmark pass False: an id collision
    between unrelated corpora would otherwise bypass the veto."""
    bench_doc = F.col("bench_doc")
    if exclude_self:
        bench_doc = F.when(F.col("doc_id") != bench_doc, bench_doc)
    pairs = matches.groupBy(*keys, bench_doc.alias("bench_doc")).agg(
        F.count("*").alias("shared"), *sig
    )
    hit = F.when(
        F.col("bench_doc").isNotNull() & (F.col("shared") >= min_shared),
        F.struct((-F.col("shared")).alias("neg_shared"), "bench_doc"),
    )
    return pairs.groupBy(*keys).agg(F.min(hit).alias("hit"), *sig_min)


def verdict_rows(hits: DataFrame) -> DataFrame:
    """(doc_id, bench_doc, shared): the quarantine rows of a per-doc
    ``hit`` frame's vetoed docs."""
    return hits.filter(F.col("hit").isNotNull()).select(
        "doc_id",
        F.col("hit.bench_doc").alias("bench_doc"),
        (-F.col("hit.neg_shared")).alias("shared"),
    )


def shingle_hits(
    docs: DataFrame,
    bench_sh: DataFrame,
    exclude_self: bool = True,
    tids: DataFrame | None = None,
    cols: SigCols | None = None,
) -> DataFrame:
    """Per doc (doc_id, lang, hit) under the shingle rule: >=
    CONTAM_MIN_SHARED distinct shingles shared with one benchmark doc.
    Given the docs' doc_tids frame and its SigCols, the shingle rows
    LEFT-join the bench frame and the same aggregation adds
    h0..h{H-1}: veto and signature from one shingle pass."""
    fused = tids is not None
    rows = (tids if fused else T.doc_shingles(docs)).join(
        F.broadcast(bench_sh), ["lang", "term"], "left" if fused else "inner"
    )
    return _strongest_hits(
        rows, ["doc_id", "lang"], CONTAM_MIN_SHARED, exclude_self,
        *((cols.sig, cols.sig_min) if fused else ()),
    )


def span_hits(
    docs: DataFrame,
    bench_sp: DataFrame,
    exclude_self: bool = True,
    tids: DataFrame | None = None,
    cols: SigCols | None = None,
) -> DataFrame:
    """Per doc (doc_id, hit) under the span rule: ONE exact SPAN_W-token
    benchmark span vetoes (the batch span_decontam contract of
    contam_doc > 0); ``shared`` counts matched span occurrences. Given
    ``tids``/``cols``, the span join stays the veto and the shingle
    rows give the signature, which left-joins the hits (a doc with a
    span has >= SPAN_W tokens, hence shingles)."""
    rows = (
        _span_occurrences(docs)
        .select("doc_id", "h")
        .join(F.broadcast(bench_sp), "h")
    )
    hits = _strongest_hits(rows, ["doc_id"], 1, exclude_self)
    if tids is None:
        return hits
    sig = tids.groupBy("doc_id", "lang").agg(*cols.sig)
    return sig.join(hits, "doc_id", "left")


# mode name -> (static-frame builder, per-doc hit function).
# Both modes share the stream-static join shape, the quarantine-table
# schema, and the idempotent batch-dir sink; they differ only in what
# the broadcast frame holds (df-capped shingles vs distinct exact
# span hashes) and the match rule (>= CONTAM_MIN_SHARED shingles vs
# >= 1 exact SPAN_W-token span — the batch span_decontam contract).
DECONTAM_MODES = {
    "shingles": (bench_shingles, shingle_hits),
    "spans": (bench_spans, span_hits),
}


def _mode_fns(decontam_mode: str):
    try:
        return DECONTAM_MODES[decontam_mode]
    except KeyError:
        raise ValueError(
            f"unknown decontam mode {decontam_mode!r}; "
            f"expected one of {sorted(DECONTAM_MODES)}"
        ) from None


def decontam_ingest_batch(
    batch_df: DataFrame,
    bench_sh: DataFrame,
    sink_path: str,
    batch_id: int,
    compact_every: int | None = None,
    exclude_self: bool = True,
    decontam_mode: str = "shingles",
) -> None:
    """One micro-batch of decontaminating ingest: clean rows append to
    the sink, contaminated verdicts append to the quarantine table —
    both under this batch's idempotent dir, so an at-least-once replay
    overwrites its own first attempt on both sides. ``bench_sh`` must
    be the ``decontam_mode``-matching static frame (bench_shingles
    output for 'shingles', bench_spans for 'spans')."""
    spark = batch_df.sparkSession
    # the batch feeds the verdicts and the survivors anti-join:
    # persisted, so it is read once (numInputRows counts each row once)
    batch = batch_df.persist()
    verdicts = verdict_rows(
        _mode_fns(decontam_mode)[1](batch, bench_sh, exclude_self=exclude_self)
    ).persist()
    try:
        survivors = batch.join(verdicts.select("doc_id"), "doc_id", "left_anti")
        append_batch(survivors, sink_path, batch_id)
        append_batch(verdicts, contam_store_path(sink_path), batch_id)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_store(spark, contam_store_path(sink_path), below=batch_id)
    finally:
        verdicts.unpersist()
        batch.unpersist()


class _UnpersistOnTermination(StreamingQueryListener):
    """Release a stream's persisted static frame when the query ends.

    The decontam streams persist the benchmark shingle frame ONCE per
    stream (outside the per-batch handler); without a termination hook
    the cache entry outlived its stream and leaked across restarted
    curation streams in the same session. The listener unpersists on
    the owning query's termination event and deregisters itself; it is
    also invoked directly (idempotently, via the once-flag) if the
    query finished before the listener could be registered — the
    availableNow-on-tiny-data race."""

    def __init__(self, spark: SparkSession, query_id: str, df: DataFrame):
        self._spark = spark
        self._qid = query_id
        self._df = df
        self._done = False

    def release(self) -> None:
        if self._done:
            return
        self._done = True
        try:
            self._df.unpersist()
        finally:
            self._spark.streams.removeListener(self)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if str(event.id) == self._qid:
            self.release()


def _release_on_termination(query: StreamingQuery, df: DataFrame) -> None:
    """Attach a termination-scoped unpersist for ``df`` to ``query``."""
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    listener = _UnpersistOnTermination(spark, str(query.id), df)
    spark.streams.addListener(listener)
    # The query may have terminated between start() and addListener —
    # a terminated query never fires the event for late listeners, so
    # release inline (release() is idempotent against a double fire).
    if not query.isActive:
        listener.release()


def batch_decontam_keep(
    docs: DataFrame,
    bench_docs: DataFrame,
    exclude_self: bool = True,
    decontam_mode: str = "shingles",
) -> DataFrame:
    """The BATCH statement of the streaming rule (equivalence tests
    and backfills): keep docs with no benchmark match. The operator
    is stateless per doc, so the streamed sink equals this under ANY
    batching — no arrival-order caveat needed."""
    build, hits_fn = _mode_fns(decontam_mode)
    drops = verdict_rows(
        hits_fn(docs, build(bench_docs), exclude_self=exclude_self)
    ).select("doc_id")
    return docs.join(drops, "doc_id", "left_anti")


# --- full per-doc curation: quality -> decontam -> near-dup dedup -------------
def full_curation_ingest_batch(
    batch_df: DataFrame,
    bench_sh: DataFrame,
    sink_path: str,
    batch_id: int,
    compact_every: int | None = None,
    exclude_self: bool = True,
    redact_pii: bool = False,
    temp_rates: DataFrame | None = None,
    decontam_mode: str = "shingles",
    static_cols=None,
) -> None:
    """One micro-batch of the COMPLETE per-doc curation pipeline — the
    ingest-time twin of corpus_release's per-doc stages in one pass:
    (0) optional PII redaction (stateless TRANSFORM — the shared
    stages.pii_redact expression the pii_scrub audit certifies),
    (1) the Gopher-style repetition quality gate (stateless),
    (2) the benchmark veto (stateless, quarantined; ``decontam_mode``
    picks shingle-overlap or exact-span, as in decontam_ingest_batch —
    ``bench_sh`` must be the matching static frame),
    (3) near-dup dedup against the accumulating bucket store,
    (4) optional temperature mixing (``temp_rates``: a STATIC
    (source, rate_ppm) frame — stages.static_temp_rates over
    a declared corpus or prior snapshot, NEVER the unbounded stream;
    membership is the shared temp_keep_cond integer rule, applied to
    the sink append only, so mix-dropped docs still shadow their later
    near-dups exactly as the release pipeline's dedup-before-mix
    order does).
    Redaction runs FIRST so every downstream signal (quality ratios,
    shingles, near-dup signatures) sees the text a release would ship.
    Quality needs no state and runs next; the veto and the MinHash
    signature then share ONE shingle pass over its survivors, and only
    the clean docs' bands meet the bucket store. Corpus-global budget
    FITTING stays release-time/static — the stream only APPLIES
    precomputed thresholds. The quarantine and bucket stores both fold
    on the ``compact_every`` cadence. ``static_cols`` is the stream's
    _curation_cols, built once per stream (here when absent)."""
    keep, cols = static_cols or _curation_cols()
    spark = batch_df.sparkSession
    if redact_pii:
        batch_df = pii_redact(batch_df)
    sink_transform = (
        None
        if temp_rates is None
        else (lambda df: temp_membership(df, temp_rates))
    )
    # Two persists. ``kept`` feeds the per-doc pass and the sink
    # append, so the micro-batch is read once. ``per_doc`` holds each
    # shingled doc's veto verdict AND MinHash signature, from one
    # shingle pass and one doc-keyed aggregation (shingle_hits /
    # span_hits); it feeds the quarantine append, the collision
    # aggregation and the bucket-store append. Vetoed docs leave the
    # sink in the near-dup anti-join and add no bands to the store.
    kept = batch_df.filter(keep).persist()
    per_doc = _mode_fns(decontam_mode)[1](
        kept, bench_sh, exclude_self, tids=doc_tids(kept, cols.tids), cols=cols
    ).persist()
    try:
        verdicts = verdict_rows(per_doc)
        append_batch(
            verdicts.coalesce(1), contam_store_path(sink_path), batch_id
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_store(spark, contam_store_path(sink_path), below=batch_id)
        band = D.lsh_band_rows(
            per_doc.filter(F.col("hit").isNull()),
            MINHASH_BANDS, MINHASH_ROWS, cols.bands,
        )
        dedup_append(
            kept, band, sink_path, batch_id, compact_every=compact_every,
            sink_transform=sink_transform, vetoed=verdicts,
        )
    finally:
        per_doc.unpersist()
        kept.unpersist()


def _curation_cols():
    """(quality verdict, SigCols): the curation trigger's static
    Columns, built once per stream. The verdict is rep_keep_col, the
    statement stages.quality_keep filters on."""
    return rep_keep_col(), sig_cols()


def ingest_with_full_curation(
    stream: DataFrame,
    bench_docs: DataFrame,
    sink_path: str,
    checkpoint: str,
    available_now: bool = True,
    compact_every: int | None = None,
    exclude_self: bool = True,
    redact_pii: bool = False,
    temp_rates: DataFrame | None = None,
    decontam_mode: str = "shingles",
) -> StreamingQuery:
    """Streamed documents -> (optionally PII-redacted,) quality-gated,
    decontaminated, near-dup-deduped, (optionally temperature-mixed)
    sink: the one-command crawl-curation ingest. ``temp_rates`` is the
    stream-static temperature model (see full_curation_ingest_batch) —
    fit it with stages.static_temp_rates over a DECLARED
    static frame. The curate row of MODES, started by start_ingest."""
    return start_ingest(
        "curate", stream, sink_path, checkpoint, available_now, bench_docs,
        compact_every=compact_every,
        exclude_self=exclude_self,
        redact_pii=redact_pii,
        temp_rates=temp_rates,
        decontam_mode=decontam_mode,
    )


def batch_full_curation_keep(
    docs: DataFrame,
    bench_docs: DataFrame,
    exclude_self: bool = True,
    redact_pii: bool = False,
    temp_rates: DataFrame | None = None,
    decontam_mode: str = "shingles",
) -> DataFrame:
    """The BATCH statement of the full pipeline: optional PII
    redaction, quality gate, then benchmark veto, then the
    no-smaller-id-shares-a-bucket rule over the survivors, then the
    optional temperature-membership filter against the same static
    (source, rate_ppm) frame the stream applies. Equals the streamed
    sink when the corpus replays in doc_id order (the dedup stage's
    usual arrival-order contract; redaction, the first two gates, and
    temperature membership are stateless and order-free)."""
    if redact_pii:
        docs = pii_redact(docs)
    kept = quality_keep(docs)
    out = batch_neardup_keep(
        batch_decontam_keep(
            kept, bench_docs, exclude_self=exclude_self,
            decontam_mode=decontam_mode,
        )
    )
    if temp_rates is not None:
        out = temp_membership(out, temp_rates)
    return out


# --- the mode table: every dedup-ingest mode and its one start-up ------------
class Mode(NamedTuple):
    """One ``dedup-ingest --mode``: the table it replays, its CLI help,
    its foreachBatch body, whether the body takes the static bench
    frame (ahead of the sink path), and the per-stream options built
    once at start (static Columns reused by every trigger)."""

    table: str
    help: str
    body: Callable[[], Callable]  # looked up at each trigger
    bench: bool = False
    statics: Callable[[], dict] = dict


MODES: dict[str, Mode] = {
    "doc": Mode(
        "documents", "MinHash bands", lambda: neardup.dedup_ingest_batch
    ),
    "quality": Mode(
        "documents",
        "repetition gate + MinHash bands",
        lambda: neardup.quality_neardup_ingest_batch,
    ),
    "verified": Mode(
        "documents",
        "bands nominate + sketch-Jaccard decides",
        lambda: neardup.verified_ingest_batch,
    ),
    "span": Mode(
        "documents",
        "exact SPAN_W-token span veto against earlier docs",
        lambda: neardup.span_dedup_ingest_batch,
    ),
    "embedding": Mode(
        "embeddings", "sign-bucket LSH", lambda: neardup.embedding_ingest_batch
    ),
    "embedding-verified": Mode(
        "embeddings",
        "sign buckets nominate + exact cosine decides",
        lambda: neardup.verified_embedding_ingest_batch,
    ),
    "decontam": Mode(
        "documents",
        "benchmark veto with quarantine audit table",
        lambda: decontam_ingest_batch,
        bench=True,
    ),
    "curate": Mode(
        "documents",
        "quality gate + decontam + near-dup dedup in one pass",
        lambda: full_curation_ingest_batch,
        bench=True,
        statics=lambda: {"static_cols": _curation_cols()},
    ),
}


def start_ingest(
    mode: str,
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    available_now: bool = True,
    bench_docs: DataFrame | None = None,
    **opts,
) -> StreamingQuery:
    """Start ``MODES[mode]`` over ``stream`` into ``sink_path``,
    checkpointed; ``available_now`` drains the input and stops.
    ``opts`` go to every body call: compact_every, and for the bench
    modes exclude_self / decontam_mode (curate also takes redact_pii /
    temp_rates).

    The body is looked up through its module attribute at each
    trigger, so a wrap installed on that attribute takes effect. A
    bench mode needs ``bench_docs``, the static held-out corpus: its
    ``decontam_mode`` frame is built and persisted ONCE, outside the
    per-batch body, and unpersisted when the stream terminates (a
    restarted stream rebuilds it; no cache leak across streams).
    ``exclude_self`` as in _strongest_hits: True only when bench_docs
    is an id-shared subset of the stream; False for an external
    benchmark."""
    spec = MODES[mode]
    if spec.bench != (bench_docs is not None):
        raise ValueError(
            f"mode {mode!r} {'needs' if spec.bench else 'takes no'} bench_docs"
        )
    static = ()
    if spec.bench:
        build = _mode_fns(opts.get("decontam_mode", "shingles"))[0]
        static = (build(bench_docs).persist(),)
    opts.update(spec.statics())

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spec.body()(batch_df, *static, sink_path, batch_id, **opts)

    query = start_batches(stream, handle, checkpoint, available_now)
    for df in static:
        _release_on_termination(query, df)
    return query
