"""Streaming near-dup dedup at ingest: LSH blocking per micro-batch.

The batch near-dup family (minhash_lsh, dedup_corpus) dedups a corpus
at rest; a training-data pipeline also needs the INGEST form — drop a
crawled row the moment it collides with anything already ingested,
without re-scanning the corpus per batch. This module is that
operator family: six foreachBatch bodies over one shared batch engine —
MinHash-band blocking for documents (the batch path's exact shingle/
hash/band machinery, operators.dedup), the same composed with the
repetition quality gate (corpus_release's ingest-time twin), an
exact-span veto (span hashes as the bucket rows), multi-band
sign-bucket LSH for embeddings (SemDeDup-style semantic blocking), and
VERIFIED precision modes for documents and embeddings (band
collisions only nominate; exact shingle-Jaccard or cosine against the
colliding earlier row decides, at the cost of a second per-id store).
Each body is started as a ``dedup-ingest --mode`` through
``streaming.decontam.MODES`` / ``start_ingest``. The shared mechanics:

- Per micro-batch, each doc's signature unpivots into (lang, band,
  band_key) bucket rows (``lsh_band_rows``).
- A doc is DROPPED iff one of its buckets was seen in an EARLIER
  batch, or a smaller doc_id in the SAME batch shares a bucket —
  "collides with any earlier-arrived doc", the aggressive blocking
  rule production dedup uses at ingest (no verify pass: at a
  corpus-scale ingest rate the false-positive cost of a band
  collision is accepted in exchange for never touching the corpus).
- ALL of the batch's bucket rows (kept and dropped docs alike) are
  appended to the bucket store, so later arrivals collide with
  whichever representative arrived first.

State = the bucket store, a per-batch-dir parquet table exactly like
the data sink (append_batch layout): idempotent under foreachBatch
replay because a retried batch overwrites its own dir, and the
collision read EXCLUDES the current batch id, so a replay never
collides with its own first attempt. The store COMPACTS through the
same SnapshotTable fold the data sink uses (compact_store /
compact_every), so its file count is bounded by the compaction cadence
instead of growing one directory per trigger forever. At 100 TB the
store is
(lang, band, band_key, doc_id) rows — a fraction of corpus bytes —
and the per-batch work is one signature aggregation over the BATCH
plus one bucket-keyed aggregation over its band rows and the store's
keys: no corpus rescan, no driver state. The reference's analog is
R10's UNIQUE-index dedup (exact ids,
unbounded SQLite state, /root/reference/pipeline.py:173-174); this is
the near-dup generalization with explicit, inspectable state.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.functions.arrays import cosine_similarity
from etl_wikipedia_updates_spark.operators import dedup as D
from etl_wikipedia_updates_spark.operators import similarity as S
from etl_wikipedia_updates_spark.operators import text as T
from etl_wikipedia_updates_spark.stages import (
    MINHASH_BANDS,
    MINHASH_PARAMS,
    MINHASH_ROWS,
    _require_span_params,
    _span_occurrences,
    quality_keep,
)
from etl_wikipedia_updates_spark.streaming.ingest import (
    append_batch,
    compact_store,
    read_view,
    view_parts,
)
from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

BUCKETS_DIRNAME = "_lsh_buckets"  # _-prefixed: invisible to sink readers
SHINGLES_DIRNAME = "_shingle_store"  # verified mode: per-doc shingle sketches
VECTORS_DIRNAME = "_vector_store"  # embedding-verified mode: per-id vectors

_STORE_SCHEMA = "doc_id bigint, lang string, band int, band_key string"
_SHINGLE_SCHEMA = "doc_id bigint, toks array<bigint>"
_VECTOR_SCHEMA = "doc_id bigint, embedding array<float>"


def bucket_store_path(sink_path: str) -> str:
    return os.path.join(sink_path, BUCKETS_DIRNAME)


def _require_payload_coverage(
    sink_path: str, payload_dirname: str, below: int, mode: str
) -> None:
    """Verified modes keep TWO stores in lockstep: the bucket store
    (nomination) and a per-id payload store (shingle sketches /
    vectors — the decision evidence). If the bucket store holds batch
    ids the payload store lacks — e.g. a sink first populated with an
    unverified --mode, then continued verified — cross-batch
    candidate pairs against those docs find no payload row, the
    verify inner join silently drops the pair, and near-duplicates of
    earlier docs pass through undetected. Fail loudly instead.

    Coverage rule: every batch id the bucket store is known to hold
    below ``below`` must be visible in the payload store — as an
    unfolded committed dir, or folded under the payload's
    folded_through watermark. The bucket side's folded ids are not
    individually enumerable, so the (contiguous by construction —
    foreachBatch ids) gap (pfolded, bfolded] is checked id by id
    against the payload's unfolded dirs: a crash between the two
    in-lockstep store compactions leaves the payload watermark
    behind but ALL its ids still on disk unfolded, which is healthy
    and must not raise."""
    _bs, _bv, bfolded, bnewer = view_parts(bucket_store_path(sink_path))
    payload_path = os.path.join(sink_path, payload_dirname)
    _ps, _pv, pfolded, pnewer = view_parts(payload_path)
    have = {b for b, _ in pnewer}
    missing = [
        b
        for b, _ in bnewer
        if b < below and b > pfolded and b not in have
    ] + [
        b
        for b in range(pfolded + 1, min(bfolded, below - 1) + 1)
        if b not in have
    ]
    if missing:
        raise RuntimeError(
            f"{mode} ingest at {sink_path}: bucket store covers batches "
            f"the {payload_dirname} store lacks "
            f"(folded {bfolded} vs {pfolded}; missing "
            f"{sorted(set(missing))[:8]}). The sink was likely "
            "populated with a non-verified mode first; verified modes "
            "cannot decide candidate pairs against docs with no stored "
            "payload. Re-ingest from scratch in the verified mode, or "
            "continue in the original mode."
        )


def tid_cols() -> tuple[Column, Column]:
    """The shingle -> term-hash chain as two Columns: explode(shingles)
    AS term, and its term hash AS tid."""
    return (
        F.explode(T.shingles_col()).alias("term"),
        T.term_hash_col().alias("tid"),
    )


class SigCols(NamedTuple):
    """The Columns of the shingle -> tid -> MinHash -> band chain. A
    stream builds them once (sig_cols) and reuses them in every
    micro-batch instead of rebuilding each expression over py4j."""

    tids: tuple  # tid_cols()
    sig: list  # h0..h{H-1}: min of each universal hash over tid
    sig_min: list  # h0..h{H-1}: min over already-aggregated h columns
    bands: Column  # the band unpivot (operators.dedup.lsh_band_col)


def sig_cols() -> SigCols:
    names = [f"h{i}" for i in range(len(MINHASH_PARAMS))]
    return SigCols(
        tid_cols(),
        D.minhash_agg_exprs(MINHASH_PARAMS),
        [F.min(n).alias(n) for n in names],
        D.lsh_band_col(MINHASH_BANDS, MINHASH_ROWS),
    )


def doc_tids(docs: DataFrame, cols: tuple | None = None) -> DataFrame:
    """(doc_id, lang, term, tid): the shingle -> term-hash chain every
    dedup derivation starts from. Single definition so blocking (band
    rows), verification (shingle sketches) and the curation trigger's
    fused veto+signature pass can never disagree on a doc's shingle
    ids. ``cols``: prebuilt tid_cols()."""
    shingle, tid = cols or tid_cols()
    return docs.select("doc_id", "lang", shingle).select(
        "doc_id", "lang", "term", tid
    )


def doc_band_rows(docs: DataFrame, dtok: DataFrame | None = None) -> DataFrame:
    """(doc_id, lang, band, band_key) bucket membership for a document
    frame — the batch pipeline's exact shingle->tid->signature->band
    chain, so streaming and batch dedup agree on every bucket. Pass a
    precomputed (persisted) ``doc_tids`` frame to share the dominant
    shingle pass with other derivations of the same batch."""
    if dtok is None:
        dtok = doc_tids(docs)
    sig = D.minhash_signatures(
        dtok.select("doc_id", "lang", "tid"), MINHASH_PARAMS
    )
    return D.lsh_band_rows(sig, MINHASH_BANDS, MINHASH_ROWS)


def batch_neardup_drops(
    band: DataFrame, store: DataFrame | None
) -> DataFrame:
    """doc_ids of this batch to drop: bucket seen in the store (earlier
    batches), or a smaller doc_id in this batch shares the bucket.

    ONE aggregation keyed by bucket over the batch's band rows and the
    store's keys: per bucket the smallest batch doc_id, whether a store
    row is present, and the batch's doc list. A doc comes out once per
    colliding bucket — no distinct, since every consumer anti-joins."""
    keys = ["lang", "band", "band_key"]
    rows = band.select(*keys, "doc_id", F.lit(False).alias("seen"))
    if store is not None:
        rows = rows.unionByName(
            store.select(
                *keys,
                F.lit(None).cast("long").alias("doc_id"),
                F.lit(True).alias("seen"),
            )
        )
    buckets = rows.groupBy(*keys).agg(
        F.min("doc_id").alias("keeper"),
        F.max("seen").alias("seen"),
        F.collect_list("doc_id").alias("ds"),
    )
    return buckets.select(
        F.explode(
            F.when(F.col("seen"), F.col("ds")).otherwise(
                F.filter("ds", lambda d: d > F.col("keeper"))
            )
        ).alias("doc_id")
    )


# --- embedding-space variant (SemDeDup-style blocking) ------------------------
# 4 bands of 16 sign bits: a pair collides iff some band's 16
# hyperplane signs all agree — a coarse cosine proximity proxy (at
# sf0.001 it drops 14/500; 8-bit bands dropped 438/500, far too
# aggressive for random-ish vectors). Seeds decorrelate the bands.
EMB_BANDS = 4
EMB_BITS = 16
EMB_DIM = 64  # the embeddings table's dimensionality


def embedding_band_rows(emb: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """(doc_id, lang, band, band_key) bucket membership for an
    embeddings frame — doc_id carries vec_id and lang is a constant so
    the frame is shape-compatible with batch_neardup_drops and the
    bucket store.

    The hyperplanes are fixed-dimension literals, and zip_with pads a
    shorter side with NULLs: a vector whose length != ``dim`` (or a
    NULL vector) would make every dot product NULL, every sign bit 0,
    and every band_key collide — the whole batch silently dropped to
    one survivor. So mismatched rows raise instead: a wrong ``dim`` is
    a configuration error, not data to be deduplicated."""
    emb = emb.withColumn(
        "embedding",
        F.when(F.size("embedding") == dim, F.col("embedding")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "embedding_band_rows: expected "
                        f"{dim}-dim embedding, got length "
                    ),
                    F.size("embedding").cast("string"),
                    F.lit(" (-1 = NULL) for vec_id="),
                    F.col("vec_id").cast("string"),
                )
            )
        ),
    )
    bands = []
    for b in range(EMB_BANDS):
        planes = S.lsh_hyperplanes(EMB_BITS, dim, seed=11 + 97 * b)
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                S.lsh_bucket_col("embedding", planes)
                .cast("string")
                .alias("band_key"),
            )
        )
    return emb.select(
        F.col("vec_id").alias("doc_id"),
        F.lit("*").alias("lang"),
        F.explode(F.array(*bands)).alias("bk"),
    ).select(
        "doc_id",
        "lang",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def _ingest_dedup_batch(
    batch_df: DataFrame,
    sink_path: str,
    batch_id: int,
    band_fn,
    id_col: str,
    compact_every: int | None = None,
) -> None:
    """One micro-batch of dedup ingest (foreachBatch body), shared by
    the document (MinHash) and embedding (sign-bucket) variants: the
    batch's band rows from ``band_fn``, then dedup_append."""
    # The batch and its band rows each feed both appends: persisted,
    # so the micro-batch is read once (numInputRows counts each row
    # once) and the signature aggregation runs once.
    batch = batch_df.persist()
    band = band_fn(batch).persist()
    try:
        dedup_append(
            batch, band, sink_path, batch_id, id_col, compact_every=compact_every
        )
    finally:
        band.unpersist()
        batch.unpersist()


def dedup_append(
    docs: DataFrame,
    band: DataFrame,
    sink_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    compact_every: int | None = None,
    sink_transform=None,
    vetoed: DataFrame | None = None,
) -> None:
    """The appends of one dedup micro-batch, given its docs and their
    band rows (both persisted by the caller: each feeds two writes).

    Reads the bucket store's COMMITTED view below batch_id — the
    compacted snapshot plus unfolded batch dirs (a replayed batch must
    not collide with its own first attempt) — drops colliding rows and
    any doc_id in ``vetoed`` (one anti-join), appends survivors to the
    data sink and ALL band rows to the store as one file (its size is
    bounded by the batch's doc count), both under this batch's
    idempotent dir. Every ``compact_every`` batches the store is
    folded into one snapshot version (strictly below this batch id,
    so a retry of THIS batch still excludes its own buckets);
    re-running the compaction on a batch retry publishes an identical
    extra version — idempotent in content.

    ``sink_transform`` (a DataFrame -> DataFrame callable, e.g. the
    temperature-membership filter) applies to the SINK append only —
    the bucket store still records every survivor's bands, mirroring
    the release pipeline where dedup canonicalization runs BEFORE
    mixing: a mix-dropped doc must still shadow its later near-dups,
    or a duplicate of it would sneak into the sink."""
    spark = docs.sparkSession
    store, _ = read_view(
        spark, bucket_store_path(sink_path), batch_id, schema=_STORE_SCHEMA
    )
    drops = batch_neardup_drops(band, store)
    if vetoed is not None:
        drops = drops.unionByName(vetoed.select("doc_id"))
    survivors = docs.join(
        drops.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )
    if sink_transform is not None:
        survivors = sink_transform(survivors)
    append_batch(survivors, sink_path, batch_id)
    append_batch(
        band.select("doc_id", "lang", "band", "band_key").coalesce(1),
        bucket_store_path(sink_path),
        batch_id,
    )
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_store(spark, bucket_store_path(sink_path), below=batch_id)


def dedup_ingest_batch(
    batch_df: DataFrame,
    sink_path: str,
    batch_id: int,
    compact_every: int | None = None,
) -> None:
    """Document (MinHash/LSH) dedup ingest micro-batch."""
    _ingest_dedup_batch(
        batch_df, sink_path, batch_id, doc_band_rows, "doc_id",
        compact_every=compact_every,
    )


def quality_neardup_ingest_batch(
    batch_df: DataFrame,
    sink_path: str,
    batch_id: int,
    compact_every: int | None = None,
) -> None:
    """corpus_release's ingest-time twin: the Gopher-style repetition
    quality gate (plans.northstar._rep_per_doc — fit-free, stateless
    per doc, so it streams without any model state) runs FIRST, then
    the surviving docs go through near-dup dedup against the bucket
    store. Mixing/splitting need corpus-global budgets, so they stay
    release-time; quality + dedup are the stages a crawl pipeline
    applies per batch."""
    kept = quality_keep(batch_df)
    _ingest_dedup_batch(
        kept, sink_path, batch_id, doc_band_rows, "doc_id",
        compact_every=compact_every,
    )


def embedding_ingest_batch(
    batch_df: DataFrame,
    sink_path: str,
    batch_id: int,
    compact_every: int | None = None,
) -> None:
    """Embedding (SemDeDup-style sign-bucket) dedup ingest micro-batch."""
    _ingest_dedup_batch(
        batch_df, sink_path, batch_id, embedding_band_rows, "vec_id",
        compact_every=compact_every,
    )


def batch_quality_neardup_keep(docs: DataFrame) -> DataFrame:
    """Batch statement of the quality+dedup ingest: quality gate over
    the corpus, then the no-smaller-id-shares-a-bucket rule over the
    survivors."""
    return batch_neardup_keep(quality_keep(docs))


def _batch_keep(df: DataFrame, band_fn, id_col: str) -> DataFrame:
    # The batch rule IS the streaming rule with an empty store — one
    # implementation (batch_neardup_drops), so the equivalence
    # reference can never drift from what the ingest path computes.
    drops = batch_neardup_drops(band_fn(df), None)
    return df.join(
        drops.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def batch_embedding_neardup_keep(emb: DataFrame) -> DataFrame:
    """Batch statement of the embedding streaming rule (equivalence
    tests and backfills) — survives iff no smaller vec_id shares any
    sign-bucket band."""
    return _batch_keep(emb, embedding_band_rows, "vec_id")


def batch_neardup_keep(docs: DataFrame) -> DataFrame:
    """The BATCH statement of the streaming rule, for equivalence
    tests and backfills: a doc survives iff it is the smallest doc_id
    in every bucket it occupies... i.e. iff NO smaller doc_id shares
    any of its buckets. When a stream replays the corpus in doc_id
    order, the streamed sink must equal this exactly (arrival order =
    doc_id order makes 'earlier' and 'smaller' the same relation
    across and within batches)."""
    return _batch_keep(docs, doc_band_rows, "doc_id")


# --- span-mode (exact-substring) ingest dedup ---------------------------------
# The span variant (r17): a doc is dropped iff it shares ONE verbatim
# SPAN_W-token span with any earlier-arrived doc — the streaming
# statement of the span_dedup / incremental_span_dedup rule (Lee et
# al. 2021's dup-span test applied as a doc-level veto at ingest),
# where the MinHash variant blocks on APPROXIMATE whole-doc
# similarity. Everything reuses the shared bucket engine: the span
# hashes ARE the bucket rows (band=0, band_key=h), so the store
# layout, replay idempotence, compaction, and the first-arriver
# shadowing rule (dropped docs' spans still stored) come for free —
# and the store is exactly release.publish_span_store's artifact
# denominated in the streaming sink's per-batch format. At 100 TB the
# store rows are (h, doc_id) — ~n_tok/HOP per doc, the span-level
# analog of the band store's MINHASH_BANDS rows per doc.


def doc_span_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, band, band_key) SPAN-occurrence rows for a
    document frame — stages._span_occurrences (the same
    machinery as the four batch span operators, so stream and batch
    agree on what a span is) shaped for the shared bucket engine:
    lang='*' (verbatim spans collide across langs), band=0, the span
    hash as the bucket key. Docs shorter than SPAN_W emit no rows and
    are never dropped."""
    return _span_occurrences(docs).select(
        "doc_id",
        F.lit("*").alias("lang"),
        F.lit(0).alias("band"),
        F.col("h").cast("string").alias("band_key"),
    )


def span_dedup_ingest_batch(
    batch_df: DataFrame,
    sink_path: str,
    batch_id: int,
    compact_every: int | None = None,
) -> None:
    """Span-mode dedup ingest micro-batch (shared engine body)."""
    _ingest_dedup_batch(
        batch_df, sink_path, batch_id, doc_span_rows, "doc_id",
        compact_every=compact_every,
    )


def batch_span_keep(docs: DataFrame) -> DataFrame:
    """Batch statement of the span streaming rule (equivalence tests
    and backfills): a doc survives iff no smaller doc_id holds any of
    its span hashes — span_removal's min-id ownership rule lifted
    from span excision to a whole-doc veto."""
    return _batch_keep(docs, doc_span_rows, "doc_id")


def seed_span_store_from(
    spark: SparkSession,
    sink_path: str,
    span_store_root: str,
    version: int | None = None,
) -> int:
    """Seed a FRESH span-mode ingest sink with a prior release's
    span-hash store (release.publish_span_store) — the full recrawl
    composition: the new crawl streams against the PRIOR release from
    batch 0, so a doc verbatim-overlapping last release's corpus never
    lands even though that corpus was ingested in another lifetime.

    The seed publishes as the bucket store's initial snapshot version
    with folded_through=-1: the committed view (``read_view``) is
    'snapshot + batch dirs above the fold marker', so every future
    batch sees the seed without any special-casing, compaction folds
    on top of it, and replay semantics are untouched. Store hashes
    carry doc_id=-1 / lang='*' — collision reads are key-only
    (left_semi on (lang, band, band_key)), the id is never consulted
    for seeded rows. Refuses a non-empty store: seeding is a creation-
    time act; injecting hashes under a live store would change history.

    Returns the number of seeded span hashes."""
    src = SnapshotTable(span_store_root)
    v = src.current_version() if version is None else version
    if v is None:
        raise FileNotFoundError(
            f"no published span store under {span_store_root}"
        )
    src_meta = src.meta_for(v)
    if src_meta.get("kind") != "span_store":
        raise ValueError(
            f"{span_store_root} v{v} is not a span store"
        )
    _require_span_params(src_meta, f"{span_store_root} v{v}")
    store_path = bucket_store_path(sink_path)
    snap, prior_v, _folded, unfolded = view_parts(store_path)
    if prior_v is not None or unfolded:
        # Crash-recovery path (r17 advice): a crash between the seed
        # publish and the sidecar write leaves a seeded store with no
        # marker, after which the CLI resume check misses and this
        # function would refuse forever. If the ONLY state is a seed
        # snapshot from THIS store (no ingest batches yet — so
        # compaction can't have erased the seeded_from meta), rewrite
        # the missing marker and return idempotently.
        if prior_v is not None and not unfolded:
            prior_meta = snap.meta_for(prior_v)
            if (
                prior_meta.get("folded_through") == -1
                # structured provenance (r18 review: string-parsing the
                # display field broke on format tweaks, and a RAW
                # relative root re-resolved at recovery-time cwd could
                # false-match a different store) — seed_root is stored
                # normalized at publish time
                and prior_meta.get("seed_root") is not None
                # the REQUESTED version must match what actually
                # seeded: a recovery that silently returns v1's spans
                # when the caller asked for v2 (store advanced via
                # --merge since the seed) would let v2-only content
                # through the veto (r18 review)
                and prior_meta.get("seed_version") == v
                and prior_meta["seed_root"]
                == os.path.normpath(os.path.abspath(span_store_root))
            ):
                _write_seed_marker(sink_path, prior_meta["seed_root"], v)
                return int(prior_meta["n_rows"])
        raise RuntimeError(
            f"span store at {store_path} already has state — seeding "
            "must happen before the first ingest batch. To recover: "
            "either recreate the sink (delete it and its checkpoint) "
            "and re-seed, or — if this store DID seed the sink and "
            "only the marker is missing — hand-write "
            f"{seed_marker_path(sink_path)} with "
            '{"store_root": <normalized abs path>, "version": N}'
        )
    rows = src.read(spark, v).select(
        F.lit(-1).cast("long").alias("doc_id"),
        F.lit("*").alias("lang"),
        F.lit(0).alias("band"),
        F.col("h").cast("string").alias("band_key"),
    )
    seed_root = os.path.normpath(os.path.abspath(span_store_root))
    sv = snap.publish(
        rows,
        meta={
            "folded_through": -1,
            # display string + structured fields: crash recovery reads
            # seed_root/seed_version (normalized at PUBLISH time, so a
            # relative --seed-span-store can never be re-resolved
            # against a different cwd later — r18 review)
            "seeded_from": f"{span_store_root} v{v}",
            "seed_root": seed_root,
            "seed_version": v,
        },
    )
    # The durable seed marker is a SIDECAR file, not (only) snapshot
    # meta: compaction republishes the store with fresh meta
    # (folded_through only), so meta alone cannot answer "was this
    # sink seeded, and from where?" after the first fold (r17 review).
    # Paths are normalized so resume matching survives trailing-slash /
    # relative-vs-absolute differences.
    _write_seed_marker(sink_path, seed_root, v)
    # the published version's row count, not the source plan again —
    # the publish already paid the store scan (r17 review)
    return int(snap.meta_for(sv)["n_rows"])


def _write_seed_marker(sink_path: str, seed_root: str, version: int) -> None:
    """(Re)write the durable seed sidecar. ``seed_root`` must already
    be normalized (it comes from the publish-time meta or a fresh
    normpath(abspath(...)))."""
    with open(seed_marker_path(sink_path), "w") as f:
        json.dump({"store_root": seed_root, "version": version}, f)


def seed_marker_path(sink_path: str) -> str:
    """Sidecar recording what (if anything) seeded this sink's span
    store — durable across store compactions, unlike snapshot meta."""
    return os.path.join(bucket_store_path(sink_path), "_seeded_from.json")


def seeded_from(sink_path: str) -> dict | None:
    """The seed marker's content ({'store_root', 'version'}, paths
    normalized) or None when the sink was never seeded."""
    p = seed_marker_path(sink_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


# --- verified (precision-mode) ingest dedup -----------------------------------
# The aggressive pipelines above drop on ANY band collision (recall-
# first, zero extra state). Verified mode adds the precision pass the
# batch path already has (minhash_lsh's jaccard_verify): a doc is
# dropped only when a shingle-Jaccard check against the colliding
# earlier doc clears the threshold. The extra state is the shingle
# store — each doc's BOTTOM-K SKETCH: the k smallest sorted-distinct
# shingle ids (ids, not strings: the same stateless term_hash the
# signatures use, so the store is integers and the k smallest are a
# deterministic min-k sample, identical on every engine). The cap
# bounds per-doc state at SHINGLE_SKETCH_K ids, so the store grows
# with DOC count, not corpus tokens — without it the store would be a
# large fraction of the corpus itself at 100 TB. The check is the
# standard bottom-k estimator (operators.dedup.jaccard_verify_sketch),
# EXACT for every pair whose union fits under k. Per batch the verify
# join touches only CANDIDATE pairs (band-colliding), so its cost
# scales with collision rate, not corpus size.
VERIFY_THRESHOLD = 0.5  # == stages.JACCARD_THRESHOLD (q26/minhash)
SHINGLE_SKETCH_K = 512  # bottom-k sketch width (per-doc store bound)


def doc_shingle_tid_arrays(
    docs: DataFrame, dtok: DataFrame | None = None
) -> DataFrame:
    """(doc_id, toks): each doc's bottom-SHINGLE_SKETCH_K sketch of
    sorted-distinct shingle ids — the exact arrays
    jaccard_verify_sketch consumes, via the same shingle->tid chain
    the signatures use (so verify and blocking can never see
    different shingle sets). ``dtok`` as in doc_band_rows."""
    if dtok is None:
        dtok = doc_tids(docs)
    return dtok.groupBy("doc_id").agg(
        F.slice(
            F.array_sort(F.collect_set("tid")), 1, SHINGLE_SKETCH_K
        ).alias("toks")
    )


def _candidate_pairs(
    band: DataFrame, store_band: DataFrame | None
) -> DataFrame:
    """Candidate pairs of a verified micro-batch: within the batch, and
    across batches with the earlier (store) doc as doc_id and this
    batch's doc as doc_id2 — the only droppable side."""
    pairs = D.lsh_bucket_pairs(band)
    if store_band is None:
        return pairs
    cross = band.join(
        store_band.withColumnRenamed("doc_id", "doc_id_prev"),
        ["lang", "band", "band_key"],
    ).select(
        F.col("doc_id_prev").alias("doc_id"), F.col("doc_id").alias("doc_id2")
    )
    return pairs.unionByName(cross.distinct())


class _Payload(NamedTuple):
    """What a verified mode varies: its id column, the per-doc payload
    store next to the sink (dir name, schema), the exact check
    ((pairs, payload) -> the pairs that clear its threshold), and the
    mode's name for errors."""

    id_col: str
    dirname: str
    schema: str
    verify: Callable[[DataFrame, DataFrame], DataFrame]
    mode: str


def _verified_append(
    batch: DataFrame,
    band: DataFrame,
    payload: DataFrame,
    spec: _Payload,
    sink_path: str,
    batch_id: int,
    compact_every: int | None,
) -> None:
    """The body of one VERIFIED micro-batch, given the batch, its band
    rows and its (doc_id, payload) rows, all persisted by the caller:
    candidates come from band collisions (within the batch, and batch
    x bucket store), but a doc is dropped only when ``spec.verify``
    clears it against the earlier doc. Appends the survivors, ALL
    batch buckets, and ALL batch payloads under this batch's
    idempotent dirs; the store reads exclude this batch id, so a
    replayed batch never verifies against its own first attempt."""
    spark = batch.sparkSession
    payload_path = os.path.join(sink_path, spec.dirname)
    store_band, _ = read_view(
        spark, bucket_store_path(sink_path), batch_id, schema=_STORE_SCHEMA
    )
    pairs = _candidate_pairs(band, store_band)
    lookup = payload
    if store_band is not None:
        # a bucket store without matching payload coverage (sink
        # previously fed by a non-verified mode) must fail loudly,
        # not silently pass near-dups of unverifiable docs
        _require_payload_coverage(sink_path, spec.dirname, batch_id, spec.mode)
        store_payload, _ = read_view(
            spark, payload_path, batch_id, schema=spec.schema
        )
        if store_payload is not None:
            lookup = payload.unionByName(store_payload)
    drops = spec.verify(pairs, lookup).select("doc_id2").distinct()
    survivors = batch.join(
        drops.withColumnRenamed("doc_id2", spec.id_col), spec.id_col, "left_anti"
    )
    append_batch(survivors, sink_path, batch_id)
    append_batch(
        band.select("doc_id", "lang", "band", "band_key"),
        bucket_store_path(sink_path),
        batch_id,
    )
    append_batch(payload, payload_path, batch_id)
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        compact_store(spark, bucket_store_path(sink_path), below=batch_id)
        compact_store(spark, payload_path, below=batch_id)


def _batch_verified_keep(
    df: DataFrame, band: DataFrame, payload: DataFrame, spec: _Payload
) -> DataFrame:
    # The batch statement of a verified rule: the streaming rule with
    # an empty store (global bucket enumeration covers within-batch and
    # cross-batch pairs alike).
    drops = spec.verify(D.lsh_bucket_pairs(band), payload)
    drops = drops.select(F.col("doc_id2").alias(spec.id_col)).distinct()
    return df.join(drops, spec.id_col, "left_anti")


_SHINGLE_PAYLOAD = _Payload(
    "doc_id",
    SHINGLES_DIRNAME,
    _SHINGLE_SCHEMA,
    lambda pairs, toks: D.jaccard_verify_sketch(
        pairs, toks, VERIFY_THRESHOLD, SHINGLE_SKETCH_K
    ),
    "verified",
)


def verified_ingest_batch(
    batch_df: DataFrame,
    sink_path: str,
    batch_id: int,
    compact_every: int | None = None,
) -> None:
    """One micro-batch of VERIFIED dedup ingest: a band-colliding doc
    is dropped only when exact shingle-Jaccard against the earlier doc
    clears VERIFY_THRESHOLD (see ``_verified_append``)."""
    # The batch is read once (numInputRows counts each row once), and
    # ONE shingle -> term-hash pass (the dominant per-batch map cost)
    # feeds both the band rows and the verify arrays.
    batch = batch_df.persist()
    dtok = doc_tids(batch).persist()
    band = doc_band_rows(batch, dtok=dtok).persist()
    toks = doc_shingle_tid_arrays(batch, dtok=dtok).persist()
    try:
        _verified_append(
            batch, band, toks, _SHINGLE_PAYLOAD, sink_path, batch_id, compact_every
        )
    finally:
        for df in (toks, band, dtok, batch):
            df.unpersist()


def batch_verified_neardup_keep(docs: DataFrame) -> DataFrame:
    """The BATCH statement of the verified streaming rule: a doc
    survives iff NO smaller doc_id both shares a band bucket AND has
    exact shingle-Jaccard >= VERIFY_THRESHOLD with it. When a stream
    replays the corpus in doc_id order, the verified sink must equal
    this exactly (same candidate set; same verify arrays: batch and
    store shingle sets come from one builder)."""
    return _batch_verified_keep(
        docs, doc_band_rows(docs), doc_shingle_tid_arrays(docs), _SHINGLE_PAYLOAD
    )


# --- verified (precision-mode) EMBEDDING dedup --------------------------------
# The embedding twin of verified mode (SemDeDup with the verify pass):
# sign-bucket band collisions only NOMINATE; the exact cosine against
# the colliding earlier vector decides. The extra state is the vector
# store — each ingested id's embedding (the payload is the evidence;
# unlike shingles no sketch is needed: one row per vector, dim floats,
# already the minimal decision state). Threshold shared with the batch
# cosine_neardup operator so "near-duplicate" means the same thing at
# rest and at ingest.
EMB_VERIFY_THRESHOLD = 0.35  # == plans.northstar.COSINE_NEARDUP_THRESHOLD


def _cosine_verify(
    pairs: DataFrame, vectors: DataFrame, threshold: float
) -> DataFrame:
    """Exact-cosine check on candidate pairs. vectors: (doc_id,
    embedding). Two joins (candidates only), then the JVM-side
    fold-based cosine (functions.arrays) — no Python."""
    v1 = vectors.select(F.col("doc_id"), F.col("embedding").alias("e1"))
    v2 = vectors.select(
        F.col("doc_id").alias("doc_id2"), F.col("embedding").alias("e2")
    )
    return (
        pairs.join(v1, "doc_id")
        .join(v2, "doc_id2")
        .select(
            "doc_id",
            "doc_id2",
            cosine_similarity(F.col("e1"), F.col("e2")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


_VECTOR_PAYLOAD = _Payload(
    "vec_id",
    VECTORS_DIRNAME,
    _VECTOR_SCHEMA,
    lambda pairs, vecs: _cosine_verify(pairs, vecs, EMB_VERIFY_THRESHOLD),
    "embedding-verified",
)


def verified_embedding_ingest_batch(
    batch_df: DataFrame,
    sink_path: str,
    batch_id: int,
    compact_every: int | None = None,
) -> None:
    """One micro-batch of VERIFIED embedding dedup ingest: a
    sign-bucket-colliding vector is dropped only when exact cosine
    against the earlier vector clears EMB_VERIFY_THRESHOLD (see
    ``_verified_append``)."""
    batch = batch_df.persist()  # read once: feeds bands, vectors, sink
    band = embedding_band_rows(batch).persist()
    vecs = batch.select(F.col("vec_id").alias("doc_id"), "embedding").persist()
    try:
        _verified_append(
            batch, band, vecs, _VECTOR_PAYLOAD, sink_path, batch_id, compact_every
        )
    finally:
        for df in (vecs, band, batch):
            df.unpersist()


def batch_verified_embedding_keep(emb: DataFrame) -> DataFrame:
    """The BATCH statement of the embedding-verified streaming rule: a
    vector survives iff NO smaller vec_id both shares a sign-bucket
    band AND has exact cosine >= EMB_VERIFY_THRESHOLD with it. When a
    stream replays the table in vec_id order, the verified sink must
    equal this exactly (same candidate enumeration, same cosine on
    the same vectors)."""
    vecs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    return _batch_verified_keep(emb, embedding_band_rows(emb), vecs, _VECTOR_PAYLOAD)
