"""Materialize the corpus_release output as a versioned dataset.

``plans.northstar.corpus_release`` computes the release AUDIT CARD;
this module writes the release ITSELF: the surviving documents (full
rows, split column attached), published through ``SnapshotTable`` so a
training run reads an immutable, pinnable version while the next
release publishes — the same no-missing-instant contract the streaming
sinks use. The audit card rides along as the version's metadata, so a
release and its numbers are always published together.

Layout: hive-partitioned by ``split`` inside the version dir
(``v{N}/split=train/``) — a training job reads only its split's files
(partition pruning); at 100 TB add ``source`` to ``partition_by`` if
per-source scheduling matters. The reference has no release concept
(it appends to one SQLite table); this is the batch counterpart of the
R11-R14 sink contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.stages import (
    N_SHARDS,
    SEQ_LEN,
    SPAN_HOP,
    SPAN_W,
    _require_span_params,
    _span_occurrences,
    manifest_of,
    packed_sequences,
    pii_redacted_col,
    release_audit,
    release_members,
    remove_dup_spans,
    shard_assign_col,
    span_audit_vs_prior,
)
from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable, check_keep_last
from etl_wikipedia_updates_spark.tables import load_table, spread


def release_corpus(
    spark: SparkSession,
    sf_dir: str,
    members: DataFrame | None = None,
    remove_spans: bool = False,
    mix_alpha: float | None = None,
    redact_pii: bool = False,
    quality_classifier: bool = False,
    decontam_spans: bool = False,
) -> DataFrame:
    """The released corpus as a DataFrame: every surviving document's
    full row plus its ``split``. The join key is the unique doc_id, so
    this is one co-partitionable shuffle join against the member set —
    no broadcast assumption (at web scale the member set is
    corpus-sized).

    ``remove_spans=True`` adds the optional span-excision stage
    (stages.remove_dup_spans) over the RELEASED docs: doc-
    level near-dups are already gone by construction, so this excises
    the remaining cross-doc duplicated spans (shared boilerplate)
    from every doc but the canonical minimum-id owner — Lee et al.
    2021's span-level dedup as a release stage. The audit card still
    accounts n_chars of the ORIGINAL text (membership and mixing were
    decided on it); span accounting lives in the span_removal query.

    ``redact_pii=True`` applies the SAME ``plans.corpus``
    email/IPv4/phone replacement the pii_scrub audit certifies (and
    the ingest path's --redact-pii applies) to the released text, as
    the LAST stage: membership, mixing, and the span extents were all
    decided and audited on the stored corpus, so redaction is a
    shipping transform over the final text, not an input to any
    earlier decision (the ingest pipeline, by contrast, redacts FIRST
    — there the redacted text IS the stored corpus). n_chars keeps
    accounting the original text, same contract as remove_spans, so
    verify_release's recomputed audit card still matches the published
    card."""
    docs = load_table(spark, sf_dir, "documents")
    if members is None:
        members = release_members(
            spark, sf_dir, mix_alpha=mix_alpha,
            quality_classifier=quality_classifier,
            decontam_spans=decontam_spans,
        )
    released = docs.join(members.select("doc_id", "split"), "doc_id")
    if remove_spans:
        released = (
            remove_dup_spans(released)
            .withColumn("text", F.col("text_clean"))
            .drop("text_clean")
        )
    if redact_pii:
        released = released.withColumn("text", pii_redacted_col("text"))
    return released


def write_release(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    keep_last: int = 2,
    remove_spans: bool = False,
    mix_alpha: float | None = None,
    redact_pii: bool = False,
    quality_classifier: bool = False,
    decontam_spans: bool = False,
) -> dict:
    """Publish one release version: data partitioned by split, audit
    card in the version metadata, old versions vacuumed to a horizon.

    The member set — the expensive part (shingle-Jaccard pairs +
    connected components + repetition signals) — is computed ONCE and
    persisted across its two consumers (the audit aggregation and the
    corpus join), then released; without the persist each action
    re-runs the whole pipeline.

    Returns {"version": N, "audit": [card rows as dicts]}.
    """
    check_keep_last(keep_last)
    table = SnapshotTable(out_root)
    members = release_members(
        spark, sf_dir, mix_alpha=mix_alpha,
        quality_classifier=quality_classifier,
        decontam_spans=decontam_spans,
    ).persist()
    try:
        audit = [r.asDict() for r in release_audit(members).collect()]
        version = table.publish(
            release_corpus(
                spark, sf_dir, members=members, remove_spans=remove_spans,
                redact_pii=redact_pii,
            ),
            meta={
                "sf_dir": sf_dir,
                "audit": audit,
                "remove_spans": remove_spans,
                "mix_alpha": mix_alpha,
                "redact_pii": redact_pii,
                "quality_classifier": quality_classifier,
                "decontam_spans": decontam_spans,
            },
            partition_by=["split"],
        )
    finally:
        members.unpersist()
    table.vacuum(keep_last=keep_last)
    return {"version": version, "audit": audit}


def _published_version(
    table: SnapshotTable, out_root: str, version: int | None, what: str
) -> int:
    """``version``, else the table's current one; raises when nothing
    is published."""
    v = table.current_version() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published {what} under {out_root}")
    return v


def _keyed_mismatches(
    exp: dict, got: dict, field: str, absent: str, show=lambda k: k
) -> list[dict]:
    """Expected-vs-recomputed rows keyed alike: one mismatch per key
    present on one side only (``absent`` names the published side) or
    whose rows differ."""
    out = []
    for k in sorted(set(exp) | set(got)):
        if k not in exp:
            out.append({field: show(k), "error": f"not in {absent}"})
        elif k not in got:
            out.append({field: show(k), "error": "not in data"})
        elif exp[k] != got[k]:
            out.append(
                {field: show(k), "expected": exp[k], "recomputed": got[k]}
            )
    return out


def _leaf_file_mismatches(vdir: str, levels: list[str]) -> list[dict]:
    """Physical layout: one mismatch per leaf partition dir (one
    ``levels`` prefix per depth, e.g. ["shard="]) that does not hold
    exactly one data file."""
    leaves = [""]
    for prefix in levels:
        leaves = [
            os.path.join(leaf, entry)
            for leaf in leaves
            for entry in sorted(os.listdir(os.path.join(vdir, leaf)))
            if entry.startswith(prefix)
        ]
    out = []
    for leaf in leaves:
        n = sum(f.endswith(".parquet") for f in os.listdir(os.path.join(vdir, leaf)))
        if n != 1:
            out.append({"shard": leaf, "error": f"{n} files, expected 1"})
    return out


def _verdict(
    v: int, expected: list, recomputed: list, mismatches: list
) -> dict:
    return {
        "version": v,
        "ok": not mismatches,
        "expected": expected,
        "recomputed": recomputed,
        "mismatches": mismatches,
    }


def verify_release(
    spark: SparkSession, out_root: str, version: int | None = None
) -> dict:
    """Integrity check of a published release: recompute the audit
    card FROM THE MATERIALIZED DATA and compare it to the card the
    version was published with. A release and its numbers publish
    atomically (meta lives inside the immutable version dir), so any
    mismatch means on-disk corruption, manual tampering, or an
    engine-side aggregation bug — exactly what a training run wants
    ruled out before consuming a release it didn't publish itself.

    The recompute is one column-pruned scan of the release (the same
    per-(source, split) aggregate the card was built with — cheap
    next to training). Returns {"version", "ok", "expected",
    "recomputed", "mismatches": [...]} where mismatches lists each
    (source, split) whose row differs, plus cards present on only one
    side."""
    table = SnapshotTable(out_root)
    v = _published_version(table, out_root, version, "release")
    meta = table.meta_for(v)
    expected = meta.get("audit") or []
    data = table.read(spark, v)
    recomputed = [
        r.asDict()
        for r in release_audit(
            data.select("source", "split", "doc_id", "n_chars")
        ).collect()
    ]

    def keyed(rows: list[dict]) -> dict:
        return {(r["source"], r["split"]): r for r in rows}

    mismatches = _keyed_mismatches(
        keyed(expected), keyed(recomputed), "card", "metadata", list
    )
    n_rows = int(meta.get("n_rows", -1))
    audit_docs = (
        sum(int(r["n_docs"]) for r in recomputed) if recomputed else 0
    )
    if n_rows >= 0 and audit_docs != n_rows:
        mismatches.append(
            {
                "card": ["__total__"],
                "expected": {"n_rows": n_rows},
                "recomputed": {"n_rows": audit_docs},
            }
        )
    return _verdict(v, expected, recomputed, mismatches)


def write_sharded(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    keep_last: int = 2,
    docs: DataFrame | None = None,
    n_shards: int | None = None,
    source_desc: str | None = None,
) -> dict:
    """Materialize the corpus as N_SHARDS fixed output shards — the
    write that ``plans.corpus.shard_manifest`` PLANS.

    The data repartitions on the manifest's own assignment column
    (``shard_assign_col`` — stateless per-row integer math, so any
    cluster size reproduces the identical doc -> shard mapping) and
    lands hive-partitioned by shard inside an immutable SnapshotTable
    version: each shard is wholly owned by one task after the hash
    repartition, so every ``shard=K/`` dir holds exactly ONE data
    file — the fixed-file-count layout a dataloader indexes by. The
    manifest rides along as the version's metadata, so the plan and
    the data publish atomically; ``verify_sharded`` recomputes the
    manifest FROM the produced files and compares.

    ``docs`` overrides the frame to shard (any frame with doc_id /
    source / n_chars — a release version is the natural caller:
    ``write_sharded(spark, sf_dir, root, docs=SnapshotTable(rel)
    .read(spark))`` shards the curated corpus a training run actually
    loads, rather than the raw table). The manifest is computed from
    the SAME frame via the shared manifest_of aggregation, so plan and
    data stay in lockstep whatever the input.

    ``n_shards`` (default stages.N_SHARDS) is THE scale dial:
    one file per shard means shard count == write parallelism == file
    size divisor — the 16-shard default fits the fixture tiers, a
    100 TB release raises it to e.g. 10k shards of ~10 GB so the
    write uses the whole cluster and each file stays splittable.

    Returns {"version": N, "manifest": [manifest rows as dicts]}.
    """
    check_keep_last(keep_last)
    if n_shards is None:
        n_shards = N_SHARDS
    from_sf_dir = docs is None
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
        if source_desc is None:
            source_desc = f"{sf_dir}/documents"
    elif source_desc is None:
        # a docs override without a declared provenance is recorded as
        # such — better an honest unknown than meta pointing at the
        # raw table the shards did NOT come from
        source_desc = "caller-supplied frame (no provenance declared)"
    docs = docs.withColumn("shard", shard_assign_col(n_shards))
    manifest = [
        r.asDict()
        for r in manifest_of(
            docs.select("doc_id", "source", "n_chars", "shard")
        ).collect()
    ]
    table = SnapshotTable(out_root)
    version = table.publish(
        docs.repartition(n_shards, F.col("shard")),
        meta={
            # sf_dir identifies the raw table ONLY when the frame came
            # from it; under a docs override it is just the session
            # default and recording it as provenance would mislead —
            # "source" carries the declared provenance either way
            "sf_dir": sf_dir if from_sf_dir else None,
            "source": source_desc,
            "n_shards": n_shards,
            "manifest": manifest,
        },
        partition_by=["shard"],
    )
    table.vacuum(keep_last=keep_last)
    return {"version": version, "manifest": manifest}


def verify_sharded(
    spark: SparkSession, out_root: str, version: int | None = None
) -> dict:
    """Integrity check of a sharded write: recompute the per-shard
    manifest FROM THE MATERIALIZED FILES (the same ``manifest_of``
    aggregation the plan used — doc/char counts, id checksums, source
    spread, balance shares) and compare it shard-by-shard against the
    manifest the version was published with; also assert the physical
    layout (exactly one data file per shard dir). Any mismatch means
    accidental on-disk corruption or a writer bug — caught before a
    dataloader consumes shards it didn't produce itself. This is an
    integrity check, not an adversarial seal: the manifest lives
    beside the data and the checksums are unkeyed, so an attacker who
    can rewrite shards can rewrite the manifest to match.

    Returns {"version", "ok", "expected", "recomputed",
    "mismatches": [...]}."""
    table = SnapshotTable(out_root)
    v = _published_version(table, out_root, version, "sharded write")
    meta = table.meta_for(v)
    expected = meta.get("manifest") or []
    data = table.read(spark, v)
    recomputed = [
        r.asDict()
        for r in manifest_of(
            data.select(
                "doc_id",
                "source",
                "n_chars",
                F.col("shard").cast("int").alias("shard"),
            )
        ).collect()
    ]
    exp = {int(r["shard"]): r for r in expected}
    got = {int(r["shard"]): r for r in recomputed}
    mismatches = []
    # every stored shard value must lie under the published bound — a
    # foreign or corrupted shard dir shows up as an impossible id
    n_shards = int(meta.get("n_shards", 0))
    for k in sorted(got):
        if n_shards and not 0 <= k < n_shards:
            mismatches.append(
                {"shard": k, "error": f"out of range for n_shards={n_shards}"}
            )
    mismatches += _keyed_mismatches(exp, got, "shard", "manifest")
    mismatches += _leaf_file_mismatches(table.version_path(v), ["shard="])
    return _verdict(v, expected, recomputed, mismatches)


def release_docs(spark: SparkSession, release_root: str):
    """Read the current version of a published release for downstream
    composition — the reader of `shard --from-release` and
    `pack --from-release`. Returns (docs, v).
    Fails cleanly on a missing release or a root publishing a FOREIGN
    kind (packed / span_store — releases publish audit metadata with
    no kind field), instead of packing the wrong corpus under false
    provenance or dying in a missing-column traceback downstream."""
    table = SnapshotTable(release_root)
    v = table.current_version()
    if v is None:
        raise FileNotFoundError(
            f"no published release under {release_root}"
        )
    kind = table.meta_for(v).get("kind")
    if kind is not None:
        raise ValueError(
            f"{release_root} v{v} is a {kind!r} snapshot, not a release"
        )
    return table.read(spark, v), v


# --- packed-stream sharded release (r17: pack x shard composition) ----------

# Fixture-scale default: enough to give multi-file layouts at the test
# SFs. Like write_sharded's n_shards, this is THE scale dial — a
# sequence is SEQ_LEN tokens, so seqs_per_file x SEQ_LEN x ~6 bytes
# is the target file size (a 100 TB run raises it to land ~1-10 GB
# files; the mapping stays deterministic at any value).
SEQS_PER_FILE = 64


def _packed_manifest_frame(packed: DataFrame) -> DataFrame:
    """Adapt a packed frame (source, seq_id, seq_block, n_tokens, ...)
    to manifest_of's (doc_id, source, n_chars, shard) contract — the
    SAME shared aggregation write_sharded/verify_sharded use, so the
    packed plan and its post-write audit cannot diverge either.
    xxhash64(source, seq_id) is the row uid the id_checksum folds
    (seq_id alone repeats across sources); n_tokens stands in for
    n_chars (the packed stream's mass unit); the shard label is the
    human-readable '{source}/{seq_block}' key the layout partitions
    by. Computed identically on the write side (from the plan) and
    the verify side (from the files)."""
    return packed.select(
        F.xxhash64("source", "seq_id").alias("doc_id"),
        "source",
        F.col("n_tokens").alias("n_chars"),
        F.concat_ws("/", "source", "seq_block").alias("shard"),
    )


def write_packed(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    seqs_per_file: int | None = None,
    keep_last: int = 2,
    docs: DataFrame | None = None,
    source_desc: str | None = None,
) -> dict:
    """Publish the packed training stream (plans.northstar.
    packed_sequences) as a manifest-verified one-file-per-shard
    snapshot — the composition pack_assignments' docstring plans:
    shard key (source, seq_id div seqs_per_file), so each output file
    holds a CONTIGUOUS run of one source's sequences (a dataloader
    seeks shard k of source s by path, reads sequences in stream
    order) and the doc -> file map is pure integer math over
    pack_assignments' seq_first/seq_last.

    Layout: hive-partitioned ``v{N}/source=S/seq_block=K/`` with
    exactly one data file per leaf (the stream repartitions on the
    shard key, so each (source, block) is wholly owned by one task);
    the per-shard manifest (shared manifest_of aggregation) rides in
    the version metadata and ``verify_packed`` recomputes it from the
    produced files. ``docs`` overrides the corpus frame (a curated
    release version is the natural caller, mirroring write_sharded).

    Returns {"version": N, "seqs_per_file": K, "manifest": [...]}.
    """
    check_keep_last(keep_last)
    if seqs_per_file is None:
        seqs_per_file = SEQS_PER_FILE
    if seqs_per_file < 1:
        # div 0 -> NULL seq_block -> one __HIVE_DEFAULT_PARTITION__
        # leaf per source that verify_packed's NULL-propagating
        # misplaced filter would wave through (r17 review)
        raise ValueError(f"seqs_per_file must be >= 1, got {seqs_per_file}")
    from_sf_dir = docs is None
    if docs is None:
        docs = spread(load_table(spark, sf_dir, "documents"))
        if source_desc is None:
            source_desc = f"{sf_dir}/documents"
    elif source_desc is None:
        source_desc = "caller-supplied frame (no provenance declared)"
    packed = packed_sequences(docs).withColumn(
        "seq_block", F.expr(f"seq_id div {seqs_per_file}")
    )
    # persist across the two actions below: without it the full
    # packing plan runs TWICE (manifest collect + publish write) —
    # the same double-scan class as the _seq_pack_cum lesson — and
    # the manifest matching the files would rest on the plan being
    # bit-deterministic across evaluations (r17 advice).
    packed = packed.persist()
    try:
        manifest = [
            r.asDict()
            for r in manifest_of(_packed_manifest_frame(packed)).collect()
        ]
        table = SnapshotTable(out_root)
        version = table.publish(
            packed.repartition(F.col("source"), F.col("seq_block")),
            meta={
                "sf_dir": sf_dir if from_sf_dir else None,
                "source": source_desc,
                "kind": "packed",
                "seq_len": SEQ_LEN,
                "seqs_per_file": seqs_per_file,
                "manifest": manifest,
            },
            partition_by=["source", "seq_block"],
        )
    finally:
        packed.unpersist()
    table.vacuum(keep_last=keep_last)
    return {
        "version": version,
        "seqs_per_file": seqs_per_file,
        "manifest": manifest,
    }


def verify_packed(
    spark: SparkSession, out_root: str, version: int | None = None
) -> dict:
    """Integrity check of a packed sharded write, mirroring
    verify_sharded: recompute the per-shard manifest FROM THE
    MATERIALIZED FILES with the same shared aggregation and compare
    shard-by-shard; assert the physical layout (exactly one data file
    per source=S/seq_block=K leaf); and check block-key consistency
    (every row's partition-dir seq_block must equal
    seq_id div seqs_per_file — a file moved between shard dirs changes
    its partition column and shows up here even when its content is
    intact). Same caveat as verify_sharded: an integrity check against
    corruption and writer bugs, not an adversarial seal."""
    table = SnapshotTable(out_root)
    v = _published_version(table, out_root, version, "packed write")
    meta = table.meta_for(v)
    if meta.get("kind") != "packed":
        raise ValueError(
            f"{out_root} v{v} is not a packed write (kind="
            f"{meta.get('kind')!r})"
        )
    expected = meta.get("manifest") or []
    spf = int(meta.get("seqs_per_file") or SEQS_PER_FILE)
    data = table.read(spark, v)
    recomputed = [
        r.asDict()
        for r in manifest_of(_packed_manifest_frame(data)).collect()
    ]
    mismatches = []
    misplaced = data.filter(
        F.col("seq_block").cast("long") != F.expr(f"seq_id div {spf}")
    ).count()
    if misplaced:
        mismatches.append(
            {"error": f"{misplaced} rows in the wrong seq_block dir"}
        )
    mismatches += _keyed_mismatches(
        {r["shard"]: r for r in expected},
        {r["shard"]: r for r in recomputed},
        "shard",
        "manifest",
    )
    mismatches += _leaf_file_mismatches(
        table.version_path(v), ["source=", "seq_block="]
    )
    return _verdict(v, expected, recomputed, mismatches)


# --- persistent span-hash store (r17: incremental_span_dedup's state) -------


def publish_span_store(
    spark: SparkSession,
    docs: DataFrame,
    store_root: str,
    keep_last: int = 2,
    merge_prior: bool = False,
    source_desc: str | None = None,
) -> dict:
    """Persist the corpus' DISTINCT span hashes as a SnapshotTable
    version — the prior-side artifact incremental_span_dedup's
    docstring points at: the next recrawl probes its new spans against
    THIS store instead of re-hashing the published corpus (the store
    row is 8 bytes per distinct span; the corpus it replaces is the
    full text). ``merge_prior=True`` is the recrawl append: the new
    snapshot's hashes union-distinct into the current version and
    publish as the next one (versions stay immutable — a training run
    pins the store version like any release artifact; the union plans
    as one h-keyed partial-agg distinct, no driver materialization).

    The store keeps EVERY published span hash, including dropped
    docs' (a span seen once is still a dup when re-crawled — the same
    shadowing rule the streaming bucket stores apply).

    Returns {"version": N, "n_spans": distinct hashes, "n_bytes":
    on-disk footprint, "growth_spans": delta vs the superseded
    version} — the telemetry is free (parquet footers + file sizes),
    so callers should read it from here rather than re-counting the
    store."""
    check_keep_last(keep_last)
    spans = _span_occurrences(docs).select("h")
    table = SnapshotTable(store_root)
    cur = table.current_version()
    # one metadata read serves the merge guard AND the growth
    # telemetry below (r19 review: the merge path read it twice)
    prior_meta = table.meta_for(cur) if cur is not None else {}
    if merge_prior and cur is not None:
        # a prior store hashed under different span params lives in a
        # different hash universe — unioning it would look merged but
        # never match anything (r17 review)
        _require_span_params(prior_meta, f"{store_root} v{cur}")
        spans = spans.unionByName(table.read(spark, cur).select("h"))
    # growth telemetry (r17 verdict #5): the store is the one artifact
    # whose 100 TB footprint is multi-TB by design (~n_tok/HOP rows per
    # doc, 8 bytes each — it replaces corpus rescans), so every
    # snapshot records its size and its growth vs the version it
    # supersedes. n_rows/n_bytes come free from publish (parquet
    # footers + file sizes, no extra Spark job); for a distinct-hash
    # store n_rows IS the distinct span-hash count.
    # the superseded version only counts as a "prior" if it IS a span
    # store — a non-merge publish over a root whose current version is
    # some other artifact kind would otherwise report growth_spans as
    # a delta against an unrelated row count (r18 advice; matches
    # span_store_stats' kind filtering)
    prior_spans = (
        int(prior_meta.get("n_rows") or 0)
        if prior_meta.get("kind") == "span_store"
        else 0
    )
    version = table.publish(
        spans.distinct(),
        meta={
            "kind": "span_store",
            "span_w": SPAN_W,
            "span_hop": SPAN_HOP,
            "merged_prior_version": cur if merge_prior else None,
            "prior_version": cur,
            "prior_n_spans": prior_spans,
            "source": source_desc or "caller-supplied frame",
        },
    )
    meta = table.meta_for(version)
    n_spans = int(meta.get("n_rows") or 0)
    table.vacuum(keep_last=keep_last)
    return {
        "version": version,
        "n_spans": n_spans,
        "n_bytes": int(meta.get("n_bytes") or 0),
        # growth vs the superseded version: for merge_prior this is
        # exactly the count of appended NEW distinct spans (the union
        # keeps every prior hash); for a fresh publish over an
        # existing root it is the plain delta (may be negative)
        "growth_spans": n_spans - prior_spans,
    }


def span_store_stats(store_root: str) -> list[dict]:
    """Per-version telemetry of a span-hash store, oldest first:
    version, n_spans, n_bytes, and growth vs the snapshot each
    version superseded (from its published prior_n_spans — exact even
    after vacuum removed the prior version's data). Driver-side only
    (reads version metadata, never the data files)."""
    table = SnapshotTable(store_root)
    cur = table.current_version()
    if cur is None:
        raise FileNotFoundError(f"no published span store under {store_root}")
    rows = []
    for v in table.versions():
        meta = table.meta_for(v)
        if meta.get("kind") != "span_store":
            continue
        n = int(meta.get("n_rows") or 0)
        rows.append(
            {
                "version": v,
                "n_spans": n,
                "n_bytes": int(meta.get("n_bytes") or 0),
                "prior_version": meta.get("prior_version"),
                "growth_spans": (
                    n - int(meta.get("prior_n_spans") or 0)
                    if "prior_n_spans" in meta
                    else None
                ),
            }
        )
    if not rows:
        # a snapshot root whose versions are all some other kind: an
        # empty-but-successful telemetry object would read as "healthy
        # store with no history" — fail like span_store_audit does
        # (r18 review)
        raise ValueError(f"{store_root} has no span_store versions")
    return rows


def span_store_audit(
    spark: SparkSession,
    new_docs: DataFrame,
    store_root: str,
    version: int | None = None,
) -> DataFrame:
    """Probe a NEW crawl against a persisted span-hash store: the
    production feed of stages.span_audit_vs_prior (the
    registered incremental_span_dedup recomputes the prior side from
    the table; this reads it from the store — equivalence of the two
    feeds is pinned in tests/test_incremental.py). Same audit schema:
    per new-crawl source, span totals, dup-vs-prior / dup-within-new /
    dup-any counts, affected docs, dup fraction."""
    table = SnapshotTable(store_root)
    v = table.current_version() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published span store under {store_root}")
    meta = table.meta_for(v)
    if meta.get("kind") != "span_store":
        raise ValueError(
            f"{store_root} v{v} is not a span store (kind="
            f"{meta.get('kind')!r})"
        )
    _require_span_params(meta, f"{store_root} v{v}")
    return span_audit_vs_prior(
        _span_occurrences(new_docs).select("doc_id", "source", "h"),
        table.read(spark, v).select("h"),
    )
