"""SnapshotTable: atomic manifest publish, snapshot isolation, vacuum."""

from __future__ import annotations

import os
import threading

from pyspark.sql import functions as F

from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable


def _df(spark, n, tag):
    return spark.range(n).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def test_publish_read_roundtrip_and_pinning(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.current_version() is None
    v1 = t.publish(_df(spark, 10, "a"))
    v2 = t.publish(_df(spark, 20, "b"))
    assert (v1, v2) == (1, 2)
    assert t.read(spark).count() == 20
    # a reader pinned to v1 keeps its snapshot even though v2 is live
    pinned = t.read(spark, version=v1)
    assert pinned.count() == 10
    assert {r.tag for r in pinned.select("tag").distinct().collect()} == {"a"}


def test_no_unreadable_instant_under_concurrent_publishes(spark, tmp_path):
    """The property the rename-swap sinks cannot give: a reader polling
    across many publishes NEVER hits path-not-found and always sees one
    complete published dataset."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.publish(_df(spark, 100, "seed"))
    valid_counts = {100}
    stop = threading.Event()
    errors: list[Exception] = []
    observed: set[int] = set()

    def reader():
        while not stop.is_set():
            try:
                observed.add(t.read(spark).count())
            except Exception as exc:  # any error = isolation violated
                errors.append(exc)
                return

    th = threading.Thread(target=reader, daemon=True)
    th.start()
    for i, n in enumerate([150, 200, 250, 300]):
        valid_counts.add(n)
        t.publish(_df(spark, n, f"gen{i}"))
    stop.set()
    th.join(30)
    assert not errors, f"reader failed during publish: {errors[0]!r}"
    assert observed, "reader never completed a read"
    assert observed <= valid_counts, f"saw partial dataset: {observed}"


def test_crashed_publish_leaves_live_table_intact(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.publish(_df(spark, 10, "live"))
    # simulate a writer that crashed after writing data, before the
    # pointer move: an orphan v2 exists but the manifest still says v1
    _df(spark, 99, "orphan").write.parquet(t.version_path(2))
    assert t.current_version() == 1
    assert t.read(spark).count() == 10
    # the next publish SKIPS the claimed number (it cannot tell a
    # crash orphan from an in-flight concurrent writer) and wins v3
    t.publish(_df(spark, 30, "next"))
    assert t.current_version() == 3
    got = t.read(spark)
    assert got.count() == 30
    assert {r.tag for r in got.select("tag").distinct().collect()} == {"next"}
    # normal vacuum reclaims below-current versions (incl. the orphan);
    # an orphan ABOVE current needs the explicit opt-in
    assert t.vacuum(keep_last=1, reclaim_orphans=False) == [1, 2]
    _df(spark, 5, "orphan2").write.parquet(t.version_path(9))
    assert t.vacuum(keep_last=1, reclaim_orphans=False) == []
    assert t.vacuum(keep_last=1, reclaim_orphans=True) == [9]
    assert t.read(spark).count() == 30


def test_concurrent_publishers_never_collide(spark, tmp_path):
    """Two publishers racing: the mkdir claim guarantees distinct
    version dirs (no writer ever overwrites a directory the manifest
    might point at), both datasets land complete, and the final
    pointer names one of them."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.publish(_df(spark, 5, "seed"))
    errors: list[Exception] = []
    published: list[int] = []

    def publisher(n, tag):
        try:
            published.append(t.publish(_df(spark, n, tag)))
        except Exception as exc:  # noqa: BLE001 - recorded for assert
            errors.append(exc)

    import threading

    threads = [
        threading.Thread(target=publisher, args=(50, "a")),
        threading.Thread(target=publisher, args=(60, "b")),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not errors, errors
    assert sorted(published) == [2, 3], published  # distinct claims
    assert t.current_version() in published
    # both versions are complete and readable (pinned), pointer is one
    counts = {v: t.read(spark, version=v).count() for v in published}
    assert sorted(counts.values()) == [50, 60]
    assert t.read(spark).count() == counts[t.current_version()]


def test_vacuum_rejects_removing_live_version(spark, tmp_path):
    import pytest

    t = SnapshotTable(str(tmp_path / "t"))
    t.publish(_df(spark, 10, "a"))
    with pytest.raises(ValueError):
        t.vacuum(keep_last=0)


def test_vacuum_keeps_grace_window(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for i in range(4):
        t.publish(_df(spark, 10 * (i + 1), f"g{i}"))
    removed = t.vacuum(keep_last=2)
    assert removed == [1, 2]
    dirs = {d for d in os.listdir(t.root) if d.startswith("v")}
    assert dirs == {"v3", "v4"}
    # current and the grace version still read fine
    assert t.read(spark).count() == 40
    assert t.read(spark, version=3).count() == 30


def test_claimed_version_dir_exists_throughout_publish(spark, tmp_path):
    """The mkdir claim is only a claim while the directory exists: if
    publish's data write ever deleted the claimed dir (as
    mode('overwrite') does — delete path, then write), a rival
    publisher's mkdir on the same number would succeed inside that
    window and two writers would land in one directory. Spin-watch the
    next version dir during a publish: it must exist at every observed
    instant from claim to pointer move."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.publish(_df(spark, 5, "seed"))
    vdir = t.version_path(2)
    stop = threading.Event()
    vanished: list[bool] = []

    def watcher():
        seen = False
        while not stop.is_set():
            if os.path.exists(vdir):
                seen = True
            elif seen:  # existed, then disappeared = claim was broken
                vanished.append(True)
                return

    th = threading.Thread(target=watcher, daemon=True)
    th.start()
    t.publish(_df(spark, 200_000, "big").repartition(16))
    stop.set()
    th.join(30)
    assert not vanished, "publish deleted the claimed version dir mid-write"
    assert t.current_version() == 2
    assert t.read(spark).count() == 200_000


def test_write_release_publishes_data_with_audit(spark, sf_smoke, tmp_path):
    """write_release: the published corpus matches the audit card's
    totals, the layout is split-partitioned, the card rides in the
    version metadata, and a pinned reader survives the next release."""
    from etl_wikipedia_updates_spark.release import write_release

    root = str(tmp_path / "release")
    out = write_release(spark, sf_smoke, root)
    assert out["version"] == 1
    t = SnapshotTable(root)
    data = t.read(spark)
    audit_docs = sum(r["n_docs"] for r in out["audit"])
    assert data.count() == audit_docs
    # split survives as a (partition) column and prunes to the card
    per_split = {
        r.split: r.n
        for r in data.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    card_per_split: dict[str, int] = {}
    for r in out["audit"]:
        card_per_split[r["split"]] = card_per_split.get(r["split"], 0) + r["n_docs"]
    assert per_split == card_per_split
    # hive layout: split=... dirs inside the immutable version dir
    vdir = t.version_path(1)
    assert any(d.startswith("split=") for d in os.listdir(vdir))
    # audit card is the version's metadata
    assert t.meta_for(1)["audit"] == out["audit"]
    # second release bumps the version; a pinned reader keeps v1
    pinned = t.read(spark, version=1)
    out2 = write_release(spark, sf_smoke, root)
    assert out2["version"] == 2
    assert pinned.count() == audit_docs


def test_write_release_with_span_removal_stage(spark, sf_smoke, tmp_path):
    """The optional span-excision release stage: published texts equal
    the batch remove_dup_spans view over the released members, the
    membership/audit card is unchanged vs a plain release (spans only
    edit text, never membership), and the stage is recorded in the
    version metadata."""
    from etl_wikipedia_updates_spark.stages import (
        release_members,
        remove_dup_spans,
    )
    from etl_wikipedia_updates_spark.release import release_corpus, write_release

    root = str(tmp_path / "release")
    out = write_release(spark, sf_smoke, root, remove_spans=True)
    t = SnapshotTable(root)
    assert t.meta_for(1)["remove_spans"] is True
    data = t.read(spark)

    plain = release_corpus(
        spark, sf_smoke, members=release_members(spark, sf_smoke)
    )
    expected = {
        r["doc_id"]: r["text_clean"]
        for r in remove_dup_spans(plain).collect()
    }
    got = {r["doc_id"]: r["text"] for r in data.collect()}
    assert got == expected
    # membership identical to the plain release; audit card unchanged
    assert set(got) == {r["doc_id"] for r in plain.collect()}
    assert out["audit"] == write_release(spark, sf_smoke, root)["audit"]


def test_release_refresh_dedups_new_duplicates(spark, tmp_path):
    """Release lifecycle on a growing corpus: after ingesting an exact
    duplicate of every document (fresh higher doc_ids), the next
    release's audit card is IDENTICAL — connected components clusters
    each copy with its original, survivor selection keeps the canonical
    min doc_id, and the budgets/mix/split over the survivors are
    untouched. 'Re-release after a dup-heavy crawl drop' is a no-op on
    the released corpus, which is exactly what a dedup pipeline is
    for."""
    from etl_wikipedia_updates_spark.release import write_release
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sf1, sf2 = tmp_path / "sf_v1", tmp_path / "sf_v2"
    docs.write.parquet(str(sf1 / "documents.parquet"))
    copies = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    docs.unionByName(copies).write.parquet(str(sf2 / "documents.parquet"))

    root = str(tmp_path / "rel")
    out1 = write_release(spark, str(sf1), root)
    out2 = write_release(spark, str(sf2), root)
    assert (out1["version"], out2["version"]) == (1, 2)
    assert out2["audit"] == out1["audit"]


def test_verify_release_detects_tampered_card(spark, sf_smoke, tmp_path):
    """verify_release recomputes the audit card from the materialized
    data: a freshly published release verifies clean; a tampered
    metadata card (the corruption/drift case) is reported with the
    exact differing (source, split) cards."""
    import json
    import os

    from etl_wikipedia_updates_spark.release import (
        verify_release,
        write_release,
    )
    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    root = str(tmp_path / "rel")
    out = write_release(spark, sf_smoke, root)
    res = verify_release(spark, root)
    assert res["ok"] and res["version"] == out["version"]
    assert res["recomputed"] == out["audit"]
    assert res["mismatches"] == []

    # tamper: inflate one card's doc count in the published metadata
    table = SnapshotTable(root)
    meta_path = os.path.join(
        table.version_path(out["version"]), SnapshotTable.META
    )
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["audit"][0]["n_docs"] += 1
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)

    res2 = verify_release(spark, root)
    assert not res2["ok"]
    assert any(
        m.get("card")
        == [meta["audit"][0]["source"], meta["audit"][0]["split"]]
        for m in res2["mismatches"]
    )


def test_read_paths_do_not_mutate_the_sink(spark, tmp_path):
    """Constructing SnapshotTable / calling the read-side API must not
    write: a pure read against a foreign parquet dir must not plant a
    _snapshot/ subdir in data it doesn't own (and would fail outright
    on a read-only mount). The store root is created by the first
    publish only."""
    import os

    from etl_wikipedia_updates_spark.streaming.ingest import (
        read_sink,
        sink_row_count,
    )
    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    foreign = str(tmp_path / "foreign")
    spark.range(10).write.parquet(foreign)
    assert read_sink(spark, foreign).count() == 10
    assert sink_row_count(foreign) == 10
    assert not os.path.exists(os.path.join(foreign, "_snapshot"))

    st = SnapshotTable(str(tmp_path / "store"))
    assert st.current_version() is None
    assert st.vacuum() == []
    assert not os.path.exists(st.root)  # still nothing written
    st.publish(spark.range(3))
    assert st.read(spark).count() == 3


def test_write_release_temperature_mix(spark, sf_smoke, tmp_path):
    """mix_alpha=0.5 threads end-to-end: the published audit equals the
    corpus_release_temp query's card, the meta records the law, and
    the temperature release keeps MORE docs than the budget release
    (alpha=0.5 upweights instead of clamping to the smallest source)."""
    from etl_wikipedia_updates_spark.plans.northstar import (
        corpus_release,
        corpus_release_temp,
    )
    from etl_wikipedia_updates_spark.release import write_release

    root = str(tmp_path / "rel")
    out = write_release(spark, sf_smoke, root, mix_alpha=0.5)
    card = {
        (r["source"], r["split"]): (r["n_docs"], r["id_checksum"])
        for r in corpus_release_temp(spark, sf_smoke).collect()
    }
    published = {
        (d["source"], d["split"]): (d["n_docs"], d["id_checksum"])
        for d in out["audit"]
    }
    assert published == card
    n_temp = sum(v[0] for v in card.values())
    n_budget = sum(
        r["n_docs"] for r in corpus_release(spark, sf_smoke).collect()
    )
    assert n_temp >= n_budget


def test_write_sharded_manifest_matches_files_and_detects_tamper(
    spark, sf_smoke, tmp_path
):
    """The sharded writer lands one file per shard dir, publishes the
    shard_manifest as version metadata, and verify_sharded recomputes
    the manifest FROM the produced files: fresh write verifies ok;
    removing a shard's file is detected (r10 verdict: 'the audit
    exists; the writer it audits doesn't')."""
    import glob
    import shutil

    from etl_wikipedia_updates_spark.stages import N_SHARDS
    from etl_wikipedia_updates_spark.release import (
        verify_sharded,
        write_sharded,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    root = str(tmp_path / "shards")
    out = write_sharded(spark, sf_smoke, root)
    assert out["version"] == 1
    assert len(out["manifest"]) <= N_SHARDS

    res = verify_sharded(spark, root)
    assert res["ok"], res["mismatches"]
    assert res["recomputed"] == out["manifest"]

    # layout: every shard dir holds exactly one data file, and the
    # written rows cover the whole corpus
    t = SnapshotTable(root)
    vdir = t.version_path(out["version"])
    shard_dirs = [d for d in os.listdir(vdir) if d.startswith("shard=")]
    assert len(shard_dirs) == len(out["manifest"])
    for d in shard_dirs:
        files = glob.glob(os.path.join(vdir, d, "*.parquet"))
        assert len(files) == 1, (d, files)
    n_docs = load_table(spark, sf_smoke, "documents").count()
    assert t.read(spark).count() == n_docs
    assert sum(r["n_docs"] for r in out["manifest"]) == n_docs

    # tamper: delete one shard's file -> that shard flagged
    victim = sorted(shard_dirs)[0]
    shutil.rmtree(os.path.join(vdir, victim))
    res2 = verify_sharded(spark, root)
    assert not res2["ok"]
    assert any(
        m.get("error") == "not in data"
        and m["shard"] == int(victim.split("=")[1])
        for m in res2["mismatches"]
    ), res2["mismatches"]


def test_write_sharded_reproducible_under_any_partitioning(
    spark, sf_smoke, tmp_path
):
    """The assignment claim write_sharded's docstring makes — 'any
    cluster size reproduces the identical doc -> shard mapping' —
    pinned: two writes of the same corpus under radically different
    input partitionings (1 vs 13 partitions) publish byte-equal
    per-shard manifests and identical per-shard id sets, and the
    mapping is the pure Python LCG replay of each doc_id."""
    from etl_wikipedia_updates_spark.operators.text import HASH_P
    from etl_wikipedia_updates_spark.stages import N_SHARDS, SHARD_A, SHARD_B
    from etl_wikipedia_updates_spark.release import write_sharded
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    outs = []
    for i, parts in enumerate((1, 13)):
        sf = str(tmp_path / f"sf{i}")
        os.makedirs(sf)
        docs.repartition(parts).write.parquet(
            os.path.join(sf, "documents.parquet")
        )
        outs.append(write_sharded(spark, sf, str(tmp_path / f"out{i}")))

    # manifests byte-equal across partitionings
    assert outs[0]["manifest"] == outs[1]["manifest"]

    def shard_sets(root):
        t = SnapshotTable(root)
        rows = t.read(spark, 1).select("shard", "doc_id").collect()
        out = {}
        for r in rows:
            out.setdefault(int(r["shard"]), set()).add(r["doc_id"])
        return out

    s0 = shard_sets(str(tmp_path / "out0"))
    assert s0 == shard_sets(str(tmp_path / "out1"))

    # the mapping is the declared pure-integer LCG, replayed in Python
    for shard, ids in s0.items():
        for doc_id in ids:
            assert ((doc_id % HASH_P) * SHARD_A + SHARD_B) % HASH_P % N_SHARDS == shard


def test_write_release_with_pii_redaction(spark, tmp_path):
    """`release --redact-pii` ships redacted text as the FINAL stage:
    the released rows carry no raw email/IPv4/phone, membership and
    the audit card are IDENTICAL to an unredacted release of the same
    corpus (redaction is a shipping transform, not a membership
    input), n_chars keeps accounting the original text, and
    verify_release still matches the published card."""
    from etl_wikipedia_updates_spark.release import (
        verify_release,
        write_release,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    # plant PII into every doc's text (append, so quality signals and
    # dedup structure barely move and plenty of docs survive)
    docs = base.withColumn(
        "text",
        F.when(
            F.col("text").isNotNull(),
            F.concat(
                F.col("text"),
                F.lit(" contact me at jane.doe@example.com or 10.0.0.1"),
            ),
        ),
    ).withColumn(
        "n_chars", F.coalesce(F.length("text"), F.lit(0)).cast("long")
    )
    sf = str(tmp_path / "sf")
    docs.write.parquet(sf + "/documents.parquet")

    plain = write_release(spark, sf, str(tmp_path / "rel_plain"))
    red = write_release(
        spark, sf, str(tmp_path / "rel_red"), redact_pii=True
    )
    assert red["audit"] == plain["audit"]  # same members, same card
    assert SnapshotTable(str(tmp_path / "rel_red")).meta_for(1)[
        "redact_pii"
    ] is True

    data = SnapshotTable(str(tmp_path / "rel_red")).read(spark)
    n = data.count()
    assert n > 0
    leaked = data.filter(
        F.col("text").contains("jane.doe@example.com")
        | F.col("text").contains("10.0.0.1")
    ).count()
    assert leaked == 0
    # n_chars still accounts the ORIGINAL text (the audit contract)
    assert (
        data.filter(F.length("text") >= F.col("n_chars")).count() == 0
    ), "redaction should shorten or preserve... original accounting"

    res = verify_release(spark, str(tmp_path / "rel_red"))
    assert res["ok"], res["mismatches"]


def test_shard_release_composition(spark, sf_smoke, tmp_path):
    """The release -> shard composition a training run consumes: shard
    the PUBLISHED release (docs override), manifest totals equal the
    release's audit card totals, per-shard membership is exactly the
    release's member set, and verify_sharded holds on the result."""
    from etl_wikipedia_updates_spark.release import (
        verify_sharded,
        write_release,
        write_sharded,
    )

    rel = str(tmp_path / "rel")
    out_rel = write_release(spark, sf_smoke, rel)
    released = SnapshotTable(rel).read(spark)

    shards = str(tmp_path / "shards")
    out_sh = write_sharded(spark, sf_smoke, shards, docs=released)
    res = verify_sharded(spark, shards)
    assert res["ok"], res["mismatches"]

    audit_docs = sum(r["n_docs"] for r in out_rel["audit"])
    manifest_docs = sum(r["n_docs"] for r in out_sh["manifest"])
    assert manifest_docs == audit_docs
    sharded_ids = {
        r["doc_id"]
        for r in SnapshotTable(shards).read(spark).select("doc_id").collect()
    }
    released_ids = {r["doc_id"] for r in released.select("doc_id").collect()}
    assert sharded_ids == released_ids


def test_write_sharded_n_shards_dial(spark, sf_smoke, tmp_path):
    """The shard-count scale dial: a 64-shard write lands 64 one-file
    dirs, verify_sharded holds (the verifier reads n_shards-agnostic
    stored shard values), and total membership is unchanged."""
    from etl_wikipedia_updates_spark.release import (
        verify_sharded,
        write_sharded,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    root = str(tmp_path / "s64")
    out = write_sharded(spark, sf_smoke, root, n_shards=64)
    assert len(out["manifest"]) <= 64
    assert max(int(r["shard"]) for r in out["manifest"]) >= 16
    res = verify_sharded(spark, root)
    assert res["ok"], res["mismatches"]
    n_docs = load_table(spark, sf_smoke, "documents").count()
    assert sum(r["n_docs"] for r in out["manifest"]) == n_docs


def test_write_release_with_quality_classifier_gate(spark, sf_smoke, tmp_path):
    """The r14 classifier-composition flag: a classifier-gated release
    contains NO member scoring under NGQ_HI_PPM, is a strict subset of
    nobody-below-threshold membership semantics (docs without bigram
    features pass — anti-join on LOW scorers), its audit card totals
    match the published rows, the flag rides in the version metadata,
    and the default-release contract is untouched."""
    from etl_wikipedia_updates_spark.stages import (
        NGQ_HI_PPM,
        ngram_doc_scores,
        release_members,
    )
    from etl_wikipedia_updates_spark.release import write_release
    from etl_wikipedia_updates_spark.tables import load_table

    root = str(tmp_path / "release")
    out = write_release(spark, sf_smoke, root, quality_classifier=True)
    t = SnapshotTable(root)
    assert t.meta_for(1)["quality_classifier"] is True
    got_ids = {r["doc_id"] for r in t.read(spark).select("doc_id").collect()}
    assert got_ids, "classifier-gated release must not be empty"
    assert len(got_ids) == sum(r["n_docs"] for r in out["audit"])

    docs = load_table(spark, sf_smoke, "documents").filter(
        F.col("text").isNotNull()
    )
    low = {
        r["doc_id"]
        for r in ngram_doc_scores(docs)
        .filter(F.col("score_ppm") < NGQ_HI_PPM)
        .collect()
    }
    assert not (got_ids & low), "a below-threshold doc was released"
    # the gate only ever REMOVES docs relative to the plain release's
    # pre-mixing kept set; with recomputed budgets membership is not a
    # strict subset of the plain RELEASE, but it must differ (the
    # threshold splits this corpus) and stay classifier-clean
    plain_ids = {
        r["doc_id"] for r in release_members(spark, sf_smoke).collect()
    }
    assert plain_ids & low, "fixture must have low scorers to gate out"
    assert got_ids != plain_ids


def test_write_packed_manifest_layout_and_tamper(spark, sf_smoke, tmp_path):
    """r17 pack x shard composition: write_packed publishes the packed
    stream one-file-per-(source, seq_block) with the shared-aggregation
    manifest in version metadata; verify_packed recomputes it from the
    files; pack_assignments' seq_first div seqs_per_file IS the file a
    doc's first token lands in (the dataloader map); and tampering —
    deleting a shard dir, or editing a row's tokens — is detected."""
    import glob
    import shutil

    from etl_wikipedia_updates_spark.plans.northstar import (
        pack_assignments,
        seq_pack,
    )
    from etl_wikipedia_updates_spark.release import (
        verify_packed,
        write_packed,
    )

    root = str(tmp_path / "packed")
    spf = 4
    out = write_packed(spark, sf_smoke, root, seqs_per_file=spf)
    assert out["version"] == 1 and out["seqs_per_file"] == spf

    res = verify_packed(spark, root)
    assert res["ok"], res["mismatches"]
    assert res["recomputed"] == out["manifest"]

    # manifest totals == seq_pack audit totals (the two views of the
    # same stream agree)
    audit = {r["source"]: r for r in seq_pack(spark, sf_smoke).collect()}
    assert sum(r["n_docs"] for r in out["manifest"]) == sum(
        a["n_seqs"] for a in audit.values()
    )
    assert sum(r["n_chars_total"] for r in out["manifest"]) == sum(
        a["total_tokens"] for a in audit.values()
    )
    # every shard holds exactly one source (contiguous-run layout)
    assert all(r["n_sources"] == 1 for r in out["manifest"])

    # layout: one parquet per leaf; block dirs contiguous from 0
    t = SnapshotTable(root)
    vdir = t.version_path(out["version"])
    leaves = glob.glob(os.path.join(vdir, "source=*", "seq_block=*"))
    assert len(leaves) == len(out["manifest"])
    for leaf in leaves:
        assert len(glob.glob(os.path.join(leaf, "*.parquet"))) == 1, leaf
    for sdir in glob.glob(os.path.join(vdir, "source=*")):
        blocks = sorted(
            int(os.path.basename(b).split("=")[1])
            for b in glob.glob(os.path.join(sdir, "seq_block=*"))
        )
        assert blocks == list(range(len(blocks))), sdir

    # dataloader map: pack_assignments' seq_first div spf names the
    # shard file whose sequence actually CONTAINS the doc's first token
    pa = {
        (r["source"], r["seq_first"]): r["seq_first"] // spf
        for r in pack_assignments(spark, sf_smoke).collect()
    }
    data = t.read(spark, out["version"]).collect()
    blocks_by_seq = {
        (r["source"], r["seq_id"]): int(r["seq_block"]) for r in data
    }
    for (src, seq_first), blk in pa.items():
        assert blocks_by_seq[(src, seq_first)] == blk

    # tamper 1: delete one shard dir -> flagged "not in data"
    victim = sorted(leaves)[0]
    shutil.rmtree(victim)
    res2 = verify_packed(spark, root)
    assert not res2["ok"]
    assert any(m.get("error") == "not in data" for m in res2["mismatches"])

    # tamper 2 (fresh write): rewrite one shard file with a truncated
    # sequence -> n_chars_total (token-mass checksum) mismatch
    root2 = str(tmp_path / "packed2")
    out2 = write_packed(spark, sf_smoke, root2, seqs_per_file=spf)
    t2 = SnapshotTable(root2)
    vdir2 = t2.version_path(out2["version"])
    leaf = sorted(glob.glob(os.path.join(vdir2, "source=*", "seq_block=*")))[0]
    f = glob.glob(os.path.join(leaf, "*.parquet"))[0]
    df = spark.read.parquet(f)
    from pyspark.sql import functions as F

    (
        df.withColumn("n_tokens", F.col("n_tokens") + 1)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f + ".tmp")
    )
    new = glob.glob(os.path.join(f + ".tmp", "*.parquet"))[0]
    os.remove(f)
    # drop Hadoop's local-FS CRC sidecar too — the swap must get past
    # the transport-level checksum so the MANIFEST check is what
    # detects it (on object stores there is no sidecar to save you)
    crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    shutil.move(new, f)
    shutil.rmtree(f + ".tmp")
    res3 = verify_packed(spark, root2)
    assert not res3["ok"]
    assert any("expected" in m for m in res3["mismatches"])


def test_write_packed_guards(spark, sf_smoke, tmp_path):
    """r17 review regressions: seqs_per_file<1 fails loudly (div 0
    would NULL every seq_block and verify's NULL-propagating filter
    would wave the garbage layout through); verify_packed refuses a
    non-packed snapshot root with a clean error."""
    import pytest

    from etl_wikipedia_updates_spark.release import (
        verify_packed,
        write_packed,
        write_sharded,
    )

    with pytest.raises(ValueError, match="seqs_per_file"):
        write_packed(spark, sf_smoke, str(tmp_path / "p"), seqs_per_file=0)

    sharded = str(tmp_path / "sharded")
    write_sharded(spark, sf_smoke, sharded)
    with pytest.raises(ValueError, match="not a packed write"):
        verify_packed(spark, sharded)
