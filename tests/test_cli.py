"""CLI surface tests (in-process; the CLI reuses the session via
getOrCreate, so no second JVM is started)."""

from __future__ import annotations

import os

import pytest

from etl_wikipedia_updates_spark.__main__ import main
from etl_wikipedia_updates_spark.registry import REGISTRY


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in REGISTRY.queries:
        assert name in out


def test_cli_run_query(spark, sf_smoke, capsys):
    assert main(["run", "q6", "--sf-dir", sf_smoke]) == 0
    assert "r_name" in capsys.readouterr().out


def test_cli_run_unknown(capsys):
    assert main(["run", "nope"]) == 2


def test_cli_ingest_replay(spark, sf_smoke, tmp_path, capsys):
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    events = load_table(spark, sf_smoke, "events")
    replay = str(tmp_path / "replay")
    write_replay_splits(events, replay, 2, "ts")
    assert (
        main(
            [
                "ingest",
                "--replay", replay,
                "--sink", str(tmp_path / "sink"),
                "--sf-dir", sf_smoke,
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert f"'rows': {events.count()}" in out


def test_cli_sse_runs_the_v2_live_path(spark, tmp_path, capsys):
    """`sse` parses, keeps edit/new events and dedups on the natural
    key before it appends: a loopback feed with a duplicate key and a
    `log` event leaves a sink of WIKI_EVENT_COLUMNS without either,
    and `dashboard` reads its event time."""
    import http.server
    import json
    import threading
    import time

    from test_sources import _sse_server

    from etl_wikipedia_updates_spark.pipeline import WIKI_EVENT_COLUMNS
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink

    def event(kind, title, user, dt, new):
        return json.dumps({
            "type": kind, "title": title, "title_url": f"/wiki/{title}",
            "user": user, "bot": False, "meta": {"dt": dt},
            "length": {"old": 10, "new": new},
        })

    feed = [
        event("edit", "A", "alice", "2026-01-08T22:35:51Z", 15),
        event("edit", "A", "alice", "2026-01-08T22:35:51Z", 16),  # dup key
        event("log", "C", "carol", "2026-01-08T22:35:52Z", 10),
        event("new", "B", "bob", "2026-01-08T22:35:53Z", 40),
    ]
    served = threading.Event()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 - stdlib naming
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.end_headers()
            if not served.is_set():
                served.set()
                for line in feed:
                    self.wfile.write(f"event: message\ndata: {line}\n\n".encode())

        def log_message(self, *args):
            pass

    def stop_when_drained():
        # the CLI blocks until --timeout; stop its query once every
        # served event went through a committed trigger
        deadline = time.time() + 120
        while time.time() < deadline:
            for q in spark.streams.active:
                if sum(p["numInputRows"] for p in q.recentProgress) >= len(feed):
                    q.stop()
                    return
            time.sleep(0.5)

    srv = _sse_server(Handler)
    sink = str(tmp_path / "sink")
    watcher = threading.Thread(target=stop_when_drained, daemon=True)
    watcher.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/stream"
        assert main(["sse", "--url", url, "--sink", sink, "--timeout", "150"]) == 0
    finally:
        srv.shutdown()
    watcher.join(timeout=10)
    assert not watcher.is_alive()
    got = read_sink(spark, sink)
    assert got.columns == WIKI_EVENT_COLUMNS
    assert sorted((r["title"], r["username"]) for r in got.collect()) == [
        ("A", "alice"),
        ("B", "bob"),
    ]
    capsys.readouterr()
    assert main(
        ["dashboard", "--sink", sink, "--ts-col", "event_timestamp",
         "--interval", "0", "--polls", "1"]
    ) == 0
    poll = json.loads(capsys.readouterr().out)
    assert poll["rows"] == 2
    newest = got.agg({"event_timestamp": "max"}).first()[0]
    assert newest is not None and poll["max_ts"] == str(newest)


def test_cli_dashboard(spark, sf_smoke, tmp_path, capsys):
    import json

    from etl_wikipedia_updates_spark.tables import load_table

    events = load_table(spark, sf_smoke, "events")
    sink = str(tmp_path / "sink")
    events.write.mode("overwrite").parquet(sink)
    assert (
        main(
            ["dashboard", "--sink", sink, "--interval", "0", "--polls", "2"]
        )
        == 0
    )
    lines = [
        json.loads(l) for l in capsys.readouterr().out.strip().splitlines()
    ]
    assert len(lines) == 2
    assert lines[0]["rows"] == events.count()
    assert lines[1]["delta"]["rows"] == 0  # static sink between polls
    assert lines[1]["events_per_min"] == 0.0
    assert lines[0]["bytes"] > 0


def test_cli_sql(spark, sf_smoke, capsys):
    assert (
        main(
            [
                "sql",
                "SELECT count(*) AS n FROM region",
                "--sf-dir", sf_smoke,
            ]
        )
        == 0
    )
    assert "n" in capsys.readouterr().out


def test_cli_release_remove_spans_and_index_recall(
    spark, sf_smoke, tmp_path, capsys
):
    """r10 surfaces: `release --remove-spans` records the stage in the
    version metadata, and `index stats --recall N` appends the
    measured-accuracy readout beside the footer stats."""
    import json

    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    rel = str(tmp_path / "rel")
    assert (
        main(
            [
                "release", "--out", rel, "--sf-dir", sf_smoke,
                "--remove-spans",
            ]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["audit"]
    assert SnapshotTable(rel).meta_for(1)["remove_spans"] is True

    idx = str(tmp_path / "idx")
    assert (
        main(["index", "build", "--root", idx, "--sf-dir", sf_smoke]) == 0
    )
    capsys.readouterr()
    assert (
        main(
            [
                "index", "stats", "--root", idx,
                "--recall", "4", "--topk", "3",
            ]
        )
        == 0
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    r = stats["recall"]
    assert r["n_queries"] == 4 and 0.0 <= r["recall_at_k"] <= 1.0
    assert len(r["per_query"]) == 4


def test_cli_release_and_index(spark, sf_smoke, tmp_path, capsys):
    import json

    assert (
        main(
            ["release", "--out", str(tmp_path / "rel"), "--sf-dir", sf_smoke]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["audit"]

    assert (
        main(
            [
                "index", "build",
                "--root", str(tmp_path / "idx"),
                "--sf-dir", sf_smoke,
                "--quantize",
            ]
        )
        == 0
    )
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["version"] == 1 and built["k"] == 8 and built["quantized"]
    assert "imbalance" in built and "needs_refit" in built

    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.tables import load_table

    newvecs = str(tmp_path / "newvecs")
    load_table(spark, sf_smoke, "embeddings").limit(10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    ).write.parquet(newvecs)
    assert (
        main(
            [
                "index", "append",
                "--root", str(tmp_path / "idx"),
                "--vectors", newvecs,
            ]
        )
        == 0
    )
    appended = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (
        appended["version"],
        appended["base"],
        appended["appended_rows"],
    ) == (2, 1, 10)
    assert (
        main(["index", "stats", "--root", str(tmp_path / "idx")]) == 0
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["version"] == 2 and stats["n_rows"] > 0
    assert stats["cells"] and 0 < stats["expected_probe_fraction"] <= 1
    assert (
        main(
            [
                "index", "query",
                "--root", str(tmp_path / "idx"),
                "--sf-dir", sf_smoke,
                "--vec-ids", "0", "1",
                "--topk", "2",
                "--n-probes", "2",
            ]
        )
        == 0
    )
    shown = capsys.readouterr().out
    assert "q_vec_id" in shown and "cos_sim" in shown


def test_cli_dedup_ingest(spark, sf_smoke, tmp_path, capsys):
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", str(tmp_path / "sink"),
                "--sf-dir", sf_smoke,
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "rows kept:" in out


def test_cli_dedup_ingest_checkpoint_beside_a_trailing_slash_sink(
    spark, sf_smoke, tmp_path, capsys
):
    """The default checkpoint sits beside the sink, not inside it, when
    the sink is given with a trailing slash — inside, the sink's byte
    walk (the dashboard's D7 gauge) would count checkpoint files."""
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(40)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 1, "doc_id")
    sink = str(tmp_path / "sink")
    argv = ["dedup-ingest", "--replay", replay, "--sf-dir", sf_smoke]
    assert main([*argv, "--sink", sink + "/"]) == 0
    assert "rows kept:" in capsys.readouterr().out
    assert os.path.isdir(sink + "_ckpt")
    assert not os.path.exists(os.path.join(sink, "_ckpt"))


def test_cli_dedup_ingest_quality_mode(spark, sf_smoke, tmp_path, capsys):
    """--mode quality wires the quality-gate + dedup composition
    (corpus_release's streaming twin): the sink must equal the batch
    statement batch_quality_neardup_keep exactly, and --compact-every
    must leave the bucket store folded into a snapshot version."""
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import (
        _batch_dirs,
        read_sink,
        sink_snapshot,
    )
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_quality_neardup_keep,
        bucket_store_path,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 5, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "quality",
                "--compact-every", "2",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out

    def checksum(df):
        r = df.agg(F.count("*").alias("n"), F.sum("doc_id").alias("s")).first()
        return r["n"], r["s"]

    assert checksum(read_sink(spark, sink)) == checksum(
        batch_quality_neardup_keep(docs)
    )
    store = bucket_store_path(sink)
    assert sink_snapshot(store).current_version() is not None
    assert len(_batch_dirs(store)) < 5


def test_cli_maintain_compacts_sink_and_bucket_store(
    spark, sf_smoke, tmp_path, capsys
):
    """The maintain subcommand folds a dedup-ingest sink's batch
    appends AND its neardup bucket store in one pass, without changing
    the data; a second pass with nothing new to fold says so."""
    import json

    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 3, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            ["dedup-ingest", "--replay", replay, "--sink", sink,
             "--sf-dir", sf_smoke]
        )
        == 0
    )
    capsys.readouterr()

    def checksum(df):
        r = df.agg(F.count("*").alias("n"), F.sum("doc_id").alias("s")).first()
        return r["n"], r["s"]

    before = checksum(read_sink(spark, sink))
    assert main(["maintain", "--sink", sink, "--target-files", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sink"]["files_after"] <= 2
    assert out["bucket_store"]["folded_dirs"] >= 1
    assert checksum(read_sink(spark, sink)) == before

    # second pass: sink re-folds (no new appends is still a rewrite of
    # the published version — cheap), bucket store reports no-op
    assert main(["maintain", "--sink", sink]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["bucket_store"] == "nothing to fold"
    assert checksum(read_sink(spark, sink)) == before


def test_cli_dedup_ingest_verified_mode(spark, sf_smoke, tmp_path, capsys):
    """--mode verified wires the precision pipeline: the sink equals
    batch_verified_neardup_keep exactly."""
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_verified_neardup_keep,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 3, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            ["dedup-ingest", "--replay", replay, "--sink", sink,
             "--sf-dir", sf_smoke, "--mode", "verified"]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out

    def checksum(df):
        r = df.agg(F.count("*").alias("n"), F.sum("doc_id").alias("s")).first()
        return r["n"], r["s"]

    assert checksum(read_sink(spark, sink)) == checksum(
        batch_verified_neardup_keep(docs)
    )


def test_cli_dedup_ingest_embedding_verified(spark, sf_smoke, tmp_path, capsys):
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    replay = str(tmp_path / "replay")
    write_replay_splits(emb, replay, 2, "vec_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "embedding-verified",
                "--compact-every", "1",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "rows kept:" in out
    import os as _os

    # both stores materialized under the sink
    assert _os.path.isdir(_os.path.join(sink, "_lsh_buckets"))
    assert _os.path.isdir(_os.path.join(sink, "_vector_store"))


def test_cli_dedup_ingest_embedding_mode(spark, sf_smoke, tmp_path, capsys):
    """--mode embedding replays the embeddings table through sign-bucket
    dedup: the sink must equal batch_embedding_neardup_keep exactly."""
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import (
        batch_embedding_neardup_keep,
    )
    from etl_wikipedia_updates_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    replay = str(tmp_path / "replay")
    write_replay_splits(emb, replay, 3, "vec_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "embedding",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out

    def ids(df):
        return sorted(r["vec_id"] for r in df.select("vec_id").collect())

    kept = ids(read_sink(spark, sink))
    assert kept == ids(batch_embedding_neardup_keep(emb))
    assert 0 < len(kept) < emb.count()


def test_dedup_ingest_modes_dispatch_through_one_table():
    """Session-free guard: the CLI's --mode choices are exactly the
    streaming mode table's keys, and every stream_bench metric label
    maps to a table entry."""
    import argparse
    import importlib.util
    import pathlib

    from etl_wikipedia_updates_spark.__main__ import build_parser
    from etl_wikipedia_updates_spark.streaming.decontam import MODES

    sub = next(
        a for a in build_parser()._actions
        if isinstance(a, argparse._SubParsersAction)
    )
    mode = next(
        a for a in sub.choices["dedup-ingest"]._actions if a.dest == "mode"
    )
    assert list(mode.choices) == list(MODES)

    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "stream_bench.py"
    spec = importlib.util.spec_from_file_location("stream_bench", path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    for label, (name, opts) in bench.MODE_SPECS.items():
        assert name in MODES, label
        assert not opts or MODES[name].bench, label


def test_cli_dedup_ingest_decontam(spark, sf_smoke, tmp_path, capsys):
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "decontam",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out
    import os as _os

    assert _os.path.isdir(_os.path.join(sink, "_contaminated"))


def test_cli_dedup_ingest_decontam_external_bench(
    spark, sf_smoke, tmp_path, capsys
):
    """--bench points decontam at an arbitrary held-out parquet
    instead of the in-table source slice."""
    from pyspark.sql import functions as F

    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    bench_path = str(tmp_path / "bench")
    # external benchmark: 20 verbatim copies of corpus docs under new
    # ids -> those docs must be vetoed
    docs.limit(20).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "lang", "text"
    ).write.parquet(bench_path)
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "decontam",
                "--bench", bench_path,
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "rows kept:" in out
    kept = int(out.rsplit("rows kept:", 1)[1].strip())
    assert kept <= docs.count() - 20  # the 20 copied docs were refused


def test_cli_release_verify(spark, sf_smoke, tmp_path, capsys):
    import json

    root = str(tmp_path / "rel")
    assert main(["release", "--out", root, "--sf-dir", sf_smoke]) == 0
    capsys.readouterr()
    assert main(["release", "--out", root, "--verify"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["ok"] and res["mismatches"] == []


def test_cli_dedup_ingest_curate(spark, sf_smoke, tmp_path, capsys):
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "curate",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out
    import os as _os

    # full pipeline materialized both state stores
    assert _os.path.isdir(_os.path.join(sink, "_contaminated"))
    assert _os.path.isdir(_os.path.join(sink, "_lsh_buckets"))


def test_cli_dedup_ingest_curate_redact_pii(spark, sf_smoke, tmp_path, capsys):
    """--redact-pii threads through to the curation ingest: the flag is
    accepted, the run completes, and the sink equals the redacted
    batch statement (the sf corpus has no PII, so equality with the
    redact_pii batch twin plus a clean exit is the wiring proof)."""
    from etl_wikipedia_updates_spark.streaming.decontam import (
        batch_full_curation_keep,
    )
    from etl_wikipedia_updates_spark.stages import CONTAM_BENCH_SOURCE
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "curate",
                "--redact-pii",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out
    bench = docs.filter(F.col("source") == CONTAM_BENCH_SOURCE)
    expected = batch_full_curation_keep(docs, bench, redact_pii=True)
    got = read_sink(spark, sink)
    assert got.count() == expected.count()
    assert (
        got.agg(F.sum("doc_id")).first()[0]
        == expected.agg(F.sum("doc_id")).first()[0]
    )


def test_cli_redact_pii_requires_curate_mode(spark, sf_smoke, tmp_path, capsys):
    """--redact-pii outside --mode curate must fail loudly (exit 2),
    never silently ship raw PII with a clean exit."""
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    rc = main(
        [
            "dedup-ingest",
            "--replay", replay,
            "--sink", str(tmp_path / "sink"),
            "--sf-dir", sf_smoke,
            "--mode", "doc",
            "--redact-pii",
        ]
    )
    assert rc == 2
    assert "requires --mode curate" in capsys.readouterr().err


def test_cli_index_build_pq(spark, sf_smoke, tmp_path, capsys):
    """--quantize pq builds the IVF-PQ layout end-to-end through the
    CLI (codes + codebooks in metadata) and stats --recall probes it."""
    import json

    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    idx = str(tmp_path / "pq")
    assert (
        main(
            [
                "index", "build", "--root", idx,
                "--sf-dir", sf_smoke, "--quantize", "pq",
            ]
        )
        == 0
    )
    meta = SnapshotTable(idx).meta_for(1)
    assert meta["quantized"] == "pq" and len(meta["pq_books"]) == 4
    capsys.readouterr()
    assert (
        main(
            [
                "index", "stats", "--root", idx,
                "--recall", "3", "--topk", "3",
            ]
        )
        == 0
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0.0 <= stats["recall"]["recall_at_k"] <= 1.0


def test_cli_shard_write_and_verify(spark, sf_smoke, tmp_path, capsys):
    """`shard` writes the fixed-shard layout with its manifest in the
    version metadata; `shard --verify` recomputes from files (exit 0),
    and a tampered version exits 1."""
    import json
    import shutil

    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    root = str(tmp_path / "shards")
    assert main(["shard", "--out", root, "--sf-dir", sf_smoke]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["manifest"]
    assert SnapshotTable(root).meta_for(1)["manifest"] == out["manifest"]

    assert main(["shard", "--out", root, "--verify"]) == 0
    capsys.readouterr()

    vdir = SnapshotTable(root).version_path(1)
    victim = sorted(
        d for d in os.listdir(vdir) if d.startswith("shard=")
    )[0]
    shutil.rmtree(os.path.join(vdir, victim))
    assert main(["shard", "--out", root, "--verify"]) == 1


def test_cli_pack_write_and_verify(spark, sf_smoke, tmp_path, capsys):
    """`pack` publishes the packed stream whose manifest, summed per
    source, carries exactly the seq_pack audit's sequence count and
    token total; `pack --verify` recomputes it from the files (exit 0),
    and a removed source dir exits 1."""
    import json
    import shutil

    from etl_wikipedia_updates_spark.plans.northstar import seq_pack
    from etl_wikipedia_updates_spark.stages import SEQ_LEN
    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    root = str(tmp_path / "packed")
    assert main(["pack", "--out", root, "--sf-dir", sf_smoke]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert SnapshotTable(root).meta_for(out["version"])["seq_len"] == SEQ_LEN
    got: dict = {}
    for r in out["manifest"]:
        g = got.setdefault(r["shard"].rsplit("/", 1)[0], [0, 0])
        g[0] += r["n_docs"]
        g[1] += r["n_chars_total"]
    audit = {
        r["source"]: [r["n_seqs"], r["total_tokens"]]
        for r in seq_pack(spark, sf_smoke).collect()
    }
    assert got == audit

    assert main(["pack", "--out", root, "--verify"]) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["ok"]

    vdir = SnapshotTable(root).version_path(out["version"])
    victim = sorted(d for d in os.listdir(vdir) if d.startswith("source="))[0]
    shutil.rmtree(os.path.join(vdir, victim))
    assert main(["pack", "--out", root, "--verify"]) == 1
    assert not json.loads(capsys.readouterr().out.strip().splitlines()[-1])["ok"]


@pytest.mark.parametrize(
    "job,flags",
    [
        ("release", ["--remove-spans"]),
        ("shard", ["--n-shards", "8", "--from-release", "rel"]),
        ("pack", ["--seqs-per-file", "4"]),
    ],
)
def test_cli_publish_verify_rejects_write_side_flags(
    tmp_path, capsys, job, flags
):
    """--verify checks what is published; a write-side flag beside it
    would be dropped silently, so every publish job exits 2 before it
    starts a session or writes anything."""
    root = str(tmp_path / job)
    assert main([job, "--out", root, "--verify", *flags]) == 2
    assert flags[0] in capsys.readouterr().err
    assert not os.path.exists(root)


def test_cli_shard_rejects_keep_last_below_one(sf_smoke, tmp_path, capsys):
    """A publish vacuums to --keep-last only after its pointer has
    moved, so a value below 1 is refused before anything is published:
    the CLI exits 2 with span-store's message, and the writer itself
    raises before it touches the session or the output."""
    from etl_wikipedia_updates_spark.release import write_sharded

    root = tmp_path / "shards"
    argv = ["shard", "--out", str(root), "--sf-dir", sf_smoke, "--keep-last", "0"]
    assert main(argv) == 2
    err = capsys.readouterr().err
    assert "--keep-last must be >= 1, got 0" in err
    assert main(["span-store", "--store", str(tmp_path / "s"), "--keep-last", "0"]) == 2
    assert capsys.readouterr().err == err
    assert not (root / "_current.json").exists()
    with pytest.raises(ValueError, match="keep_last must be >= 1"):
        write_sharded(None, sf_smoke, str(root), keep_last=0)
    assert not root.exists()


def test_cli_pack_shard_write_and_verify(spark, sf_smoke, tmp_path, capsys):
    """`pack` publishes the packed stream through the manifest-verified
    snapshot layout (one file per (source, seq_id div seqs-per-file)
    shard); `pack --verify` recomputes the manifest from the files; a
    removed shard dir fails the verify."""
    import json
    import shutil

    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable

    root = str(tmp_path / "packed_shards")
    assert (
        main(
            [
                "pack", "--out", root,
                "--sf-dir", sf_smoke, "--seqs-per-file", "4",
            ]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1 and out["manifest"]
    assert out["seqs_per_file"] == 4
    meta = SnapshotTable(root).meta_for(1)
    assert meta["manifest"] == out["manifest"]
    assert meta["kind"] == "packed"

    assert main(["pack", "--out", root, "--verify"]) == 0
    capsys.readouterr()

    vdir = SnapshotTable(root).version_path(1)
    srcdir = sorted(
        d for d in os.listdir(vdir) if d.startswith("source=")
    )[0]
    victim = sorted(
        b
        for b in os.listdir(os.path.join(vdir, srcdir))
        if b.startswith("seq_block=")
    )[0]
    shutil.rmtree(os.path.join(vdir, srcdir, victim))
    assert main(["pack", "--out", root, "--verify"]) == 1


def test_cli_span_store_publish_merge_audit(spark, sf_smoke, tmp_path, capsys):
    """`span-store` (r17): publish the corpus' span hashes, --merge a
    second snapshot in as v2, --audit a crawl against the store —
    audit rows must equal the library path's."""
    import json

    from etl_wikipedia_updates_spark.release import span_store_audit
    from etl_wikipedia_updates_spark.tables import load_table

    root = str(tmp_path / "span_store")
    assert main(["span-store", "--store", root, "--sf-dir", sf_smoke]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 1

    assert (
        main(
            ["span-store", "--store", root, "--sf-dir", sf_smoke, "--merge"]
        )
        == 0
    )
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["version"] == 2

    assert (
        main(
            ["span-store", "--store", root, "--sf-dir", sf_smoke, "--audit"]
        )
        == 0
    )
    audit = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    lib = [
        r.asDict()
        for r in span_store_audit(
            spark, load_table(spark, sf_smoke, "documents"), root
        ).collect()
    ]
    assert audit["audit"] == lib
    # self-probe against a store containing the same corpus: every
    # span is a prior dup
    assert all(r["dup_prior_spans"] == r["total_spans"] for r in lib)

    # --stats (r18): per-version telemetry from metadata alone; the
    # self-merge appends zero new distinct spans
    assert main(["span-store", "--store", root, "--stats"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    vs = stats["versions"]
    assert [s["version"] for s in vs] == [1, 2]
    assert vs[1]["growth_spans"] == 0  # same corpus merged in
    assert vs[0]["n_spans"] == vs[1]["n_spans"] > 0
    assert all(s["n_bytes"] > 0 for s in vs)
    # retention advisory (r19): 2 on-disk versions is exactly the
    # default keep_last=2 horizon — no recommendation; tightening the
    # horizon to 1 must surface the superseded v1 and its bytes
    assert "recommendation" not in stats
    assert (
        main(["span-store", "--store", root, "--stats", "--keep-last", "1"])
        == 0
    )
    tight = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "v[1]" in tight["recommendation"]
    assert str(vs[0]["n_bytes"]) in tight["recommendation"]

    # --keep-last governs the PUBLISH vacuum too (r19 review: the flag
    # was parsed but silently ignored on the publish path, which
    # vacuumed to the library default and could delete versions the
    # operator asked to keep): keep-last 3 publish retains all three
    # versions; a default publish (keep_last=2) then prunes to two
    assert (
        main(
            ["span-store", "--store", root, "--sf-dir", sf_smoke,
             "--merge", "--keep-last", "3"]
        )
        == 0
    )
    capsys.readouterr()
    assert main(["span-store", "--store", root, "--stats"]) == 0
    three = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [s["version"] for s in three["versions"]] == [1, 2, 3]
    # and a default publish (keep_last=2) prunes back down: the vacuum
    # really runs in the prune direction, versions don't accumulate
    assert (
        main(["span-store", "--store", root, "--sf-dir", sf_smoke,
              "--merge"])
        == 0
    )
    capsys.readouterr()
    assert main(["span-store", "--store", root, "--stats"]) == 0
    pruned = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [s["version"] for s in pruned["versions"]] == [3, 4]
    # keep_last < 1 is rejected up front, BEFORE any publish happens
    # (a post-publish ValueError would strand a published version
    # behind a nonzero exit)
    assert (
        main(["span-store", "--store", root, "--sf-dir", sf_smoke,
              "--keep-last", "0"])
        == 2
    )


def test_cli_dedup_ingest_span_mode(spark, sf_smoke, tmp_path, capsys):
    """--mode span (r17): the kept set must equal the batch span rule
    exactly (replay arrives in doc_id order)."""
    from etl_wikipedia_updates_spark.sources.replay import write_replay_splits
    from etl_wikipedia_updates_spark.streaming.ingest import read_sink
    from etl_wikipedia_updates_spark.streaming.neardup import batch_span_keep
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    replay = str(tmp_path / "replay")
    write_replay_splits(docs, replay, 2, "doc_id")
    sink = str(tmp_path / "sink")
    assert (
        main(
            [
                "dedup-ingest",
                "--replay", replay,
                "--sink", sink,
                "--sf-dir", sf_smoke,
                "--mode", "span",
            ]
        )
        == 0
    )
    assert "rows kept:" in capsys.readouterr().out
    assert sorted(
        r["doc_id"] for r in read_sink(spark, sink).collect()
    ) == sorted(r["doc_id"] for r in batch_span_keep(docs).collect())


def test_cli_pack_shard_from_release(spark, sf_smoke, tmp_path, capsys):
    """`pack --from-release` (r17): the packed sharded snapshot is
    built from the CURATED release corpus — its manifest token mass
    equals packed_sequences over the release members, not the raw
    table — and verifies clean."""
    import json

    from etl_wikipedia_updates_spark.stages import packed_sequences
    from etl_wikipedia_updates_spark.release import write_release
    from etl_wikipedia_updates_spark.streaming.snapshot import SnapshotTable
    from pyspark.sql import functions as F

    rel_root = str(tmp_path / "release")
    write_release(spark, sf_smoke, rel_root)
    capsys.readouterr()

    root = str(tmp_path / "packed_rel")
    assert (
        main(
            [
                "pack", "--out", root,
                "--sf-dir", sf_smoke,
                "--from-release", rel_root,
                "--seqs-per-file", "4",
            ]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    meta = SnapshotTable(root).meta_for(out["version"])
    assert meta["source"].startswith(f"release {rel_root} v")
    rel_docs = SnapshotTable(rel_root).read(spark)
    want = packed_sequences(rel_docs).agg(
        F.sum("n_tokens").alias("s")
    ).first()["s"]
    assert sum(r["n_chars_total"] for r in out["manifest"]) == want

    assert main(["pack", "--out", root, "--verify"]) == 0
