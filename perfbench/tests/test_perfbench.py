"""The benchmark's own tests: no engine session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import builtins
import glob
import json
import os
import symtable
import sys
import urllib.request
from datetime import datetime, timezone

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, PERFBENCH)

from common import tail_percentile  # noqa: E402
from loadgen import SSEFeedServer, make_feed  # noqa: E402
from wiki_model import check_sink, expected_rows  # noqa: E402
from wl_wiki import attribute_latency  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a = make_feed(7, 20, 100, 300, 5.0)
    b = make_feed(7, 20, 100, 300, 5.0)
    c = make_feed(8, 20, 100, 300, 5.0)
    assert [(m.line, m.due_s) for m in a.messages] == [(m.line, m.due_s) for m in b.messages]
    assert [m.line for m in a.messages] != [m.line for m in c.messages]


def test_generator_mix_covers_the_contract_cases():
    feed = make_feed(3, 200, 800, 3200, 20.0)
    lines = [m.line for m in feed.messages]
    parsed = []
    malformed = 0
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            malformed += 1
    types = {e["type"] for e in parsed}
    assert types == {"edit", "new", "log", "categorize"}
    assert malformed > 0
    assert any("length" not in e for e in parsed)
    assert any("bot" not in e for e in parsed)
    assert len(set(lines)) < len(lines)  # redelivered duplicates
    dts = [e["meta"]["dt"] for e in parsed]
    assert any(b < a for a, b in zip(dts, dts[1:]))  # out of order
    due = [m.due_s for m in feed.paced]
    assert due == sorted(due) and 0 <= due[0] and due[-1] <= 20.0
    # the due offset rides in the payload as an unknown field
    first_paced = json.loads(feed.paced[0].line)
    assert first_paced["bench"]["due_s"] == feed.paced[0].due_s


def _progress(batch_id: int, seq: int, start: str, total_ms: int) -> dict:
    return {
        "batchId": batch_id,
        "timestamp": start,
        "durationMs": {"triggerExecution": total_ms},
        "sources": [{"endOffset": repr({"since": "x", "seq": seq})}],
    }


def test_latency_is_attributed_through_end_offset_seq():
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()
    prog = [
        _progress(0, 10, "2026-01-01T00:00:00.000Z", 1000),  # ends t0+1
        _progress(1, 25, "2026-01-01T00:00:05.000Z", 2000),  # ends t0+7
    ]
    due = {9: t0 + 0.5, 10: t0 + 0.6, 11: t0 + 2.0, 25: t0 + 6.0, 26: t0 + 6.5}
    lat = attribute_latency(prog, due)
    assert lat[9] == pytest.approx(0.5)
    assert lat[10] == pytest.approx(0.4)
    assert lat[11] == pytest.approx(5.0)  # first covered by batch 1
    assert lat[25] == pytest.approx(1.0)
    assert 26 not in lat  # never committed: counted as lost


def test_curate_doc_latency_tail_is_the_last_commit():
    from wl_curate import doc_latency_p99

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()
    prog = [
        {**_progress(0, 0, "2026-01-01T00:00:01.000Z", 2000), "numInputRows": 600},
        {**_progress(1, 0, "2026-01-01T00:00:03.000Z", 4000), "numInputRows": 600},
    ]
    # 1% of 1,200 docs is 12 beyond p99: all of them in the second trigger
    assert doc_latency_p99(prog, t0) == pytest.approx(7.0)


def test_percentile_rule_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 1001)]
    v, q = tail_percentile(values, 99.0)
    assert q == 99.0 and sum(x > v for x in values) == 10
    short = values[:400]
    v, q = tail_percentile(short, 99.0)
    assert q == pytest.approx(97.5) and sum(x > v for x in short) == 10
    with pytest.raises(ValueError):
        tail_percentile(values[:10], 99.0)


def test_checker_catches_one_injected_wrong_row():
    feed = make_feed(5, 0, 0, 400, 1.0)
    lines = [m.line for m in feed.messages]
    rows = list(expected_rows(lines).values())
    assert check_sink(lines, rows, cap=len(rows)).failed == 0
    wrong = [dict(r) for r in rows]
    wrong[len(wrong) // 2]["length_diff_bytes"] += 1
    res = check_sink(lines, wrong, cap=len(rows))
    assert res.failed == 1 and "wrong row" in res.problems[0]


def test_checker_catches_duplicate_missing_and_overflow():
    feed = make_feed(6, 0, 0, 400, 1.0)
    lines = [m.line for m in feed.messages]
    rows = sorted(expected_rows(lines).values(), key=lambda r: r["event_timestamp"])
    assert check_sink(lines, rows + [rows[-1]], cap=len(rows)).failed == 1
    newest_gone = rows[:-1]
    assert check_sink(lines, newest_gone, cap=len(rows)).failed == 1
    assert check_sink(lines, rows, cap=len(rows) // 2).failed == 1


def _undefined_globals(path: str) -> set[str]:
    """Names read as globals anywhere in a module that the module neither
    defines nor imports and that are not builtins."""
    with open(path) as fh:
        top = symtable.symtable(fh.read(), path, "exec")
    defined = {
        s.get_name() for s in top.get_symbols() if s.is_assigned() or s.is_imported()
    } | set(dir(builtins)) | {"__file__"}
    missing: set[str] = set()

    def walk(table):
        for sym in table.get_symbols():
            if sym.is_referenced() and (table is top or sym.is_global()):
                if sym.get_name() not in defined:
                    missing.add(sym.get_name())
        for child in table.get_children():
            walk(child)

    walk(top)
    return missing


@pytest.mark.parametrize(
    "module", sorted(glob.glob(os.path.join(PERFBENCH, "*.py"))), ids=os.path.basename
)
def test_every_global_name_a_module_reads_is_defined(module):
    # a workload's run() needs a Spark session, so a misspelt constant in
    # it would otherwise only show up as a crash mid-run
    assert _undefined_globals(module) == set()


def test_result_line_metrics_are_the_ones_benchmark_json_lists():
    import layers
    import run
    from common import ROOT, unit

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E_METRICS)
    assert [m["name"] for m in bench["per_layer"]] == layers.METRICS
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == unit(m["name"])
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    with open(os.path.join(PERFBENCH, "design.json")) as fh:
        design = json.load(fh)
    assert set(design["workloads"]) == set(run.WORKLOADS)
    for name in run.WORKLOADS:
        module = __import__(run.MODULES[name])
        assert set(module.E2E) == set(run.E2E_METRICS) - {"setup_s", "peak_rss_mb"}


def _read_sse(url: str, n: int) -> list[str]:
    out = []
    with urllib.request.urlopen(url, timeout=10) as resp:
        for raw in resp:
            line = raw.decode().rstrip("\n")
            if line.startswith("data: "):
                out.append(line[len("data: "):])
                if len(out) == n:
                    break
    return out


def test_server_serves_warm_prefix_then_paced_and_burst_in_order():
    feed = make_feed(9, 5, 20, 30, 0.2)
    server = SSEFeedServer(feed).start()
    try:
        warm = _read_sse(server.url, 100)  # closed after the warm prefix
        assert warm == [m.line for m in feed.messages[:5]]
        server.start_paced()
        rest = _read_sse(server.url, 50)
        assert rest == [m.line for m in feed.messages[5:]]
        assert server.log.connects == 2
        assert len(server.log.lateness_s) == 20
    finally:
        server.stop()
