"""Expected sink contents for a served feed, and the checker that
compares a sink against them.

The model restates the engine's documented contract (FIXTURES.md A1/A2)
in plain Python: malformed lines and non-edit/new types are dropped,
rows without a parseable second-precision ``meta.dt`` or without a
boolean ``bot`` are dropped, missing lengths default to 0, the first
arrival wins per natural key (event_timestamp, username, title), and
retention keeps the newest rows by event time.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

_DT = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$")


def expected_row(line: str) -> dict | None:
    """The sink row the engine should produce for one payload line."""
    try:
        e = json.loads(line)
    except json.JSONDecodeError:
        return None
    if not isinstance(e, dict) or e.get("type") not in ("edit", "new"):
        return None
    dt = (e.get("meta") or {}).get("dt")
    ts = dt.replace("T", " ").replace("Z", "") if isinstance(dt, str) else None
    if ts is None or not _DT.match(ts) or not isinstance(e.get("bot"), bool):
        return None
    length = e.get("length") or {}
    old = length.get("old") or 0
    new = length.get("new") or 0
    return {
        "raw_json": line,
        "event_timestamp": ts,
        "title": e.get("title"),
        "title_url": e.get("title_url"),
        "bot": e["bot"],
        "username": e.get("user"),
        "length_bytes_old": old,
        "length_bytes_new": new,
        "length_diff_bytes": new - old,
    }


def natural_key(row: dict) -> tuple:
    return (row["event_timestamp"], row["username"], row["title"])


def expected_rows(lines: list[str]) -> dict[tuple, dict]:
    """Natural key -> the first-arriving row for it, in feed order."""
    out: dict[tuple, dict] = {}
    for line in lines:
        row = expected_row(line)
        if row is not None:
            out.setdefault(natural_key(row), row)
    return out


@dataclass
class CheckResult:
    checked: int  # expected rows the check covers, plus sink rows
    failed: int
    problems: list[str]


def check_sink(lines: list[str], sink_rows: list[dict], cap: int) -> CheckResult:
    """Check a retained sink against the feed that produced it.

    - no natural key appears twice;
    - every sink row equals the expected (first-arrival) row for its key;
    - every expected row newer than the oldest retained event time is
      present;
    - the row count is at most 1.1 x cap.
    """
    expected = expected_rows(lines)
    problems: list[str] = []
    failed = 0
    seen: set[tuple] = set()
    for row in sink_rows:
        key = natural_key(row)
        if key in seen:
            failed += 1
            problems.append(f"duplicate key {key}")
            continue
        seen.add(key)
        if expected.get(key) != row:
            failed += 1
            problems.append(f"wrong row for {key}: {row} != {expected.get(key)}")
    oldest = min((r["event_timestamp"] for r in sink_rows), default=None)
    newer = [k for k in expected if oldest is not None and k[0] > oldest]
    missing = [k for k in newer if k not in seen]
    failed += len(missing)
    problems += [f"missing row {k}" for k in missing[:5]]
    if len(sink_rows) > 1.1 * cap:
        failed += 1
        problems.append(f"{len(sink_rows)} rows exceed 1.1 x cap {cap}")
    return CheckResult(len(sink_rows) + len(newer), failed, problems)
