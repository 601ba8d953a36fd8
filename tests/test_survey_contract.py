"""SURVEY.md §2.3 is the declared query contract — the blueprint a
fresh context builds from. Every registered query must be declared
there, and every declared entry must exist in the registry, or the two
drift apart silently (round 10 shipped 76 registry entries while the
contract listed 74: length_hist and embedding_stats were invisible to
the document; the r10 verdict flagged it). This test parses the §2.3
tables and pins name-set equality in both directions, so the contract
can never under- or over-declare again.
"""

from __future__ import annotations

import re
from pathlib import Path

from etl_wikipedia_updates_spark.registry import REGISTRY

SURVEY = Path(__file__).resolve().parent.parent / "SURVEY.md"

# Rows that are contract IDs but not registry entries: the W1-W5
# conformance family is registered as the single wiki_pipeline entry
# (declared by name in the extensions table), and S1-S5 are streaming
# checks proven by tests/test_streaming.py, not DataFrame-returning
# registry queries.
NON_REGISTRY_IDS = {"W1-W5", "S1", "S2", "S3", "S4", "S5"}


def declared_names() -> set[str]:
    text = SURVEY.read_text(encoding="utf-8")
    m = re.search(r"### 2\.3 .*?(?=\n## )", text, flags=re.S)
    assert m, "SURVEY.md section 2.3 not found"
    names: set[str] = set()
    for line in m.group(0).splitlines():
        if not line.startswith("|"):
            continue
        first = line.split("|")[1].strip()
        if first in ("ID", "") or set(first) <= {"-"}:
            continue  # header / divider rows
        if first in NON_REGISTRY_IDS:
            continue
        if re.fullmatch(r"Q\d+", first):
            names.add(first.lower())
        elif re.fullmatch(r"[a-z][a-z0-9_]*", first):
            names.add(first)
        else:
            raise AssertionError(
                f"unrecognized SURVEY.md 2.3 row ID {first!r} — add it to "
                "the table with a registry name, or to NON_REGISTRY_IDS "
                "with a reason"
            )
    return names


def test_survey_contract_matches_registry():
    declared = declared_names()
    registered = set(REGISTRY.queries)
    missing_from_survey = registered - declared
    missing_from_registry = declared - registered
    assert not missing_from_survey, (
        "registered but undeclared in SURVEY.md 2.3: "
        f"{sorted(missing_from_survey)}"
    )
    assert not missing_from_registry, (
        "declared in SURVEY.md 2.3 but not registered: "
        f"{sorted(missing_from_registry)}"
    )
    assert len(declared) == len(registered)


def test_certification_rotation_keeps_official_rows_fresh():
    """The r14 verdict's staleness finding, turned into a red test: the
    external gate records only the FIRST 50 registry entries per round
    (CORRECTNESS_r{N}.json), so DECLARATION_ORDER is a certification
    rotation. Policy bound: with 82 registered entries, ~29 contract
    rows pinned in every window, and a 50-entry window, the rotating
    ~53 entries share ~21 slots a round — so the FEASIBLE steady-state
    guarantee is a refresh at least every THIRD gate. Enforced
    deadline: given history through round R, any entry whose newest
    official row is <= R-3 (it would be 4+ gates old at the next
    recording — past the bound with no slack), and any entry with no
    official row ever, must sit INSIDE the next gate window (the first
    50 names). Entries at R-2 are expected to be scheduled by the
    NEXT round's rotation (the registry docstring names that queue);
    testing them here would false-positive in the post-gate window
    where round N's recording exists but round N+1's rotation hasn't
    happened yet. Rows-only approximate entries participate via their
    err='no_oracle' recorded rows."""
    import json

    root = Path(__file__).resolve().parent.parent
    history: dict[int, set[str]] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        n = int(re.search(r"r(\d+)", f.name).group(1))
        data = json.loads(f.read_text())
        history[n] = {
            name
            for name, row in data.items()
            if isinstance(row, dict)
            and (
                not row.get("err")
                # the rows-only record for oracle-less approximate
                # entries: err='no_oracle' with a counted result IS
                # their official row
                or (
                    row.get("err") == "no_oracle"
                    and row.get("spark_rows") is not None
                )
            )
        }
    assert history, "no CORRECTNESS_r*.json history found"
    latest = max(history)
    from etl_wikipedia_updates_spark.registry import DECLARATION_ORDER

    window = set(DECLARATION_ORDER[:50])
    stale = []
    for name in REGISTRY.queries:
        newest = max(
            (n for n, names in history.items() if name in names),
            default=None,
        )
        if newest is None or newest <= latest - 3:
            if name not in window:
                stale.append((name, newest))
    assert not stale, (
        "entries about to exceed the 3-gate refresh bound (or never "
        f"certified) are outside the next 50-entry gate window: "
        f"{sorted(stale)} — move them to the head of DECLARATION_ORDER"
    )


def test_certification_rotation_rule_on_synthetic_history():
    """The rotation rule on a made-up history (latest round 5, so an
    entry is due when its newest official round is <= 2): due entries
    first, never-certified ones in declaration order, then the
    contract rows, then the rest; each group stalest first, ties by
    position in that round's file. A due contract row is due first."""
    from etl_wikipedia_updates_spark.registry import certification_rotation

    names = [
        "fresh", "q1", "never_b", "old_b", "mid", "q2", "old_a",
        "never_a", "wiki_pipeline", "mid2",
    ]
    history = {
        1: ["q2"],
        2: ["old_b", "old_a", "q2_typo"],
        3: ["mid2", "mid", "old_a_typo"],
        5: ["q1", "wiki_pipeline", "fresh"],
    }
    assert certification_rotation(names, history) == [
        "never_b", "never_a", "q2", "old_b", "old_a",  # due
        "q1", "wiki_pipeline",  # contract rows
        "mid2", "mid", "fresh",  # the rest
    ]
    # no history: everything is due, in declaration order
    assert certification_rotation(names, {}) == names
