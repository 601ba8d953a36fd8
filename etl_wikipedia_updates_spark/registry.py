"""Global query registry — single source of truth for __spark_entry__,
tests, and bench.

Registry order is a CERTIFICATION ROTATION over SURVEY.md §2.3's 90
entries (88 oracle-backed + 2 bench-only approximate). The external
correctness gate records the first 50 entries per round, so with the
29 contract rows pinned every round the rotating entries share ~21
slots: the feasible bound is a refresh every THIRD gate, pinned by
tests/test_survey_contract.py (an entry about to exceed it, or never
certified, must sit inside the next window). ``certification_rotation``
computes the order from the CORRECTNESS_r*.json history: the entries
that are due, then the contract rows Q1-Q28 + wiki, then the rest,
each group stalest first.

Every entry is benched by bench.py regardless of position, and the
oracle-backed ones are oracle-tested on every pytest run
(tests/test_queries_oracle.py; q12_approx and percentiles_approx are
approximate by design and get only the driver's rows-only check).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from etl_wikipedia_updates_spark.plans.base import QueryRegistry
from etl_wikipedia_updates_spark.plans.bpe import BPE_QUERIES
from etl_wikipedia_updates_spark.plans.clustering import CLUSTERING_QUERIES
from etl_wikipedia_updates_spark.plans.corpus import CORPUS_QUERIES
from etl_wikipedia_updates_spark.plans.events import EVENTS_QUERIES
from etl_wikipedia_updates_spark.plans.incremental import INCREMENTAL_QUERIES
from etl_wikipedia_updates_spark.plans.northstar import NORTHSTAR_QUERIES
from etl_wikipedia_updates_spark.plans.relational import RELATIONAL_QUERIES
from etl_wikipedia_updates_spark.plans.wiki import WIKI_QUERIES

HISTORY_ROOT = Path(__file__).resolve().parents[1]  # CORRECTNESS_r*.json
CONTRACT_ROWS = frozenset([*(f"q{i}" for i in range(1, 29)), "wiki_pipeline"])
FRESHNESS_BOUND = 3  # gates an entry may go without an official row


def _official(row) -> bool:
    """A recorded row that certifies its entry: no error, or the
    rows-only record (err='no_oracle' with a counted result) of an
    oracle-less approximate entry."""
    return isinstance(row, dict) and (
        not row.get("err")
        or (row.get("err") == "no_oracle" and row.get("spark_rows") is not None)
    )


def certification_history() -> dict[int, list[str]]:
    """{round: the names with an official row, in that round's file
    order}, from the CORRECTNESS_r{N}.json files."""
    return {
        int(re.search(r"r(\d+)", f.name).group(1)): [
            name for name, row in json.loads(f.read_text()).items()
            if _official(row)
        ]
        for f in HISTORY_ROOT.glob("CORRECTNESS_r*.json")
    }


def certification_rotation(
    names: list[str], history: dict[int, list[str]]
) -> list[str]:
    """``names`` in gate order: first the DUE entries (never certified,
    or newest official round <= latest - FRESHNESS_BOUND), then the
    CONTRACT_ROWS, then everything else. Within each group the
    stalest come first: by newest certified round (never certified
    before any), ties by position in that round's file (never-
    certified ties by position in ``names``)."""
    latest = max(history, default=0)

    def newest(name: str) -> int:  # -1: never certified
        return max((r for r, rows in history.items() if name in rows), default=-1)

    def stalest_first(name: str) -> tuple[int, int]:
        r = newest(name)
        return (r, history[r].index(name)) if r >= 0 else (r, names.index(name))

    due = [
        n for n in names
        if newest(n) < 0 or newest(n) <= latest - FRESHNESS_BOUND
    ]
    pinned = [n for n in names if n in CONTRACT_ROWS and n not in due]
    rest = [n for n in names if n not in due and n not in pinned]
    return [
        name
        for group in (due, pinned, rest)
        for name in sorted(group, key=stalest_first)
    ]


_declared = QueryRegistry()
_declared.extend(RELATIONAL_QUERIES)
_declared.extend(EVENTS_QUERIES)
_declared.extend(NORTHSTAR_QUERIES)
_declared.extend(CLUSTERING_QUERIES)
_declared.extend(CORPUS_QUERIES)
_declared.extend(WIKI_QUERIES)
_declared.extend(BPE_QUERIES)
_declared.extend(INCREMENTAL_QUERIES)

DECLARATION_ORDER = certification_rotation(
    list(_declared.queries), certification_history()
)

REGISTRY = QueryRegistry()
REGISTRY.extend([_declared.queries[name] for name in DECLARATION_ORDER])
