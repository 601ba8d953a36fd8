#!/usr/bin/env python
"""Physical-plan audit: verify the scale-critical plan properties hold.

For each row of ``plan_pins.PLAN_PINS`` (the table tests/test_plans.py
asserts), formats the query's physical plan and checks the fragments it
must and must not contain: filters push down, dim joins broadcast,
top-k compiles to TakeOrderedAndProject (no global sort), and so on.

Additionally, EVERY registered query's physical plan is walked for
unpartitioned Window nodes (the 100 TB single-task funnel): such a
window is allowed only when its input subtree is bounded by a limit
operator (TakeOrderedAndProject / GlobalLimit / CollectLimit — then
the window sorts <= K rows) or the query is in the documented
allowlist. Zero undocumented hits is the pass condition.

Prints PASS/WARN per check. Run: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_wikipedia_updates_spark.plan_pins import PLAN_PINS
from etl_wikipedia_updates_spark.registry import REGISTRY
from etl_wikipedia_updates_spark.session import get_spark

# Queries allowed to carry an unpartitioned, not-limit-bounded Window,
# with the reason. The audit exists to catch corpus-scale single-task
# funnels; the entries below are window FLOORS over post-aggregation
# |sources|-row budget frames (a source catalog, bounded at any SF) —
# the r19-optimization replan of crossJoin(broadcast(budgets.agg(min))),
# whose agg form planned the whole budgets subtree (often a full
# corpus scan) once per consumer. Test tooling's global ntile
# (sources/replay.py) is documented there and is not a registered
# query.
_BUDGET_FLOOR_WINDOW = (
    "min(chars) floor over the |sources|-row budgets aggregate — "
    "catalog-bounded input, replaces a duplicated corpus subtree"
)
UNPARTITIONED_WINDOW_ALLOWLIST: dict[str, str] = {
    "source_mix": _BUDGET_FLOOR_WINDOW,
    "corpus_release": _BUDGET_FLOOR_WINDOW,
    "corpus_release_temp": _BUDGET_FLOOR_WINDOW,
    # r20: _temperature_mix now routes through temp_rates (the entry
    # was declared in r19 for a replan that round missed; live now)
    "temperature_mix": _BUDGET_FLOOR_WINDOW,
    # r20: manifest totals = window sums over the N_SHARDS-row
    # post-aggregation shards frame (constant-bounded by N_SHARDS),
    # replacing a docs.agg crossJoin that planned the docs subtree
    # twice
    "shard_manifest": (
        "sum(n_docs)/sum(n_chars_total) totals over the N_SHARDS-row "
        "shards aggregate — constant-bounded input, replaces a "
        "duplicated corpus subtree"
    ),
}

# Physical operators that bound their output to <= K rows: a window
# whose subtree contains one of these sorts a constant-sized frame.
_LIMIT_NODES = (
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "CollectLimitExec",
    "LocalLimitExec",
)


def _iter_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _iter_nodes(children.apply(i))


def unbounded_unpartitioned_windows(df) -> list[str]:
    """Names of Window nodes with an EMPTY partition spec whose input
    subtree carries no limit operator — the shapes that funnel
    arbitrary data through one task. Walks the pre-AQE physical plan
    via py4j (text matching can't tell a partitioned window from an
    unpartitioned one reliably)."""
    plan = df._jdf.queryExecution().sparkPlan()
    bad = []
    for node in _iter_nodes(plan):
        cls = node.getClass().getSimpleName()
        if cls not in ("WindowExec", "WindowGroupLimitExec"):
            continue
        if not node.partitionSpec().isEmpty():
            continue
        children = node.children()
        bounded = any(
            sub.getClass().getSimpleName() in _LIMIT_NODES
            for i in range(children.size())
            for sub in _iter_nodes(children.apply(i))
        )
        if not bounded:
            bad.append(cls)
    return bad


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="explain_audit", shuffle_partitions=8)
    failures = 0
    for name, need, forbid in PLAN_PINS:
        q = REGISTRY.queries[name]
        plan = q.builder(spark, sf_dir)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        for frag in need:
            ok = frag in plan
            failures += 0 if ok else 1
            print(f"{'PASS' if ok else 'WARN'} {name}: expects {frag!r}")
        for frag in forbid:
            ok = frag not in plan
            failures += 0 if ok else 1
            print(f"{'PASS' if ok else 'WARN'} {name}: forbids {frag!r}")
    # r20 (r19 advice): pin the eval_here pushdown barrier in
    # corpus_release. The barrier's effect rides unpinned Catalyst
    # internals (spark_partition_id staying nondeterministic-flagged;
    # no rule folding the always-false disjunct), so a Spark upgrade
    # could silently re-push the rep fold to the scan — the committed
    # plans/r19 dumps are static artifacts, not a gate. Checks: the
    # barrier disjunct survives into the physical plan, every barrier
    # filter carries exactly ONE copy of the _REP_COUNTS fold (the
    # 6x alias-substitution blowup re-inlines it per extracted field),
    # and the fold never reaches a parquet scan's pushed filters.
    plan = (
        REGISTRY.queries["corpus_release"]
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    fold_sig = "named_struct(n_words"
    barrier_lines = [
        ln for ln in plan.splitlines() if "SPARK_PARTITION_ID() < 0" in ln
    ]
    checks = [
        ("barrier disjunct present", bool(barrier_lines)),
        (
            "one rep-fold copy per barrier filter",
            all(ln.count(fold_sig) == 1 for ln in barrier_lines),
        ),
        (
            "rep fold not in scan pushed filters",
            not any(
                fold_sig in ln
                for ln in plan.splitlines()
                if "PushedFilters" in ln
            ),
        ),
    ]
    for label, ok in checks:
        failures += 0 if ok else 1
        print(f"{'PASS' if ok else 'WARN'} corpus_release barrier: {label}")
    # engine-wide structural sweep: no undocumented single-task windows
    for name, q in REGISTRY.queries.items():
        hits = unbounded_unpartitioned_windows(q.builder(spark, sf_dir))
        if not hits:
            continue
        if name in UNPARTITIONED_WINDOW_ALLOWLIST:
            print(
                f"PASS {name}: unpartitioned window allowed "
                f"({UNPARTITIONED_WINDOW_ALLOWLIST[name]})"
            )
            continue
        failures += 1
        print(f"WARN {name}: unbounded unpartitioned window {hits}")
    print(f"{'ALL OK' if failures == 0 else f'{failures} WARNINGS'}")
    spark.stop()
    if failures:
        # Non-zero exit so automation gating on the audit actually
        # fails on a plan regression — the whole point of the tool.
        raise SystemExit(1)


if __name__ == "__main__":
    main()
