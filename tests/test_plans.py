"""Physical-plan regression tests: the scale-critical plan properties
(SCALE.md) must survive refactors. Every row of ``plan_pins.PLAN_PINS``
(the table tools/explain_audit.py reports on too) is asserted here,
with the structural pins a fragment cannot express — a wrong plan
shape is a perf bug even when results stay correct.
"""

from __future__ import annotations

import pytest

from etl_wikipedia_updates_spark.plan_pins import PLAN_PINS
from etl_wikipedia_updates_spark.registry import REGISTRY


def _plan(spark, name: str, sf_dir: str) -> str:
    df = REGISTRY.queries[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _subtree_lines(tree: str, marker: str):
    """Yield the lines strictly below each ``marker`` node in a Spark
    plan tree string (children are the following lines with deeper
    tree-prefix indentation; prefixes are built from ' ', ':', '+',
    '-' only)."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    lines = tree.splitlines()
    for i, line in enumerate(lines):
        if marker not in line:
            continue
        d = depth(line)
        for sub in lines[i + 1 :]:
            if sub.strip() and depth(sub) <= d:
                break
            yield sub


def test_tfidf_broadcasts_tf_not_vocab(spark, sf_smoke):
    """Pin the broadcast DIRECTION, not just its existence: the
    BroadcastExchange subtree must be the doc_id-bounded tf branch,
    never the vocabulary-sized df branch (the vocab is 1e8-1e9 terms
    at web scale — unbroadcastable). The df branch is the only
    subtree containing array_distinct, so no broadcast subtree may
    contain it; conversely at least one must carry tf's pushed
    doc_id range filter."""
    df = REGISTRY.queries["tfidf_topterms"].builder(spark, sf_smoke)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in physical
    bcast = list(_subtree_lines(physical, "BroadcastExchange"))
    assert bcast, "no broadcast subtree found"
    assert not any("array_distinct" in ln for ln in bcast), (
        "vocab (array_distinct) branch is being broadcast"
    )
    assert any("doc_id" in ln for ln in bcast), (
        "expected the doc_id-bounded tf branch under the broadcast"
    )


def test_bm25_rank_window_is_limit_bounded(spark, sf_smoke):
    """The rank window's input must be the TakeOrderedAndProject's
    bounded output — an unpartitioned window directly over the
    corpus-scale matched set is the 100 TB single-task funnel this
    replan removed. Pin: every Window node's subtree contains the
    TakeOrderedAndProject (i.e. the limit runs BELOW the window)."""
    df = REGISTRY.queries["bm25_rank"].builder(spark, sf_smoke)
    physical = df._jdf.queryExecution().executedPlan().toString()
    # the r18 matched-docs barrier window is partitioned on the
    # unique doc_id (single-row partitions — not a funnel) and sits
    # below the limit by design; the pin applies to the RANK window
    # (row_number), which must be fed by the bounded top-k output
    assert any("row_number" in ln for ln in physical.splitlines()), (
        "expected the rank window in the plan"
    )
    # every hash exchange must be the ONE deliberate shared doc_id
    # projection — the PLAN_PINS row requires its presence, this states
    # exclusivity so a corpus-scale shuffle on any OTHER key can't
    # slip back in behind it (r18 review)
    import re as _re

    other = [
        m
        for m in _re.findall(r"hashpartitioning\(\w+", physical)
        if not m.startswith("hashpartitioning(doc_id")
    ]
    assert not other, f"unexpected non-doc_id hash exchanges: {other}"
    rank_subtrees = list(_subtree_lines(physical, "row_number"))
    assert any("TakeOrderedAndProject" in ln for ln in rank_subtrees), (
        "rank window is not fed by the sort+limit top-k"
    )


def test_documents_doc_id_unique(spark, sf_smoke):
    """bm25_rank's matched-docs barrier window assumes doc_id is UNIQUE
    (r18 advice): with duplicated ids a zero-match row sharing an id
    with a matching row would survive the tfs>0 filter with score 0.
    This pins the precondition on the table the query is registered
    against — if the testdata generator ever replays doc_ids, this
    fails before the query's semantics silently change."""
    from etl_wikipedia_updates_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    assert docs.count() == docs.select("doc_id").distinct().count(), (
        "documents.doc_id is not unique — bm25_rank's window-barrier "
        "filter precondition is violated (dedup upstream first)"
    )


@pytest.mark.parametrize("name,need,forbid", PLAN_PINS, ids=[c[0] for c in PLAN_PINS])
def test_plan_shape(spark, sf_smoke, name, need, forbid):
    plan = _plan(spark, name, sf_smoke)
    for frag in need:
        assert frag in plan, f"{name}: expected {frag!r} in physical plan"
    for frag in forbid:
        assert frag not in plan, f"{name}: forbidden {frag!r} in physical plan"


def test_incremental_dedup_single_vs_join(spark, sf_smoke):
    """incremental_dedup's scale story is that the recrawl pays ONLY
    new-vs-prior candidates: exactly one join in the whole plan (the
    band-bucketed vs-join), never a second prior x prior pass and
    never an unbucketed product. Walks the pre-AQE physical plan (an
    explain-string count would double-count AQE's initial-plan echo)."""
    df = REGISTRY.queries["incremental_dedup"].builder(spark, sf_smoke)
    plan = df._jdf.queryExecution().sparkPlan()

    def nodes(node):
        yield node
        cs = node.children()
        for i in range(cs.size()):
            yield from nodes(cs.apply(i))

    joins = [
        n.getClass().getSimpleName()
        for n in nodes(plan)
        if "Join" in n.getClass().getSimpleName()
    ]
    assert len(joins) == 1, joins
    assert joins[0] not in (
        "CartesianProductExec",
        "BroadcastNestedLoopJoinExec",
    ), joins


def test_corpus_release_eval_here_barrier(spark, sf_smoke):
    """corpus_release keeps the repetition fold above the scan with an
    eval_here barrier (an always-false SPARK_PARTITION_ID() < 0
    disjunct). Its effect rides Catalyst internals, so a Spark upgrade
    could push the fold to the scan again: the disjunct must survive
    into the physical plan, each barrier filter must carry exactly one
    copy of the fold (alias substitution once inlined it per extracted
    field), and the fold must never reach a scan's PushedFilters."""
    plan = _plan(spark, "corpus_release", sf_smoke).splitlines()
    fold = "named_struct(n_words"
    barriers = [ln for ln in plan if "SPARK_PARTITION_ID() < 0" in ln]
    assert barriers, "eval_here barrier disjunct folded away"
    assert all(ln.count(fold) == 1 for ln in barriers), barriers
    assert not any(fold in ln for ln in plan if "PushedFilters" in ln)


def test_pack_assignments_aggregates_to_seq_pack_audit(spark, sf_smoke):
    """pack_assignments and seq_pack are two views of ONE prefix sum
    (_seq_pack_cum): re-aggregating the per-doc map must reproduce the
    audit card exactly — n_docs, total_tokens, split count (seq_last >
    seq_first), and n_seqs (max seq_last + 1 per source)."""
    from etl_wikipedia_updates_spark.plans.northstar import (
        pack_assignments,
        seq_pack,
    )

    audit = {r["source"]: r for r in seq_pack(spark, sf_smoke).collect()}
    asg = pack_assignments(spark, sf_smoke).collect()
    by_src: dict = {}
    for r in asg:
        a = by_src.setdefault(
            r["source"], {"n": 0, "tok": 0, "split": 0, "maxseq": -1}
        )
        a["n"] += 1
        a["tok"] += r["n_tok"]
        a["split"] += int(r["seq_last"] > r["seq_first"])
        a["maxseq"] = max(a["maxseq"], r["seq_last"])
        assert 0 <= r["tok_offset"] < 512
    assert set(by_src) == set(audit)
    for s, a in by_src.items():
        assert a["n"] == audit[s]["n_docs"], s
        assert a["tok"] == audit[s]["total_tokens"], s
        assert a["split"] == audit[s]["n_split_docs"], s
        assert a["maxseq"] + 1 == audit[s]["n_seqs"], s


def test_packed_sequences_roundtrip_and_lengths(spark, sf_smoke):
    """packed_sequences materializes exactly the stream the audit
    sizes: per source, (a) the sequence count equals seq_pack's
    n_seqs, (b) every sequence except the last carries exactly
    SEQ_LEN tokens (the last carries total mod SEQ_LEN, unless 0),
    and (c) concatenating sequences in seq_id order reproduces the
    concatenation of the source's docs in doc_id order token for
    token — the round-trip that proves no fragment was lost,
    duplicated, or reordered."""
    from etl_wikipedia_updates_spark.plans.northstar import seq_pack
    from etl_wikipedia_updates_spark.stages import SEQ_LEN, packed_sequences
    from etl_wikipedia_updates_spark.tables import load_table, spread

    docs = spread(load_table(spark, sf_smoke, "documents"))
    packed = packed_sequences(docs).collect()
    audit = {r["source"]: r for r in seq_pack(spark, sf_smoke).collect()}

    by_src: dict = {}
    for r in packed:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(audit)
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["seq_id"])
        assert [r["seq_id"] for r in rows] == list(range(len(rows)))
        assert len(rows) == audit[src]["n_seqs"]
        for r in rows[:-1]:
            assert r["n_tokens"] == SEQ_LEN, (src, r["seq_id"])
        total = audit[src]["total_tokens"]
        assert rows[-1]["n_tokens"] == (total - 1) % SEQ_LEN + 1
        got_stream = " ".join(r["text"] for r in rows).split(" ")
        want_stream = []
        for d in sorted(
            (
                r
                for r in docs.filter(docs.text.isNotNull()).collect()
                if r["source"] == src
            ),
            key=lambda r: r["doc_id"],
        ):
            want_stream.extend(d["text"].lower().split(" "))
        assert got_stream == want_stream, src


@pytest.mark.parametrize(
    "name",
    [
        "seq_pack",
        "seq_pack_subword",
        "pack_assignments",
        "packed_sequences",
        # r18: bm25_rank adopted the same pattern — its stats and
        # per-doc branches share one (doc_id, dl, tf_*) exchange
        # instead of two corpus scans
        "bm25_rank",
        # r19: source_overlap's pair-join branches share the one
        # per-source signature exchange — without reuse the corpus
        # would be scanned and shingled twice
        "source_overlap",
    ],
)
def test_prefix_sum_exchange_is_reused(spark, sf_smoke, name):
    """The r16 stage-reuse guarantee, pinned structurally: both
    _seq_pack_cum branches must canonicalize to the SAME exchange so
    the shuffle (and the scan/encode under it) materializes once per
    execution. Under AQE the reuse happens in the runtime stage cache
    (invisible to explain), but with adaptive execution disabled the
    static ReuseExchange rule performs the identical canonical
    comparison — so its marker in the formatted plan is the proxy.
    If a Spark upgrade or a _seq_pack_cum edit makes the copies drift
    apart again (column pruning or a pushed filter differing between
    branches — or the optimizer constant-folding the zero guards),
    this goes red instead of silently doubling the BPE encode."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # the raw builder, NOT the plan cache: a cached DataFrame may
        # carry a queryExecution already materialized under AQE
        df = REGISTRY.queries[name].builder(spark, sf_smoke)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan, (
        f"{name}: the two prefix-sum branches no longer canonicalize "
        "to one exchange — the shuffle (scan + encode) runs twice"
    )


def test_reuse_dependent_plans_pin_spark_version():
    """Spark-version tripwire (r18 verdict #6): three query families —
    _seq_pack_cum's prefix-sum, bm25_rank's single-scan, and
    source_overlap's shared signature exchange — depend on
    exchange reuse, an optimizer behavior that is version-coupled (the
    static ReuseExchange rule's canonicalization can change across
    releases). This test fails on ANY pyspark version bump, so the
    upgrade procedure starts at the pins instead of in production:
    re-run test_prefix_sum_exchange_is_reused +
    test_bm25_rank_window_is_limit_bounded + tools/explain_audit.py
    under the new version, then (and only then) update PINNED here."""
    import pyspark

    PINNED = "4.1.2"
    assert pyspark.__version__ == PINNED, (
        f"pyspark {pyspark.__version__} != pinned {PINNED}. The "
        "exchange-reuse plans (_seq_pack_cum, bm25_rank) are "
        "optimizer-version-coupled: re-run the plan-pin tests and "
        "tools/explain_audit.py under the new version before "
        "updating this pin."
    )
