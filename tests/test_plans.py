"""Physical-plan regression tests: the scale-critical plan properties
(SCALE.md) must survive refactors. Mirrors tools/explain_audit.py for
the load-bearing subset — a wrong plan shape is a perf bug even when
results stay correct.
"""

from __future__ import annotations

import pytest

from etl_wikipedia_updates_spark.registry import REGISTRY


def _plan(spark, name: str, sf_dir: str) -> str:
    df = REGISTRY.queries[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


CASES = [
    # top-k compiles to per-partition heaps, never a global sort
    ("q1", ["TakeOrderedAndProject"], ["Exchange rangepartitioning"]),
    ("q10", ["TakeOrderedAndProject"], ["Exchange rangepartitioning"]),
    # predicates reach the parquet reader
    ("q2", ["PushedFilters: [IsNotNull(l_shipdate)"], []),
    ("q18", ["PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]"], []),
    # map-side partial aggregation
    ("q3", ["partial_"], []),
    # DSIR scoring: map-side weight-literal fold + top-k heaps; the
    # steady plan has no explode, no join, no range exchange (the
    # fit's explode runs once at build inside caches.memo)
    (
        "dsir_select",
        ["TakeOrderedAndProject", "element_at("],
        ["Generate", "SortMergeJoin", "Exchange rangepartitioning"],
    ),
    # winnowing: one Generate (the density-bounded fingerprint
    # explode), map-side partials, no join (posexplode marker pattern)
    ("winnow_fp", ["Generate", "partial_"], ["SortMergeJoin", "Join"]),
    # source_overlap: the shingle stream collapses map-side into the
    # per-source signature agg (partial_min x 64); the pair join is a
    # bounded broadcast nested-loop over the |sources|-row frame
    (
        "source_overlap",
        ["partial_min", "BroadcastNestedLoopJoin"],
        ["SortMergeJoin"],
    ),
    # ccnet_buckets: exact tercile cutpoints ride the refined-quantile
    # shape (sketch partials + broadcast bracket joins) and bucket
    # assignment broadcasts the |langs|x2 cutpoint frame — nothing
    # corpus-sized exchanges, nothing sort-merges
    (
        "ccnet_buckets",
        ["BroadcastHashJoin", "partial_percentile_approx"],
        ["SortMergeJoin", "Exchange rangepartitioning"],
    ),
    # q8's per-key ranking is a Window operator
    ("q8", ["Window"], []),
    # incremental_dedup's band candidates come from the bucketed join,
    # never from exploding band rows (the one-join pin is
    # test_incremental_dedup_single_vs_join)
    ("incremental_dedup", [], ["Generate"]),
    # dims broadcast; no sort-merge join of a small side
    ("q5", ["BroadcastHashJoin"], []),
    ("q6", ["BroadcastHashJoin"], ["SortMergeJoin"]),
    # brute-force top-k: broadcast probe + ranked window
    ("q25", ["BroadcastNestedLoopJoin", "row_number"], ["SortMergeJoin"]),
    # dictionary joins broadcast in the near-dup family
    ("minhash_lsh", ["BroadcastHashJoin"], []),
    ("ann_ivf", ["BroadcastHashJoin"], []),
    # one ranking window + partial aggregation, no extra exchange
    # layers; the percentile_disc ObjectHashAggregate alternative was
    # measured WORSE at sf0.1 and 10x (falsified r17, SCALE.md)
    ("percentiles", ["Window", "partial_"], ["ObjectHashAggregate"]),
    # the refined exact-quantile path: sketch partials + broadcast
    # bracket joins; the corpus-sized frame is never exchanged (the
    # only hash exchanges carry sketch partials, c_lt partials, and
    # O(n/accuracy) bracket rows) and nothing sort-merges
    (
        "percentiles_refined",
        ["BroadcastHashJoin", "partial_percentile_approx"],
        ["SortMergeJoin", "Exchange rangepartitioning"],
    ),
    # the tiny (doc_id, source) side broadcasts onto the exploded shingles
    ("contamination", ["BroadcastHashJoin"], []),
    # incremental_span_dedup (r17): both sides tagged out of ONE scan —
    # no Union of two filtered copies of the corpus subtree (that
    # would scan + span-hash twice), no Join (the h-window carries the
    # prior flag)
    ("incremental_span_dedup", ["Window", "Generate"], ["Union", "Join"]),
    # k-means: assignment is a projection and cent1 a literal array
    # lookup — the whole summary is join-free (one agg + final sort)
    ("kmeans_clusters", ["HashAggregate"], ["SortMergeJoin", "Join"]),
    # learned-cell probe: broadcast queries + ranked window, no merge join
    ("ann_kmeans", ["BroadcastHashJoin", "row_number"], ["SortMergeJoin"]),
    # grouped-map crosses to Python exactly once; aggregation stays two-phase
    ("grouped_zscore", ["FlatMapGroupsInPandas", "partial_"], []),
    # scalar pandas_udf runs as Arrow-batched eval, not row-at-a-time Python
    ("q28", ["ArrowEvalPython"], ["BatchEvalPython"]),
    # grouped-agg pandas UDAF plans as its dedicated Arrow aggregate
    ("grouped_agg_udf", ["ArrowAggregatePython"], ["BatchEvalPython"]),
    # posting-list pair shape (r5): the pair stream comes from explode
    # generators over grouped lists — no per-key count window (the df
    # cap is a size filter) and no nested-transform whole-pair-array
    # value (flatten would materialize n^2 structs in one buffer)
    ("q26", ["Generate"], ["Window", "flatten"]),
    # total_order = round-robin Exchange(1) + sort: a range exchange
    # would SAMPLE (re-execute) the whole upstream plan
    ("q3", [], ["Exchange rangepartitioning"]),
    ("q26", [], ["Exchange rangepartitioning"]),
    ("cosine_neardup", [], ["Exchange rangepartitioning"]),
    ("bm25_rank", [], ["Exchange rangepartitioning"]),
    # rep_filter (r14 replan): per-doc repetition counts are ONE
    # map-side struct projection (array_sort + run-max folds) — no
    # explode (the r11-r13 tagged-explode shape shuffled the corpus's
    # token stream twice), no joins, map-side partials into the one
    # audit agg
    (
        "rep_filter",
        ["array_sort(", "partial_"],
        ["Generate", "Join", "Exchange rangepartitioning"],
    ),
    # source_mix: the per-source budget frame broadcasts back onto the
    # corpus — the corpus itself must never shuffle on the skewed
    # source key before the final audit agg
    ("source_mix", ["BroadcastHashJoin", "partial_"], ["SortMergeJoin"]),
    # bm25 (r7 replan, r18 single-scan): per-doc scoring is in-array
    # map work; corpus stats are one single-row broadcast agg. The
    # ONE deliberate hashpartitioning exchange is the r18 shared
    # projection (doc_id, dl, tf_*) both branches reuse — ~40
    # bytes/doc on the wire instead of a second scan+tokenize of the
    # corpus (ReusedExchange pinned in
    # test_prefix_sum_exchange_is_reused). An explode would mean the
    # old corpus-scale token shuffle crept back. r10: the top-k is
    # TakeOrderedAndProject (per-partition heaps); the unpartitioned
    # rank window sits ABOVE it over <= BM25_TOPK rows (pinned
    # structurally in test_bm25_rank_window_is_limit_bounded).
    (
        "bm25_rank",
        [
            "BroadcastExchange",
            "TakeOrderedAndProject",
            "hashpartitioning(doc_id",
        ],
        ["Generate", "SortMergeJoin"],
    ),
    # tfidf (r8 broadcast-direction fix): the doc_id-bounded tf frame
    # broadcasts onto the streamed vocab-scale df branch — never a
    # merge join, and never a broadcast of the vocabulary (1e8-1e9
    # terms at web scale)
    ("tfidf_topterms", ["BroadcastHashJoin"], ["SortMergeJoin"]),
    # seq_pack (r8 replan): two-phase distributed prefix sum — the
    # corpus's one shuffle is the window on the COMPOSITE range-bucket
    # key (hashpartitioning(bkt, source)), and the per-bucket offsets
    # broadcast back; a corpus window partitioned on source alone
    # (the |sources|-task funnel) would show as a Window whose
    # exchange precedes any bkt column, which the bkt requirement plus
    # the broadcast join excludes. Token counts stay size(split)
    # projections — no explode, no doc-keyed shuffle.
    (
        "seq_pack",
        ["hashpartitioning(bkt", "Window", "BroadcastHashJoin"],
        ["Generate", "hashpartitioning(doc_id", "SortMergeJoin"],
    ),
    # pack_assignments (r15): seq_pack's consumable half rides the SAME
    # _seq_pack_cum prefix sum — identical shuffle contract, and the
    # per-doc projection adds no exchange
    (
        "pack_assignments",
        ["hashpartitioning(bkt", "Window", "BroadcastHashJoin"],
        ["Generate", "hashpartitioning(doc_id", "SortMergeJoin"],
    ),
    # span_dedup (r8): ONE Generate (span rows at stride), one
    # h-keyed window shuffle for the cross-doc mark, partial aggs —
    # no joins anywhere (a join of spans to a dup-hash set would be
    # span-scale x span-scale)
    (
        "span_dedup",
        ["Generate", "hashpartitioning(h", "Window", "partial_"],
        ["Join"],
    ),
    # span_removal (r10): the same one-Generate + h-window core as
    # span_dedup, then ONE doc_id-keyed aggregation and a doc_id join
    # back to the corpus with NO broadcast assumption and no global
    # sort beyond the total_order contract exchange
    (
        "span_removal",
        ["Generate", "hashpartitioning(h", "Window"],
        ["Exchange rangepartitioning", "BroadcastNestedLoopJoin"],
    ),
    # temperature_mix (r10): same scale contract as source_mix — the
    # per-source threshold frame broadcasts back onto the corpus; the
    # corpus never shuffles on the skewed source key before the final
    # audit agg (the sqrt runs once per SOURCE, membership is integer
    # math per row)
    ("temperature_mix", ["BroadcastHashJoin", "partial_"], ["SortMergeJoin"]),
    # charlm_score (r10): the dense in-array scorer is a PURE
    # projection — no explode, no join, no window; the only shuffle is
    # the source-key audit agg with map-side partials (the huge-charset
    # fallback reintroduces Generate + BroadcastHashJoin, covered by
    # test_charlm_fallback_join_path_matches_dense)
    (
        "charlm_score",
        ["partial_"],
        ["Generate", "Join", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython", "Window"],
    ),
    # shard_manifest (r10; totals replanned r20): stateless per-row
    # shard assignment feeding one N_SHARDS-key agg with map-side
    # partials; no explode, no joins at all — the corpus totals are
    # window sums over the N_SHARDS-row aggregate (constant-bounded;
    # the r10 single-row totals broadcast planned the docs subtree
    # twice), so exactly one scan survives
    ("shard_manifest", ["partial_", "Window"], ["SortMergeJoin", "Generate", "Join"]),
    # semantic_dedup (r10): assignment is a map-side struct-min
    # projection over inlined centroid literals (no centroid-frame
    # join), the pair space is cell-blocked, everything stays JVM-side
    ("semantic_dedup", ["partial_"], ["BatchEvalPython", "ArrowEvalPython"]),
    # pii_scrub (r10): JVM-regex map-side projections + one source-key
    # agg — no explode, no joins, no Python
    (
        "pii_scrub",
        ["partial_"],
        ["Generate", "Join", "BatchEvalPython", "ArrowEvalPython"],
    ),
    # distinct_kmv (r11 replan): the exact audit fuses its distinct
    # into a two-level count(DISTINCT tid) aggregate; the sketch
    # branch prunes map-side before its distinct. The branches share
    # only the stateless scan+explode+hash projection — no
    # lineage-truncated RDD (Scan ExistingRDD forbidden: that was the
    # r10 localCheckpoint's cluster-reliability hazard); the only
    # window is per-source over pruned survivors
    (
        "distinct_kmv",
        ["Generate", "partial_"],
        ["BatchEvalPython", "Scan ExistingRDD"],
    ),
    # ann_pq (r10): encoding is a map-side projection over inlined
    # codebook literals; the 5-query table frame broadcasts onto the
    # streamed codes (BNLJ, the q25 shape); ranked windows per query
    ("ann_pq", ["BroadcastNestedLoopJoin", "row_number"],
     ["SortMergeJoin", "BatchEvalPython"]),
    # zipf_fit (r10): one token explode, map-side partials; the rank
    # window's input is bounded by the frequent-term filter
    ("zipf_fit", ["Generate", "partial_", "Window"],
     ["Join", "BatchEvalPython"]),
    # bpe_token_stats (r14 replan): the whole-text replace-chain
    # encode is a pure map-side projection — one scan, one
    # |sources|-key agg. Forbidding Generate/Join pins out both
    # falsified predecessors (per-occurrence fold, dictionary join);
    # forbidding "aggregate(" pins out any HOF-fold encode (the
    # O(merges x len^2) slice+concat rebuild the r13 verdict measured
    # at 92.8x)
    (
        "bpe_token_stats",
        ["replace(", "partial_"],
        ["Generate", "Join", "aggregate("],
    ),
    # seq_pack_subword (r14 replan): whitespace seq_pack's exact plan
    # (two-phase prefix sum on the composite bkt key, offsets
    # broadcast) with n_tok swapped to the replace-chain count — still
    # no explode, no merge join, no doc_id-keyed corpus shuffle, no
    # HOF-fold encode
    (
        "seq_pack_subword",
        ["replace(", "hashpartitioning(bkt", "Window", "BroadcastHashJoin"],
        ["Generate", "SortMergeJoin", "aggregate(", "hashpartitioning(doc_id"],
    ),
    # source_mix_subword (r15 replan): the memoized |sources|-row
    # budget model binds as a LOCAL rates frame broadcast onto the
    # replace-chain encode — one corpus pass, no persist (an
    # InMemoryTableScan would mean the r14 cached-frame ladder came
    # back), and the corpus still never shuffles on the skewed source
    # key
    (
        "source_mix_subword",
        ["replace(", "BroadcastHashJoin", "partial_", "LocalTableScan"],
        ["Generate", "SortMergeJoin", "aggregate(", "InMemoryTableScan"],
    ),
    # span_decontam (r16): the decontamination asymmetry — the bench
    # span-hash set broadcasts (LeftOuter probe), the train side is
    # one Generate + map-side probe + partial aggs with NO corpus
    # h-exchange and no merge join anywhere
    (
        "span_decontam",
        ["Generate", "BroadcastHashJoin LeftOuter", "partial_"],
        ["SortMergeJoin", "BatchEvalPython"],
    ),
    # packed_sequences (r16 registration): the shared _seq_pack_cum
    # prefix-sum contract (bkt exchange + offsets broadcast), ONE
    # fragment Generate above it, and the skew-free (source, seq_id)
    # assembly agg — never a doc_id corpus shuffle or merge join
    (
        "packed_sequences",
        ["hashpartitioning(bkt", "Window", "BroadcastHashJoin", "Generate"],
        ["SortMergeJoin", "hashpartitioning(doc_id"],
    ),
    # ngram_quality (r15 replan): the 4096-bucket weight model is
    # collected at build and folded into the scorer as an array
    # literal, so the steady plan is ONE map-side fold + the audit
    # agg — no explode, no join of any kind, no cached frame (the fit
    # explode runs in its own build-time job, not in this plan)
    (
        "ngram_quality",
        ["partial_", "element_at("],
        ["Generate", "Join", "BatchEvalPython", "InMemoryTableScan"],
    ),
]


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
    # projection — the CASES pin requires its presence, this states
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


@pytest.mark.parametrize("name,need,forbid", CASES, ids=[c[0] for c in CASES])
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
