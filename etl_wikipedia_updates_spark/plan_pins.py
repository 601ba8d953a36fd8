"""Plan pins: the scale-critical physical-plan properties (SCALE.md)
of registered queries, as fragments of the formatted plan each one must
and must not contain. ``tests/test_plans.py`` asserts every row at
sf0.001 and ``tools/explain_audit.py`` prints a PASS/WARN line per
fragment; a wrong plan shape is a perf bug even when results stay
correct. A query may have more than one row; its pins are their union.
"""

from __future__ import annotations

# (query, must contain, must not contain)
PLAN_PINS: list[tuple[str, list[str], list[str]]] = [
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
        ["Generate", "Join", "SortMergeJoin", "BatchEvalPython",
         "Exchange rangepartitioning"],
    ),
    # winnowing: one Generate (the density-bounded fingerprint
    # explode), map-side partials, no join (posexplode marker pattern)
    (
        "winnow_fp",
        ["Generate", "partial_"],
        ["SortMergeJoin", "Join", "BatchEvalPython"],
    ),
    # source_overlap: the shingle stream collapses map-side into the
    # per-source signature agg (partial_min x 64); the pair join is a
    # bounded broadcast nested-loop over the |sources|-row frame
    (
        "source_overlap",
        ["partial_min", "BroadcastNestedLoopJoin"],
        ["SortMergeJoin", "BatchEvalPython"],
    ),
    # ccnet_buckets: exact tercile cutpoints ride the refined-quantile
    # shape (sketch partials + broadcast bracket joins) and bucket
    # assignment broadcasts the |langs|x2 cutpoint frame — nothing
    # corpus-sized exchanges, nothing sort-merges
    (
        "ccnet_buckets",
        ["BroadcastHashJoin", "partial_percentile_approx"],
        ["SortMergeJoin", "Exchange rangepartitioning", "BatchEvalPython"],
    ),
    # q8's per-key ranking is a Window operator
    ("q8", ["Window"], []),
    # incremental_dedup's band candidates come from the bucketed join,
    # never from exploding band rows or an unbucketed product (the
    # one-join pin is test_incremental_dedup_single_vs_join)
    (
        "incremental_dedup",
        [],
        ["Generate", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
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
    (
        "incremental_span_dedup",
        ["Window", "Generate", "hashpartitioning(h"],
        ["Union", "Join"],
    ),
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
        ["Generate", "Join", "SortMergeJoin", "BatchEvalPython",
         "InMemoryTableScan"],
    ),
]
