"""Global query registry — single source of truth for __spark_entry__,
tests, and bench.

Registry order is a CERTIFICATION ROTATION over SURVEY.md §2.3's 90
entries (88 oracle-backed + 2 bench-only approximate). The external
correctness gate records the first 50 entries per round, so with the
29 contract rows pinned every round the rotating entries share ~21
slots: the feasible bound is a refresh every THIRD gate, pinned by
tests/test_survey_contract.py (an entry about to exceed it, or never
certified, must sit inside the next window). Order: never-certified
entries, entries changed this round, entries at the freshness bound,
the contract rows Q1-Q28 + wiki, then the oldest remaining rows FIFO.

Round-21 window: the 19 r17-official entries (past the bound after
the r20 recording), the 29 contract rows, and the 2 oldest
r18-certified rows. The other r18-certified entries reach the bound
at r21 and head the next rotation; the r20-certified ones yield.

Every entry is benched by bench.py regardless of position, and the
oracle-backed ones are oracle-tested on every pytest run
(tests/test_queries_oracle.py; q12_approx and percentiles_approx are
approximate by design and get only the driver's rows-only check).
"""

from __future__ import annotations

from etl_wikipedia_updates_spark.plans.base import QueryRegistry
from etl_wikipedia_updates_spark.plans.bpe import BPE_QUERIES
from etl_wikipedia_updates_spark.plans.clustering import CLUSTERING_QUERIES
from etl_wikipedia_updates_spark.plans.corpus import CORPUS_QUERIES
from etl_wikipedia_updates_spark.plans.events import EVENTS_QUERIES
from etl_wikipedia_updates_spark.plans.incremental import INCREMENTAL_QUERIES
from etl_wikipedia_updates_spark.plans.northstar import NORTHSTAR_QUERIES
from etl_wikipedia_updates_spark.plans.relational import RELATIONAL_QUERIES
from etl_wikipedia_updates_spark.plans.wiki import WIKI_QUERIES

DECLARATION_ORDER: list[str] = [
    # --- r17-official entries, past the 3-gate freshness bound ---
    "seq_pack",
    "pack_assignments",
    "rep_filter",
    "corpus_release",
    "corpus_release_temp",
    "multimodal_bytes",
    "ann_lsh",
    "ann_ivf",
    "span_removal",
    "ann_lsh_multiprobe",
    "temperature_mix",
    "distinct_kmv",
    "ann_pq",
    "zipf_fit",
    "length_hist",
    "embedding_stats",
    "ngram_quality",
    "bpe_token_stats",
    "source_mix",
    # --- §2.3 contract rows (always inside the gate window) ---
    *[f"q{i}" for i in range(1, 29)],
    "wiki_pipeline",
    # --- r18-certified block, FIFO in r18 window order: the first 2
    # fill the window's spare slots, the rest head the r22 rotation ---
    "percentiles_refined",
    "bm25_rank",
    # --- positions 51+: past the cutoff this round. Every
    # oracle-backed entry is still differentially tested locally on
    # each pytest run by tests/test_queries_oracle.py ---
    "pii_scrub",
    "charlm_score",
    "shard_manifest",
    "dedup_corpus",
    "span_dedup",
    "token_stats",
    "corpus_stats",
    "minhash_lsh",
    "lang_id",
    "quantize_embeddings",
    "lang_id_chargram",
    "ann_sq8",
    "q12_approx",
    "percentiles_approx",
    "packed_sequences",
    "span_decontam",
    "seq_pack_subword",
    "source_mix_subword",
    "incremental_dedup",
    # r20-certified, FIFO in r20 window order
    "dsir_select",
    "winnow_fp",
    "source_overlap",
    "ccnet_buckets",
    "grouped_agg_udf",
    "kmeans_clusters",
    "ann_kmeans",
    "sample_hash",
    "simhash_pairs",
    "stratified_sample",
    "tfidf_topterms",
    "semantic_dedup",
    "cosine_neardup",
    "text_quality",
    "dedup_clusters",
    "contamination",
    "percentiles",
    "grouped_zscore",
    "doc_fingerprint",
    "text_normalize",
    "incremental_span_dedup",
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

_missing = set(_declared.queries) - set(DECLARATION_ORDER)
_extra = set(DECLARATION_ORDER) - set(_declared.queries)
if _missing or _extra:
    raise RuntimeError(
        "DECLARATION_ORDER out of sync: "
        f"missing={sorted(_missing)} extra={sorted(_extra)}"
    )

REGISTRY = QueryRegistry()
REGISTRY.extend([_declared.queries[name] for name in DECLARATION_ORDER])
