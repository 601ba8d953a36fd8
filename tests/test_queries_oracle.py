"""Differential test: every declared query vs its DuckDB oracle at sf0.01.

This mirrors the driver's correctness gate (CORRECTNESS_r{N}.json):
same tables, same normalization (columns sorted by name, rows compared
order-insensitively, values exact).
"""

from __future__ import annotations

import pytest

from etl_wikipedia_updates_spark.oracle import compare_frames, duckdb_connection
from etl_wikipedia_updates_spark.registry import REGISTRY

QUERIES_WITH_ORACLE = [
    q for q in REGISTRY.queries.values() if q.oracle is not None
]


@pytest.fixture(scope="module")
def duck(sf_correctness):
    con = duckdb_connection(sf_correctness)
    yield con
    con.close()


@pytest.mark.parametrize(
    "declared", QUERIES_WITH_ORACLE, ids=[q.name for q in QUERIES_WITH_ORACLE]
)
def test_query_matches_oracle(spark, sf_correctness, duck, declared):
    spark_pdf = declared.builder(spark, sf_correctness).toPandas()
    oracle_pdf = duck.sql(declared.oracle).df()
    res = compare_frames(declared.name, spark_pdf, oracle_pdf)
    assert res.ok, f"{declared.name}: {res.detail}"
    assert res.spark_rows > 0, f"{declared.name}: empty result"


def test_adversarial_fixture_parity(spark, tmp_path):
    """Cross-engine parity on the degenerate inputs the fixture corpus
    never exercises: a NULL-text doc (size(NULL) = -1 under legacy
    sizeOfNull vs the oracle's NULL), a NULL-lang doc (would put a
    None key in the language-profile model), a doc_id above ~8.4e9
    (the naive universal-hash product overflows int64 — Spark wraps,
    DuckDB errors), and a source whose every doc is a near-dup of
    another source's (its audit row must not vanish). Each hardened
    query must produce IDENTICAL results on both engines over this
    corpus."""
    import random

    from etl_wikipedia_updates_spark.oracle import (
        compare_frames,
        duckdb_connection,
    )
    from etl_wikipedia_updates_spark.registry import REGISTRY

    random.seed(8)
    words = [f"w{i}" for i in range(60)]

    def text(rng_id, n=40):
        rng = random.Random(rng_id)
        return " ".join(rng.choice(words) for _ in range(n))

    rows = []
    # normal docs across two sources/langs
    for i in range(30):
        rows.append((i, text(i), "en" if i % 2 else "zh", "srcA", 40))
    # srcDUP: verbatim copies of srcA docs under higher ids (same
    # lang — pairing is lang-partitioned) -> every srcDUP doc is a
    # near-dup member dropped by dedup_corpus
    for i in range(5):
        rows.append(
            (1000 + i, text(i), "en" if i % 2 else "zh", "srcDUP", 40)
        )
    # the degenerate rows
    rows.append((2000, None, "en", "srcA", 0))  # NULL text
    rows.append((2001, text(2001), None, "srcA", 40))  # NULL lang
    rows.append((9_223_372_036, text(9), "en", "srcA", 40))  # huge id
    # r19: sub-shingle docs — fewer tokens than any k-gram/shingle
    # window (the winnow_fp INVALID_INDEX_OF_ZERO regression: the
    # k-gram chain evaluates inside the scan-side Filter via the
    # generator's inferred predicate, BEFORE the size(tokens) >= K
    # row filter, so it must be total on 1-2-token docs)
    rows.append((2002, "hello", "en", "srcA", 5))  # 1 token
    rows.append((2003, "two words", "zh", "srcA", 9))  # 2 tokens
    sf_dir = str(tmp_path)
    # a single parquet FILE (pandas), matching the fixture layout the
    # oracle's read_parquet expects (Spark would write a directory)
    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["n_chars"] = pdf["n_chars"].astype("int64")
    pdf.to_parquet(sf_dir + "/documents.parquet")

    duck = duckdb_connection(sf_dir)
    hardened = [
        "token_stats",
        "text_quality",
        "corpus_stats",
        "bm25_rank",
        "seq_pack",
        "sample_hash",
        "stratified_sample",
        "source_mix",
        "dedup_corpus",
        "lang_id",
        "lang_id_chargram",
        "span_dedup",
        "span_removal",
        "minhash_lsh",
        "temperature_mix",
        "charlm_score",
        "shard_manifest",
        "pii_scrub",
        "distinct_kmv",
        # r11: the two rotation-tail doc-table entries join the
        # adversarial fixture (NULL text -> bucket -1 / degenerate
        # strata; huge id; fully-duplicated source). embedding_stats
        # stays out: the fixture has no embeddings table.
        "length_hist",
        "zipf_fit",
        # r15: the BPE/classifier/release family joins — the playbook's
        # standing latent-trap class is exactly NULL-text divergence
        # between map-side plans and explode-based oracles, and none of
        # these were hardened before (the r14 self-review found a real
        # _rep_per_doc NULL bug this fixture would have caught)
        "bpe_token_stats",
        "seq_pack_subword",
        "source_mix_subword",
        "ngram_quality",
        "rep_filter",
        "text_normalize",
        "doc_fingerprint",
        "tfidf_topterms",
        "simhash_pairs",
        "corpus_release",
        "corpus_release_temp",
        "dedup_clusters",
        "pack_assignments",
        # r16: the new registrations join. The fixture has NO src0
        # stratum, so span_decontam exercises the EMPTY-benchmark
        # edge (all-zero audit must still agree cross-engine);
        # packed_sequences exercises NULL text + the huge-id doc.
        "span_decontam",
        "packed_sequences",
        # r19: the four new registrations join, plus the fixture now
        # carries 1-2-token docs (below every shingle/k-gram window).
        # dsir_select exercises the EMPTY-target edge (no
        # CONTAM_BENCH_SOURCE stratum -> pt=0 smoothing on both
        # engines); winnow_fp the short-doc total-evaluation guard
        "dsir_select",
        "winnow_fp",
        "source_overlap",
        "ccnet_buckets",
    ]
    failures = []
    for name in hardened:
        q = REGISTRY.queries[name]
        try:
            r = compare_frames(
                name,
                q.builder(spark, sf_dir).toPandas(),
                duck.sql(q.oracle).df(),
            )
            if not r.ok:
                failures.append((name, r.detail[:160]))
        except Exception as exc:
            failures.append((name, f"EXC {exc}"[:160]))
    assert not failures, failures
    # the fully-deduplicated source keeps its audit row with zeros
    dd = {
        r["source"]: r
        for r in REGISTRY.queries["dedup_corpus"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert dd["srcDUP"]["docs_kept"] == 0
    assert dd["srcDUP"]["docs_dropped"] == dd["srcDUP"]["docs_in"] == 5


def test_canon_cell_handles_array_cells():
    """Array columns reach the harness as numpy ndarrays (Spark
    toPandas) or lists (DuckDB): they must canonicalize elementwise —
    ndarray HAS .item(), which raises on size != 1, so without the
    array branch the differential harness crashed instead of diffing,
    and NaN/-0.0 inside arrays were never collapsed."""
    import numpy as np

    from etl_wikipedia_updates_spark.oracle import _canon_cell

    assert _canon_cell(np.array([1.0, float("nan"), -0.0])) == (1.0, "NaN", 0.0)
    assert _canon_cell([np.float64(2.0), None]) == (2.0, None)
    assert _canon_cell(np.int64(3)) == 3  # scalars still unwrap
    assert _canon_cell(np.array([5])) == (5,)  # size-1 array stays an array


def test_packed_sequences_matches_duckdb(spark, sf_smoke):
    """Differential check for the packed_sequences materializer
    (registered with this same twin since r16 — this predates the
    registration and stays as the direct bare-function check): the
    fragment-assembly Spark plan vs a token-level DuckDB replay
    (unnest + string_agg ORDER BY pos) — value-exact including the
    sequence text bodies."""
    from etl_wikipedia_updates_spark.plans.northstar import (
        PACKED_SEQUENCES_SQL,
    )
    from etl_wikipedia_updates_spark.stages import packed_sequences
    from etl_wikipedia_updates_spark.tables import load_table, spread

    duck = duckdb_connection(sf_smoke)
    got = packed_sequences(
        spread(load_table(spark, sf_smoke, "documents"))
    ).toPandas()
    want = duck.sql(PACKED_SEQUENCES_SQL).df()
    r = compare_frames("packed_sequences", got, want)
    assert r.ok, r.detail
    assert r.spark_rows > 0
