"""tools/make_tier.py: the reproducible replicated tier (SCALE 10x)."""

from __future__ import annotations


def test_make_tier_replicates_documents(tmp_path):
    """tools/make_tier.py (the reproducible SCALE 10x tier): K copies
    with disjoint 1M-offset id ranges, copy 0 byte-identical to the
    base, later copies suffix-mutated (near- not exact-duplicates)
    with n_chars tracking the mutated text, and every other table
    copied through unchanged."""
    import sys

    import duckdb

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from tools.make_tier import make_tier

    base = "/root/testdata/sf0.001"
    out = str(tmp_path / "tier")
    n = make_tier(base, out, copies=3)
    con = duckdb.connect()
    nb = con.sql(
        f"SELECT COUNT(*) FROM read_parquet('{base}/documents.parquet')"
    ).fetchone()[0]
    assert n == 3 * nb
    t = f"read_parquet('{out}/documents.parquet')"
    # disjoint id ranges, one block per copy
    assert con.sql(
        f"SELECT COUNT(DISTINCT doc_id // 1000000) FROM {t}"
    ).fetchone()[0] == 3
    # copy 0 is byte-identical to the base
    assert con.sql(
        f"""SELECT COUNT(*) FROM {t} a
            JOIN read_parquet('{base}/documents.parquet') b USING (doc_id)
            WHERE a.doc_id < 1000000
              AND (a.text IS DISTINCT FROM b.text
                   OR a.n_chars IS DISTINCT FROM b.n_chars)"""
    ).fetchone()[0] == 0
    # later copies: mutated (not exact dups) but share the base prefix,
    # and n_chars tracks the mutated text
    assert con.sql(
        f"""SELECT COUNT(*) FROM {t} a
            JOIN read_parquet('{base}/documents.parquet') b
              ON a.doc_id = b.doc_id + 1000000
            WHERE b.text IS NOT NULL
              AND (a.text = b.text OR a.text NOT LIKE b.text || '%'
                   OR a.n_chars != len(a.text))"""
    ).fetchone()[0] == 0
    # other tables copied through
    import os

    assert os.path.exists(out + "/lineitem.parquet")


def test_make_tier_replicates_events_orders(tmp_path):
    """r17 extension: --tables documents,events,orders replicates the
    time-series tables too — disjoint 10M-offset id blocks, timestamps
    nudged +k seconds per copy (denser per-key timelines, no exact
    K-way ties), key columns (user_id / o_custkey) carried through
    unchanged so key cardinality is scale-invariant."""
    import sys

    import duckdb

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from tools.make_tier import make_tier

    base = "/root/testdata/sf0.001"
    out = str(tmp_path / "tier")
    make_tier(base, out, copies=3, tables=("documents", "events", "orders"))
    con = duckdb.connect()
    for tbl, idc, key, ts in (
        ("events", "event_id", "user_id", "ts"),
        ("orders", "o_orderkey", "o_custkey", "o_orderdate"),
    ):
        t = f"read_parquet('{out}/{tbl}.parquet')"
        b = f"read_parquet('{base}/{tbl}.parquet')"
        nb = con.sql(f"SELECT COUNT(*) FROM {b}").fetchone()[0]
        n, blocks, keys = con.sql(
            f"SELECT COUNT(*), COUNT(DISTINCT {idc} // 10000000), "
            f"COUNT(DISTINCT {key}) FROM {t}"
        ).fetchone()
        assert n == 3 * nb and blocks == 3
        assert keys == con.sql(
            f"SELECT COUNT(DISTINCT {key}) FROM {b}"
        ).fetchone()[0]
        # copy k's timestamps are base + k seconds, keys unchanged
        assert con.sql(
            f"""SELECT COUNT(*) FROM {t} a
                JOIN {b} o ON a.{idc} = o.{idc} + 20000000
                WHERE a.{ts} != o.{ts} + INTERVAL 2 SECOND
                   OR a.{key} IS DISTINCT FROM o.{key}"""
        ).fetchone()[0] == 0


def test_make_tier_relayout_clears_stale_parts(tmp_path):
    """--files relayout regression (r19 review): re-running make_tier
    into the same out_dir with FEWER part files must not leave the
    prior run's higher-numbered parts behind (they would silently
    inflate the tier's row count for every bench that reads it), and
    switching back to the single-file layout over a directory must
    replace the directory instead of failing DuckDB's COPY."""
    import sys

    import duckdb

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from tools.make_tier import make_tier

    base = "/root/testdata/sf0.001"
    out = str(tmp_path / "tier")
    n = make_tier(base, out, copies=4, files=4)
    con = duckdb.connect()
    doc_glob = f"read_parquet('{out}/documents.parquet/*.parquet')"
    assert con.sql(f"SELECT COUNT(*) FROM {doc_glob}").fetchone()[0] == n
    import os

    assert len(os.listdir(out + "/documents.parquet")) == 4
    # fewer files over the same dir: stale parts must be gone
    n2 = make_tier(base, out, copies=4, files=2)
    assert n2 == n
    assert len(os.listdir(out + "/documents.parquet")) == 2
    assert con.sql(f"SELECT COUNT(*) FROM {doc_glob}").fetchone()[0] == n
    # back to the single-file layout: the directory is replaced
    n3 = make_tier(base, out, copies=4, files=1)
    assert n3 == n
    assert os.path.isfile(out + "/documents.parquet")
    assert con.sql(
        f"SELECT COUNT(*) FROM read_parquet('{out}/documents.parquet')"
    ).fetchone()[0] == n
    # passthrough over a stale replicated DIRECTORY (r19 review #2):
    # a table replicated multi-file in run 1 but merely passed
    # through in run 2 must be replaced by the base file, not copied
    # NESTED inside the stale part directory
    make_tier(base, out, copies=4, tables=("documents", "events"),
              files=2)
    assert os.path.isdir(out + "/events.parquet")
    make_tier(base, out, copies=4, tables=("documents",), files=1)
    assert os.path.isfile(out + "/events.parquet")
    nb_events = con.sql(
        f"SELECT COUNT(*) FROM read_parquet('{base}/events.parquet')"
    ).fetchone()[0]
    assert con.sql(
        f"SELECT COUNT(*) FROM read_parquet('{out}/events.parquet')"
    ).fetchone()[0] == nb_events
