"""The definitional BPE encodes that tests pin plans/bpe.py's shipped
count (doc_nsub_col) against: the pure-Python sequential replay and
the Spark array fold. Neither is on any query's path."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_EMPTY_STR_ARRAY = "cast(array() as array<string>)"


def bpe_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Python replay of the engine encode: rules in rank order, each a
    single left-to-right fold. THE sequential spec (what the oracle
    CTEs and the separator chain compute); O(|merges| x len) per
    word."""
    toks = list(word)
    for a, b in merges:
        out: list[str] = []
        for x in toks:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        toks = out
    return toks


def _chars_col(col: str | Column) -> Column:
    """Code-point array of a word column (name or Column — a Column
    lets the encode run inside a lambda over tokens).
    sequence(1, 0) would count DOWN, so the empty word is guarded
    explicitly; Spark length/substr and DuckDB len/[] both index code
    points, so the twins agree on any charset."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) == 0, F.expr(_EMPTY_STR_ARRAY)
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: c.substr(i, F.lit(1)),
        )
    )


def encode_col(col: str | Column, merges: list[tuple[str, str]]) -> Column:
    """Subword-token ARRAY for word column ``col`` — the DEFINITIONAL
    encode: fold the merge table (bound as a VALUE literal via
    F.lit/F.struct — never inlined into SQL text, the charlm
    string-escape lesson) over the char array; each rule is the inner
    left-to-right fold. Its per-element slice+concat rebuilds are
    O(len^2) per rule, the r13 verdict's measured 3.3x/92.8x root
    cause, which is why the queries count with doc_nsub_col instead."""
    chars = _chars_col(col)
    if not merges:
        return chars
    marr = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in merges
        ]
    )
    return F.aggregate(
        marr,
        chars,
        lambda toks, m: F.aggregate(
            toks,
            F.expr(_EMPTY_STR_ARRAY),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == m["a"])
                & (x == m["b"]),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(m["a"], m["b"])),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        ),
    )
