"""Query registry: each declared query = a Spark builder + a DuckDB oracle.

The driver's correctness gate runs ``queries()[name](spark, sf_dir)`` and
hash-compares against ``oracle_sql()[name]`` run in DuckDB over the same
parquet tables. Column names/types must line up, every query must have a
total ORDER BY, and float outputs must be deterministic — see
``functions.deterministic`` for the conventions.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from etl_wikipedia_updates_spark.caches import memo

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class DeclaredQuery:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None → driver records rows-only check
    doc: str = ""
    # True when the builder itself RUNS Spark jobs (k-means fit rounds,
    # connected-components strategy probe): the work is part of the
    # query, so the plan must be rebuilt — never cached — per call.
    eager: bool = False

    def cached_builder(self) -> Builder:
        if self.eager:
            return self.builder

        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            return memo(
                spark,
                ("plan", self.name),
                lambda: self.builder(spark, sf_dir),
                sf_dir,
            )

        return build


@dataclass
class QueryRegistry:
    queries: dict[str, DeclaredQuery] = field(default_factory=dict)

    def add(self, q: DeclaredQuery) -> None:
        if q.name in self.queries:
            raise ValueError(f"duplicate query name {q.name!r}")
        self.queries[q.name] = q

    def extend(self, qs: list[DeclaredQuery]) -> None:
        for q in qs:
            self.add(q)

    def builders(self) -> dict[str, Builder]:
        return {n: q.cached_builder() for n, q in self.queries.items()}

    def oracles(self) -> dict[str, str]:
        return {n: q.oracle for n, q in self.queries.items() if q.oracle is not None}
