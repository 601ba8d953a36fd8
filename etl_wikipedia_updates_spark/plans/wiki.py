"""W1-W5: wiki-event pipeline conformance query (SURVEY §2.3).

The fixture is embedded (FIXTURES.md A1: all four change types, missing
length / length.old, a duplicate natural key, malformed JSON, missing
required fields, unknown extra fields), so the query is self-contained:
the builder replays the fixture through ``pipeline.wiki_transform`` and
the oracle reimplements the same transform in DuckDB SQL over the same
literal lines. One registry entry covers the full W1-W5 surface:

- W1 type filter (rows 'log'/'categorize' dropped)
- W2 flatten + defaults (missing length -> 0/0, missing old -> 0)
- W3 derived length_diff_bytes
- W4 ISO8601 'T'/'Z' normalization
- W5 dedup on (event_timestamp, username, title), deterministic survivor
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_wikipedia_updates_spark.functions.deterministic import ts_str
from etl_wikipedia_updates_spark.pipeline import wiki_transform
from etl_wikipedia_updates_spark.plans.base import DeclaredQuery
from etl_wikipedia_updates_spark.stages import total_order

FIXTURE_LINES: list[str] = [
    # full edit (baseline)
    '{"type": "edit", "title": "Alpha", "title_url": "https://wiki.example/Alpha",'
    ' "user": "alice", "bot": false, "meta": {"dt": "2026-01-08T22:35:51Z"},'
    ' "length": {"old": 100, "new": 150}}',
    # full new (bot author)
    '{"type": "new", "title": "Beta", "title_url": "https://wiki.example/Beta",'
    ' "user": "botuser", "bot": true, "meta": {"dt": "2026-01-08T22:36:00Z"},'
    ' "length": {"new": 500}}',
    # W1: filtered change types
    '{"type": "log", "title": "Gamma", "user": "carol", "bot": false,'
    ' "meta": {"dt": "2026-01-08T22:36:05Z"}}',
    '{"type": "categorize", "title": "Delta", "user": "dan", "bot": false,'
    ' "meta": {"dt": "2026-01-08T22:36:10Z"}}',
    # W2: missing length entirely -> 0/0
    '{"type": "edit", "title": "Epsilon", "title_url": "https://wiki.example/Eps",'
    ' "user": "erin", "bot": false, "meta": {"dt": "2026-01-08T22:36:20Z"}}',
    # W2: missing length.old only
    '{"type": "edit", "title": "Zeta", "title_url": "https://wiki.example/Zeta",'
    ' "user": "frank", "bot": false, "meta": {"dt": "2026-01-08T22:36:30Z"},'
    ' "length": {"new": 77}}',
    # W5: duplicate natural key of the first row (different lengths, extra field)
    '{"type": "edit", "title": "Alpha", "title_url": "https://wiki.example/Alpha",'
    ' "user": "alice", "bot": false, "meta": {"dt": "2026-01-08T22:35:51Z"},'
    ' "length": {"old": 100, "new": 200}, "server_name": "en.wikipedia.org"}',
    # R4: malformed line (skipped)
    '{not json at all',
    # validity filter: missing bot (reference would crash, pipeline.py:123)
    '{"type": "edit", "title": "Eta", "user": "gail",'
    ' "meta": {"dt": "2026-01-08T22:36:40Z"}}',
    # validity filter: missing meta.dt (reference would crash, pipeline.py:120)
    '{"type": "edit", "title": "Theta", "user": "hank", "bot": false}',
    # validity filter: PRESENT but unparseable meta.dt (reference's
    # fromisoformat raises; here the parsed-timestamp filter drops it)
    '{"type": "edit", "title": "Kappa", "user": "kara", "bot": false,'
    ' "meta": {"dt": "not-a-date"}}',
    # validity filter: fractional-second dt — the pinned second-
    # precision parse pattern rejects it on BOTH engines (a format-
    # less Spark parse would have accepted it while the oracle's
    # try_strptime dropped it: the engine-disagreement row this
    # fixture exists to catch)
    '{"type": "edit", "title": "Lambda", "user": "lars", "bot": false,'
    ' "meta": {"dt": "2026-01-08T22:36:55.123Z"},'
    ' "length": {"old": 1, "new": 2}}',
    # unknown extra fields are ignored
    '{"type": "edit", "title": "Iota", "title_url": "https://wiki.example/Iota",'
    ' "user": "iris", "bot": false, "meta": {"dt": "2026-01-08T22:36:50Z"},'
    ' "length": {"old": 5, "new": 3}, "wiki": "enwiki", "namespace": 0}',
    # same title+timestamp, different user -> NOT a duplicate
    '{"type": "edit", "title": "Alpha", "title_url": "https://wiki.example/Alpha",'
    ' "user": "alice2", "bot": true, "meta": {"dt": "2026-01-08T22:35:51Z"},'
    ' "length": {"old": 10, "new": 20}}',
]


def wiki_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the embedded fixture through the batch pipeline. sf_dir is
    unused (fixture-embedded conformance check)."""
    # pandas, not a raw list: a list ships as pickled partitions whose
    # every consumer task spins a Python worker to unpickle; the pandas
    # path converts driver-side to Arrow batches read JVM-only (one
    # partition instead of defaultParallelism near-empty ones).
    import pandas as pd

    lines = spark.createDataFrame(
        pd.DataFrame({"value": FIXTURE_LINES}), "value string"
    )
    out = wiki_transform(lines)
    return out.select(
        "raw_json",
        ts_str("event_timestamp").alias("event_timestamp_s"),
        "title",
        "title_url",
        "bot",
        "username",
        "length_bytes_old",
        "length_bytes_new",
        "length_diff_bytes",
    ).transform(total_order, "event_timestamp_s", "username", "title")


def _values_clause() -> str:
    quoted = ", ".join("('" + l.replace("'", "''") + "')" for l in FIXTURE_LINES)
    return f"(VALUES {quoted})"


WIKI_SQL = f"""
WITH raw(line) AS {_values_clause()},
ok AS (SELECT line AS raw_json FROM raw WHERE json_valid(line)),
flat AS (
  SELECT raw_json,
         json_extract_string(raw_json, '$.type')      AS type,
         json_extract_string(raw_json, '$.title')     AS title,
         json_extract_string(raw_json, '$.title_url') AS title_url,
         CAST(json_extract_string(raw_json, '$.bot') AS BOOLEAN) AS bot,
         json_extract_string(raw_json, '$.user')      AS username,
         json_extract_string(raw_json, '$.meta.dt')   AS dt,
         CAST(json_extract_string(raw_json, '$.length.old') AS BIGINT) AS lo,
         CAST(json_extract_string(raw_json, '$.length.new') AS BIGINT) AS ln
  FROM ok
),
typed AS (
  SELECT raw_json,
         try_strptime(replace(replace(dt, 'T', ' '), 'Z', ''), '%Y-%m-%d %H:%M:%S') AS event_timestamp,
         title, title_url, bot, username,
         COALESCE(lo, 0) AS length_bytes_old,
         COALESCE(ln, 0) AS length_bytes_new,
         COALESCE(ln, 0) - COALESCE(lo, 0) AS length_diff_bytes
  FROM flat
  -- validity = the PARSED timestamp: drops missing AND unparseable dt,
  -- matching the Spark transform (pipeline.py) and the reference's
  -- crash-on-bad-dt re-expressed as a filter
  WHERE type IN ('edit', 'new') AND bot IS NOT NULL
    AND try_strptime(replace(replace(dt, 'T', ' '), 'Z', ''), '%Y-%m-%d %H:%M:%S') IS NOT NULL
),
deduped AS (
  SELECT * FROM typed
  QUALIFY row_number() OVER (PARTITION BY event_timestamp, username, title
                             ORDER BY raw_json) = 1
)
SELECT raw_json,
       strftime(event_timestamp, '%Y-%m-%d %H:%M:%S') AS event_timestamp_s,
       title, title_url, bot, username,
       length_bytes_old, length_bytes_new, length_diff_bytes
FROM deduped
ORDER BY event_timestamp_s, username, title
"""


WIKI_QUERIES: list[DeclaredQuery] = [
    DeclaredQuery(
        "wiki_pipeline", wiki_pipeline, WIKI_SQL, "W1-W5 conformance transform"
    ),
]
