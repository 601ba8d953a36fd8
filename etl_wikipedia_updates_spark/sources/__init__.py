"""Streaming sources: deterministic file replay (tests) + SSE connector.

- ``replay``  split a bounded table into ordered parquet files and read
  them back as a micro-batched stream — the deterministic stand-in for
  a live feed (S1-S5).
- ``sse``     Spark 4 Python DataSource wrapping a Server-Sent-Events
  HTTP endpoint (the reference's live source, R1/R2); the tests drive
  it against loopback servers.
"""
