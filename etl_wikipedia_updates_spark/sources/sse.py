"""SSE (Server-Sent-Events) streaming DataSource — the reference's live
source (R1: sse_event_generator, /root/reference/pipeline.py:60-102)
as a Spark 4 Python Data Source.

Offsets are the reference's ``?since=`` resume semantics (R2,
pipeline.py:74-76): the offset is the last event timestamp delivered,
and reconnects pass it back to the endpoint so no event is skipped;
duplicate redelivery across the overlap is absorbed downstream by the
natural-key dedup (R10), exactly the reference's recovery recipe
(SURVEY §4.2). ``tests/test_sources.py`` runs the reader against
loopback SSE servers (resume, reconnects, quiet streams, restarts);
the deterministic ``replay`` source covers the streaming contract
S1-S5.

Uses only stdlib HTTP so the connector imports everywhere; partitions=1
because SSE is a single ordered feed (like the reference's single
generator) — parallelism comes from everything downstream.
"""

from __future__ import annotations

import http.client
import json
from collections.abc import Iterator

try:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    _DATASOURCE_API = True
except ImportError:  # pragma: no cover - pyspark < 4
    _DATASOURCE_API = False

    class DataSource:  # type: ignore[no-redef]
        pass

    class DataSourceStreamReader:  # type: ignore[no-redef]
        pass

    class InputPartition:  # type: ignore[no-redef]
        def __init__(self, value=None):
            self.value = value


SSE_SCHEMA_DDL = "value string, event string"


def _resume_url(url: str, since: str | None) -> str:
    """Append the ``?since=`` resume parameter correctly: '&' when the
    caller's URL already carries a query string (a bare second '?'
    would make since part of the previous parameter's value and the
    server would silently ignore the resume position), and the value
    percent-encoded except ':' (ISO timestamps stay readable and the
    reference endpoint accepts them verbatim)."""
    if not since:
        return url
    from urllib.parse import quote

    sep = "&" if "?" in url else "?"
    return f"{url}{sep}since={quote(since, safe=':')}"


def _iter_sse_lines(
    url: str,
    user_agent: str,
    since: str | None,
    timeout: float | None = None,
) -> Iterator[dict]:
    """Minimal SSE protocol client over stdlib urllib: yields
    {'event': ..., 'data': ...} per message, like sseclient does for the
    reference (pipeline.py:82-85). ``timeout`` is the socket read
    timeout: a quiet-but-open stream raises socket.timeout (an OSError)
    instead of blocking the trigger forever."""
    import urllib.request

    full = _resume_url(url, since)
    req = urllib.request.Request(full, headers={
        "User-Agent": user_agent,
        "Accept": "text/event-stream",
    })
    with urllib.request.urlopen(  # noqa: S310 - declared SSE endpoint
        req, timeout=timeout
    ) as resp:
        event: dict = {}
        data_lines: list[str] = []
        for raw in resp:
            line = raw.decode("utf-8", errors="replace").rstrip("\n").rstrip("\r")
            if not line:
                if data_lines:
                    event["data"] = "\n".join(data_lines)
                    yield event
                event, data_lines = {}, []
                continue
            if line.startswith(":"):
                continue
            field, _, value = line.partition(":")
            value = value.removeprefix(" ")
            if field == "event":
                event["event"] = value
            elif field == "data":
                data_lines.append(value)


def _msg_dt(data: str) -> str | None:
    try:
        dt = json.loads(data).get("meta", {}).get("dt")
        return str(dt) if dt else None
    except (json.JSONDecodeError, AttributeError):
        return None


class SSEStreamReader(DataSourceStreamReader):
    """Offsets = (last delivered event timestamp meta.dt, delivered-event
    counter), mirroring the reference's MAX(event_timestamp) resume
    lookup (pipeline.py:226-227). The counter makes the offset advance
    even when every event in a drain carries the same second-granular
    dt as the previous offset (a same-second burst straddling a
    trigger): with a timestamp-only offset those drains would return an
    unchanged offset, Spark would plan no batch, and the buffered
    events would be dropped. Only the dt component is sent to the
    server on resume; the counter exists to make offsets strictly
    advance whenever events were delivered.

    ONE persistent connection serves every trigger — the generator stays
    suspended between micro-batches with the HTTP response open, exactly
    the reference's long-lived ``EventSource`` (pipeline.py:53-58). The
    ``?since=`` resume parameter is the RECOVERY path only: it is sent
    when (re)connecting — first trigger, server EOF, or socket error —
    never per trigger. Each micro-batch drains up to max_events_per_batch
    events; on failure Spark retries the batch and the ?since= reconnect
    replays the overlap (at-least-once; dedup downstream absorbs it).

    ``partitions(start, end)`` serves the drain that PLANNED that exact
    offset range when this reader instance did the planning; after a
    checkpoint restart (fresh reader, a batch's offsets in the WAL but
    its rows gone with the process) it re-fetches the range from the
    endpoint via ``?since=start`` and ships every event up to end's dt
    — the previous behavior served the (empty) in-memory buffer, so a
    restart silently committed the pending batch with zero rows and
    every event in it was skipped forever.

    Known protocol limit (inherited from ``?since=`` timestamp resume,
    same as the reference): a reconnect re-serves a same-dt burst from
    its start, so traversing a burst of B events at batch cap C needs
    the connection to survive ceil(B/C) triggers — crash-looping
    faster than that re-delivers the same prefix forever. Skipping by
    the offset's counter instead would assume a stable intra-second
    server replay order and trade that stall for silent LOSS when the
    order varies; duplicates are the chosen failure mode
    (at-least-once), property-tested in tests/test_sources.py."""

    def __init__(self, options: dict):
        self._url = options.get(
            "url", "https://stream.wikimedia.org/v2/stream/recentchange"
        )
        self._user_agent = options.get("userAgent", "etl-wikipedia-updates-spark")
        self._max_per_batch = int(options.get("maxEventsPerBatch", "1000"))
        # Socket read timeout per trigger drain: without one, a
        # quiet-but-open stream blocks latestOffset (and therefore every
        # trigger) indefinitely. Timing out surfaces as socket.timeout
        # (an OSError), i.e. end-of-drain + reconnect-with-?since=.
        self._timeout = float(options.get("readTimeoutSec", "30"))
        self._since = options.get("since") or None
        self._seq = 0
        # (start offset, end offset, rows) of the batch planned by the
        # most recent advancing drain — what partitions() serves.
        self._planned: tuple[dict, dict, list[tuple[str, str]]] | None = None
        self._it: Iterator[dict] | None = None
        self.connect_count = 0  # observable for tests/diagnostics

    def _connect(self) -> None:
        self._it = _iter_sse_lines(
            self._url, self._user_agent, self._since, timeout=self._timeout
        )
        self.connect_count += 1

    def _disconnect(self) -> None:
        if self._it is not None:
            close = getattr(self._it, "close", None)
            if close is not None:
                close()  # GeneratorExit -> urlopen context manager exits
            self._it = None

    def _offset(self) -> dict:
        return {"since": self._since or "", "seq": self._seq}

    def initialOffset(self) -> dict:
        return self._offset()

    def latestOffset(self) -> dict:
        # Drain up to max_per_batch events from the live connection; the
        # newest event time seen becomes the new offset's dt and every
        # delivered event bumps the counter.
        start = self._offset()
        rows: list[tuple[str, str]] = []
        try:
            if self._it is None:
                self._connect()
            stream_open = False
            for msg in self._it:
                data = msg.get("data", "")
                rows.append((data, msg.get("event", "")))
                self._seq += 1
                dt = _msg_dt(data)
                if dt and dt > (self._since or ""):
                    self._since = dt
                if len(rows) >= self._max_per_batch:
                    stream_open = True  # generator suspends, socket stays up
                    break
            if not stream_open:
                # server closed the stream (EOF): reconnect next trigger
                # with ?since= so the overlap replays
                self._disconnect()
        except (OSError, http.client.HTTPException):
            # Connection died or went quiet mid-drain (socket.timeout is
            # an OSError; IncompleteRead and friends are HTTPException,
            # not OSError): whatever was buffered still ships this
            # batch; next trigger reconnects with ?since= (reference's
            # backoff+resume, pipeline.py:53-58/74-76).
            self._disconnect()
        end = self._offset()
        if rows:
            self._planned = (start, end, rows)
        return end

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # Matching on END alone identifies the drain: the planned rows
        # are exactly the events that advanced the offset to that end.
        if self._planned is not None and self._planned[1] == end:
            return [InputPartition(self._planned[2])]
        # A batch this reader didn't plan: checkpoint-restart recovery.
        return [InputPartition(self._replay_range(start, end))]

    def _replay_range(self, start: dict, end: dict) -> list[tuple[str, str]]:
        """Re-fetch a WAL-planned range from the endpoint: connect with
        ?since=start and ship every event whose dt does not exceed
        end's dt (ISO-8601 Z strings compare lexicographically in time
        order). The first newer event ends the drain — it belongs to a
        later batch and will be replayed by the post-recovery reconnect.
        A quiet stream is complete once end's dt itself was seen
        (end.dt was the max dt of the original drain); quiet BEFORE
        that means the server hasn't replayed the full range yet, and
        raising lets Spark retry the batch rather than committing a
        partial one."""
        end_dt = end.get("since") or ""
        if not end_dt:
            return []
        rows: list[tuple[str, str]] = []
        complete = False
        it = _iter_sse_lines(
            self._url,
            self._user_agent,
            start.get("since") or None,
            timeout=self._timeout,
        )
        try:
            for msg in it:
                data = msg.get("data", "")
                dt = _msg_dt(data)
                if dt and dt > end_dt:
                    complete = True  # replay passed the range's end
                    break
                if dt == end_dt:
                    complete = True  # reached the range's final timestamp
                rows.append((data, msg.get("event", "")))
        except (OSError, http.client.HTTPException):
            pass  # completeness decides below
        finally:
            close = getattr(it, "close", None)
            if close is not None:
                close()
        if not complete:
            # EOF/timeout before the range's end: committing now would
            # record the skipped events as delivered — a permanent hole.
            # Raise so Spark retries the batch instead.
            raise RuntimeError(
                f"sse restart recovery: endpoint replay ended before "
                f"reaching the planned range's end dt {end_dt!r} "
                f"({len(rows)} rows re-fetched); retrying the batch "
                "rather than committing a hole"
            )
        return rows

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        yield from partition.value

    def commit(self, end: dict) -> None:
        since = end.get("since") or None
        if since and since > (self._since or ""):
            self._since = since
        self._seq = max(self._seq, int(end.get("seq", 0)))
        if self._planned is not None and self._planned[1] == end:
            self._planned = None

    def stop(self) -> None:
        self._disconnect()


class SSEDataSource(DataSource):
    """spark.readStream.format("sse").option("url", ...).load()"""

    @classmethod
    def name(cls) -> str:
        return "sse"

    def schema(self) -> str:
        return SSE_SCHEMA_DDL

    def streamReader(self, schema) -> SSEStreamReader:
        return SSEStreamReader(self.options)


def register_sse_source(spark) -> bool:
    """Register the connector (Spark 4+). Returns False when the Python
    Data Source API is unavailable."""
    if not _DATASOURCE_API:
        return False
    spark.dataSource.register(SSEDataSource)
    return True
