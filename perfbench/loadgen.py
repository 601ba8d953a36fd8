"""Seeded Wikimedia recentchange load generator and one-thread SSE server.

This module knows nothing about the engine: it builds a deterministic
list of SSE payload lines from a seed and serves them over a loopback
``http.server`` endpoint, the way the reference's EventSource feed
arrives.

Feed layout (one consumer, served in order across reconnects):

- ``warm``: a short prefix served on the first connection, which is
  then closed, so the engine's first trigger ends at EOF instead of
  waiting for a full batch;
- ``paced``: open-loop Poisson arrivals at ``rate`` events/s (event
  times drawn as sorted uniforms over the phase, i.e. a Poisson process
  conditioned on its count); the schedule never waits for the reader,
  and each send's lateness against its due time is recorded;
- ``burst``: a fixed count sent unpaced right after the paced phase.

The mix covers edit/new with some log/categorize, missing ``length`` or
``length.old``, missing ``bot``, malformed lines, duplicates redelivered
a few events later, Zipf-distributed titles and a few events whose
``meta.dt`` is a few seconds out of order. Every line embeds its own
``bench`` object (seq, phase, due offset), an unknown field that the
engine's ``from_json`` ignores and its ``raw_json`` keeps.
"""

from __future__ import annotations

import http.server
import json
import random
import threading
import time
from bisect import bisect_right
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from itertools import accumulate

BASE_TIME = datetime(2026, 1, 8, 0, 0, 0, tzinfo=timezone.utc)
LOGICAL_RATE = 40  # meta.dt advances one second per this many events
N_TITLES = 4000
N_USERS = 6000
ZIPF_S = 1.1


@dataclass
class Message:
    seq: int  # 1-based position in the feed (what the reader's offset counts)
    line: str
    phase: str  # warm | paced | burst
    due_s: float | None  # paced: offset from the paced phase start


@dataclass
class Feed:
    messages: list[Message]
    n_warm: int
    n_paced: int
    n_burst: int

    @property
    def paced(self) -> list[Message]:
        return self.messages[self.n_warm : self.n_warm + self.n_paced]


def _dt(seconds: int) -> str:
    return (BASE_TIME + timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%SZ")


def _event(rng: random.Random, title_cum: list[float], logical_s: int) -> dict:
    kind = rng.random()
    typ = (
        "edit" if kind < 0.70 else "new" if kind < 0.85
        else "log" if kind < 0.95 else "categorize"
    )
    t = bisect_right(title_cum, rng.random() * title_cum[-1])
    title = f"Page_{t}"
    ev: dict = {
        "type": typ,
        "title": title,
        "title_url": f"https://wiki.example/wiki/{title}",
        "user": f"user{rng.randrange(N_USERS)}",
        "meta": {"dt": _dt(logical_s), "domain": "en.wikipedia.org"},
        "namespace": 0,
    }
    if rng.random() >= 0.02:  # 2% arrive without `bot`
        ev["bot"] = rng.random() < 0.1
    r = rng.random()
    if r < 0.05:
        pass  # no `length` at all
    elif r < 0.10 or typ == "new":
        ev["length"] = {"new": rng.randrange(50, 20000)}
    else:
        old = rng.randrange(50, 20000)
        ev["length"] = {"old": old, "new": max(0, old + rng.randrange(-500, 500))}
    return ev


def make_feed(
    seed: int, n_warm: int, n_paced: int, n_burst: int, paced_seconds: float
) -> Feed:
    """The whole feed for ``seed``: same seed, same lines and schedule."""
    rng = random.Random(seed)
    title_cum = list(accumulate(1.0 / (k**ZIPF_S) for k in range(1, N_TITLES + 1)))
    total = n_warm + n_paced + n_burst
    due = sorted(rng.uniform(0.0, paced_seconds) for _ in range(n_paced))
    lines: list[str] = []
    pending: list[tuple[int, str]] = []  # (send at index, line) redeliveries
    def phase_of(i: int) -> str:
        return "warm" if i < n_warm else "paced" if i < n_warm + n_paced else "burst"

    for i in range(total):
        if pending and pending[0][0] <= i:
            # a duplicate redelivered verbatim a few events after its original
            lines.append(pending.pop(0)[1])
            continue
        logical = i // LOGICAL_RATE
        if rng.random() < 0.01:
            logical = max(0, logical - rng.randrange(1, 6))  # out of order
        ev = _event(rng, title_cum, logical)
        due_s = due[i - n_warm] if phase_of(i) == "paced" else None
        ev["bench"] = {"seq": i + 1, "phase": phase_of(i), "due_s": due_s}
        line = json.dumps(ev, separators=(",", ":"))
        if rng.random() < 0.01:
            line = line[: rng.randrange(5, len(line) - 5)]  # malformed
        elif rng.random() < 0.02:
            pending.append((i + rng.randrange(2, 40), line))
            pending.sort()
        lines.append(line)
    messages = [
        Message(
            i + 1, line, phase_of(i),
            due[i - n_warm] if phase_of(i) == "paced" else None,
        )
        for i, line in enumerate(lines)
    ]
    return Feed(messages, n_warm, n_paced, n_burst)


@dataclass
class ServeLog:
    connects: int = 0
    paced_t0: float | None = None  # wall clock (time.time) of paced due 0
    burst_t0: float | None = None
    sent_at: dict[int, float] = field(default_factory=dict)  # seq -> wall time
    lateness_s: list[float] = field(default_factory=list)  # paced sends


class SSEFeedServer:
    """One-thread loopback SSE endpoint serving a Feed in order.

    The first connection gets the warm prefix and is closed. The next
    connection waits for start_paced(), then serves the paced phase on
    schedule and the burst unpaced, and holds the stream open until
    finish(). Later connections are closed at once (nothing is left)."""

    def __init__(self, feed: Feed):
        self.feed = feed
        self.log = ServeLog()
        self._cursor = 0
        self._go = threading.Event()
        self._done = threading.Event()
        server = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - http.server API
                server.log.connects += 1
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.end_headers()
                try:
                    server._serve(self.wfile)
                except (BrokenPipeError, ConnectionResetError):
                    pass

            def log_message(self, *args):
                pass

        self._httpd = http.server.HTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="sse-feed", daemon=True
        )

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._httpd.server_address[1]}/v2/stream/recentchange"

    def start(self) -> "SSEFeedServer":
        self._thread.start()
        return self

    def start_paced(self) -> None:
        self._go.set()

    def finish(self) -> None:
        self._go.set()
        self._done.set()

    def stop(self) -> None:
        self.finish()
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=30)

    def _send(self, wfile, msg: Message) -> None:
        wfile.write(f"event: message\ndata: {msg.line}\n\n".encode())
        self.log.sent_at[msg.seq] = time.time()

    def _serve(self, wfile) -> None:
        msgs = self.feed.messages
        n_warm = self.feed.n_warm
        if self._cursor < n_warm:
            while self._cursor < n_warm:
                self._send(wfile, msgs[self._cursor])
                self._cursor += 1
            return  # EOF ends the engine's warm-up drain
        if self._cursor >= len(msgs):
            return
        self._go.wait()
        if self._done.is_set():
            return
        t0 = time.time()
        self.log.paced_t0 = t0
        while self._cursor < len(msgs):
            msg = msgs[self._cursor]
            if msg.phase == "paced":
                wait = t0 + msg.due_s - time.time()
                if wait > 0:
                    time.sleep(wait)
                self._send(wfile, msg)
                self.log.lateness_s.append(self.log.sent_at[msg.seq] - t0 - msg.due_s)
            else:
                if self.log.burst_t0 is None:
                    self.log.burst_t0 = time.time()
                self._send(wfile, msg)
            self._cursor += 1
        self._done.wait()
