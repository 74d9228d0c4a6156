"""In-memory span recorder and the py4j call counter.

Spans are recorded around the benchmark's own calls into the engine
(run, pass or batch, query, then build / plan / execute / append). They
are kept in memory and written once at the end, so tracing costs no I/O
inside the measured region. Self time is a span's duration minus the
durations of its direct children.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": self.clock(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = self.clock()


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` with ``dur`` and ``self`` (duration minus the
    direct children's durations) on every span."""
    out = [dict(s, dur=s["end"] - s["start"]) for s in spans]
    child = [0.0] * len(out)
    for s in out:
        if s["parent"] is not None:
            child[s["parent"]] += s["dur"]
    for s in out:
        s["self"] = s["dur"] - child[s["id"]]
    return out


# --- py4j ------------------------------------------------------------------

# py4j's memory-delete command ("m", "d", <object id>, "e"). Python's
# garbage collector sends one whenever a JavaObject proxy dies, so the
# number sent inside any window depends on GC timing, not on the work.
MEMORY_DELETE = "m\nd\n"


def counts_as_call(command: str) -> bool:
    return not command.startswith(MEMORY_DELETE)


class Py4jCounter:
    """Counts py4j commands sent from Python to the JVM, memory deletes
    excluded, by wrapping ``ClientServerConnection.send_command``."""

    def __init__(self):
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command, *args, **kwargs):
            if counts_as_call(command):
                counter.calls += 1
            return orig(conn, command, *args, **kwargs)

        self._orig = orig
        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.clientserver import ClientServerConnection

            ClientServerConnection.send_command = self._orig
            self._orig = None
