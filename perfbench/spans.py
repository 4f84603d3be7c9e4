"""In-memory span recorder for traced runs: (name, start, end, parent)
per span, kept in a list and written as JSON when the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # time spent inside the tracer's own bookkeeping and the probes
        # it drives (status-tracker reads, directory walks)
        self.self_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def duration_ms(self, rec: dict) -> float:
        return (rec["end"] - rec["start"]) * 1000.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "tracer_self_s": self.self_s},
                      fh, indent=1)
