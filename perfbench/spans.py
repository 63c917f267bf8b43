"""Spans recorded by the benchmark around its calls into the program:
name, start, end, parent and run id, kept in memory and written out
when the benchmark ends."""

from __future__ import annotations

import contextlib
import json
import time
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[Dict] = []
        self._open: List[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span's dict so
        the block can attach counts to it."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter() - self._t0

    def seconds(self, name: str) -> Optional[float]:
        """Duration of the last span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name and rec["end"] is not None:
                return rec["end"] - rec["start"]
        return None

    def dump(self, path: str, **meta) -> None:
        with open(path, "w") as f:
            json.dump({**meta, "spans": self.spans}, f, indent=1)
