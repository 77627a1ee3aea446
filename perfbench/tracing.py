"""Spans around the benchmark's calls into the program's layers.

A span is (name, start, end, parent); spans stay in memory and are
written out once, when the run ends. A disabled tracer records
nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Finished spans called ``name`` (inside ``within`` if given)."""
        return [
            s for s in self.spans
            if s["name"] == name and "end" in s
            and (within is None or within["start"] <= s["start"] <= within["end"])
        ]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))
