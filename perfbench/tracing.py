"""Spans recorded from the benchmark side, around its calls into layers.

Each span has a name, start, end, parent and run id; spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on standard error, with seconds since start."""
    print(f"perfbench: {time.perf_counter() - _T0:6.1f}s {msg}",
          file=sys.stderr, flush=True)


@contextlib.contextmanager
def null_span():
    yield None


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A closed span timed by the caller, under the open span."""
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "parent": self._open[-1] if self._open else None,
                "run": self.run_id,
                "start": start,
                "end": end,
                **attrs,
            }
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
