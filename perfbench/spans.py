"""In-memory span recorder for the traced run.

A span is (id, parent, name, start, end) under one run id. Spans are kept
in flat arrays (a kernel replay records several per turn), written out
once when the benchmark ends, and reduced to total and self time per
name. Self time is a span's duration minus the time its child spans
cover.
"""

from __future__ import annotations

import time
from array import array
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_now = time.perf_counter_ns


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self._names: dict = {}
        self._name_list: list = []
        self.parent = array("q")
        self.name = array("i")
        self.start = array("q")
        self.end = array("q")
        self._stack: list = [-1]

    def name_id(self, name: str) -> int:
        nid = self._names.get(name)
        if nid is None:
            nid = self._names[name] = len(self._name_list)
            self._name_list.append(name)
        return nid

    def open(self, name: str) -> int:
        sid = len(self.start)
        self.parent.append(self._stack[-1])
        self.name.append(self.name_id(name))
        self.start.append(_now())
        self.end.append(0)
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.end[sid] = _now()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        sid = self.open(name)
        try:
            yield sid
        finally:
            self.close(sid)

    def add(self, nid: int, start: int, end: int) -> None:
        """Record a finished leaf span under the open span (the cheap
        form for per-turn kernel calls)."""
        self.parent.append(self._stack[-1])
        self.name.append(nid)
        self.start.append(start)
        self.end.append(end)

    def seconds(self, sid: int) -> float:
        return (self.end[sid] - self.start[sid]) / 1e9

    def totals(self) -> dict:
        """name -> (total seconds, self seconds, span count)."""
        parent = np.frombuffer(self.parent, np.int64)
        name = np.frombuffer(self.name, np.int32)
        dur = (np.frombuffer(self.end, np.int64)
               - np.frombuffer(self.start, np.int64)).astype(np.float64)
        has_parent = parent >= 0
        child = np.bincount(parent[has_parent], weights=dur[has_parent],
                            minlength=len(dur))
        k = len(self._name_list)
        tot = np.bincount(name, weights=dur, minlength=k)
        slf = np.bincount(name, weights=dur - child, minlength=k)
        cnt = np.bincount(name, minlength=k)
        return {n: (tot[i] / 1e9, slf[i] / 1e9, int(cnt[i]))
                for i, n in enumerate(self._name_list)}

    def write(self, path: str) -> None:
        names = pa.array(self._name_list, pa.string())
        pq.write_table(pa.table({
            "run_id": pa.array([self.run_id] * len(self.start), pa.string()),
            "span_id": pa.array(range(len(self.start)), pa.int64()),
            "parent_id": pa.array(self.parent, pa.int64()),
            "name": pa.DictionaryArray.from_arrays(
                pa.array(self.name, pa.int32()), names),
            "start_ns": pa.array(self.start, pa.int64()),
            "end_ns": pa.array(self.end, pa.int64()),
        }), path)


class NullTracer:
    """The calls of Tracer that a kernel replay makes, recording
    nothing: the baseline for the cost of recording spans."""

    def name_id(self, name: str) -> int:
        return 0

    def add(self, nid: int, start: int, end: int) -> None:
        pass

    def span(self, name: str):
        return nullcontext()
