"""Spans, counters and Spark event-log attribution for the traced run.

A span records a name, start, end and parent; spans stay in memory and
are written once when the run ends. While a span is open, Spark jobs
carry ``span:<id>`` as their job description, so the event log (on only
in the traced run) attributes engine counters to spans after the
session stops.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

ENGINE_COUNTERS = (
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_ms",
    "executor_cpu_s",
    "executor_run_s",
    "fetch_wait_ms",
)


class Tracer:
    """Span recorder. Disabled, every method is a cheap no-op, so the
    workloads call it unconditionally."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._last: dict[str, tuple[object, int]] = {}

    def _describe(self, sid: int | None) -> None:
        self.spark.sparkContext.setJobDescription(
            None if sid is None else f"span:{sid}"
        )

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(rec["parent"])

    def done(self, name: str, df):
        """Traced: persist and count ``df`` inside the open span, so the
        span covers the work the call planned rather than only the
        planning, and keep it as the last output of ``name``. The
        persisted frame is released by the ``clearCache`` between
        passes. Untraced: ``df`` unchanged, still lazy."""
        if not self.enabled or not hasattr(df, "persist"):
            return df
        df = df.persist()
        self._last[name] = (df, df.count())
        return df

    def last(self, name: str):
        return self._last[name][0]

    def last_count(self, name: str) -> int:
        return self._last[name][1]

    def wrap(self, module, attr: str, name: str, *, materialize: bool) -> None:
        """Replace ``module.attr`` with a twin that runs inside span
        ``name`` when tracing is on (see :meth:`done` for
        ``materialize``)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
                return self.done(name, out) if materialize else out

        setattr(module, attr, traced)

    # ------------------------------------------------------- reductions

    def subtree(self, root: int) -> list[dict]:
        """``root`` and every span under it (spans open and close in
        order, so descendants follow their ancestor contiguously)."""
        out = [self.spans[root]]
        ids = {root}
        for s in self.spans[root + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
            elif s["start"] > self.spans[root]["end"]:
                break
        return out

    def self_times(self, root: int) -> dict[str, float]:
        """Seconds per span name under ``root``: duration minus the time
        its direct children cover."""
        spans = self.subtree(root)
        child_time: dict[int, float] = defaultdict(float)
        for s in spans[1:]:
            child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-span engine counters from the Spark event log(s) in
    ``log_dir``: ``{span_id: {"jobs", "tasks", *ENGINE_COUNTERS}}``.
    Jobs without a span description are filed under -1."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, int] = {}
    per: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    sid = int(desc[5:]) if desc.startswith("span:") else -1
                    job_span[ev["Job ID"]] = sid
                    per[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sid = job_span.get(stage_job.get(ev.get("Stage ID"), -2), -1)
                    d = per[sid]
                    d["tasks"] += 1
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    d["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    d["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    d["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    d["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    d["gc_ms"] += m.get("JVM GC Time", 0)
                    d["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    d["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    return {k: dict(v) for k, v in per.items()}
