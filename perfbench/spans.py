"""Spans, Spark job groups and engine counts for the traced run.

A span wraps one call into a package layer.  While it is open, every
Spark job the call triggers runs under the span's own job group
(``setJobGroup``), so the engine work of a layer can be read back per
span: job and task counts from ``statusTracker``, task time, shuffle
and spill from the Spark event log.  Spans stay in memory and are
written out once, when the run ends.

Layer calls made *inside* the package (``build_kg`` calling
``extract_raw_triples`` ...) are traced by swapping the module
attribute the caller resolves at call time for a wrapper
(:func:`instrument`).  The wrapper persists and counts the layer's
output inside the span, so the lazily planned work lands in the span
that planned it instead of in whichever later call forces it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

from pyspark import SparkContext
from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.phase = "setup"
        self.job = "setup0"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._held: list[DataFrame] = []

    # -- spans ---------------------------------------------------------

    def _set_group(self, sc, rec):
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(rec["group"], rec["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sc = SparkContext._active_spark_context
        sid = len(self.spans)
        rec = {
            "run_id": self.run_id,
            "id": sid,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "layer": name.split(".")[0],
            "phase": self.phase,
            "job": self.job,
            "group": f"{self.run_id}/{sid}",
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if sc is not None:
            self._set_group(sc, rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()
            sc = SparkContext._active_spark_context
            if sc is not None:
                self._set_group(sc, self._stack[-1] if self._stack else None)

    def materialize(self, df: DataFrame, rec: dict) -> DataFrame:
        """Persist + count ``df`` inside the open span ``rec``; the cache
        is held until :meth:`release`."""
        df = df.persist()
        rec["rows"] = df.count()
        self._held.append(df)
        return df

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held = []

    def in_span(self, name: str) -> bool:
        return any(r["name"] == name for r in self._stack)

    # -- engine counts -------------------------------------------------

    def collect_status(self, sc) -> None:
        """Jobs, tasks and failed tasks per span from ``statusTracker``.
        A stage listed by several jobs (a reused shuffle) is charged to
        the first span that ran it."""
        st = sc.statusTracker()
        with contextlib.suppress(Exception):
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        seen: set[int] = set()
        for rec in self.spans:
            if "jobs" in rec:
                continue  # counted under an earlier SparkContext
            jobs = sorted(st.getJobIdsForGroup(rec["group"]))
            tasks = failed = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    si = st.getStageInfo(sid)
                    if si is not None:
                        tasks += si.numCompletedTasks + si.numFailedTasks
                        failed += si.numFailedTasks
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = len(jobs), tasks, failed

    def collect_eventlog(self, log_dir: str) -> None:
        """Task busy time, shuffle bytes written and disk spill per span
        from the JSON event logs under ``log_dir`` (one log per
        SparkContext of the run)."""
        stage_group: dict[tuple[str, int], str] = {}
        acc = defaultdict(lambda: [0.0, 0, 0])  # task_ms, shuffle_b, spill_b
        for app, line in _event_lines(log_dir):
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault((app, sid), group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get((app, ev.get("Stage ID")))
                m = ev.get("Task Metrics") or {}
                a = acc[group]
                a[0] += m.get("Executor Run Time", 0)
                a[1] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                a[2] += m.get("Disk Bytes Spilled", 0)
        for rec in self.spans:
            task_ms, shuffle_b, spill_b = acc.get(rec["group"], (0.0, 0, 0))
            rec["task_s"] = task_ms / 1000.0
            rec["shuffle_mb"] = shuffle_b / 1e6
            rec["spill_mb"] = spill_b / 1e6

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


def _event_lines(log_dir: str):
    """(application, line) for every event-log line under ``log_dir``.
    A plain log is one file per application; a rolling log (the Spark 4
    default) is a directory of ``events_<n>_<app>`` files."""
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            files = sorted(
                glob.glob(os.path.join(path, "events_*")),
                key=lambda p: int(os.path.basename(p).split("_")[1]),
            )
        else:
            files = [path]
        for f in files:
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    yield entry, line


def instrument(tracer: Tracer, targets) -> None:
    """Swap ``module.attr`` for a span-opening wrapper, for every
    ``(module, attr, name_fn)`` in ``targets``.  ``name_fn(tracer)``
    picks the span name from the open spans (the same linking call is
    ``linking.signatures`` in a build and ``refresh.signatures`` in a
    refresh batch); None leaves that call untraced.  Returned DataFrames
    are materialized in the span."""

    def wrap(fn, name_fn):
        def traced(*args, **kwargs):
            name = name_fn(tracer) if tracer.enabled else None
            if name is None:
                return fn(*args, **kwargs)
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = tracer.materialize(out, rec)
            return out

        return traced

    for module, attr, name_fn in targets:
        setattr(module, attr, wrap(getattr(module, attr), name_fn))
