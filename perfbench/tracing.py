"""Traced-run instrumentation, installed from the benchmark's side only.

A traced run wraps the calls into each engine layer and records a span
(name, start, end, parent, op id) around every call, plus counts:

- ``tables.t`` (every module that imported it is re-pointed at the wrapper);
- every public ``VersionedTable`` method;
- ``DataFrame.localCheckpoint`` / ``DataFrame.checkpoint`` ("materialize");
- the medallion staging build's per-layer write, one span per stage
  (bronze, silver, gold, star);
- one Spark job group per op, whose jobs/stages/tasks are read back from
  ``statusTracker``;
- a ``StreamingQueryListener`` keeping each micro-batch's phase durations;
- the Spark event log (enabled through the run's own conf dir,
  uncompressed), folded per op after the session stops.

An untraced run never calls :meth:`Tracer.install`; its ``span``/``op``
context managers only time nothing and cost one attribute test.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        #: per-op counters, keyed ``(op_id, name)``
        self.counts: Counter = Counter()
        #: micro-batch progress records: (op_id, durationMs dict, numInputRows)
        self.batches: list[tuple[str | None, dict, int]] = []
        #: streaming run id -> op id (stream jobs carry the run id as group)
        self.stream_runs: dict[str, str | None] = {}

    # ------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, spark, op_id: str, name: str):
        """Scope one benchmark op: a job group plus a root span."""
        if not self.enabled:
            yield
            return
        self.op_id = op_id
        sc = spark.sparkContext
        sc.setJobGroup(op_id, name)
        try:
            with self.span(f"op.{name}"):
                yield
        finally:
            sc.setJobGroup("", "")
            self.op_id = None

    def job_counts(self, spark, op_id: str) -> dict[str, int]:
        tracker = spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(op_id)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    # ---------------------------------------------------------- wrappers
    def _wrap(self, fn, span_name: str, count_name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.counts[(tracer.op_id, count_name)] += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(span_name):
                    return fn(*args, **kwargs)
            finally:
                tracer.counts[(tracer.op_id, count_name + "_s")] += (
                    time.perf_counter() - t0
                )

        return wrapper

    def install(self, spark) -> None:
        """Wrap the layer entry points; call after the engine is imported."""
        import energy_emissions_lakehouse_spark.tables as tables
        from energy_emissions_lakehouse_spark.medallion import staging
        from energy_emissions_lakehouse_spark.operators.vtable import VersionedTable

        orig_t = tables.t
        wrapped_t = self._wrap(orig_t, "tables.t", "tables.t")
        tables.t = wrapped_t
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("energy_emissions_lakehouse_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig_t and mod is not tables:
                    setattr(mod, attr, wrapped_t)

        for attr, val in list(vars(VersionedTable).items()):
            if attr.startswith("_") or not callable(val) or isinstance(val, (classmethod, staticmethod)):
                continue
            setattr(
                VersionedTable, attr,
                self._wrap(val, f"vtable.{attr}", f"vtable.{attr}"),
            )

        df_cls = type(spark.range(1))
        for attr in ("localCheckpoint", "checkpoint"):
            setattr(
                df_cls, attr,
                self._wrap(getattr(df_cls, attr), "materialize", "materialize"),
            )
        staging._write = self._staged_write(staging._write)
        self._add_stream_listener(spark)

    def _staged_write(self, write):
        """Wrap the medallion staging build's per-layer write.  Each layer
        is read back from parquet before the next stage uses it, so a write
        computes only its own stage; the span is named after the stage the
        layer belongs to (``dim_*``/``fact_*`` layers form the star)."""
        tracer = self

        @functools.wraps(write)
        def wrapper(df, path):
            layer = os.path.basename(path.rstrip("/"))
            stage = layer.split("_", 1)[0]
            stage = "star" if stage in ("dim", "fact") else stage
            with tracer.span(f"medallion.{stage}"):
                return write(df, path)

        return wrapper

    def _add_stream_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer.stream_runs[str(event.runId)] = tracer.op_id

            def onQueryProgress(self, event):
                p = event.progress
                tracer.batches.append(
                    (
                        tracer.stream_runs.get(str(p.runId), tracer.op_id),
                        dict(p.durationMs),
                        int(p.numInputRows),
                    )
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = _Listener()
        spark.streams.addListener(listener)
        self._listener = (spark, listener)

    def remove_listener(self) -> None:
        if getattr(self, "_listener", None):
            spark, listener = self._listener
            spark.streams.removeListener(listener)
            self._listener = None

    # ------------------------------------------------------- self times
    def self_times(self, ops_only: bool = False) -> dict[str, float]:
        """Per layer (span name up to its first dot): span time minus the
        time covered by its direct child spans; with ``ops_only``, only
        spans inside benchmark ops (not set-up)."""
        child_time: dict[int, float] = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = defaultdict(float)
        for i, rec in enumerate(self.spans):
            if rec["end"] is None or (ops_only and rec["op"] is None):
                continue
            layer = rec["name"].split(".", 1)[0]
            out[layer] += (rec["end"] - rec["start"]) - child_time[i]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": self.spans,
                    "counts": [
                        {"op": op, "name": name, "value": v}
                        for (op, name), v in sorted(
                            self.counts.items(), key=lambda kv: (str(kv[0][0]), kv[0][1])
                        )
                    ],
                    "self_s": self.self_times(),
                    **extra,
                },
                fh,
            )


# -------------------------------------------------------------- event log
#: Spark's Python-runner task metrics (bytes, bytes, ms, ms) -> fold keys
_PY_METRICS = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


def fold_event_log(log_dir: str, stream_runs: dict[str, str | None]) -> dict[str, Counter]:
    """Sum task metrics per op id from an uncompressed Spark event log.

    A job belongs to the op whose id is its ``spark.jobGroup.id``; stream
    micro-batch jobs carry their query's run id instead, mapped back to
    the op that started the query."""
    paths = []
    for dirpath, _, files in os.walk(log_dir):
        paths += [os.path.join(dirpath, f) for f in files if not f.startswith(".")]
    stage_op: dict[int, str] = {}
    per_op: dict[str, Counter] = defaultdict(Counter)
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    op = stream_runs.get(group, group) if group else None
                    if op:
                        per_op[op]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_op[sid] = op
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if op is None or not m:
                        continue
                    c = per_op[op]
                    c["tasks"] += 1
                    c["run_ms"] += m.get("Executor Run Time", 0)
                    c["cpu_ns"] += m.get("Executor CPU Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    c["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    c["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    c["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = _PY_METRICS.get(acc.get("Name"))
                        if key:
                            c[key] += int(acc.get("Update", 0))
    return per_op
