"""One benchmark run inside an isolated process: set-up, the closed loop,
the metrics.

Only calls into the engine's public functions are timed: ``get_spark``,
the set-up staging, registry builders, ``.collect()`` and the
``VersionedTable`` methods.  Input generation, result checks and the
reference replays happen between timed calls.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import Counter, defaultdict

import numpy as np

import datagen
import tracing
from workloads import READ_KINDS, ROW_KINDS, WORKLOADS, WRITE_KINDS

#: Scale of the generated inputs (orders = 1.5M x SF rows).  Ops at this
#: size are bound by per-job and driver-side costs, as at sf0.1 (query p50
#: 0.36 s at sf0.01 vs 0.42 s at sf0.1 on a 4-vCPU host, local[4]), while
#: a run stays short enough for the benchmark's repetition budget.
SF = 0.01


class Run:
    def __init__(self, spark, tracer, sf_dir: str, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.cur: dict = {}

    def span(self, name: str):
        return self.tracer.span(name)

    def timed(self, field: str, span_name: str, fn):
        """Time ``fn`` into the current op's ``field`` (build or collect)."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span_name):
                return fn()
        finally:
            self.cur[field] = self.cur.get(field, 0.0) + time.perf_counter() - t0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tail(latencies: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with at least 10 samples beyond
    it, and that percentile; the maximum when there are 10 or fewer."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def run_workload(name: str, seed: int, seconds: int, traced: bool, dirs: dict) -> dict:
    t_process = dirs["t_process"]
    sf_dir = datagen.write_tables(dirs["data"], seed, SF)
    try:
        return _measure(name, seed, seconds, traced, dirs, sf_dir, t_process)
    finally:
        _stop_jvm()


def _measure(name, seed, seconds, traced, dirs, sf_dir, t_process) -> dict:
    t_setup = time.perf_counter()
    tracer = tracing.Tracer(traced)
    from energy_emissions_lakehouse_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    with tracer.span("session.start"):
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{name}", cpus=cpus)
        session_s = time.perf_counter() - t0
    if traced:
        tracer.install(spark)
    run = Run(spark, tracer, sf_dir, dirs["work"])
    workload = WORKLOADS[name]()
    with tracer.span("setup"):
        workload.setup(run)
    setup_s = time.perf_counter() - t_setup

    rng = np.random.default_rng(seed)
    ops: list[dict] = []
    cycle_names: list[str] = []
    t_loop = time.perf_counter()
    while not ops or time.perf_counter() - t_loop < seconds:
        cycle = workload.cycle(rng)
        if not cycle_names:
            cycle_names = [op["name"] for op in cycle]
        for op in cycle:
            op_id = f"op{len(ops):04d}"
            run.cur = {"op": op_id, "name": op["name"], "build": 0.0, "collect": 0.0}
            try:
                with tracer.op(spark, op_id, op["name"]):
                    run.cur.update(workload.run_op(run, op))
                run.cur["error"] = None
            except Exception as exc:  # noqa: BLE001 - every op failure is counted, named by op
                run.cur["error"] = _one_line(exc)
            run.cur["latency"] = run.cur["build"] + run.cur["collect"]
            if traced:
                run.cur.update(tracer.job_counts(spark, op_id))
            ops.append(run.cur)
    loop_s = time.perf_counter() - t_loop

    errors = [{"op": o["op"], "name": o["name"], "error": o["error"]} for o in ops if o["error"]]
    try:
        facts = workload.finish(run)
    except Exception as exc:  # noqa: BLE001 - a failed final check is one more failed op
        facts = {}
        errors.append({"op": "final", "name": "final_check", "error": _one_line(exc)})
    attempted = len(ops) + workload.final_checks

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
    if traced:
        tracer.remove_listener()
    spark.stop()

    lat = [o["latency"] for o in ops]
    by_name: dict[str, list[float]] = defaultdict(list)
    for o in ops:
        by_name[o["name"]].append(o["latency"])
    wall_s = sum(statistics.median(by_name[n]) for n in cycle_names)
    tail, tail_pct = _tail(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_s, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
    }
    dml = _dml_metrics(ops, facts) if facts else {}
    record = {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "traced": traced,
        "sf": SF,
        "cpus": cpus,
        "attempted": attempted,
        "failed": len(errors),
        "error_rate": len(errors) / attempted,
        "errors": errors,
        "op_tail_percentile": tail_pct,
        "op_count": len(lat),
        "cycle": cycle_names,
        "loop_s": loop_s,
        "session_start_s": session_s,
        "peak_rss_mb": peak_rss_mb,
        "process_to_setup_end_s": t_setup + setup_s - t_process,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "dml": {k: {"value": v, "unit": u} for k, (v, u) in dml.items()},
        "table": facts,
        "ops": ops,
    }
    if traced:
        record["per_layer"] = _per_layer(
            tracer, ops, facts, dml, session_s, wall_s, peak_rss_mb, cpus, dirs)
        record["self_s"] = tracer.self_times()
        tracer.write(
            os.path.join(dirs["records"], f"{name}-seed{seed}-spans.json"),
            {"workload": name, "seed": seed},
        )
    return record


def _one_line(exc: Exception) -> str:
    text = str(exc).strip()
    return f"{type(exc).__name__}: {text.splitlines()[0][:300] if text else ''}"


def _stop_jvm() -> None:
    """Shut the py4j gateway JVM (and with it Spark's Python workers)
    down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _dml_metrics(ops: list[dict], facts: dict) -> dict:
    commits = [o for o in ops if o["name"] in WRITE_KINDS and o["name"] != "vacuum"]
    reads = [o for o in ops if o["name"] in READ_KINDS]
    row_ops = [o for o in ops if o["name"] in ROW_KINDS]
    commit_s = sum(o["latency"] for o in row_ops)
    rows = sum(o.get("rows", 0) for o in row_ops)
    return {
        "commit_p50_s": (statistics.median(o["latency"] for o in commits), "s"),
        "read_p50_s": (statistics.median(o["latency"] for o in reads), "s"),
        "commit_rows_per_s": (rows / commit_s if commit_s else 0.0, "rows/s"),
        "space_amp": (facts["disk_bytes"] / facts["live_bytes"], "ratio"),
    }


#: Per-layer metric names and units, as BENCHMARK.json lists them.  Every
#: traced run reports all of them; a layer its workload bypasses reads 0.
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _fh:
    PER_LAYER_UNITS = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}


def _median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _per_layer(tracer, ops, facts, dml, session_s, wall_s, peak_rss_mb, cpus, dirs) -> dict:
    """Per-op means of the traced counts (medians for latencies), keyed
    by the names in :data:`PER_LAYER_UNITS`."""
    n = len(ops)
    span_s: Counter = Counter()
    for rec in tracer.spans:
        if rec["end"] is not None:
            span_s[rec["name"]] += rec["end"] - rec["start"]
    counts: Counter = Counter()
    for (op, cname), v in tracer.counts.items():
        if op is not None:
            counts[cname] += v
    ev = tracing.fold_event_log(dirs["eventlog"], tracer.stream_runs)
    exe: Counter = Counter()
    for op in ops:
        exe.update(ev.get(op["op"], Counter()))
    busy_s = sum(o["latency"] for o in ops)
    queries = [o for o in ops if o.get("kind") == "query"]
    stream_ops = {o["op"] for o in ops if o["name"] == "stream"}
    batches = [(d, rows) for op, d, rows in tracer.batches if op in stream_ops]
    trigger_ms = sum(d.get("triggerExecution", 0) for d, _ in batches)
    stream_wall = sum(o["latency"] for o in ops if o["op"] in stream_ops)
    n_stream = max(len(stream_ops), 1)
    by_kind = defaultdict(list)
    for o in ops:
        by_kind[o["name"]].append(o["latency"])
    self_s = tracer.self_times(ops_only=True)
    medallion = {k: span_s[f"medallion.{k}"] for k in ("bronze", "silver", "gold", "star")}
    out = {
        "session.start_s": session_s,
        "memory.peak_rss_mb": peak_rss_mb,
        "medallion.stage_build_s": span_s["medallion.ensure_staged"],
        **{f"medallion.{k}_s": v for k, v in medallion.items()},
        "queries.build_s": _median_or_zero(o["build"] for o in queries),
        "queries.collect_s": _median_or_zero(o["collect"] for o in queries),
        "tables.t_calls": counts["tables.t"] / n,
        "tables.t_s": counts["tables.t_s"] / n,
        "spark.jobs": sum(o.get("jobs", 0) for o in ops) / n,
        "spark.stages": sum(o.get("stages", 0) for o in ops) / n,
        "spark.tasks": sum(o.get("tasks", 0) for o in ops) / n,
        "executor.run_s": exe["run_ms"] / 1e3 / n,
        "executor.cpu_s": exe["cpu_ns"] / 1e9 / n,
        "executor.gc_s": exe["gc_ms"] / 1e3 / n,
        "executor.busy_ratio": exe["run_ms"] / 1e3 / (busy_s * cpus) if busy_s else 0.0,
        "shuffle.read_bytes": exe["shuffle_read"] / n,
        "shuffle.write_bytes": exe["shuffle_write"] / n,
        "spill.bytes": exe["spill"] / n,
        "python.bytes_sent": exe["py_sent"] / n,
        "python.bytes_received": exe["py_recv"] / n,
        "python.init_s": exe["py_init_ms"] / 1e3 / n,
        "python.run_s": exe["py_run_ms"] / 1e3 / n,
        "materialize.calls": counts["materialize"] / n,
        "materialize.s": counts["materialize_s"] / n,
        **{f"vtable.commit_s.{k}": _median_or_zero(by_kind[k]) for k in WRITE_KINDS if k != "vacuum"},
        "vtable.vacuum_s": _median_or_zero(by_kind["vacuum"]),
        "vtable.commits": sum(1 for o in ops if o.get("kind") == "write"),
        "vtable.checkpoints": facts.get("checkpoints", 0),
        "vtable.live_segments": facts.get("live_segments", 0),
        "vtable.bytes_written_per_row": (
            facts["bytes_written"] / facts["rows_committed"] if facts.get("rows_committed") else 0.0
        ),
        **{f"vtable.read_s.{k}": _median_or_zero(by_kind[k]) for k in ("range", "snapshot", "time_travel", "changes", "source")},
        **{f"dml.{k}": dml[k][0] if k in dml else 0.0 for k in ("commit_p50_s", "read_p50_s", "commit_rows_per_s", "space_amp")},
        "stream.batches": len(batches) / n_stream,
        "stream.input_rows": sum(r for _, r in batches) / n_stream,
        "stream.add_batch_s": sum(d.get("addBatch", 0) for d, _ in batches) / 1e3 / n_stream,
        "stream.query_planning_s": sum(d.get("queryPlanning", 0) for d, _ in batches) / 1e3 / n_stream,
        "stream.wal_commit_s": sum(d.get("walCommit", 0) for d, _ in batches) / 1e3 / n_stream,
        "stream.commit_offsets_s": sum(d.get("commitOffsets", 0) for d, _ in batches) / 1e3 / n_stream,
        "stream.trigger_s": trigger_ms / 1e3 / n_stream,
        "stream.outside_trigger_s": max(stream_wall - trigger_ms / 1e3, 0.0) / n_stream if stream_ops else 0.0,
        **{f"self_s.{k}": self_s.get(k, 0.0) / n for k in ("op", "queries", "tables", "vtable", "materialize")},
        "trace.wall_s": wall_s,
    }
    if set(out) != set(PER_LAYER_UNITS):
        raise RuntimeError(f"per-layer names drifted: {set(out) ^ set(PER_LAYER_UNITS)}")
    return {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]} for k, v in out.items()}
