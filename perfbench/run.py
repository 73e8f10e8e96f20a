"""Lakehouse benchmark: one seeded, closed-loop run of one workload.

Usage, from the repository root (Python workers import the engine from
the working directory)::

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 20 --trace 0

Each run is a fresh process with a fresh root under ``.perfbench_runs/``
holding TMPDIR (and with it the engine's staging caches), the Spark local
dirs, conf dir, warehouse, Derby home, event log, the generated inputs and
the versioned tables.  The root is deleted at exit; the run's record
(metrics, every op's latency and error, host facts, and with ``--trace 1``
the spans) is kept in ``.perfbench_runs/records/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json,
or with ``--trace 1`` its per-layer metrics.  A human-readable table of
every metric goes to stderr.  Exit code 2 means the engine is not there to
benchmark; 1 means the run itself broke.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "energy_emissions_lakehouse_spark"
WORKLOAD_NAMES = ("sql_interactive", "lakehouse_dml")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")
    return args


def _isolate(run_root: str, traced: bool) -> dict:
    """Point every scratch location of the process, the JVM and the
    engine at ``run_root``; must run before pyspark is imported."""
    dirs = {k: os.path.join(run_root, k) for k in (
        "tmp", "spark-local", "conf", "warehouse", "derby", "eventlog", "data", "work")}
    for d in dirs.values():
        os.makedirs(d)
    # -XX:-UsePerfData: the JVM would otherwise keep its perf counters
    # under /tmp/hsperfdata_<user>, outside the run root
    java_opts = (f'-Djava.io.tmpdir="{dirs["tmp"]}" -Dderby.system.home="{dirs["derby"]}" '
                 "-XX:-UsePerfData")
    conf = {
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": java_opts,
        "spark.eventLog.enabled": "true" if traced else "false",
        "spark.eventLog.dir": "file://" + dirs["eventlog"],
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in conf.items())
    with open(os.path.join(dirs["conf"], "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_CONF_DIR": dirs["conf"],
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = None
    return dirs


def _cpu_probe_s() -> float:
    """Median time of a fixed pure-Python loop: a host-speed reading kept
    beside the metrics, so drift between runs can be told from the code."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t0)
    return sorted(times)[2]


def _cpu_jiffies() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _host_facts() -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [float(x) for x in load],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "machine": platform.machine(),
        "cpu_probe_s": _cpu_probe_s(),
        "cpu_jiffies": _cpu_jiffies(),
    }


def _print_table(record: dict, metrics: dict) -> None:
    out = sys.stderr
    print(f"[perfbench] {record['workload']} seed={record['seed']} "
          f"trace={int(record['traced'])} ops={record['attempted']} "
          f"failed={record['failed']} error_rate={record['error_rate']:.4f} (ratio)", file=out)
    print(f"[perfbench] op_tail_s is p{record['op_tail_percentile']:.1f} of "
          f"N={record['op_count']} op latencies; peak_rss_mb "
          f"{record['peak_rss_mb']:.1f} MB (VmHWM, Python + JVM)", file=out)
    for section in ("end_to_end", "dml"):
        for k, v in record.get(section, {}).items():
            print(f"[perfbench]   {k:<34} {v['value']:>14.6g} {v['unit']}", file=out)
    for k, v in metrics.items():
        if k not in record["end_to_end"]:
            print(f"[perfbench]   {k:<34} {v['value']:>14.6g} {v['unit']}", file=out)
    for err in record["errors"]:
        print(f"[perfbench] FAILED {err['op']} {err['name']}: {err['error']}", file=out)


def _overhead(record: dict, records_dir: str) -> None:
    """Traced wall_s over the untraced run of the same workload and seed."""
    path = os.path.join(records_dir, f"{record['workload']}-seed{record['seed']}-trace0.json")
    if not os.path.exists(path):
        print("[perfbench] tracing overhead: no untraced record for this "
              "workload and seed yet", file=sys.stderr)
        return
    with open(path) as fh:
        base = json.load(fh)["end_to_end"]["wall_s"]["value"]
    traced = record["per_layer"]["trace.wall_s"]["value"]
    record["trace_overhead"] = traced / base
    print(f"[perfbench] tracing overhead: traced wall_s / untraced wall_s = "
          f"{traced:.3f} / {base:.3f} = {traced / base:.3f}", file=sys.stderr)


def main(argv=None) -> int:
    args = _parse(argv)
    cwd = os.getcwd()
    if not os.path.isdir(os.path.join(cwd, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {cwd}; run from the repository root",
              file=sys.stderr)
        return 2

    # Keep stdout for the result line alone: the JVM and py4j inherit fd 1,
    # so point it at stderr and write the result to a saved duplicate.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    runs_dir = os.path.join(cwd, ".perfbench_runs")
    records_dir = os.path.join(runs_dir, "records")
    os.makedirs(records_dir, exist_ok=True)
    run_root = tempfile.mkdtemp(
        prefix=f"{args.workload}-s{args.seed}-t{args.trace}-", dir=runs_dir)
    try:
        dirs = _isolate(run_root, bool(args.trace))
        dirs["t_process"] = T_PROCESS
        dirs["records"] = records_dir
        sys.path.insert(0, cwd)
        sys.path.insert(0, HERE)
        import harness

        host = _host_facts()
        record = harness.run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), dirs)
        with open("/proc/loadavg") as fh:
            host["loadavg_end"] = [float(x) for x in fh.read().split()[:3]]
        host["cpu_probe_end_s"] = _cpu_probe_s()
        # share of CPU time the hypervisor gave to other guests during the run
        spent = [b - a for a, b in zip(host.pop("cpu_jiffies"), _cpu_jiffies())]
        host["steal_share"] = spent[7] / max(sum(spent[:8]), 1)
        record["host"] = host
        if args.trace:
            metrics = record["per_layer"]
            _overhead(record, records_dir)
        else:
            metrics = record["end_to_end"]
        _print_table(record, metrics)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(records_dir, name), "w") as fh:
            json.dump(record, fh, default=str)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
