"""Self-tests for the benchmark, at sf0.001.  Run from the repository root:

    python3 perfbench/selftest.py

Checks that
- the input generator and both workloads' op lists are deterministic per
  seed (inputs and DML programs differ between seeds; the SQL script is
  one fixed list);
- every BENCHMARK.json metric is printed by name with its unit, untraced
  (end-to-end) and traced (per-layer), and every per-layer metric is
  mapped in layers.json;
- a deliberately corrupted engine result raises the error count, names
  the op, and clears ``correct``;
- without the engine in the working directory the benchmark exits
  non-zero and prints no result.

Each benchmark run is a child process, as the benchmark requires.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SF = 0.001

#: Child-process bootstrap: shrink the inputs to SF, optionally corrupt one
#: engine result, then run the benchmark's own entry point.
_CHILD = """
import sys
sys.path.insert(0, {here!r})
import harness, workloads
harness.SF = {sf!r}
if {corrupt!r} == "sql_interactive":
    from dataclasses import replace
    init = workloads.SqlInteractive.__init__
    def corrupted_init(self):
        init(self)
        name = self.op_names[0]
        spec = self.specs[name]
        self.specs[name] = replace(spec, spark=lambda s, d: spec.spark(s, d).limit(0))
    workloads.SqlInteractive.__init__ = corrupted_init
elif {corrupt!r} == "lakehouse_dml":
    setup = workloads.LakehouseDml.setup
    def corrupted_setup(self, run):
        setup(self, run)
        read = self.vt.read
        self.vt.read = lambda *a, **k: read(*a, **k).where("o_orderkey <> 7")
    workloads.LakehouseDml.setup = corrupted_setup
import run
sys.exit(run.main({argv!r}))
"""


def _bench(workload: str, trace: int, corrupt: bool = False) -> tuple[dict, str]:
    argv = ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)]
    code = _CHILD.format(here=HERE, sf=SF, corrupt=workload if corrupt else "", argv=argv)
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=900
    )
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}")


def test_generator_deterministic() -> None:
    import datagen

    a, b, c = (datagen.build_tables(s, SF) for s in (3, 3, 4))
    _check(all(a[t].equals(b[t]) for t in datagen.TABLES), "same seed -> same input tables")
    _check(not all(a[t].equals(c[t]) for t in ("orders", "lineitem", "events")),
           "another seed -> other input tables")


def test_op_lists_deterministic() -> None:
    import numpy as np

    import workloads

    def dml_plan(seed: int) -> list:
        prog, rng = workloads.DmlProgram(1500), np.random.default_rng(seed)
        out = []
        for _ in range(3):
            for op in prog.cycle(rng):
                rows = op.get("rows")
                out.append((op["name"], sorted((k, v) for k, v in op.items() if k not in ("name", "rows")),
                            None if rows is None else rows.to_json()))
        return out

    _check(dml_plan(9) == dml_plan(9), "lakehouse_dml: same seed -> same op list")
    _check(dml_plan(9) != dml_plan(10), "lakehouse_dml: another seed -> another op list")

    sql = workloads.SqlInteractive()
    plan = lambda seed: [op["name"] for _ in range(3) for op in sql.cycle(np.random.default_rng(seed))]
    _check(plan(9) == plan(9) == plan(10), "sql_interactive: one fixed query script for every seed")
    _check(set(workloads.PAPER_QUERIES) <= set(sql.op_names), "sql_interactive runs the paper's q1-q7 and BI queries")


def test_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    _check(set(per_layer) == set(layers["per_layer"]), "every per-layer metric is mapped in layers.json")
    _check({w["name"] for w in spec["workloads"]} == set(layers["workloads"]),
           "BENCHMARK.json and layers.json name the same workloads")

    for w in (x["name"] for x in spec["workloads"]):
        result, err = _bench(w, 0, corrupt=True)
        _check({k: v["unit"] for k, v in result["metrics"].items()} == e2e,
               f"{w}: every end-to-end metric printed with its unit")
        _check(all(f"{k} " in err for k in e2e), f"{w}: the stderr table names every end-to-end metric")
        _check(result["failed"] > 0 and result["correct"] is False,
               f"{w}: a corrupted result is counted ({result['failed']}/{result['attempted']} failed)")
        _check("[perfbench] FAILED op" in err, f"{w}: the failing op is named")

        result, err = _bench(w, 1)
        _check({k: v["unit"] for k, v in result["metrics"].items()} == per_layer,
               f"{w}: every per-layer metric printed with its unit (traced)")
        _check(result["failed"] == 0 and result["correct"] is True, f"{w}: clean traced run has no failures")


def test_refuses_without_engine() -> None:
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=runs) as empty:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "sql_interactive",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=empty, capture_output=True, text=True, timeout=120,
        )
    _check(proc.returncode != 0 and proc.stdout == "", "no engine -> non-zero exit, no result")


def main() -> int:
    test_generator_deterministic()
    test_op_lists_deterministic()
    test_refuses_without_engine()
    test_runs()
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
