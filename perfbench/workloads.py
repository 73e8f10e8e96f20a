"""The benchmark's workloads: what each op calls, and how it is checked.

Every workload is a closed loop with one client: the next op starts when
the previous one returns.  Ops come in cycles; each cycle is the
workload's fixed op script, so every run of a workload times the same ops
in the same order on same-sized inputs, and the seed changes the
generated tables, DML rows, keys and read ranges.  A fixed script keeps
first-call costs (code generation, relation handles, Python worker
spin-up) on the same ops in every run instead of on whichever op a seed
puts first.

- ``sql_interactive``: the dashboard/analyst path.  The paper's analysis
  queries q1-q7, its three BI visuals and the other medallion layer
  queries over the staged star, plus every fifth star-schema query of
  ``queries/{core,olap_shapes,advanced_olap}`` in name order.  Each op is
  a registry builder call plus ``.collect()``, checked against the
  registry's DuckDB oracle SQL.
- ``lakehouse_dml``: the gold-to-warehouse upsert path on an
  ``orders``-derived ``VersionedTable`` with the change feed on.  One
  cycle is every write kind (append, merge copy-on-write / pruned /
  merge-on-read, update and delete in both modes, small-file and DV
  compaction, vacuum), each followed by two filtered reads (head, time
  travel, batch change feed, and the ``eel_vtable`` DataSource in turn),
  plus one full snapshot read and one streamed change feed.  Each op is
  checked against :class:`DmlModel`, a pandas replay of the same program.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

import check

#: The paper's star-schema analysis queries and BI visuals.
PAPER_QUERIES = tuple(f"medallion_analysis_q{i}" for i in range(1, 8)) + (
    "medallion_bi_intensity_by_month",
    "medallion_bi_intensity_by_region",
    "medallion_bi_totals_by_month_2024",
)
_STAR_MODULES = ("core", "olap_shapes", "advanced_olap")
_STAR_STRIDE = 5


class OpError(Exception):
    """A result that differs from the reference."""


def _module(spec) -> str:
    return spec.spark.__module__.rsplit(".", 1)[-1]


# ====================================================================== SQL
class SqlInteractive:
    name = "sql_interactive"
    #: result checks made by finish(), counted as attempted ops
    final_checks = 0

    def __init__(self):
        from energy_emissions_lakehouse_spark.registry import all_specs

        self.specs = all_specs()
        medallion = sorted(n for n, s in self.specs.items() if _module(s) == "medallion")
        star = sorted(n for n, s in self.specs.items() if _module(s) in _STAR_MODULES)
        self.op_names = medallion + star[::_STAR_STRIDE]
        missing = set(PAPER_QUERIES) - set(medallion)
        if missing:
            raise RuntimeError(f"registry lacks the paper queries {sorted(missing)}")
        self._oracle: dict[str, tuple[list[str], list]] = {}
        self._con = None

    def setup(self, run) -> None:
        from energy_emissions_lakehouse_spark.medallion import staging

        with run.span("medallion.ensure_staged"):
            staging.ensure_staged(run.spark)

    def cycle(self, rng: np.random.Generator) -> list[dict]:
        return [{"name": name} for name in self.op_names]

    def oracle(self, run, name: str):
        if name not in self._oracle:
            if self._con is None:
                from energy_emissions_lakehouse_spark.oracle import duckdb_connection

                self._con = duckdb_connection(run.sf_dir)
            cur = self._con.execute(self.specs[name].oracle)
            cols = [d[0] for d in cur.description]
            self._oracle[name] = (cols, cur.fetchall())
        return self._oracle[name]

    def run_op(self, run, op: dict) -> dict:
        name = op["name"]
        builder = self.specs[name].spark
        df = run.timed("build", "queries.build", lambda: builder(run.spark, run.sf_dir))
        rows = run.timed("collect", "queries.collect", df.collect)
        err = check.compare(df.columns, rows, *self.oracle(run, name))
        if err:
            raise OpError(err)
        return {"kind": "query"}

    def finish(self, run) -> dict:
        if self._con is not None:
            self._con.close()
        return {}


# ====================================================================== DML
WRITE_KINDS = (
    "append", "merge", "merge_pruned", "merge_mor", "update", "update_mor",
    "delete", "delete_mor", "compact_small", "compact_dvs", "vacuum",
)
READ_KINDS = ("range", "time_travel", "changes", "source", "snapshot", "stream")
#: write kinds that commit source rows (compaction and vacuum move none)
ROW_KINDS = WRITE_KINDS[:8]
COW_KINDS = ("append", "merge", "merge_pruned", "update", "delete")
MOR_KINDS = ("merge_mor", "update_mor", "delete_mor")
MAINTENANCE_KINDS = ("compact_dvs", "compact_small", "vacuum")
#: the reads that follow every write, two at a time, in turn
ROTATING_READ_KINDS = READ_KINDS[:4]
_READS_PER_WRITE = 2
_KEY = "o_orderkey"
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RETAIN = 4  # vacuum(retain_last=...)
#: Batch sizes follow the reference's warehouse load
#: (``src/30_load/load_to_postgres.py:73-117``): every load upserts each
#: gold fact table whole (384 / 288 / 96 rows), and each mart spans 24
#: months, so a load after a new month lands has a source as large as the
#: target plus one month's share (1/24) of new keys.  The merges here do
#: the same to the orders table: the source is every key handed out so far
#: plus a new month's share.  The reference neither appends, updates nor
#: deletes outside that upsert; those ops and the filtered reads move one
#: month's share of the keys, by analogy, not from a measured trace.
_MONTHS = 24
#: half the update/delete ranges hit the most recent tenth of the key space
_HOT_RANGE_KINDS = ("update", "delete_mor")


class DmlProgram:
    """Seeded op generator.  It tracks only the key space it has handed
    out, so the program depends on the seed alone, never on the engine."""

    def __init__(self, n_base: int):
        self.n_base = n_base
        self.next_key = n_base
        self.tt_back = 2  # time-travel reads alternate 1 and 2 versions back

    def _month(self) -> int:
        """Keys in one month's share of the table."""
        return max(self.next_key // _MONTHS, 1)

    def _rows(self, rng, keys: np.ndarray) -> pd.DataFrame:
        n = len(keys)
        return pd.DataFrame({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, 1000, n).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": np.datetime64("1995-01-01", "us")
            + rng.integers(0, 2404, n).astype("timedelta64[D]"),
            "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n)],
        })

    def op(self, kind: str, rng) -> dict:
        op: dict = {"name": kind}
        month = self._month()
        if kind == "append":
            keys = np.arange(self.next_key, self.next_key + month)
            self.next_key += month
            op["rows"] = self._rows(rng, keys)
        elif kind.startswith("merge"):
            keys = np.arange(0, self.next_key + month)
            self.next_key += month
            op["rows"] = self._rows(rng, keys)
        elif kind.startswith(("update", "delete")):
            hot_lo = int(self.next_key * 0.9)
            lo = int(rng.integers(hot_lo, self.next_key - month) if kind in _HOT_RANGE_KINDS
                     else rng.integers(0, hot_lo))
            op["lo"], op["hi"] = lo, lo + month - 1
            if kind.startswith("update"):
                op["delta"] = float(rng.integers(1, 100)) / 4
                op["priority"] = _PRIORITIES[int(rng.integers(0, 5))]
        elif kind in ("range", "time_travel", "source"):
            lo = int(rng.integers(0, self.n_base - month))
            op["lo"], op["hi"] = lo, lo + month - 1
            if kind == "time_travel":
                self.tt_back = 3 - self.tt_back
                op["back"] = self.tt_back
        return op

    def cycle(self, rng) -> list[dict]:
        """Copy-on-write writes, then merge-on-read writes, then
        maintenance as one job runs it (DV compaction, small-file
        compaction, vacuum).  Two filtered reads follow every write; the
        full snapshot read follows the copy-on-write group and the
        streamed change feed the merge-on-read group."""
        kinds: list[str] = []
        reads = iter(ROTATING_READ_KINDS * len(WRITE_KINDS))
        for w in COW_KINDS + MOR_KINDS + MAINTENANCE_KINDS:
            kinds += [w] + [next(reads) for _ in range(_READS_PER_WRITE)]
            kinds += {COW_KINDS[-1]: ["snapshot"], MOR_KINDS[-1]: ["stream"]}.get(w, [])
        return [self.op(k, rng) for k in kinds]


class DmlModel:
    """Pandas replay of the DML program: the table state after every
    committed version and each version's row-level change feed."""

    def __init__(self, base: pd.DataFrame):
        self.state = base.set_index(_KEY, drop=False)
        self.snapshots: dict[int, pd.DataFrame] = {0: self.state}
        self.changes: dict[int, pd.DataFrame] = {0: self._tag(self.state, "insert")}
        self.pending: pd.DataFrame | None = None
        self.pending_state: pd.DataFrame | None = None

    @staticmethod
    def _tag(rows: pd.DataFrame, change: str) -> pd.DataFrame:
        return rows.reset_index(drop=True).assign(_change_type=change)

    def plan(self, op: dict) -> int:
        """Compute the op's effect; returns how many rows it changes."""
        kind, st = op["name"], self.state
        if kind == "append":
            rows = op["rows"].set_index(_KEY, drop=False)
            self.pending_state = pd.concat([st, rows])
            self.pending = self._tag(rows, "insert")
            return len(rows)
        if kind.startswith("merge"):
            src = op["rows"].set_index(_KEY, drop=False)
            hit = src.index.isin(st.index)
            pre = st.loc[src.index[hit]]
            post = src[hit]
            new = src[~hit]
            nxt = st.copy()
            nxt.loc[post.index] = post
            self.pending_state = pd.concat([nxt, new])
            self.pending = pd.concat([
                self._tag(pre, "update_preimage"),
                self._tag(post, "update_postimage"),
                self._tag(new, "insert"),
            ])
            return len(src)
        if kind.startswith(("update", "delete")):
            m = (st.index >= op["lo"]) & (st.index <= op["hi"])
            pre = st[m]
            if kind.startswith("delete"):
                self.pending_state = st[~m]
                self.pending = self._tag(pre, "delete")
                return len(pre)
            post = pre.assign(
                o_totalprice=pre["o_totalprice"] + op["delta"],
                o_orderpriority=op["priority"],
            )
            nxt = st.copy()
            nxt.loc[post.index] = post
            self.pending_state = nxt
            self.pending = pd.concat([
                self._tag(pre, "update_preimage"),
                self._tag(post, "update_postimage"),
            ])
            return len(pre)
        self.pending_state, self.pending = st, None
        return 0

    def commit(self, version: int, committed: bool) -> None:
        """Adopt the planned effect when the engine committed ``version``;
        an op that changes rows must commit, one that changes none must
        leave the table as it was."""
        changed = self.pending is not None and len(self.pending) > 0
        if changed and not committed:
            raise OpError("engine made no commit for a row-changing op")
        if committed:
            self.state = self.pending_state
            self.snapshots[version] = self.state
            self.changes[version] = self.pending if self.pending is not None else self._tag(self.state.iloc[:0], "insert")
        self.pending = self.pending_state = None

    def forget_before(self, version: int) -> None:
        for v in [v for v in self.snapshots if v < version]:
            del self.snapshots[v]
            del self.changes[v]

    def changes_between(self, lo: int, hi: int) -> pd.DataFrame:
        parts = [self.changes[v].assign(_commit_version=v) for v in range(lo, hi + 1) if v in self.changes]
        return pd.concat(parts) if parts else None


def _frame_rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    # pandas Timestamps are datetimes, so check.canonical formats them as
    # it formats Spark's timestamps
    out = df[cols].astype(object).where(df[cols].notna(), None)
    return list(out.itertuples(index=False, name=None))


def _expect(got_cols, got_rows, frame: pd.DataFrame, cols: list[str]) -> None:
    err = check.compare(got_cols, got_rows, cols, _frame_rows(frame, cols))
    if err:
        raise OpError(err)


class LakehouseDml:
    name = "lakehouse_dml"
    final_checks = 1

    def __init__(self):
        self.vt = None
        self.root = ""
        self.schema = None
        self.model: DmlModel | None = None
        self.program: DmlProgram | None = None
        self.cols: list[str] = []
        self.readable_from = 0  # oldest version vacuum has kept readable
        self.bytes_written = 0
        self.rows_committed = 0

    def setup(self, run) -> None:
        import pyarrow.parquet as pq

        from energy_emissions_lakehouse_spark.operators.vtable import VersionedTable
        from energy_emissions_lakehouse_spark.tables import t

        base = pq.read_table(os.path.join(run.sf_dir, "orders.parquet")).to_pandas()
        self.cols = list(base.columns)
        self.model = DmlModel(base)
        self.program = DmlProgram(int(base[_KEY].max()) + 1)
        self.root = os.path.join(run.work_dir, "vtable_orders")
        self.vt = VersionedTable.create(
            run.spark, self.root, t(run.spark, run.sf_dir, "orders"), enable_cdf=True
        )
        self.schema = self.vt.read().schema
        # Start the Python DataSource workers and the streaming machinery
        # once, counted in setup_s, so the loop's first DataSource read and
        # stream measure the read rather than the start-up.
        self.vt.read_source().limit(1).collect()
        _stream_changes(run.spark, self.root, 0).collect()

    def cycle(self, rng) -> list[dict]:
        return self.program.cycle(rng)

    def _dir_bytes(self) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        return total

    def _window(self, n: int) -> tuple[int, int]:
        """The last ``n`` versions that are still readable, past the
        initial load (v0 is the whole base table) once anything is
        committed."""
        head = self.vt.latest_version()
        lowest = min(max(self.readable_from, 1), head)
        return max(head - n + 1, lowest), head

    def run_op(self, run, op: dict) -> dict:
        kind = op["name"]
        if kind in READ_KINDS:
            getattr(self, f"_read_{kind}")(run, op)
            return {"kind": "read"}
        return self._write(run, op)

    def _write(self, run, op: dict) -> dict:
        from pyspark.sql import functions as F

        vt, kind, spark = self.vt, op["name"], run.spark
        n_rows = self.model.plan(op)
        src = None
        if "rows" in op:
            src = spark.createDataFrame(op["rows"], schema=self.schema)
        v0 = vt.latest_version()
        b0 = self._dir_bytes()
        if kind == "append":
            call = lambda: vt.append(src)
        elif kind == "merge":
            call = lambda: vt.merge_upsert(src, [_KEY])
        elif kind == "merge_pruned":
            call = lambda: vt.merge_upsert_pruned(src, [_KEY])
        elif kind == "merge_mor":
            call = lambda: vt.merge_upsert_mor(src, [_KEY])
        elif kind.startswith(("update", "delete")):
            cond = F.col(_KEY).between(op["lo"], op["hi"])
            fn = getattr(vt, {"update": "update_where", "update_mor": "update_where_mor",
                              "delete": "delete_where", "delete_mor": "delete_where_mor"}[kind])
            if kind.startswith("update"):
                sets = {"o_totalprice": F.col("o_totalprice") + F.lit(op["delta"]),
                        "o_orderpriority": F.lit(op["priority"])}
                call = lambda: fn(cond, sets)
            else:
                call = lambda: fn(cond)
        elif kind == "compact_small":
            call = vt.compact_small
        elif kind == "compact_dvs":
            call = vt.compact_dvs
        else:
            call = lambda: vt.vacuum(retain_last=_RETAIN)
        run.timed("build", f"vtable.{kind}", call)
        v1 = vt.latest_version()
        self.bytes_written += max(self._dir_bytes() - b0, 0)
        if kind == "vacuum":
            self.readable_from = max(self.readable_from, v1 - _RETAIN + 1)
            self.model.forget_before(self.readable_from)
        self.model.commit(v1, v1 == v0 + 1)
        if v1 not in (v0, v0 + 1):
            raise OpError(f"{kind} moved the head from v{v0} to v{v1}")
        committed_rows = n_rows if v1 == v0 + 1 else 0
        self.rows_committed += committed_rows
        return {"kind": "write", "rows": committed_rows if kind in ROW_KINDS else 0}

    def _collect(self, run, build):
        df = run.timed("build", "vtable.read", build)
        rows = run.timed("collect", "vtable.collect", df.collect)
        return df.columns, rows

    def _read_snapshot(self, run, op) -> None:
        cols, rows = self._collect(run, self.vt.read)
        _expect(cols, rows, self.model.state, self.cols)

    def _in_range(self, frame, op):
        return frame[(frame.index >= op["lo"]) & (frame.index <= op["hi"])]

    def _read_range(self, run, op) -> None:
        from pyspark.sql import functions as F

        cond = F.col(_KEY).between(op["lo"], op["hi"])
        cols, rows = self._collect(run, lambda: self.vt.read().where(cond))
        _expect(cols, rows, self._in_range(self.model.state, op), self.cols)

    def _read_time_travel(self, run, op) -> None:
        from pyspark.sql import functions as F

        v = max(self._window(op["back"] + 1)[0], 0)
        cond = F.col(_KEY).between(op["lo"], op["hi"])
        cols, rows = self._collect(run, lambda: self.vt.read(v).where(cond))
        _expect(cols, rows, self._in_range(self.model.snapshots[v], op), self.cols)

    def _read_changes(self, run, op) -> None:
        lo, hi = self._window(2)
        cols, rows = self._collect(run, lambda: self.vt.read_changes(lo, hi))
        want = self.model.changes_between(lo, hi)
        _expect(cols, rows, want, self.cols + ["_change_type", "_commit_version"])

    def _read_source(self, run, op) -> None:
        from pyspark.sql import functions as F

        cond = F.col(_KEY).between(op["lo"], op["hi"])
        cols, rows = self._collect(run, lambda: self.vt.read_source().where(cond))
        _expect(cols, rows, self._in_range(self.model.state, op), self.cols)

    def _read_stream(self, run, op) -> None:
        lo, _ = self._window(3)
        cols, rows = self._collect(run, lambda: _stream_changes(run.spark, self.root, lo))
        head = max(self.model.snapshots)
        want = self.model.changes_between(lo, head)
        want = (
            want.assign(c=(want["o_totalprice"] * 100).round().astype("int64"))
            .groupby(["_commit_version", "_change_type"], as_index=False)
            .agg(n_rows=("c", "size"), cents=("c", "sum"))
        )
        _expect(cols, rows, want, ["_commit_version", "_change_type", "n_rows", "cents"])

    def finish(self, run) -> dict:
        """Check the final snapshot once more; return the table's facts."""
        rows = self.vt.read().collect()
        _expect(self.cols, rows, self.model.state, self.cols)
        detail = self.vt.detail()
        log_dir = os.path.join(self.root, "_log")
        return {
            "live_bytes": detail["sizeInBytes"],
            "disk_bytes": self._dir_bytes(),
            "live_segments": detail["numLiveSegments"],
            "checkpoints": sum(1 for f in os.listdir(log_dir) if f.endswith(".checkpoint.json")),
            "version": detail["version"],
            "bytes_written": self.bytes_written,
            "rows_committed": self.rows_committed,
        }


def _stream_changes(spark, root: str, start: int):
    """Drain the table's change feed from ``start`` through the streaming
    ``eel_vtable`` source, counted and summed per version and change type."""
    from pyspark.sql import functions as F

    from energy_emissions_lakehouse_spark.sources.vtable_stream import register_vtable_source
    from energy_emissions_lakehouse_spark.streaming.jobs import run_to_table

    register_vtable_source(spark)
    feed = (
        spark.readStream.format("eel_vtable")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", str(start))
        .load()
    )
    agg = feed.groupBy("_commit_version", "_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
    )
    return run_to_table(agg, "complete")


WORKLOADS = {"sql_interactive": SqlInteractive, "lakehouse_dml": LakehouseDml}
