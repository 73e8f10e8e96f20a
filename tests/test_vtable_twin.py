"""Copy-on-write ↔ merge-on-read twin check: one seeded DML program runs
on two change-feed tables that start from the same rows.  One table takes
every op through the copy-on-write methods (``delete_where``,
``update_where``, ``merge_upsert``), the other through the ``_mor``
methods.  The two execution shapes must be indistinguishable to a
reader: after every op both commit (or both stay commit-free), serve the
same row multiset, and publish the same change feed for that version."""

from __future__ import annotations

import os
import random
import shutil
import tempfile
from collections import Counter

import pytest

from energy_emissions_lakehouse_spark.operators.vtable import VersionedTable

N_OPS = 12
SEED = 0x7A1


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="vtable-twin-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v bigint")


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _feed(vt, version) -> Counter:
    return _rows(vt.read_changes(version, version).drop("_commit_version"))


def test_cow_and_mor_twins_serve_same_rows_and_feed(spark, base):
    rng = random.Random(SEED)
    cow = VersionedTable.create(
        spark, os.path.join(base, "cow"),
        _df(spark, [(k, k * 10) for k in range(20)]), enable_cdf=True,
    )
    mor = VersionedTable.create(
        spark, os.path.join(base, "mor"),
        _df(spark, [(k, k * 10) for k in range(20)]), enable_cdf=True,
    )
    for vt in (cow, mor):  # a second segment, so CoW pruning matters
        vt.append(_df(spark, [(k, k * 10) for k in range(20, 40)]))
    next_key = 40
    for step in range(N_OPS):
        op = rng.choice(["delete", "update", "merge"])
        lo = rng.randrange(-5, 45)
        cond = f"k BETWEEN {lo} AND {lo + rng.randrange(0, 8)}"
        if op == "delete":
            v_cow, v_mor = cow.delete_where(cond), mor.delete_where_mor(cond)
        elif op == "update":
            sets = {"v": f"v + {rng.randrange(1, 100)}"}
            v_cow = cow.update_where(cond, sets)
            v_mor = mor.update_where_mor(cond, sets)
        else:
            keys = rng.sample(range(next_key), 4) + [next_key, next_key + 1]
            next_key += 2
            src = _df(spark, [(k, -rng.randrange(1000)) for k in keys])
            v_cow = cow.merge_upsert(src, ["k"])
            v_mor = mor.merge_upsert_mor(src, ["k"])
        what = f"step {step} {op} {cond}"
        assert v_cow == v_mor, f"{what}: heads diverged"
        assert _rows(cow.read()) == _rows(mor.read()), f"{what}: rows"
        assert _feed(cow, v_cow) == _feed(mor, v_mor), f"{what}: feed"
