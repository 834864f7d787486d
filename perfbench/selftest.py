"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

The tail-rule and seed tests need no Spark session; the reset test starts
one (about 15 s).
"""

from __future__ import annotations

import itertools
import os
import random
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    Context,
    LakehouseRW,
    OlapInteractive,
)


# -- the tail rule ------------------------------------------------------------------

@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 101, 999])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    values = random.Random(n).sample(range(10 * n), n)
    p, v = stats.tail(values)
    beyond = sum(x > v for x in values)
    assert beyond >= stats.TAIL_BEYOND
    # one percentile higher would leave fewer than ten samples beyond
    if p < 100:
        rank = -(-(p + 1) * n // 100)  # ceil
        assert n - rank < stats.TAIL_BEYOND or rank > n


def test_tail_known_values():
    assert stats.tail(list(range(1, 101))) == (90, 90)
    assert stats.tail(list(range(1, 21))) == (50, 10)
    assert stats.tail([3.0, 1.0, 2.0]) == (100, 3.0)  # too few samples


# -- seeds fix the operation sequence ----------------------------------------------

def _op_sequence(workload_cls, seed: int, n_passes: int = 4) -> list[tuple]:
    ctx = Context(spark=None, sf_dir="", work_dir="/nonexistent", seed=seed,
                  tracer=Tracer(enabled=False))
    wl = workload_cls()
    if workload_cls is OlapInteractive:
        wl.setup(ctx)  # no session needed: it only reads the registry
    else:
        wl.plan_state(ctx)
    passes = wl.passes(ctx)
    return [(op.kind, op.detail) for op in
            itertools.chain.from_iterable(next(passes) for _ in range(n_passes))]


@pytest.mark.parametrize("cls", [OlapInteractive, LakehouseRW])
def test_same_seed_same_ops_other_seed_other_ops(cls):
    a = _op_sequence(cls, 7)
    assert a == _op_sequence(cls, 7)
    assert a != _op_sequence(cls, 8)


def test_fixtures_depend_only_on_seed(tmp_path):
    a = datagen.write_fixtures(str(tmp_path / "a"), 5, 0.001)
    b = datagen.write_fixtures(str(tmp_path / "b"), 5, 0.001)
    c = datagen.write_fixtures(str(tmp_path / "c"), 6, 0.001)
    for name in datagen.TABLES:
        def read(d):
            with open(os.path.join(d, f"{name}.parquet"), "rb") as f:
                return f.read()
        assert read(a) == read(b)
        if name not in ("region", "nation"):
            assert read(a) != read(c)


# -- lakehouse reset ------------------------------------------------------------------

def test_lakehouse_reset_restores_base_digest(tmp_path):
    import duckdb

    from sql_query_optimizer_cpp_spark.engine import Engine
    from sql_query_optimizer_cpp_spark.session import get_session

    sf_dir = datagen.write_fixtures(str(tmp_path / "data"), 3, 0.001)
    spark = get_session(
        app_name="perfbench-selftest",
        extra_conf={"spark.sql.warehouse.dir": str(tmp_path / "warehouse")},
    )
    ctx = Context(spark, sf_dir, str(tmp_path), 3, Tracer(enabled=False))
    wl = LakehouseRW()
    wl.engine = Engine(spark)
    wl.stage(ctx)
    p = wl.paths(ctx)
    con = duckdb.connect()
    base = wl.table_digest_duckdb(
        con, f"read_parquet('{os.path.join(sf_dir, 'orders.parquet')}')")
    assert wl.table_digest_spark(wl.engine.table(p["cow"])) == base
    wl.engine.dml("DELETE FROM o WHERE o_orderkey < 100", {"o": p["cow"]})
    wl.engine.dml("DELETE FROM o WHERE o_orderkey < 100", {"o": p["mor"]}, mor=True)
    assert wl.table_digest_spark(wl.engine.table(p["cow"])) != base
    wl.stage(ctx)
    for t in ("cow", "mor"):
        assert wl.table_digest_spark(wl.engine.table(p[t])) == base
        assert wl.engine.table_versions(p[t]) == [1]
