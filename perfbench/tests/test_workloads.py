"""Every workload query is a registered query with oracle SQL, and the
seeded inputs are reproducible and keep their join keys consistent."""

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import data  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_every_workload_query_is_registered_with_oracle_sql():
    import __spark_entry__ as entry

    registered, oracles = entry.queries(), entry.oracle_sql()
    for wl in WORKLOADS.values():
        assert wl.clear in ("query", "pass")
        assert len(set(wl.queries)) == len(wl.queries)
        for name in wl.queries:
            assert name in registered, f"{wl.name}: {name} is not registered"
            assert name in oracles, f"{wl.name}: {name} has no oracle SQL"


def test_seeded_inputs_repeat_and_keep_joins(tmp_path):
    a = data.materialize(7, str(tmp_path / "a"))
    b = data.materialize(7, str(tmp_path / "b"))
    c = data.materialize(8, str(tmp_path / "c"))
    assert a == b
    for name in ("orders", "events", "documents"):
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))
    orders = pq.read_table(tmp_path / "a" / "orders.parquet")
    customers = pq.read_table(tmp_path / "a" / "customer.parquet")
    lineitem = pq.read_table(tmp_path / "a" / "lineitem.parquet")
    assert pc.all(pc.is_in(orders["o_custkey"], value_set=customers["c_custkey"])).as_py()
    assert pc.all(pc.is_in(lineitem["l_orderkey"], value_set=orders["o_orderkey"])).as_py()
    full = pq.read_metadata(os.path.join(data.FIXTURE_DIR, "documents.parquet")).num_rows
    assert 0.8 * full < a["documents"] < full
