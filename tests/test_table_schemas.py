"""Parquet schema reuse in ``sources.tables.load_table``: the schema Spark
infers is kept per file version, so a repeated load of unchanged files runs
no Spark job, and a rewrite with another physical ts layout is seen."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from mapreduce_golang_spark.sources.tables import load_table
from mapreduce_golang_spark.streaming.events_stream import read_events_stream
from tests.jobcount import run_counting_jobs

_INSTANTS = [dt.datetime(2024, 1, 1, 0, 0, 0), dt.datetime(2024, 1, 2, 12, 30, 15, 123456)]
_MICROS = [int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000) for t in _INSTANTS]

#: the physical ts layouts the events fixture has shipped with
_LAYOUTS = {
    "int64_nanos": pa.array([m * 1000 for m in _MICROS], pa.timestamp("ns", tz="UTC")),
    "naive_us": pa.array(_INSTANTS, pa.timestamp("us")),
    "utc_us": pa.array(_INSTANTS, pa.timestamp("us", tz="UTC")),
}


def _write_events(path, ts) -> None:
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts,
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.5, 2.5]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, path, version="2.6", coerce_timestamps=None)


def test_second_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    _write_events(tmp_path / "events.parquet", _LAYOUTS["utc_us"])
    run_counting_jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    df, jobs = run_counting_jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert df.count() == 2


@pytest.mark.parametrize("order", [list(_LAYOUTS), list(reversed(_LAYOUTS))])
def test_rewritten_ts_layout_is_seen_on_next_load(spark, tmp_path, order):
    path = tmp_path / "events.parquet"
    for layout in order:
        _write_events(path, _LAYOUTS[layout])
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", layout
        got = sorted(r.us for r in df.select(F.unix_micros("ts").alias("us")).collect())
        assert got == _MICROS, layout
        stream = read_events_stream(spark, str(tmp_path))
        assert isinstance(stream.schema["ts"].dataType, TimestampType), layout
        _, jobs = run_counting_jobs(spark, lambda: load_table(spark, str(tmp_path), "events"))
        assert jobs == 0, layout
