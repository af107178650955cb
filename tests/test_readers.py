"""``sources.readers``: the schema ``read_parquet`` reads from one footer
on the driver is the schema ``spark.read.parquet`` infers, for every
timestamp encoding and writer this engine meets; ``local_frame`` keeps
its rows and types, empty or not. That neither submits a Spark job is
``test_plans::test_parsed_enriched_plans_without_jobs``."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from opentelemetry_collector_contrib_spark.fixtures import DATA_ROOT
from opentelemetry_collector_contrib_spark.sources.readers import (
    local_frame,
    read_parquet,
)


def _assert_parity(spark, path):
    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema, path
    return got


def test_schema_parity_for_every_fixture(spark, sf_dir):
    paths = sorted(glob.glob(os.path.join(DATA_ROOT, "*", "*.parquet")))
    assert paths
    for path in paths:
        _assert_parity(spark, path)


def test_schema_parity_timestamp_encodings(spark, tmp_path):
    """pyarrow's zone-less micros are TIMESTAMP_NTZ, its INT96 and a
    Spark-written timestamp are LTZ; a single-file path and a
    hive-partitioned directory read the same."""
    t = [dt.datetime(2025, 1, 2, 3, 4, 5)]
    ntz = str(tmp_path / "ntz.parquet")
    pq.write_table(pa.table({"ts": pa.array(t, pa.timestamp("us"))}), ntz)
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"ts": pa.array(t, pa.timestamp("us"))}), int96,
                   use_deprecated_int96_timestamps=True)
    ltz = str(tmp_path / "ltz")
    spark.createDataFrame([(t[0], "a")], "ts timestamp, s string").coalesce(1).write.parquet(ltz)

    assert dict(_assert_parity(spark, ntz).dtypes)["ts"] == "timestamp_ntz"
    assert dict(_assert_parity(spark, int96).dtypes)["ts"] == "timestamp"
    assert dict(_assert_parity(spark, ltz).dtypes)["ts"] == "timestamp"
    one_file = sorted(glob.glob(os.path.join(ltz, "part-*")))[0]
    assert _assert_parity(spark, one_file).collect()[0]["s"] == "a"
    parted = str(tmp_path / "parted")
    spark.range(4).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(parted)
    assert _assert_parity(spark, parted).columns == ["id", "k"]


def test_no_data_file_fails_as_spark_read_does(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    for path in (str(empty), str(tmp_path / "missing")):
        with pytest.raises(Exception) as want:
            spark.read.parquet(path)
        with pytest.raises(type(want.value)) as got:
            read_parquet(spark, path)
        assert got.value.getCondition() == want.value.getCondition()


def test_local_frame_rows_and_empty(spark):
    df = local_frame(spark, [("x", 1), ("y", None)], "a string, b long")
    assert df.dtypes == [("a", "string"), ("b", "bigint")]
    assert [tuple(r) for r in df.collect()] == [("x", 1), ("y", None)]
    empty = local_frame(spark, [], "a string, b int")
    assert empty.dtypes == [("a", "string"), ("b", "int")]
    assert empty.count() == 0
