"""Schema-memoized parquet reads (`operators.common.read_parquet`).

The first read of a parquet path infers its schema with a Spark job;
later reads of the unchanged path pass the memoized schema and run no
job, while a rewrite of the path is inferred again.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, TimestampType

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.operators import common
from python_stream_processing_framework_spark.operators.common import read_parquet
from tests.conftest import SF_SMOKE, jobs_in


def test_reloading_an_unchanged_table_runs_no_job(spark):
    load(spark, SF_SMOKE, "events")
    assert jobs_in(spark, lambda: load(spark, SF_SMOKE, "events")[0].schema) == 0


@pytest.mark.parametrize("writer", ["spark_overwrite", "single_file"])
def test_rewritten_path_is_inferred_again(spark, tmp_path, writer):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")

    def write(cols: dict) -> None:
        if writer == "single_file":
            pq.write_table(pa.table(cols), path)
        else:
            rows = list(zip(*cols.values()))
            spark.createDataFrame(rows, list(cols)).write.mode("overwrite").parquet(path)

    write({"k": [1, 2]})
    df, schema = read_parquet(spark, path)
    assert schema.names == ["k"]
    assert sorted(r.k for r in df.collect()) == [1, 2]
    assert jobs_in(spark, lambda: read_parquet(spark, path)) == 0

    write({"k": [3, 4, 5], "extra": ["x", "y", "z"]})
    df, schema = read_parquet(spark, path)
    assert schema.names == ["k", "extra"]
    assert df.schema == schema
    assert sorted(tuple(r) for r in df.collect()) == [(3, "x"), (4, "y"), (5, "z")]


def test_missing_path_raises_sparks_own_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "absent.parquet"))


def _nanos_events(tmp_path) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array([1_000_000_123_456_789, 2_000_000_000_000_001], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), tmp_path / "events.parquet")
    return str(tmp_path)


@pytest.mark.parametrize("generation", ["testdata", "nanos"])
def test_hit_keeps_the_timestamp_normalization(spark, tmp_path, generation):
    sf_dir = SF_SMOKE if generation == "testdata" else _nanos_events(tmp_path)
    path = f"{sf_dir}/events.parquet"
    common._PARQUET_SCHEMAS.pop(path, None)
    (miss,) = load(spark, sf_dir, "events")
    stored = common._PARQUET_SCHEMAS[path][1]
    if generation == "nanos":
        # read as int64 nanos (nanosAsLong), converted by catalog._read
        assert isinstance(stored["ts"].dataType, LongType)
    (hit,) = load(spark, sf_dir, "events")
    assert common._PARQUET_SCHEMAS[path][1] is stored
    assert isinstance(miss.schema["ts"].dataType, TimestampType)
    assert hit.schema == miss.schema
    assert sorted(hit.select("event_id", "ts").collect()) == sorted(
        miss.select("event_id", "ts").collect()
    )
