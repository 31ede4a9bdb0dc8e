"""Table catalog for the driver-generated parquet testdata.

Tables (TPC-H-ish star schema + an ``events`` stream table + LLM-
pipeline ``documents``/``embeddings``) live one-parquet-per-table in a
scale-factor directory. At 100 TB these would be partitioned/bucketed
parquet or Iceberg tables; the loader is the single place that would
change — every operator downstream consumes plain DataFrames.

Loads are schema-memoized (``operators.common.read_parquet``): the
first read of a table infers its parquet schema with a Spark job, and
every later ``load``/``load_tables``/``register_views`` of the
unchanged file builds a fresh DataFrame from the memoized schema with
no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from python_stream_processing_framework_spark.operators.common import read_parquet
from python_stream_processing_framework_spark.session import ensure_utc

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic scale
#: (region=5 rows, nation=25 rows always; TPC-H scales facts, not these).
BROADCAST_TABLES = frozenset({"region", "nation"})


#: Columns that have shipped as parquet TIMESTAMP(NANOS) in some
#: testdata generations, which Spark cannot read natively. When they
#: appear as int64 (`nanosAsLong`), truncate to microsecond timestamps —
#: the same ns->us truncation DuckDB applies when it reads TIMESTAMP_NS,
#: so both engines see identical values.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df, schema = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    nanos = _NANOS_TS_COLS.get(name, ())
    fixes = {}
    for field in schema.fields:
        if field.name in nanos and isinstance(field.dataType, LongType):
            fixes[field.name] = F.timestamp_micros(F.expr(f"{field.name} DIV 1000"))
        # Generations that store TIMESTAMP(MICROS, isAdjustedToUTC=false)
        # normally read as plain TIMESTAMP via the session conf
        # (parquet.inferTimestampNTZ.enabled=false, see session.ensure_utc);
        # cast defensively in case the caller's session read NTZ anyway.
        elif isinstance(field.dataType, TimestampNTZType):
            fixes[field.name] = F.col(field.name).cast("timestamp")
    return df.withColumns(fixes) if fixes else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every catalog table from ``sf_dir`` as a DataFrame."""
    ensure_utc(spark)
    return {t: _read(spark, sf_dir, t) for t in TABLES}


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load a subset of tables: ``li, orders = load(spark, d, 'lineitem', 'orders')``."""
    ensure_utc(spark)
    return [_read(spark, sf_dir, n) for n in names]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` queries."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
