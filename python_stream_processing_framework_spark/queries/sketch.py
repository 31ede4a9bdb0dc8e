"""Count-min heavy-hitters catalog query (operators/sketch.py).

The oracle rebuilds the sketch in DuckDB from the same md5-derived
hash functions and exact BIGINT counter sums, so every estimate —
including collision overcounts — reproduces bit-for-bit. The exact
per-token count rides along, materializing the sketch's one-sided
guarantee (est >= n_exact always) in the compared values themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.operators.sketch import cm_heavy_hitters
from python_stream_processing_framework_spark.queries.base import query

_D = 4
_W = 4096

_ORACLE = f"""
    WITH tok AS (
      SELECT unnest(string_split(trim(lower(text)), ' ')) AS token
      FROM documents),
    cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_exact
      FROM tok GROUP BY token),
    keyed AS (
      SELECT token, n_exact, i,
             CAST('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || '#'
                                  || token), 1, 7) AS BIGINT) % {_W} AS bucket
      FROM cnt, unnest(range(0, {_D})) AS u(i)),
    sk AS (
      SELECT i, bucket, CAST(sum(n_exact) AS BIGINT) AS c
      FROM keyed GROUP BY 1, 2),
    est AS (
      SELECT k.token, k.n_exact,
             CAST(min(coalesce(s.c, 0)) AS BIGINT) AS est
      FROM keyed k LEFT JOIN sk s ON s.i = k.i AND s.bucket = k.bucket
      GROUP BY 1, 2)
    SELECT token, n_exact, est FROM est
    ORDER BY est DESC, token LIMIT 25
    """


@query(
    "cm_heavy_hitters",
    _ORACLE,
    doc="Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005; "
    "operators/sketch.py): build a depth=4 x width=4096 sketch in one "
    "corpus scan (the sketch is <= 16k rows REGARDLESS of corpus size "
    "— broadcast by construction), estimate every distinct token "
    "through the broadcast sketch (min over the depth counters), "
    "return the top 25 by estimate with the exact count alongside — "
    "so the compared values themselves pin the one-sided est >= exact "
    "guarantee. Hash functions are the engine-portable md5 prefix; "
    "counters are exact BIGINT sums. Oracle rebuilds the sketch and "
    "every estimate bit-for-bit.",
)
def cm_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load(spark, sf_dir, "documents")
    return cm_heavy_hitters(documents, "text", k=25, depth=_D, width=_W)
