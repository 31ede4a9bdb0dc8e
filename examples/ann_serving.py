"""Vector-serving demo: train a persisted IVF index once, keep it
fresh from a stream, answer queries with partition-pruned probes.

The serving shape a retrieval deployment runs (FAISS-IVF style, on
Spark + parquet instead of a vector-DB daemon):

1. `build_ivf_index` — pay deterministic k-means once, lay the corpus
   out by cell (`vectors/batch=base/cluster_id=.../`).
2. `Stream.index_embeddings` — arriving embeddings slot into the
   trained cells as overwrite-idempotent `batch=<id>` dirs
   (exactly-once across restarts).
3. `ivf_index_topk` — driver-side codebook probe, then a scan that
   partition-prunes to the probed cells: at 1024 cells / 8 probes a
   query reads <1% of the corpus, no shuffle.

Run: python examples/ann_serving.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from python_stream_processing_framework_spark.catalog import load
from python_stream_processing_framework_spark.operators.ann_index import (
    build_ivf_index,
    ivf_index_topk,
)
from python_stream_processing_framework_spark.session import get_spark
from python_stream_processing_framework_spark.streaming import Stream

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    spark = get_spark("ann-serving-demo", cpus=8)
    (emb,) = load(spark, SF_DIR, "embeddings")
    work = tempfile.mkdtemp(prefix="ann-serving-")
    idx = f"{work}/ivf"

    meta = build_ivf_index(emb, idx, k=8, iters=2)
    print(f"built IVF index: {meta}")

    # --- streaming freshness: a new vector arrives and is probe-visible
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    query_vec = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    stream = Stream(spark, f"{work}/broker")
    stream.index_embeddings("vecs", schema, idx)
    stream.emit("vecs", {"vec_id": 900_001, "embedding": query_vec})
    stream.run_until_idle()
    print("appended one streamed vector (an exact copy of vec 7)")

    top = ivf_index_topk(spark, idx, query_vec, k=5, n_probe=2).collect()
    print("IVF top-5 (expect 7 and 900001 tied at cos 1.0):")
    for r in top:
        print(f"  vec {r['vec_id']:>7}  cos {r['cos_sim']}")


if __name__ == "__main__":
    main()
