#!/usr/bin/env python
"""A/B: Arrow batch size for the est-Jaccard screen (throwaway
experiment harness). Times a text-pair-metrics-shaped workload --
candidate pairs joined to signature payloads + one Arrow est-J screen --
at several spark.sql.execution.arrow.maxRecordsPerBatch values.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

from locality_sensitive_hashing_spark.config import DEFAULT_CONFIG as CFG
from locality_sensitive_hashing_spark.operators.candidates import pairs_from_blocks
from locality_sensitive_hashing_spark.operators.minhash import (
    estimated_jaccard_udf,
    explode_bands,
)
from locality_sensitive_hashing_spark.session import get_spark


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(f"local[{cpus}]", app_name="lsh-ab-arrow",
                      shuffle_partitions=max(cpus, 8))
    sigs = spark.read.parquet("/tmp/lsh_bench_cache/ab_sigs.parquet")
    pairs = pairs_from_blocks(
        explode_bands(sigs, id_col="text_key"),
        ["band_id", "band_hash"], CFG.bucket_cap, "minhash",
        id_col="text_key", dedup=True,
    ).select("id1", "id2")
    pairs.write.mode("overwrite").parquet("/tmp/lsh_bench_cache/ab_pairs.parquet")
    pairs = spark.read.parquet("/tmp/lsh_bench_cache/ab_pairs.parquet")
    s1 = sigs.select(F.col("text_key").alias("id1"), F.col("sig").alias("_s1"))
    s2 = sigs.select(F.col("text_key").alias("id2"), F.col("sig").alias("_s2"))
    est = estimated_jaccard_udf()

    for bs in ["2048", "8192", "32768", "2048", "8192", "32768"]:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", bs)
        t0 = time.time()
        n = (
            pairs.join(s1, "id1").join(s2, "id2")
            .where(est(F.col("_s1"), F.col("_s2")) >= CFG.jaccard_threshold)
            .count()
        )
        print(f"batch={bs}: {time.time() - t0:.2f}s n={n}", flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
