"""Isolated k-core skew18m measurement harness (round-6 experiments).

Generates the bench's skew18m tier (18M edges / 6M vertices, power-law
dst with hub in-degree ~364k) and times k_core at a 5-superstep budget —
the same work BENCH_QUERIES["scale_kcore_skew18m"] measures — so operator
changes can be A/B'd without paying the full bench."""

import os
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphframes_rs_spark.graphframe import GraphFrame  # noqa: E402

V, E, A = 6_000_000, 18_000_000, 4.0


def build(spark):
    base = tempfile.mkdtemp(prefix="gf_exp_skew_")
    src = F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(V))
    u = (F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(1 << 30)) + F.lit(0.5)) / F.lit(
        float(1 << 30)
    )
    dst = F.floor(F.lit(V) * F.pow(u, F.lit(A)))
    spark.range(E).select(
        src.cast("long").alias("src"), dst.cast("long").alias("dst")
    ).write.mode("overwrite").parquet(base + "/edges")
    spark.range(V).write.mode("overwrite").parquet(base + "/vertices")
    return base


def main():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("exp-kcore")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = build(spark)
    g = GraphFrame(
        spark.read.parquet(base + "/vertices"), spark.read.parquet(base + "/edges")
    )
    # warm: one small action
    g.edges.limit(10).count()

    modes = sys.argv[1:] or ["default"]
    for mode in modes:
        for rep in range(int(os.environ.get("EXP_REPS", "2"))):
            spark.catalog.clearCache()
            jvm = spark.sparkContext._jvm
            jvm.System.gc(); time.sleep(1.0); jvm.System.gc()
            spark.conf.unset("spark.graphframes.pregel.checkpointInterval")
            kc = g.k_core().max_iterations(5).set_checkpoint_dir(tempfile.mkdtemp())
            if mode == "cc":
                kc = kc.with_count_compression(True)
            elif mode == "inc":
                kc = kc.with_incremental_messages(True)
            elif mode == "interval5":
                spark.conf.set("spark.graphframes.pregel.checkpointInterval", "5")
            t0 = time.monotonic()
            n = kc.run().count()
            print(
                f"RESULT mode={mode} rep={rep} sec={time.monotonic() - t0:.1f} rows={n}",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
