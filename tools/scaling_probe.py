"""Calibrate the throughput-bound scaling job at one parallelism level.

Usage: python tools/scaling_probe.py <cpus> <n_files>
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cpus = int(sys.argv[1])
n_files = int(sys.argv[2])

from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.master(f"local[{cpus}]")
    .appName("scaling-probe")
    .config("spark.sql.shuffle.partitions", str(cpus * 2))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.driver.memory", "48g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

from curies_spark.functions import SparkConverter
from curies_spark.plans.pipeline import build_file_edges, extract_mentions, link_mentions
from curies_spark.sources.synthetic import generate_repos, pipeline_converter

sc = SparkConverter(spark, pipeline_converter())

# warm up JVM/codegen on a tiny slice
warm = generate_repos(spark, 10_000, partitions=cpus)
build_file_edges(link_mentions(extract_mentions(warm), sc.broadcast)).write.mode(
    "overwrite"
).format("noop").save()

repos = generate_repos(spark, n_files, partitions=cpus * 4)
t0 = time.perf_counter()
edges = build_file_edges(link_mentions(extract_mentions(repos), sc.broadcast))
edges.write.mode("overwrite").format("noop").save()
wall = time.perf_counter() - t0
print(
    {
        "cpus": cpus,
        "n_files": n_files,
        "wall": round(wall, 2),
        "files_per_sec": int(n_files / wall),
    }
)
spark.stop()
