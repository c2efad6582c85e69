"""Full KG-construction job benchmark: sharded, resumable, lineage-audited.

Runs plans.pipeline.run_pipeline (mention scan → broadcast linking →
file edges per shard → entity-edge merge phase, manifests + sha256
rollups) over a materialized synthetic corpus on a 4-executor
local-cluster, then proves checkpoint resume by deleting two shard
manifests and re-running. Prints one JSON line.

Usage: python tools/bench_pipeline.py [n_files] (default 4,000,000)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS = os.environ.get("SPARK_GRAFT_PIPE_CORPUS", "/tmp/curies_spark_pipe_corpus")
OUT = "/tmp/curies_spark_pipe_out"


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local-cluster[4,2,3072]")
        .appName("bench-kg-pipeline")
        .config("spark.driver.memory", "6g")
        .config("spark.executor.memory", "2g")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        # UI stays on: the status REST API is how we account actual
        # bytes scanned (proof the staging pass reads the source ONCE)
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )

    from curies_spark.plans.pipeline import run_pipeline, validate_content_invariant
    from curies_spark.sources.synthetic import generate_repos

    if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        generate_repos(spark, n_files, partitions=64).write.mode("overwrite").parquet(
            CORPUS
        )
    repos = spark.read.parquet(CORPUS)
    n_files = repos.count()

    def _scanned_bytes() -> int:
        """Sum 'size of files read' over every FileScan node of every SQL
        execution (status REST API) — the ground truth for 'how many
        bytes of parquet were actually scanned'. Stage-level inputBytes
        is unusable for this: it counts in-memory-cache reads, and
        Spark's local-file vectorized parquet path bypasses the Hadoop
        FS counters entirely (measured: a 20 MB full scan reports 8 KB).
        """
        import urllib.request

        units = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}

        def parse_size(text: str) -> int:
            total = 0
            # values look like "979.6 KiB" or "total (min, med, max)…";
            # take the first number+unit pair
            parts = text.replace("(", " ").replace(",", " ").split()
            for i, tok in enumerate(parts):
                if tok in units and i > 0:
                    total = int(float(parts[i - 1]) * units[tok])
                    break
            return total

        base = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        url = (
            f"{base}/api/v1/applications/{app_id}/sql"
            "?details=true&planDescription=false&offset=0&length=100000"
        )
        with urllib.request.urlopen(url) as r:
            execs = json.load(r)
        total = 0
        for e in execs:
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "size of files read":
                        total += parse_size(m["value"])
        return total

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    source_bytes = _dir_bytes(CORPUS)
    bytes_before = _scanned_bytes()

    from curies_spark.plans.pipeline import _stage_shards
    from pathlib import Path

    shutil.rmtree(OUT, ignore_errors=True)
    t0 = time.perf_counter()
    # run the staging pass separately so its scan bytes are attributable:
    # this is the ONLY read of the raw source in the whole job
    _stage_shards(spark, repos, Path(OUT), 8, resume=False)
    staging_scan = _scanned_bytes() - bytes_before
    # resumes the staging marker; shard + merge phases read only the
    # staged copy (partition-pruned per shard) and the job's own outputs
    totals = run_pipeline(spark, repos, OUT, n_shards=8)
    wall = time.perf_counter() - t0
    shard_phase_scan = _scanned_bytes() - bytes_before - staging_scan
    staged_bytes = _dir_bytes(os.path.join(OUT, "_staged"))
    # the pre-staging design scanned the raw source once per shard:
    # (1 + n_shards) x source = 9x here
    source_scans = round(staging_scan / source_bytes, 2)

    invariant_ok = validate_content_invariant(repos, totals["manifests"])

    # resume: drop two shard manifests, re-run, totals must be identical
    for shard in (2, 5):
        os.remove(os.path.join(OUT, "_manifests", f"shard-{shard}.json"))
    t0 = time.perf_counter()
    resumed = run_pipeline(spark, repos, OUT, n_shards=8)
    resume_wall = time.perf_counter() - t0
    spark.stop()

    assert resumed["triples"] == totals["triples"], (resumed, totals)
    assert resumed["resumed_shards"] == 6

    print(
        json.dumps(
            {
                "metric": "kg_pipeline_end_to_end",
                "cluster": "local-cluster[4,2]",
                "input_files": n_files,
                "mentions": totals["mentions"],
                "linked_mentions": totals["linked_mentions"],
                "triples": totals["triples"],
                "wall_sec": round(wall, 2),
                "files_per_sec": int(n_files / wall),
                "triples_per_sec": int(totals["triples"] / wall),
                "content_sha256_invariant": "OK" if invariant_ok else "VIOLATED",
                "source_bytes": source_bytes,
                "staged_bytes": staged_bytes,
                "raw_source_scan_bytes": staging_scan,
                "raw_source_scans": source_scans,
                "shard_and_merge_scan_bytes": shard_phase_scan,
                "resume_wall_sec": round(resume_wall, 2),
                "resume_recomputed_shards": 2,
            }
        )
    )


if __name__ == "__main__":
    main()
