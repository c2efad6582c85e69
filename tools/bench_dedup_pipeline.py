"""Corpus dedup pipeline end-to-end bench with scan accounting.

Expands sf0.1 documents REPLICAS× with engineered duplicate structure
(every replica of a doc is an exact duplicate; every 8th replica gets a
one-token edit → near-duplicate), runs
``plans.dedup_pipeline.run_dedup_pipeline``, and reports wall, stage
counts, and — the scale claim — how many bytes of the raw corpus were
actually scanned vs its size on disk (the staging contract: the text
is read ONCE; every later stage reads only staged columns).

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS = os.environ.get("SPARK_GRAFT_DEDUP_CORPUS", "/tmp/curies_spark_dedup_corpus")
OUT = os.environ.get("SPARK_GRAFT_DEDUP_OUT", "/tmp/curies_spark_dedup_out")
REPLICAS = int(os.environ.get("SPARK_GRAFT_DEDUP_REPLICAS", "64"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench-dedup-pipeline")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.driver.memory", "8g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # UI on: the status REST API is the scan-byte ground truth
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )

    from curies_spark.plans.dedup_pipeline import run_dedup_pipeline

    if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        base = spark.read.parquet(f"{sf_dir}/documents.parquet")
        expanded = (
            base.crossJoin(spark.range(REPLICAS).withColumnRenamed("id", "r"))
            .select(
                (F.col("doc_id") * REPLICAS + F.col("r")).alias("doc_id"),
                # exact duplicates by default; every 8th replica edits
                # one leading token → a near-duplicate family member
                F.when(
                    F.col("r") % 8 == 0,
                    F.concat(F.lit("edited"), F.expr("substring(text, 6)")),
                )
                .otherwise(F.col("text"))
                .alias("text"),
            )
            .repartition(int(cpus) * 4)
        )
        expanded.write.mode("overwrite").parquet(CORPUS)

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def _scanned_bytes_for(path_fragment: str) -> int:
        """Sum 'size of files read' over FileScan nodes whose plan node
        reads the given path (status REST API; see bench_pipeline.py for
        why stage inputBytes cannot be used)."""
        import urllib.request

        units = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
        base_url = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        url = (
            f"{base_url}/api/v1/applications/{app_id}/sql"
            "?details=true&planDescription=true&offset=0&length=100000"
        )
        with urllib.request.urlopen(url) as r:
            execs = json.load(r)
        total = 0
        for e in execs:
            relevant = path_fragment in (e.get("planDescription") or "")
            for node in e.get("nodes", []):
                node_relevant = relevant or path_fragment in node.get("nodeName", "")
                if not node_relevant:
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "size of files read":
                        parts = (
                            m["value"].replace("(", " ").replace(",", " ").split()
                        )
                        for i, tok in enumerate(parts):
                            if tok in units and i > 0:
                                total += int(float(parts[i - 1]) * units[tok])
                                break
        return total

    corpus = spark.read.parquet(CORPUS)
    corpus_bytes = _dir_bytes(CORPUS)

    shutil.rmtree(OUT, ignore_errors=True)
    t0 = time.perf_counter()
    manifest = run_dedup_pipeline(spark, corpus, OUT, min_est_jaccard=0.5)
    wall = time.perf_counter() - t0

    raw_scanned = _scanned_bytes_for(os.path.basename(CORPUS))
    n_docs = manifest["input_docs"]
    result = {
        "metric": "dedup_pipeline_end_to_end",
        "docs": n_docs,
        "cpus": int(cpus),
        "wall_sec": round(wall, 2),
        "docs_per_sec": int(n_docs / wall),
        "corpus_bytes": corpus_bytes,
        "raw_corpus_scan_bytes": raw_scanned,
        "raw_corpus_scans": round(raw_scanned / max(corpus_bytes, 1), 2),
        **{k: manifest[k] for k in (
            "exact_dup_groups_gt1", "exact_winners", "candidate_pairs",
            "verified_pairs", "clustered_docs", "survivors",
        )},
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
