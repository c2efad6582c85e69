"""KG-construction pipeline over the source-code corpus.

north_rule end-to-end: batched mention detection (regex scan of
``content`` for URIs and CURIEs), preprocessing, entity linking against
the broadcast EPM, canonicalization to preferred CURIEs, and
materialization of a deduplicated (subject, predicate, object) graph:

- ``codefile:… cs:mentions <entity>``  — file-mentions-entity
- ``coderepo:… cs:declaresPrefix csprefix:…`` — repo-declares-prefix
- ``<entity> owl:sameAs <uri>`` — one edge per URI-prefix synonym, the
  mapping-service semantics (reference mapping_service/api.py:105-118)

Scale design:
- Everything is native Spark SQL (regexp / explode / broadcast maps);
  the only potential Python is the compress kernel's large-map path.
- The job is **sharded and checkpoint-resumable**: a one-pass staging
  write materializes the shard hash as a partition column
  (``_staged/_shard=K/``), so the source is scanned ONCE for the whole
  job and every shard read prunes to its own files; each shard then
  writes its triples partition and a lineage manifest (input rows,
  sha256 rollup, per-stage counts). On restart, shards with manifests
  are skipped. On Iceberg at 10^12 files the staging pass is the
  ``bucket(N, …)`` partition transform at ingest.
- The per-row invariant ``sha2(content, 256)`` is rolled up per shard
  commutatively (sum of the first 15 hex digits as ``decimal(38,0)``)
  and can be re-validated against the source at any time.
- Counts are observed on the writes (:func:`write_counted`), never read
  back; manifests go through :mod:`curies_spark.fsio` (any Hadoop URI).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..core.converter import Converter
from ..fsio import fs_delete, fs_glob, fs_read_json, fs_write_json
from ..functions import kernels
from ..operators.triples import curie_prefix

__all__ = [
    "CURIE_MENTION_RE",
    "URI_MENTION_RE",
    "build_triples",
    "extract_mentions",
    "file_edges_raw",
    "link_mentions",
    "run_pipeline",
    "sha256_rollup",
    "validate_content_invariant",
    "write_counted",
]

#: URI mentions: scheme up to whitespace/quote/bracket. Kept simple and
#: identical across engines (Java regex ∩ RE2 syntax).
URI_MENTION_RE = r"https?://[^\s\"'<>()]+"

#: CURIE mentions: NCName-ish prefix, identifier starting alphanumeric.
CURIE_MENTION_RE = r"[A-Za-z_][A-Za-z0-9._-]*:[A-Za-z0-9][A-Za-z0-9._/-]*"


#: Single-pass scan: URI alternative first, so a URI consumes its span
#: before the CURIE alternative can fire inside it (leftmost-first
#: alternation) — equivalent to extract-URIs-then-mask-then-extract-CURIEs
#: but one regex pass over content instead of three.
MENTION_RE = f"(?:{URI_MENTION_RE})|(?:{CURIE_MENTION_RE})"


def extract_mentions(df: DataFrame, *, content: str = "content") -> DataFrame:
    """Scan content for URI and CURIE mentions → one row per mention.

    ``chebi:42`` inside ``https://identifiers.org/chebi:42`` is not
    double-counted: the URI alternative matches first and consumes the
    span. Pure native plan: one ``regexp_extract_all`` + one ``explode``
    — no Python, fully pipelined with the scan.
    """
    c = F.col(content)
    mentions = F.regexp_extract_all(c, F.lit(MENTION_RE), F.lit(0))
    return df.withColumn("mention", F.explode(mentions))


def link_mentions(
    mentions: DataFrame, converter, *, mention: str = "mention"
) -> DataFrame:
    """Entity-link mentions: URI → compress, CURIE → standardize, both
    against the broadcast converter; unlinkable mentions get NULL
    ``entity`` (kept for metrics, filtered by the triple builder)."""
    return mentions.withColumn(
        "entity", kernels.compress_or_standardize_col(mention, converter)
    )


def file_edges_raw(linked: DataFrame) -> DataFrame:
    """file-mentions-entity edge projection, duplicates included (one row
    per linked mention). Batch callers dedup via :func:`build_file_edges`;
    the streaming path dedups with a bounded watermark instead."""
    entities = linked.filter(F.col("entity").isNotNull())
    file_ref = F.concat(
        F.lit("codefile:"),
        F.col("repo"),
        F.lit("@"),
        F.col("commit"),
        F.lit("/"),
        F.col("path"),
    )
    return entities.select(
        file_ref.alias("subject"),
        F.lit("cs:mentions").alias("predicate"),
        F.col("entity").alias("object"),
    )


def build_file_edges(linked: DataFrame) -> DataFrame:
    """file-mentions-entity edges — file-scoped, so dedup within a shard
    is globally correct (a file lives in exactly one shard).

    ``dropDuplicates`` on the full (s, p, o) key hash-partitions
    uniformly even when prefixes are Zipfian, so no salting is needed
    here; skew handling matters for per-prefix aggregations (see
    :mod:`curies_spark.operators.skew`).
    """
    return file_edges_raw(linked).dropDuplicates(["subject", "predicate", "object"])


def build_entity_edges(repo_entities: DataFrame, converter) -> DataFrame:
    """repo-declares-prefix + curie-sameAs-uri edges from the globally
    deduplicated (repo, entity) set.

    These edge families are entity-scoped: the same entity appears in
    many shards, so they are built in a final merge phase over the
    shards' side outputs — the reduce stage of the job.
    """
    declares_edges = (
        repo_entities.select(F.col("repo"), curie_prefix("entity").alias("prefix"))
        .distinct()
        .select(
            F.concat(F.lit("coderepo:"), F.col("repo")).alias("subject"),
            F.lit("cs:declaresPrefix").alias("predicate"),
            F.concat(F.lit("csprefix:"), F.col("prefix")).alias("object"),
        )
    )
    # curie-sameAs-uri: one edge per synonym expansion of each distinct
    # entity (the dynamic owl:sameAs triples of the reference's mapping
    # service, mapping_service/api.py:96-118)
    sameas_edges = (
        repo_entities.select("entity")
        .distinct()
        .select(
            F.col("entity").alias("subject"),
            F.lit("owl:sameAs").alias("predicate"),
            F.explode(kernels.expand_all_col("entity", converter)).alias("object"),
        )
    )
    return declares_edges.unionByName(sameas_edges)


def build_triples(linked: DataFrame, converter) -> DataFrame:
    """Single-pass (unsharded) form: all three edge families, dedup'd."""
    entities = linked.filter(F.col("entity").isNotNull())
    repo_entities = entities.select("repo", "entity").distinct()
    return (
        build_file_edges(linked)
        .unionByName(build_entity_edges(repo_entities, converter))
        .dropDuplicates(["subject", "predicate", "object"])
    )


def sha256_rollup(df: DataFrame, *, content: str = "content") -> "Any":
    """Commutative rollup of per-row sha256(content): sum of the first 15
    hex digits as ``decimal(38,0)``. Order-independent, overflow-safe at
    10^12 rows (ANSI mode would fail a bigint sum loudly)."""
    return F.sum(F.conv(F.substring(F.sha2(F.col(content), 256), 1, 15), 16, 10).cast("decimal(38,0)"))


def validate_content_invariant(source: DataFrame, manifests: "list[dict]") -> bool:
    """Re-derive the sha rollup from the source and compare with the sum
    of shard manifests — proves no content row was lost or altered."""
    total = source.select(sha256_rollup(source).alias("s")).collect()[0]["s"]
    recorded = sum(int(m["content_sha_rollup"]) for m in manifests)
    return int(total) == recorded


def write_counted(df: DataFrame, path: str) -> int:
    """Overwrite ``path`` with ``df`` as parquet; returns the rows
    written, observed on top of ``df`` — above its last exchange, in
    result tasks, whose accumulators Spark applies exactly once (a
    retried or speculated map stage would merge its own again)."""
    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
    return rows.get["n"]


def _shard_col(n_shards: int):
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path"), F.col("commit")), F.lit(n_shards))


def _stage_shards(
    spark: SparkSession, repos: DataFrame, out: str, n_shards: int, *, resume: bool
) -> str:
    """Stage 0: ONE full pass over the source materializes the shard id
    as a *partition* column (``{out}/_staged/_shard=K/``).

    The shard id is ``pmod(xxhash64(repo, path, commit))`` — a computed
    expression no format can push down, so filtering the raw source on it
    would rescan all 100 TB once per shard (n_shards full scans). After
    this single staging write, each shard's read is a partition-directory
    prune: the source is scanned exactly once for the whole job. On
    Iceberg the same effect comes from a ``bucket(N, repo)``-style
    partition transform at ingest; partitioned parquet is this
    container's stand-in (no Iceberg jars). The staged copy doubles
    storage until the job finishes and can be dropped afterwards — it is
    also what makes resume cheap (recomputed shards re-read only their
    own files).

    **Resume semantics are snapshot semantics**: with ``resume=True`` a
    matching marker reuses the existing staged copy, so recomputed
    shards derive from the SAME input snapshot as the shards whose
    manifests they join — mixing a changed input with old manifests
    would silently produce inconsistent totals (and the pre-staging
    design did exactly that). For changed input, use a fresh
    ``out_dir`` or ``resume=False``; ``validate_content_invariant``
    against the new source detects drift after the fact.
    """
    staged = f"{out}/_staged"
    marker = f"{out}/_manifests/staged.json"
    if resume and (fs_read_json(spark, marker) or {}).get("n_shards") == n_shards:
        return staged
    (
        repos.withColumn("_shard", _shard_col(n_shards))
        .write.mode("overwrite")
        .partitionBy("_shard")
        .parquet(staged)
    )
    fs_write_json(spark, marker, {"n_shards": n_shards})
    return staged


def _run_shard(
    spark: SparkSession, staged_path: str, out: str, bc, shard: int, n_shards: int
) -> dict:
    """One shard's map phase: stats → mentions → linking → file edges +
    entity side-output, finished by an atomic manifest write (the
    checkpoint marker — a shard is done iff its manifest exists).

    The manifest is written HERE, inside the shard job, so when shards
    run concurrently a failure in one never loses the checkpoints of
    shards that already completed.
    """
    t0 = time.perf_counter()
    # _shard is a partition column: this filter prunes to the shard's
    # own files (PartitionFilters), reading 1/n_shards of the data
    shard_df = (
        spark.read.parquet(staged_path)
        .filter(F.col("_shard") == shard)
        .drop("_shard")
    )

    stats_row = shard_df.select(
        F.count(F.lit(1)).alias("input_rows"),
        sha256_rollup(shard_df).alias("content_sha_rollup"),
    ).collect()[0]

    mentions = extract_mentions(shard_df)
    linked = link_mentions(mentions, bc).cache()
    link_row = linked.agg(
        F.count(F.lit(1)).alias("mentions"), F.count("entity").alias("linked")
    ).collect()[0]

    n_triples = write_counted(build_file_edges(linked), f"{out}/triples/shard={shard}")
    # side output for the merge phase: this shard's (repo, entity) set
    (
        linked.filter(F.col("entity").isNotNull())
        .select("repo", "entity")
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{out}/_entities/shard={shard}")
    )
    linked.unpersist()

    manifest = {
        "shard": shard,
        # the hash-slice geometry this manifest describes: a resume under
        # a different n_shards must NOT trust it (different slice)
        "n_shards": n_shards,
        "input_rows": stats_row["input_rows"],
        "content_sha_rollup": str(stats_row["content_sha_rollup"] or 0),
        "mentions": link_row["mentions"],
        "linked_mentions": link_row["linked"],
        "triples": n_triples,
        "wall_sec": round(time.perf_counter() - t0, 3),
    }
    fs_write_json(spark, f"{out}/_manifests/shard-{shard}.json", manifest)
    return manifest


def run_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    out_dir: str,
    *,
    converter: "Converter | None" = None,
    n_shards: int = 8,
    resume: bool = True,
    max_concurrent_shards: int = 2,
) -> dict:
    """Run the sharded, resumable KG-construction job.

    Writes ``{out_dir}/triples/shard=K/`` parquet and
    ``{out_dir}/_manifests/shard-K.json`` lineage manifests; returns the
    aggregate metrics dict. With ``resume=True``, shards whose manifest
    already exists are skipped (checkpoint resume after a failure);
    ``resume=False`` discards all derived state and rebuilds it.

    ``max_concurrent_shards`` shard jobs are submitted from driver
    threads so the cluster never idles between a shard's stages
    (SparkContext is thread-safe; the scheduler interleaves the jobs'
    stages). Shard granularity stays the checkpoint unit — a crash
    loses at most the in-flight shards.
    """
    from concurrent.futures import ThreadPoolExecutor

    conv = converter
    if conv is None:
        from ..sources.synthetic import pipeline_converter

        conv = pipeline_converter()
    bc = spark.sparkContext.broadcast(conv)

    manifest_dir = f"{out_dir}/_manifests"

    # geometry guard: a shard manifest produced under a different
    # n_shards describes a different hash slice — trusting it would
    # silently mix slices, and its stale shard=K outputs would still be
    # read by the directory-level merge phase. A geometry change (or a
    # run without resume) therefore invalidates ALL derived state
    # (outputs + manifests), not just the mismatched manifests.
    names = fs_glob(spark, manifest_dir, "shard-*.json")
    existing = {n: fs_read_json(spark, f"{manifest_dir}/{n}") for n in names} if resume else {}
    if names and (not resume or any(m.get("n_shards") != n_shards for m in existing.values())):
        for stale in ("triples", "_entities"):
            fs_delete(spark, f"{out_dir}/{stale}")
        for name in names + ["merge.json"]:
            fs_delete(spark, f"{manifest_dir}/{name}")
        existing = {}

    # past the guard every manifest left is one of this geometry's shards
    metrics: list[dict] = list(existing.values())
    resumed = len(metrics)
    pending = [k for k in range(n_shards) if f"shard-{k}.json" not in existing]

    if pending:
        staged_path = _stage_shards(spark, repos, out_dir, n_shards, resume=resume)
        with ThreadPoolExecutor(max_workers=max(1, max_concurrent_shards)) as pool:
            futures = {
                shard: pool.submit(_run_shard, spark, staged_path, out_dir, bc, shard, n_shards)
                for shard in pending
            }
            # each shard persists its own manifest on success; one
            # failing shard therefore never discards finished ones
            for shard, future in futures.items():
                metrics.append(future.result())
    metrics.sort(key=lambda m: m["shard"])

    # merge phase: entity-scoped edges over the union of side outputs.
    # Recomputed whenever any shard ran this invocation; skipped only on
    # a fully-resumed run with an existing merge manifest.
    merge_manifest_path = f"{manifest_dir}/merge.json"
    merge_manifest = fs_read_json(spark, merge_manifest_path) if resumed == n_shards else None
    if merge_manifest is None:
        t0 = time.perf_counter()
        repo_entities = spark.read.parquet(f"{out_dir}/_entities").distinct()
        entity_edges = build_entity_edges(repo_entities, bc).dropDuplicates(
            ["subject", "predicate", "object"]
        )
        merge_manifest = {
            "shard": "merge",
            "triples": write_counted(entity_edges, f"{out_dir}/triples/shard=merge"),
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        fs_write_json(spark, merge_manifest_path, merge_manifest)

    totals = {
        "shards": n_shards,
        "input_rows": sum(m["input_rows"] for m in metrics),
        "mentions": sum(m["mentions"] for m in metrics),
        "linked_mentions": sum(m["linked_mentions"] for m in metrics),
        "triples": sum(m["triples"] for m in metrics) + merge_manifest["triples"],
        "resumed_shards": resumed,
        "manifests": metrics,
        "merge": merge_manifest,
    }
    fs_write_json(spark, f"{manifest_dir}/_totals.json", totals)
    return totals
