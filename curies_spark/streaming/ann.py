"""Streaming ANN index maintenance: sign arriving embedding vectors
with the index's hyperplanes and append them to the persisted
signature-partitioned index, one idempotent batch directory at a time.

The batch counterpart (operators/similarity.py ``build_ann_index`` /
``append_to_ann_index``) already amortizes signing into the layout;
this lifts the APPEND side to Structured Streaming — the daily-
increment shape at corpus scale, where embeddings land continuously
and a full rebuild is infeasible. Each micro-batch:

- signs its vectors with the SAME hyperplanes the index was created
  with (the ``_params`` side table is written once and verified at
  every stream (re)start — mismatched planes would make vectors
  silently unreachable, the hazard the batch append already guards);
- writes ``{index_path}/batch=N/sig=S/...`` with batch-scoped
  overwrite, so a crash replay rewrites its own directory instead of
  duplicating rows (the same idempotence contract as
  streaming/dedup.py).

Probing is unchanged: ``probe_ann_index`` partition-discovers
``(batch, sig)`` and the ``sig`` filter still prunes every non-probed
bucket's files at planning time — the extra ``batch`` partition level
only adds directories, never scanned bytes. Do NOT mix this layout
with ``build_ann_index``'s flat ``sig=S`` layout at one path (Spark's
partition discovery requires a consistent depth); a streamed index
lives at its own path from batch 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from ..operators.similarity import (
    _check_ann_params,
    _write_ann_params,
    hyperplanes,
    lsh_signature_col,
)

__all__ = [
    "EMBEDDING_SCHEMA",
    "read_embedding_stream",
    "start_ann_index_stream",
    "start_ivf_index_stream",
]

def _embedding_schema(id_col: str, vec_col: str) -> StructType:
    return StructType(
        [
            StructField(id_col, LongType(), False),
            StructField(vec_col, ArrayType(FloatType()), True),
        ]
    )


#: default schema of the streamed embeddings table (testdata layout)
EMBEDDING_SCHEMA = _embedding_schema("vec_id", "embedding")


def read_embedding_stream(
    spark: SparkSession,
    source_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: "int | None" = None,
) -> DataFrame:
    """File-source stream of embedding parquet landing in a directory.

    The schema is pinned from ``id_col``/``vec_col`` (a file-source
    stream needs an explicit schema) — names that don't match the
    parquet columns would resolve to all-NULL, so callers must pass the
    source's real column names."""
    reader = spark.readStream.schema(_embedding_schema(id_col, vec_col))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def start_ann_index_stream(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    dim: int,
    n_planes: int = 6,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = True,
    max_files_per_trigger: "int | None" = None,
    quantize: bool = False,
) -> StreamingQuery:
    """Start (or resume) the streaming ANN index appender.

    ``quantize=True`` streams the two-table layout: each batch writes
    ``codes/batch=N/sig=S`` (int8 per-vector-scale codes) and
    ``vectors/batch=N/sig=S`` floats — the probe reads the ``codes``/
    ``vectors`` roots with (batch, sig) partition discovery, so a
    streamed quantized index answers ``query_ann_index`` exactly like a
    batch-built one. The layout rides in ``_params`` and is verified on
    every (re)start alongside the hyperplanes — resuming with the wrong
    layout would leave rows invisible to the other layout's probes."""
    from ..fsio import fs_exists

    params = {
        "dim": dim,
        "n_planes": n_planes,
        "seed": seed,
        "quantize": int(quantize),
    }
    # existence probed through the Hadoop FS API: the index path may be
    # any Hadoop filesystem URI, not just a local POSIX path
    if fs_exists(spark, index_path + "_params"):
        # resuming into an existing index: planes AND layout must match
        _check_ann_params(spark, index_path, params)
    else:
        _write_ann_params(spark, index_path, params)
    planes = hyperplanes(dim, n_planes, seed=seed)

    def process(batch: DataFrame, batch_id: int) -> None:
        signed = batch.select(
            F.col(id_col),
            F.col(vec_col),
            lsh_signature_col(F.col(vec_col), planes).alias("sig"),
        )
        # one shuffle by bucket so each sig directory is written by a
        # single task; batch-scoped overwrite keeps replays idempotent
        if quantize:
            from ..operators.similarity import write_quantized_partitions

            write_quantized_partitions(
                signed,
                index_path,
                partition_col="sig",
                vec_col=vec_col,
                id_col=id_col,
                batch_id=batch_id,
            )
            return
        signed.repartition("sig").write.mode("overwrite").partitionBy(
            "sig"
        ).parquet(f"{index_path}/batch={batch_id}")

    writer = (
        read_embedding_stream(
            spark,
            source_dir,
            id_col=id_col,
            vec_col=vec_col,
            max_files_per_trigger=max_files_per_trigger,
        )
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_ivf_index_stream(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = True,
    max_files_per_trigger: "int | None" = None,
) -> StreamingQuery:
    """Start (or resume) the streaming IVF index appender.

    The index's centroids must already exist — train them once with
    ``build_ivf_index(seed_corpus, index_path, write_vectors=False)``
    (or a full batch build at a DIFFERENT path whose ``_centroids``
    table is copied here): standard IVF maintenance keeps cells fixed
    between rare re-trains while appends arrive continuously. Each
    micro-batch runs the shared BLAS nearest-centroid kernel
    (``_ivf_assign`` — the same cell placement as the batch paths, so
    they can never diverge) and writes
    ``{index_path}/batch=N/cid=C/...`` with batch-scoped overwrite —
    idempotent under crash replay, and ``query_ivf_index``'s ``cid``
    filter partition-prunes the nested layout exactly like the flat
    batch one."""
    from ..operators.similarity import (
        _ivf_assign,
        _ivf_quantized,
        load_ivf_centroids,
    )

    # the index's OWN recorded layout decides what each batch writes —
    # exactly like the batch appender, so appended rows are always
    # visible to the layout's probes
    quantized = _ivf_quantized(spark, index_path)
    cids, cents = load_ivf_centroids(spark, index_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        assigned = _ivf_assign(batch, cents, cids, vec_col, id_col)
        if quantized:
            from ..operators.similarity import write_quantized_partitions

            write_quantized_partitions(
                assigned,
                index_path,
                partition_col="cid",
                vec_col=vec_col,
                id_col=id_col,
                batch_id=batch_id,
            )
            return
        assigned.repartition("cid").write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(f"{index_path}/batch={batch_id}")

    writer = (
        read_embedding_stream(
            spark,
            source_dir,
            id_col=id_col,
            vec_col=vec_col,
            max_files_per_trigger=max_files_per_trigger,
        )
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
