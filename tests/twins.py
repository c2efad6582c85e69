"""Differential twins: straightforward forms of the engine's Arrow and
BLAS kernels that the tests compare the kernels against. Interpreted
per element or per row — never use them on a corpus-scale pass."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType

from curies_spark.operators.dedup import _R, N_PERM
from curies_spark.operators.similarity import _unit
from curies_spark.operators.text import tokens_col


def shingles_col(text: "Column | str", *, k: int = 3) -> Column:
    """k-token shingles of the lowercased whitespace tokenization.

    Documents shorter than k tokens produce their full token join as a
    single shingle (so short docs still dedup exactly)."""
    toks = tokens_col(text)
    n = F.size(toks)
    full = F.array(F.concat_ws(" ", toks))
    windows = F.transform(
        F.sequence(F.lit(0), n - F.lit(k)),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.when(n >= k, windows).otherwise(full)


def shingle_hash_col(shingle: Column) -> Column:
    """Deterministic 48-bit integer hash of a shingle via sha256 — stable
    across engines (unlike xxhash64, DuckDB can reproduce it), and small
    enough that ``a * h + b`` stays inside a signed 64-bit long under
    ANSI arithmetic (max a=59 → 59·2^48 < 2^63)."""
    return F.conv(F.substring(F.sha2(shingle, 256), 1, 12), 16, 10).cast(LongType())


def minhash_signature_exploded(
    df: DataFrame, *, text: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Per-document MinHash signature as N_PERM min-aggregates over the
    exploded shingle hashes — one shuffle keyed by document id. The
    set-based twin of :func:`~curies_spark.operators.dedup.minhash_signature` (same values; kept for
    differential testing and as the oracle-shaped form)."""
    exploded = df.select(
        F.col(id_col), F.explode(shingles_col(text, k=k)).alias("_sh")
    ).select(F.col(id_col), shingle_hash_col(F.col("_sh")).alias("_h"))
    aggs = [
        F.min(F.col("_h").bitwiseXOR(F.lit(_R[i]))).alias(f"mh{i}")
        for i in range(N_PERM)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def _simhash_reference_one(s: "str | None", n_bits: int = 64) -> "int | None":
    """Straightforward per-row SimHash — the differential twin for
    :func:`~curies_spark.operators.dedup.simhash_col` tests (never used in a Spark plan)."""
    import hashlib

    if s is None:
        return None
    tokens = s.lower().split()
    if not tokens:
        return 0
    word = 0
    for b in range(n_bits):
        votes = 0
        for t in tokens:
            h = int.from_bytes(hashlib.sha256(t.encode("utf-8")).digest()[:8], "big")
            votes += 1 if (h >> b) & 1 else -1
        if votes > 0:
            word |= 1 << b
    return word - (1 << 64) if word >= (1 << 63) else word


def doc_fingerprint_native_col(text: "Column | str", *, k: int = 3) -> Column:
    """The JVM-native fingerprint (differential twin of
    :func:`~curies_spark.operators.text.doc_fingerprint_col`; also the shape the DuckDB oracle
    mirrors). Interpreted per-element transform — use the Arrow kernel
    in hot paths."""
    sh = shingles_col(text, k=k)
    hashes = F.array_sort(
        F.transform(sh, lambda s: F.substring(F.sha2(s, 256), 1, 16))
    )
    return F.sha2(F.concat_ws("", hashes), 256)


def _dot_lit(vec: Column, plane: "list[float]") -> Column:
    lit = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(vec, lit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine_similarity_col_hof(vec: Column, query: "list[float]") -> Column:
    """The interpreted higher-order-function form — kept ONLY as the
    differential twin for :func:`~curies_spark.operators.similarity.cosine_vs_query_col` tests; never use
    it on a corpus-scale pass (dim interpreted calls per row)."""
    q = _unit([float(x) for x in query])
    dot = _dot_lit(vec, q)
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / F.when(norm > 0, norm).otherwise(F.lit(1.0))


def _lsh_signature_col_hof(vec: Column, planes: "list[list[float]]") -> Column:
    """Signature via per-plane ``zip_with``/``aggregate`` — kept ONLY as
    the differential twin for :func:`~curies_spark.operators.similarity.lsh_signature_col` tests. Spark's
    higher-order functions interpret their lambdas per element, so this
    form pays n_planes × dim interpreted calls per row; never use it on
    a corpus-scale pass."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bit = F.when(_dot_lit(vec, plane) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + F.shiftleft(bit, i)
    return sig
