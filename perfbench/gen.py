"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed, so the same seed gives the same
tables and another seed gives other tables of the same size and shape.
The program under test receives only what these functions write.

- :func:`repos_frame` mirrors ``curies_spark.sources.synthetic.generate_repos``
  (which takes no seed) with the seed mixed into its per-row hash.
- :func:`sf_tables` writes ``lineitem``, ``orders`` and ``documents`` in
  the layout of the repository's sf test tables (``TESTDATA.md``): one
  parquet file with one row group per table.
- :func:`dedup_corpus` writes a documents corpus with planted exact and
  near-duplicate families.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the token vocabulary of the sf test tables' ``documents.text``
WORDS = (
    "spark line small fast group customer batch sort value hash filter big "
    "data dup query row stream the part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream), stable across runs."""
    salt = zlib.crc32(stream.encode("utf-8"))
    return np.random.default_rng([seed, salt])


def _write_one_row_group(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


# ---------------------------------------------------------------------------
# kg_build: the repos corpus
# ---------------------------------------------------------------------------


def repos_frame(spark, n_files: int, seed: int):
    """``generate_repos``'s distribution with the seed in the row hash:
    0-4 mentions per file, obo 35% / pubmed 30% / CHEBI 15% / GO 10% /
    synonym URI 5% / unlinkable 5% for the first mention, then PMID /
    MONDO / mesh for the second, plus a non-matching noise URI."""
    from pyspark.sql import functions as F

    n_repos = max(n_files // 50, 1)
    fid = F.col("id")
    h = F.abs(F.xxhash64(fid, F.lit(seed)))
    lang = F.element_at(
        F.array(*[F.lit(x) for x in ("py", "md", "java", "ttl", "json", "rs")]),
        ((h / 7) % 6).cast("int") + 1,
    )
    repo = F.concat(
        F.lit("org"), (h % 97).cast("string"), F.lit("/proj"), (fid % n_repos).cast("string")
    )
    path = F.concat(
        F.lit("src/"), ((h / 11) % 20).cast("string"), F.lit("/file_"),
        (fid % 1000).cast("string"), F.lit("."), lang,
    )
    commit = F.sha1(F.concat(fid.cast("string"), F.lit(f":{seed}")))
    bucket = h % 100
    mention1 = (
        F.when(bucket < 35, F.concat(F.lit("http://purl.obolibrary.org/obo/ns"), (h % 5).cast("string"), F.lit(".owl")))
        .when(bucket < 65, F.concat(F.lit("https://pubmed.ncbi.nlm.nih.gov/"), (h % 100000).cast("string")))
        .when(bucket < 80, F.concat(F.lit("http://purl.obolibrary.org/obo/CHEBI_"), (h % 20000).cast("string")))
        .when(bucket < 90, F.concat(F.lit("GO:"), F.lpad((h % 100000).cast("string"), 7, "0")))
        .when(bucket < 95, F.concat(F.lit("https://identifiers.org/chebi:"), (h % 9999).cast("string")))
        .otherwise(F.concat(F.lit("http://unlinked.example.com/x/"), (h % 50).cast("string")))
    )
    mention2 = (
        F.when(bucket % 3 == 0, F.concat(F.lit("PMID:"), ((h / 13) % 100000).cast("string")))
        .when(bucket % 3 == 1, F.concat(F.lit("MONDO:"), F.lpad(((h / 13) % 9999).cast("string"), 7, "0")))
        .otherwise(F.concat(F.lit("http://id.nlm.nih.gov/mesh/C"), ((h / 13) % 5000).cast("string")))
    )
    noise = F.concat(
        F.lit("def handler_"), (h % 1000).cast("string"),
        F.lit("(x): # lookup https://example.org/not-registered/"), (h % 30).cast("string"),
    )
    content = F.concat_ws(
        " ", F.lit("// auto-generated module"), noise, F.lit("refs:"), mention1,
        F.when((h % 4) < 3, mention2), F.lit("end."),
    )
    return spark.range(0, n_files, 1, 4).select(
        repo.alias("repo"), path.alias("path"), commit.alias("commit"),
        lang.alias("lang"), content.alias("content"),
    )


# ---------------------------------------------------------------------------
# driver_queries: sf-layout tables
# ---------------------------------------------------------------------------


def _doc_texts(rng: np.random.Generator, n: int) -> "list[str]":
    lengths = rng.integers(7, 97, size=n)
    words = rng.integers(0, len(WORDS), size=int(lengths.sum()))
    out: list[str] = []
    pos = 0
    for length in lengths.tolist():
        out.append(" ".join(WORDS[w] for w in words[pos:pos + length].tolist()))
        pos += length
    return out


def sf_tables(out_dir: str, sf: float, seed: int) -> "dict[str, int]":
    """Write the three tables the headline queries read, sized like the
    TPC-H-ish sf test tables at scale factor ``sf`` (lineitem 6M x sf
    rows, orders 1.5M x sf, documents 50k x sf), each as one parquet
    file with one row group. Returns the row counts."""
    rng = _rng(seed, "sf_tables")
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_part, n_supp, n_cust = int(200_000 * sf), int(10_000 * sf), int(150_000 * sf)
    n_docs = int(50_000 * sf)
    base = np.datetime64("1992-01-01", "D")

    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, size=n_line),
        "l_partkey": rng.integers(0, n_part, size=n_line),
        "l_suppkey": rng.integers(0, n_supp, size=n_line),
        "l_linenumber": rng.integers(1, 8, size=n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, size=n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, size=n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_line),
        "l_linestatus": rng.choice(["F", "O"], size=n_line),
        "l_shipdate": (base + rng.integers(0, 3650, size=n_line)).astype("datetime64[us]"),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
        "o_totalprice": np.round(rng.uniform(800, 500_000, size=n_orders), 2),
        "o_orderdate": (base + rng.integers(0, 3650, size=n_orders)).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_orders
        ),
    })
    texts = _doc_texts(rng, n_docs)
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    tables = {"lineitem": lineitem, "orders": orders, "documents": documents}
    for name, table in tables.items():
        _write_one_row_group(table, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# dedup_build: documents with planted duplicate families
# ---------------------------------------------------------------------------

#: share of base documents that seed each family kind; the rest are singletons
EXACT_FAMILY_SHARE = 0.25
NEAR_FAMILY_SHARE = 0.25


def dedup_corpus(path: str, n_base: int, seed: int) -> dict:
    """Documents ``doc_id, text``: ``n_base`` random base texts; a quarter
    seed an exact-duplicate family (2-6 verbatim copies), a quarter a
    near-duplicate family (2-6 copies, each with one token replaced), the
    rest stay single. Rows are shuffled and written as 4 parquet files.
    Returns the planted shares."""
    rng = _rng(seed, "dedup_corpus")
    base = _doc_texts(rng, n_base)
    kind = rng.random(n_base)
    sizes = rng.integers(2, 7, size=n_base)
    texts: list[str] = []
    exact_rows = near_rows = 0
    for text, u, size in zip(base, kind.tolist(), sizes.tolist()):
        texts.append(text)
        if u < EXACT_FAMILY_SHARE:
            texts.extend([text] * (size - 1))
            exact_rows += size
        elif u < EXACT_FAMILY_SHARE + NEAR_FAMILY_SHARE:
            tokens = text.split(" ")
            for c in range(size - 1):
                edited = list(tokens)
                edited[int(rng.integers(0, len(tokens)))] = f"edit{c}"
                texts.append(" ".join(edited))
            near_rows += size
    order = rng.permutation(len(texts))
    ids = np.arange(len(texts), dtype=np.int64)
    table = pa.table({"doc_id": ids, "text": [texts[i] for i in order.tolist()]})
    # 4 files of consecutive rows, so a scan splits into 4 tasks
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // 4)
    for f in range(4):
        _write_one_row_group(table.slice(f * step, step), f"{path}/part-{f:05d}.parquet")
    return {
        "docs": table.num_rows,
        "exact_family_rows_share": round(exact_rows / table.num_rows, 4),
        "near_family_rows_share": round(near_rows / table.num_rows, 4),
    }
