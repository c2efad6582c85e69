"""Expected outputs, computed without Spark, once per seed in set-up.

- KG workloads: the (subject, predicate, object) set the KG job must
  produce, derived in pure Python with ``core.Converter`` and ``re``, as
  a row count plus an order-independent checksum (the sum of each
  row's CRC-32, which Spark computes with ``crc32`` and Python with
  ``zlib.crc32``).
- ``driver_queries``: DuckDB value checksums of each query's
  ``oracle_sql()`` twin, with ``tools/check_oracle.py``'s functions.
- ``dedup_build``: the distinct-text count, from DuckDB.
"""

from __future__ import annotations

import hashlib
import re
import zlib

import pyarrow.parquet as pq

#: the KG job's mention grammar: a URI up to whitespace, quote or
#: bracket, else an NCName-ish CURIE; the URI alternative wins on overlap
MENTION_RE = re.compile(
    r"(?:https?://[^\s\"'<>()]+)"
    r"|(?:[A-Za-z_][A-Za-z0-9._-]*:[A-Za-z0-9][A-Za-z0-9._/-]*)"
)
SEP = "\x01"


def checksum(triples) -> "tuple[int, int]":
    """(rows, sum of crc32(s SEP p SEP o)) of a set of triples."""
    total = 0
    n = 0
    for s, p, o in triples:
        total += zlib.crc32(f"{s}{SEP}{p}{SEP}{o}".encode("utf-8"))
        n += 1
    return n, total


def kg_triples(corpus_path: str, converter) -> "set[tuple]":
    """Every triple the KG job derives from the corpus: one
    ``cs:mentions`` edge per (file, linked entity), one
    ``cs:declaresPrefix`` edge per (repo, entity prefix) and one
    ``owl:sameAs`` edge per expansion of each entity."""
    table = pq.read_table(corpus_path, columns=["repo", "path", "commit", "content"])
    cols = table.to_pydict()
    link_cache: dict[str, "str | None"] = {}
    triples: set[tuple] = set()
    repo_entities: set[tuple] = set()
    for repo, path, commit, content in zip(
        cols["repo"], cols["path"], cols["commit"], cols["content"]
    ):
        subject = f"codefile:{repo}@{commit}/{path}"
        for match in MENTION_RE.finditer(content):
            mention = match.group(0)
            if mention not in link_cache:
                link_cache[mention] = converter.compress(mention) or converter.standardize_curie(
                    mention
                )
            entity = link_cache[mention]
            if entity is not None:
                triples.add((subject, "cs:mentions", entity))
                repo_entities.add((repo, entity))
    for repo, entity in repo_entities:
        triples.add(
            (f"coderepo:{repo}", "cs:declaresPrefix", f"csprefix:{entity.split(':', 1)[0]}")
        )
    for entity in {e for _, e in repo_entities}:
        for uri in converter.expand_all(entity) or ():
            triples.add((entity, "owl:sameAs", uri))
    return triples


def sha_rollup(corpus_path: str) -> int:
    """The KG job's content invariant, recomputed: the sum over rows of
    the first 15 hex digits of ``sha256(content)``."""
    contents = pq.read_table(corpus_path, columns=["content"]).column("content").to_pylist()
    return sum(int(hashlib.sha256(c.encode("utf-8")).hexdigest()[:15], 16) for c in contents)


def spark_checksum(df) -> "tuple[int, int]":
    """The same (rows, checksum) over a Spark (subject, predicate, object) frame."""
    from pyspark.sql import functions as F

    row = df.select(
        F.crc32(F.concat_ws(SEP, "subject", "predicate", "object")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def oracle_checksum_observation(df):
    """``df`` with ``tools/check_oracle.py``'s value checksum attached as
    an Observation: the expression of ``check_oracle._agg_checksum_spark``
    (rows, and the sum of the first 15 hex digits of each row's SHA-256
    over its sorted columns), so the query's own ``noop`` write yields it
    without a second pass."""
    from pyspark.sql import Observation, functions as F

    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\0NULL")) for c in sorted(df.columns)]
    h = F.conv(F.substring(F.sha2(F.concat_ws("\x01", *parts), 256), 1, 15), 16, 10)
    obs = Observation()
    observed = df.observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("s")
    )
    return observed, obs


def duckdb_query_checksums(sf_dir: str, names: "list[str]") -> "dict[str, tuple]":
    """DuckDB (rows, value checksum, columns) of each query's oracle SQL."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools import check_oracle

    con = duckdb.connect()
    for t in ("lineitem", "orders", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entrymod.oracle_sql()
    out = {}
    for name in names:
        cols = [d[0] for d in con.execute(f"SELECT * FROM ({oracles[name]}) LIMIT 0").description]
        n, s = check_oracle._agg_checksum_duckdb(con, oracles[name], cols)
        out[name] = (n, s, sorted(cols))
    con.close()
    return out


def distinct_texts(path: str) -> int:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(DISTINCT text) FROM read_parquet('{path}/*.parquet')"
        ).fetchone()[0]
    finally:
        con.close()
