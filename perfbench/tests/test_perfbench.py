"""Tests of the benchmark's own parts: seeded generators, the expected-
output derivation, the status-store collector and the /proc sampler.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import collector, expected, gen, proctree  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    local = tmp_path_factory.mktemp("spark-local")
    session = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(local))
        .config("spark.sql.maxMetadataStringLength", "4096")
        .getOrCreate()
    )
    yield session
    session.stop()


# --- generators -------------------------------------------------------------


def test_sf_tables_one_row_group_and_seeded(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    for d in (a, b, c):
        d.mkdir()
    rows = gen.sf_tables(str(a), 0.001, seed=5)
    gen.sf_tables(str(b), 0.001, seed=5)
    gen.sf_tables(str(c), 0.001, seed=6)
    assert rows == {"lineitem": 6000, "orders": 1500, "documents": 50}
    for name in rows:
        meta = pq.ParquetFile(a / f"{name}.parquet").metadata
        assert meta.num_row_groups == 1
        ta = pq.read_table(a / f"{name}.parquet")
        assert ta.equals(pq.read_table(b / f"{name}.parquet"))
        assert not ta.equals(pq.read_table(c / f"{name}.parquet"))


def test_dedup_corpus_plants_families(tmp_path):
    info = gen.dedup_corpus(str(tmp_path / "a"), 400, seed=2)
    again = gen.dedup_corpus(str(tmp_path / "b"), 400, seed=2)
    other = gen.dedup_corpus(str(tmp_path / "c"), 400, seed=3)
    assert info == again
    texts = pq.read_table(tmp_path / "a").column("text").to_pylist()
    assert texts == pq.read_table(tmp_path / "b").column("text").to_pylist()
    assert texts != pq.read_table(tmp_path / "c").column("text").to_pylist()
    assert info["docs"] == len(texts) > 400
    assert len(set(texts)) < len(texts)  # exact duplicates were planted
    assert 0.2 < info["exact_family_rows_share"] < 0.6
    assert other["docs"] > 400


def test_repos_frame_is_seeded(spark):
    def rows(seed):
        return sorted(tuple(r) for r in gen.repos_frame(spark, 300, seed).collect())

    assert rows(1) == rows(1)
    assert rows(1) != rows(2)


# --- expected outputs --------------------------------------------------------


def test_kg_triples_match_the_spark_job(spark, tmp_path):
    """The pure-Python derivation agrees with the KG job's own plan."""
    from curies_spark.core import Converter
    from curies_spark.functions import SparkConverter
    from curies_spark.plans.pipeline import build_triples, extract_mentions, link_mentions
    from curies_spark.sources.synthetic import PIPELINE_EPM

    path = str(tmp_path / "corpus")
    gen.repos_frame(spark, 400, seed=7).write.parquet(path)
    conv = Converter.from_extended_prefix_map(PIPELINE_EPM)
    want = expected.checksum(expected.kg_triples(path, conv))
    sc = SparkConverter(spark, conv)
    linked = link_mentions(extract_mentions(spark.read.parquet(path)), sc.broadcast)
    assert expected.spark_checksum(build_triples(linked, sc.broadcast)) == want
    assert want[0] > 400


def test_oracle_checksum_observation_matches_check_oracle(spark):
    from pyspark.sql import functions as F

    from tools import check_oracle

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("k"),
        F.when(F.col("id") % 5 > 0, F.col("id") * 2).alias("maybe"),
    )
    observed, obs = expected.oracle_checksum_observation(df)
    observed.write.mode("overwrite").format("noop").save()
    assert (obs.get["n"], int(obs.get["s"])) == check_oracle._agg_checksum_spark(df)


# --- collector -----------------------------------------------------------------


def test_parse_value_units():
    assert collector.parse_value("393.1 KiB") == pytest.approx(393.1 * 1024)
    assert collector.parse_value("1.6 s") == pytest.approx(1.6)
    assert collector.parse_value("535 ms (128 ms, 135 ms, 139 ms (stage 2.0: task 8))") == (
        pytest.approx(0.535)
    )
    assert collector.parse_value("100,000") == 100_000


def test_parse_dot_reads_breakdowns_and_plain_metrics():
    dot = (
        'digraph G {\n'
        '  6 [id="node6" labelType="html" label="<b>Exchange</b><br><br>'
        'shuffle records written: 40<br>shuffle bytes written total (min, med, max '
        '(stageId: taskId))<br>1460.0 B (365.0 B, 365.0 B, 365.0 B (stage 2.0: task 8))'
        '<br>number of partitions: 8" tooltip="Exchange hashpartitioning(k#7L, 8)"];\n'
        '  11 [id="node11" labelType="html" label="<b>Scan parquet </b><br><br>'
        'size of files read: 1.0 KiB" tooltip="FileScan parquet [id#1L] '
        'Location: InMemoryFileIndex(1 paths)[file:/x/\\"q\\"]"];\n'
        '}\n'
    )
    exchange, scan = collector.parse_dot(dot)
    assert exchange.name == "Exchange"
    assert exchange.metrics == {
        "shuffle records written": 40, "shuffle bytes written": 1460.0,
        "number of partitions": 8,
    }
    assert exchange.stages == {"shuffle bytes written": 2}
    assert scan.name == "Scan parquet"
    assert scan.metrics["size of files read"] == 1024
    assert scan.desc.endswith('[file:/x/"q"]')


def test_collector_reads_a_tiny_query(spark, tmp_path):
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    spark.range(1000).write.parquet(src)
    store = collector.StatusStoreCollector(spark)
    mark = store.mark()
    df = spark.read.parquet(src).groupBy((F.col("id") % 10).alias("k")).count()
    df.write.mode("overwrite").parquet(str(tmp_path / "dst"))
    executions = store.executions_since(mark)
    assert len(executions) == 1
    (e,) = executions
    assert e.is_write and e.duration >= 0
    assert e.written_paths() == [f"file:{tmp_path}/dst"]
    (scan,) = e.scanned()
    assert src in scan.desc
    assert scan.metrics["size of files read"] > 0
    assert e.metric("shuffle records written") > 0
    stages = store.stages(e.stage_ids)
    assert sum(s.tasks for s in stages) >= 2
    assert collector.engine_totals(stages)["executor_run_s"] >= 0
    assert collector.shuffle_files(executions, stages) > 0
    assert store.executions_since(store.mark()) == []


def test_python_boundary_from_an_arrow_udf(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.arrow_udf(LongType())
    def plus_one(v):
        import pyarrow.compute as pc

        return pc.add(v, 1)

    store = collector.StatusStoreCollector(spark)
    mark = store.mark()
    spark.range(5000).select(plus_one("id").alias("x")).write.mode("overwrite").format(
        "noop"
    ).save()
    boundary = collector.python_boundary(store.executions_since(mark))
    assert boundary["rows_to_python"] == 5000
    assert boundary["bytes_to_python"] > 0


def test_spans_nest_and_serialize(tmp_path):
    import json

    spans = collector.Spans("t1")
    with spans.span("outer") as outer:
        spans.add("inner", 1.0, 2.0, parent=outer.id, k=1)
    spans.write(str(tmp_path / "s.json"))
    saved = json.loads((tmp_path / "s.json").read_text())
    assert [s["name"] for s in saved] == ["outer", "inner"]
    assert saved[1]["parent"] == saved[0]["id"] and saved[1]["attrs"] == {"k": 1}
    assert saved[0]["end"] >= saved[0]["start"]


# --- /proc sampling --------------------------------------------------------------


def test_proctree_measures_this_process():
    me = os.getpid()
    assert str(me) in proctree.tree(me)
    assert proctree.rss_bytes(me) > 0
    before = proctree.cpu_seconds(me)
    sum(i * i for i in range(2_000_000))
    assert proctree.cpu_seconds(me) > before
    sampler = proctree.PeakRss(me, interval=0.01).start()
    import time

    time.sleep(0.1)
    assert sampler.stop() > 0
