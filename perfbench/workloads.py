"""The benchmark workloads.

Each workload is a closed loop: one job at a time from the single driver
process. A workload object owns its inputs under a work directory and
offers the steps that ``run.py`` drives:

- ``setup()``: make the inputs from the seed into a fresh directory and
  build (and broadcast) the converters; repeated to time set-up.
- ``expect()``: the independent expected outputs (:mod:`expected`).
- ``run(i)``: one operation through the public functions of
  ``curies_spark``, returning an :class:`Outcome`; ``check(outcome)``
  compares its outputs with the expected ones.
- ``layers(...)`` and ``phase(execution)``: per-layer metrics of a
  traced operation from its status-store executions and stages, and the
  step each execution belongs to; ``probes()`` adds the traced run's
  self-time measurements.
"""

from __future__ import annotations

import os
import pickle
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from . import expected, gen
from .collector import engine_totals, python_boundary, shuffle_files

CPUS = 4

#: the headline queries (``bench.py`` ``HEADLINE``, frozen there)
HEADLINE = [
    "compress", "compress_trie_udf", "expand", "compress_or_standardize",
    "preprocess_parse", "standardize_uri", "expand_all", "triple_hash",
    "many_to_many", "dedup_exact", "discover", "mentions",
]


def dir_bytes(path) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _time(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


@dataclass
class Outcome:
    """One operation: what it returned and the failures its output check
    found."""

    value: object = None
    failures: "list[str]" = field(default_factory=list)


class Workload:
    name = ""
    #: sub-operations per run: a shard, the merge, a dedup stage or a query
    OPS = 1
    #: timed operations per run at the least, however long they take.
    #: Every operation outlasts ``run_seconds``, so each run times exactly
    #: this many and the median sits at the same point of the JVM's
    #: warm-up curve in every run.
    TIMED_OPS = 1

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.converter_build_s: "list[float]" = []
        self.broadcast_bytes = 0
        self.input_bytes = 1
        #: bytes the last operation left on disk
        self.written = 0

    def fresh_dir(self, kind: str) -> Path:
        path = self.work / kind
        shutil.rmtree(path, ignore_errors=True)
        path.mkdir(parents=True)
        return path

    def _timed_converter(self, build):
        t0 = time.perf_counter()
        conv = build()
        self.converter_build_s.append(time.perf_counter() - t0)
        return conv

    def setup(self) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def run(self, i: int) -> Outcome:
        raise NotImplementedError

    def check(self, outcome: Outcome) -> None:
        """Fill ``outcome.failures``."""

    def layers(self, executions, stages, wall: float, outcome: Outcome) -> dict:
        return {}

    def phase(self, execution) -> str:
        """The step of the operation a Spark execution belongs to, from
        the paths it writes or scans."""
        return "op"

    def probes(self) -> dict:
        """Extra traced-run measurements outside the timed loop."""
        return {}

    def common_layers(self, executions, stages, wall: float) -> dict:
        engine = engine_totals(stages)
        out = {f"spark.{k}": v for k, v in engine.items()}
        out["spark.core_idle_ratio"] = 1.0 - engine["executor_run_s"] / (CPUS * wall)
        out.update({f"kernels.{k}": v for k, v in python_boundary(executions).items()})
        out["core.converter_build_s"] = statistics.median(self.converter_build_s or [0.0])
        out["core.broadcast_bytes"] = self.broadcast_bytes
        return out


def _scan_ratio(executions, path: str, size: int) -> float:
    read = sum(
        n.metrics.get("size of files read", 0.0)
        for e in executions
        for n in e.scanned()
        if path in n.desc
    )
    return read / size


def _mention_probes(spark, content_df, converter_bc) -> dict:
    """Self time of the regex layer and of linking: forced ``noop``
    materializations of the scan alone, of ``extract_mentions`` and of
    ``link_mentions``, once each, differenced. The link probe also
    observes the linked share of mentions."""
    from pyspark.sql import Observation, functions as F

    from curies_spark.plans.pipeline import extract_mentions, link_mentions

    obs = Observation("perfbench_linked")
    linked = link_mentions(extract_mentions(content_df), converter_bc).observe(
        obs, F.count(F.lit(1)).alias("m"), F.count("entity").alias("l")
    )
    scan = _time(lambda: noop(content_df))
    extract = _time(lambda: noop(extract_mentions(content_df)))
    link = _time(lambda: noop(linked))
    m = obs.get
    return {
        "pipeline.mentions_self_s": extract - scan,
        "kernels.link_self_s": link - extract,
        "pipeline.linked_ratio": m["l"] / max(m["m"], 1),
    }


# ---------------------------------------------------------------------------


class KgBuild(Workload):
    """``plans.pipeline.run_pipeline`` over a seeded repos corpus, into a
    fresh output directory per run."""

    name = "kg_build"
    N_FILES = 8_000
    N_SHARDS = 2
    OPS = N_SHARDS + 1
    TIMED_OPS = 2

    def setup(self) -> None:
        from curies_spark.core import Converter
        from curies_spark.sources.synthetic import PIPELINE_EPM

        self.corpus = str(self.fresh_dir("corpus"))
        gen.repos_frame(self.spark, self.N_FILES, self.seed).write.mode("overwrite").parquet(
            self.corpus
        )
        self.converter = self._timed_converter(
            lambda: Converter.from_extended_prefix_map(PIPELINE_EPM)
        )
        self.broadcast_bytes = len(pickle.dumps(self.converter))
        self.input_bytes = dir_bytes(self.corpus)

    def expect(self) -> None:
        self.expected = expected.checksum(expected.kg_triples(self.corpus, self.converter))
        self.rollup = expected.sha_rollup(self.corpus)
        self.invariant_checked = False

    def run(self, i: int) -> Outcome:
        from curies_spark.plans.pipeline import run_pipeline

        self.out = self.fresh_dir("out")
        repos = self.spark.read.parquet(self.corpus)
        totals = run_pipeline(
            self.spark, repos, str(self.out), converter=self.converter, n_shards=self.N_SHARDS
        )
        return Outcome(totals)

    def check(self, outcome: Outcome) -> None:
        from curies_spark.plans.pipeline import validate_content_invariant

        totals = outcome.value
        got = expected.spark_checksum(self.spark.read.parquet(str(self.out / "triples")))
        if got != self.expected:
            outcome.failures.append(f"triples {got} != expected {self.expected}")
        if totals["triples"] != self.expected[0]:
            outcome.failures.append(f"reported triples {totals['triples']} != {self.expected[0]}")
        rollup = sum(int(m["content_sha_rollup"]) for m in totals["manifests"])
        if rollup != self.rollup:
            outcome.failures.append(f"manifest content rollup {rollup} != {self.rollup}")
        # the job's own validation rescans the source: once per run
        if not self.invariant_checked:
            source = self.spark.read.parquet(self.corpus)
            if not validate_content_invariant(source, totals["manifests"]):
                outcome.failures.append("validate_content_invariant does not hold")
            self.invariant_checked = True
        self.written = dir_bytes(self.out)

    def phase(self, execution) -> str:
        writes = " ".join(execution.written_paths())
        scans = " ".join(n.desc for n in execution.scanned())
        if "/_staged" in writes:
            return "stage"
        if "shard=merge" in writes + scans or re.search(r"/_entities[\],]", scans):
            return "merge"
        shard = re.search(r"shard=(\d+)", writes + scans) or re.search(r"_shard#\d+ = (\d+)", scans)
        return f"shard={shard.group(1)}" if shard else "other"

    def layers(self, executions, stages, wall, outcome) -> dict:
        totals = outcome.value
        staged = [e for e in executions if self.phase(e) == "stage"]
        shard_walls = [m["wall_sec"] for m in totals["manifests"]]
        return {
            "pipeline.stage_s": sum(e.duration for e in staged),
            "pipeline.shard_s.sum": sum(shard_walls),
            "pipeline.shard_s.max": max(shard_walls),
            "pipeline.merge_s": totals["merge"]["wall_sec"],
            "pipeline.sql_executions": len(executions),
            "pipeline.countback_s": sum(e.duration for e in executions if not e.is_write),
            "pipeline.source_scan_ratio": _scan_ratio(executions, self.corpus, self.input_bytes),
            "pipeline.shuffle_bytes_written": sum(e.metric("shuffle bytes written") for e in executions),
            "pipeline.shuffle_records_written": sum(e.metric("shuffle records written") for e in executions),
            "pipeline.bytes_written": self.written,
            "pipeline.linked_ratio": totals["linked_mentions"] / max(totals["mentions"], 1),
            "pipeline.triples": totals["triples"],
        }

    def probes(self) -> dict:
        bc = self.spark.sparkContext.broadcast(self.converter)
        try:
            out = _mention_probes(self.spark, self.spark.read.parquet(self.corpus), bc)
        finally:
            bc.destroy()
        out.pop("pipeline.linked_ratio")  # the job itself reports it
        return out


class DriverQueries(Workload):
    """The 12 headline queries of ``__spark_entry__.queries()`` over
    seeded sf-layout tables, each into the ``noop`` sink."""

    name = "driver_queries"
    SF = 0.003
    OPS = len(HEADLINE)

    def setup(self) -> None:
        from curies_spark.functions import SparkConverter
        from curies_spark.plans import demo

        self.sf_dir = str(self.fresh_dir("sf"))
        gen.sf_tables(self.sf_dir, self.SF, self.seed)
        # the queries broadcast their own converters once per session;
        # set-up times building and broadcasting the same two
        convs = self._timed_converter(lambda: [demo.demo_converter(), demo.large_converter()])
        self.broadcast_bytes = sum(len(pickle.dumps(c)) for c in convs)
        for c in convs:
            SparkConverter(self.spark, c).broadcast.destroy()
        self.input_bytes = dir_bytes(self.sf_dir)

    def expect(self) -> None:
        self.expected = expected.duckdb_query_checksums(self.sf_dir, HEADLINE)

    def run(self, i: int) -> Outcome:
        import __spark_entry__ as entrymod

        queries = entrymod.queries()
        walls = {}
        self.observed = {}
        for name in HEADLINE:
            t0 = time.perf_counter()
            df, obs = expected.oracle_checksum_observation(queries[name](self.spark, self.sf_dir))
            noop(df)
            walls[name] = time.perf_counter() - t0
            self.observed[name] = (df, obs)
        return Outcome(walls)

    def check(self, outcome: Outcome) -> None:
        """Each query's value checksum, observed on its own write, against
        the DuckDB oracle with ``tools/check_oracle.py``'s checksum."""
        from tools import check_oracle

        for name in HEADLINE:
            df, obs = self.observed[name]
            n_want, s_want, cols_want = self.expected[name]
            exact = all(
                f.dataType.simpleString() in check_oracle._SPARK_EXACT for f in df.schema.fields
            )
            if not exact or sorted(df.columns) != cols_want:
                outcome.failures.append(f"{name}: columns {df.columns} / exact-typed {exact}")
                continue
            got = (obs.get["n"], int(obs.get["s"] or 0))
            if got != (n_want, s_want):
                outcome.failures.append(f"{name}: {got} != oracle {(n_want, s_want)}")

    def layers(self, executions, stages, wall, outcome) -> dict:
        out = {f"queries.{k}.wall_s": v for k, v in outcome.value.items()}
        out["queries.scan_tasks"] = sum(s.tasks for s in stages if s.input_bytes > 0)
        out["queries.shuffle_files"] = shuffle_files(executions, stages)
        out["queries.shuffle_bytes"] = sum(e.metric("shuffle bytes written") for e in executions)
        return out

    def probes(self) -> dict:
        import __spark_entry__ as entrymod
        from curies_spark.plans import demo

        content = entrymod._t(self.spark, self.sf_dir, "documents", fanout=True).selectExpr(
            "doc_id", f"{demo.CONTENT_EXPR} AS content"
        )
        return _mention_probes(self.spark, content, entrymod._sc(self.spark).broadcast)


class DedupBuild(Workload):
    """``plans.dedup_pipeline.run_dedup_pipeline`` over a seeded
    documents corpus with planted duplicate families."""

    name = "dedup_build"
    N_BASE = 1_500
    OPS = 5
    COUNTS = (
        "input_docs", "exact_dup_groups_gt1", "exact_winners", "candidate_pairs",
        "verified_pairs", "clustered_docs", "survivors",
    )

    def setup(self) -> None:
        self.corpus = str(self.fresh_dir("docs"))
        self.shares = gen.dedup_corpus(self.corpus, self.N_BASE, self.seed)
        self.input_bytes = dir_bytes(self.corpus)
        self.first_counts = None

    def expect(self) -> None:
        self.expected = expected.distinct_texts(self.corpus)

    def run(self, i: int) -> Outcome:
        from curies_spark.plans.dedup_pipeline import run_dedup_pipeline

        self.out = self.fresh_dir("out")
        docs = self.spark.read.parquet(self.corpus)
        manifest = run_dedup_pipeline(self.spark, docs, str(self.out))
        return Outcome(manifest)

    def check(self, outcome: Outcome) -> None:
        m = outcome.value
        if m["exact_winners"] != self.expected:
            outcome.failures.append(f"exact_winners {m['exact_winners']} != {self.expected}")
        if m["input_docs"] != self.shares["docs"]:
            outcome.failures.append(f"input_docs {m['input_docs']} != {self.shares['docs']}")
        counts = {k: m[k] for k in self.COUNTS}
        if self.first_counts is None:
            self.first_counts = counts
        elif counts != self.first_counts:
            outcome.failures.append(f"stage counts changed: {counts} != {self.first_counts}")
        self.written = dir_bytes(self.out)

    def phase(self, execution) -> str:
        """``stage`` writes staged/; ``survivors`` writes or reads
        survivors/; ``cluster`` reads pairs/ or clusters/ or writes
        clusters/; the rest (exact groups, band join, verify and the final
        count of staged/) is ``band``."""
        writes = " ".join(execution.written_paths())
        scans = " ".join(n.desc for n in execution.scanned())
        if writes.endswith("/staged"):
            return "stage"
        if "/survivors" in writes + scans:
            return "survivors"
        if "/pairs" in scans or "/clusters" in writes + scans:
            return "cluster"
        return "band"

    def layers(self, executions, stages, wall, outcome) -> dict:
        m = outcome.value
        phase = {"stage": 0.0, "band": 0.0, "cluster": 0.0, "survivors": 0.0}
        python_run = 0.0
        for e in executions:
            key = self.phase(e)
            phase[key] += e.duration
            if key == "stage":
                python_run += python_boundary([e])["python_run_s"]
        return {
            "dedup.stage_s": phase["stage"],
            "dedup.band_s": phase["band"],
            "dedup.cluster_s": phase["cluster"],
            "dedup.minhash_python_run_s": python_run,
            "dedup.sql_executions": len(executions),
            "dedup.candidate_pairs": m["candidate_pairs"],
            "dedup.verified_ratio": m["verified_pairs"] / max(m["candidate_pairs"], 1),
            "dedup.corpus_scan_ratio": _scan_ratio(executions, self.corpus, self.input_bytes),
            "dedup.shuffle_bytes_written": sum(e.metric("shuffle bytes written") for e in executions),
        }


WORKLOADS = {w.name: w for w in (KgBuild, DriverQueries, DedupBuild)}
