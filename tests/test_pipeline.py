"""End-to-end tests for the KG-construction pipeline."""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from curies_spark.plans.pipeline import (
    build_triples,
    extract_mentions,
    link_mentions,
    run_pipeline,
    validate_content_invariant,
)
from curies_spark.sources.synthetic import generate_repos, pipeline_converter


@pytest.fixture(scope="module")
def repos(spark):
    return generate_repos(spark, 2000, partitions=4).cache()


def test_generator_deterministic(spark):
    a = generate_repos(spark, 500, partitions=2).collect()
    b = generate_repos(spark, 500, partitions=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    row = a[0]
    assert set(row.asDict()) == {"repo", "path", "commit", "lang", "content"}
    assert len(row["commit"]) == 40


def test_mention_extraction_no_double_count(spark):
    df = spark.createDataFrame(
        [
            (
                "r",
                "p",
                "c",
                "py",
                "x https://identifiers.org/chebi:42 then GO:0001 end",
            )
        ],
        ["repo", "path", "commit", "lang", "content"],
    )
    mentions = sorted(
        r["mention"] for r in extract_mentions(df).select("mention").collect()
    )
    assert mentions == ["GO:0001", "https://identifiers.org/chebi:42"]


def test_linking_and_canonicalization(spark):
    conv = pipeline_converter()
    df = spark.createDataFrame(
        [
            ("r", "p", "c", "py", "see http://purl.obolibrary.org/obo/CHEBI_1 and PMID:7 and nope:x"),
        ],
        ["repo", "path", "commit", "lang", "content"],
    )
    linked = link_mentions(extract_mentions(df), conv)
    got = {r["mention"]: r["entity"] for r in linked.collect()}
    assert got["http://purl.obolibrary.org/obo/CHEBI_1"] == "CHEBI:1"
    assert got["PMID:7"] == "pubmed:7"  # synonym prefix standardized
    assert got["nope:x"] is None  # unlinkable stays NULL


def test_triple_families(spark):
    conv = pipeline_converter()
    df = spark.createDataFrame(
        [("orgA/x", "f.py", "c" * 40, "py", "ref http://purl.obolibrary.org/obo/CHEBI_5")],
        ["repo", "path", "commit", "lang", "content"],
    )
    triples = build_triples(link_mentions(extract_mentions(df), conv), conv)
    rows = {(r["subject"], r["predicate"], r["object"]) for r in triples.collect()}
    assert (f"codefile:orgA/x@{'c'*40}/f.py", "cs:mentions", "CHEBI:5") in rows
    assert ("coderepo:orgA/x", "cs:declaresPrefix", "csprefix:CHEBI") in rows
    # sameAs fan-out: canonical + synonym URI prefix
    assert ("CHEBI:5", "owl:sameAs", "http://purl.obolibrary.org/obo/CHEBI_5") in rows
    assert ("CHEBI:5", "owl:sameAs", "https://identifiers.org/chebi:5") in rows


def test_pipeline_end_to_end_and_resume(spark, repos, tmp_path):
    out = str(tmp_path / "kg")
    totals = run_pipeline(spark, repos, out, n_shards=4)
    assert totals["input_rows"] == 2000
    assert totals["mentions"] > 2000  # most files embed ≥1 mention
    assert 0 < totals["linked_mentions"] <= totals["mentions"]
    assert totals["triples"] > 0
    assert totals["resumed_shards"] == 0

    # triples actually written and deduplicated
    written = spark.read.parquet(f"{out}/triples")
    assert written.count() == totals["triples"]
    assert written.count() == written.dropDuplicates(["subject", "predicate", "object"]).count()

    # sha256 invariant holds against the source
    assert validate_content_invariant(repos, totals["manifests"])

    # resume: second run skips all shards (same totals, no recompute)
    totals2 = run_pipeline(spark, repos, out, n_shards=4)
    assert totals2["resumed_shards"] == 4
    assert totals2["triples"] == totals["triples"]

    # partial resume: delete one manifest → exactly one shard recomputes
    manifest = Path(out) / "_manifests" / "shard-2.json"
    manifest.unlink()
    totals3 = run_pipeline(spark, repos, out, n_shards=4)
    assert totals3["resumed_shards"] == 3
    assert totals3["triples"] == totals["triples"]


def test_manifest_contents(spark, repos, tmp_path):
    out = str(tmp_path / "kg2")
    run_pipeline(spark, repos, out, n_shards=2)
    manifests = sorted((Path(out) / "_manifests").glob("shard-*.json"))
    assert len(manifests) == 2
    m = json.loads(manifests[0].read_text())
    assert set(m) >= {
        "shard",
        "input_rows",
        "content_sha_rollup",
        "mentions",
        "linked_mentions",
        "triples",
        "wall_sec",
    }
    assert int(m["content_sha_rollup"]) > 0


def test_unlinked_noise_stays_out(spark, repos, tmp_path):
    """The not-registered example.org URIs must never become entities."""
    conv = pipeline_converter()
    linked = link_mentions(extract_mentions(repos), conv)
    bad = linked.filter(
        F.col("entity").isNotNull() & F.col("mention").contains("unlinked.example.com")
    )
    assert bad.count() == 0


def test_staging_scans_source_once(spark, repos, tmp_path):
    """The staged layout exists, is partitioned by _shard, and each
    shard's read prunes to its own partition directory."""
    out = str(tmp_path / "kg3")
    run_pipeline(spark, repos, out, n_shards=4)
    staged = Path(out) / "_staged"
    shard_dirs = sorted(p.name for p in staged.glob("_shard=*"))
    assert shard_dirs == ["_shard=0", "_shard=1", "_shard=2", "_shard=3"]

    pruned = spark.read.parquet(str(staged)).filter(F.col("_shard") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_shard" in plan
    files = pruned.inputFiles()  # logical; physical pruning shown in plan
    # staged rows reproduce the source exactly (no loss in the one pass)
    assert spark.read.parquet(str(staged)).count() == 2000

    # resume path reuses the staged copy: marker recorded with n_shards
    marker = json.loads((Path(out) / "_manifests" / "staged.json").read_text())
    assert marker == {"n_shards": 4}


def test_resume_rejects_changed_shard_geometry(spark, repos, tmp_path):
    """Re-running an out_dir with a different n_shards must NOT trust the
    old manifests (they describe different hash slices) — all derived
    state is recomputed under the new geometry and stale shard outputs
    do not leak into the merge or totals."""
    out = str(tmp_path / "kg_geom")
    totals_8 = run_pipeline(spark, repos, out, n_shards=8)
    assert totals_8["resumed_shards"] == 0

    totals_4 = run_pipeline(spark, repos, out, n_shards=4)
    # nothing resumed: every 8-shard manifest was invalidated
    assert totals_4["resumed_shards"] == 0
    assert totals_4["shards"] == 4
    # same corpus → same invariants under either geometry
    assert totals_4["input_rows"] == totals_8["input_rows"]
    assert totals_4["triples"] == totals_8["triples"]
    # stale shard=4..7 outputs are gone; written triples match totals
    written = spark.read.parquet(f"{out}/triples")
    assert written.count() == totals_4["triples"]
    manifests = sorted((Path(out) / "_manifests").glob("shard-*.json"))
    assert len(manifests) == 4
    assert all(json.loads(p.read_text())["n_shards"] == 4 for p in manifests)

    # and the new-geometry manifests resume cleanly
    totals_again = run_pipeline(spark, repos, out, n_shards=4)
    assert totals_again["resumed_shards"] == 4


def test_file_uri_out_dir_resumes(spark, repos, tmp_path, monkeypatch):
    """A ``file://`` out_dir keeps markers and manifests beside the data
    Spark writes (not in a ``file:`` directory under the working
    directory), so a rerun finds them and resumes every shard."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = f"file://{tmp_path}/kg"
    totals = run_pipeline(spark, repos, out, n_shards=2)
    assert len(list((tmp_path / "kg" / "_manifests").glob("shard-*.json"))) == 2
    assert list(cwd.iterdir()) == []
    totals2 = run_pipeline(spark, repos, out, n_shards=2)
    assert totals2["resumed_shards"] == totals2["shards"] == 2
    assert totals2["triples"] == totals["triples"]


def test_counts_match_readback(spark, repos, tmp_path):
    """Counts observed on the writes equal what a read-back of the
    written data (and a recount of the staged input) gives."""
    from curies_spark.plans.pipeline import sha256_rollup

    out = str(tmp_path / "kg_counts")
    totals = run_pipeline(spark, repos, out, n_shards=2)
    conv = pipeline_converter()
    staged = spark.read.parquet(f"{out}/_staged")
    for m in totals["manifests"]:
        shard_df = staged.filter(F.col("_shard") == m["shard"]).drop("_shard")
        stats = shard_df.select(F.count(F.lit(1)).alias("n"), sha256_rollup(shard_df).alias("s"))
        n_rows, rollup = stats.collect()[0]
        linked = link_mentions(extract_mentions(shard_df), conv)
        assert m["input_rows"] == n_rows
        assert m["content_sha_rollup"] == str(rollup)
        assert m["mentions"] == linked.count()
        assert m["linked_mentions"] == linked.filter(F.col("entity").isNotNull()).count()
        assert m["triples"] == spark.read.parquet(f"{out}/triples/shard={m['shard']}").count()
        on_disk = json.loads((Path(out) / "_manifests" / f"shard-{m['shard']}.json").read_text())
        assert on_disk == m
    merge = spark.read.parquet(f"{out}/triples/shard=merge").count()
    assert totals["merge"]["triples"] == merge
    assert totals["input_rows"] == repos.count()
    assert totals["triples"] == spark.read.parquet(f"{out}/triples").count()
    assert validate_content_invariant(repos, totals["manifests"])


def test_truncated_artifact_raises_guided_error(spark, repos, tmp_path):
    """A torn staged.json, shard-K.json or merge.json fails the next run
    with an error naming the file and the way out — never a raw
    JSONDecodeError."""
    out = str(tmp_path / "kg_torn")
    run_pipeline(spark, repos, out, n_shards=2)
    manifests = Path(out) / "_manifests"

    def truncate(name):
        path = manifests / name
        good = path.read_text()
        path.write_text(good[: len(good) // 2])
        return good

    # merge.json is read on a fully resumed run, shard-K.json on every
    # resumed run, staged.json when some shard must be recomputed
    for name in ("merge.json", "shard-0.json"):
        good = truncate(name)
        with pytest.raises(RuntimeError, match="fresh out_dir") as err:
            run_pipeline(spark, repos, out, n_shards=2)
        assert name in str(err.value)
        (manifests / name).write_text(good)
    (manifests / "shard-1.json").unlink()
    truncate("staged.json")
    with pytest.raises(RuntimeError, match="staged.json"):
        run_pipeline(spark, repos, out, n_shards=2)
    # the guided way out works
    assert run_pipeline(spark, repos, out, n_shards=2, resume=False)["resumed_shards"] == 0


def test_failed_rename_keeps_artifacts(spark, repos, tmp_path, monkeypatch):
    """A crash between writing an artifact's temp file and renaming it
    over the target leaves the target absent (shard-1.json) or with its
    old content (merge.json); the rerun gives identical totals."""
    from curies_spark import fsio

    out = str(tmp_path / "kg_crash")
    manifests = Path(out) / "_manifests"
    real_rename = fsio._rename

    def fail_on(name):
        def rename(spark, src, dst):
            if dst.endswith(f"/{name}"):
                raise OSError(f"injected crash before replacing {name}")
            real_rename(spark, src, dst)

        monkeypatch.setattr(fsio, "_rename", rename)

    fail_on("shard-1.json")
    with pytest.raises(OSError, match="injected"):
        run_pipeline(spark, repos, out, n_shards=2, max_concurrent_shards=1)
    assert not (manifests / "shard-1.json").exists()
    assert (manifests / "shard-0.json").exists()
    monkeypatch.setattr(fsio, "_rename", real_rename)
    clean = run_pipeline(spark, repos, out, n_shards=2)
    assert clean["resumed_shards"] == 1
    assert clean["input_rows"] == 2000
    assert clean["triples"] == spark.read.parquet(f"{out}/triples").count()

    old_merge = (manifests / "merge.json").read_text()
    (manifests / "shard-1.json").unlink()
    fail_on("merge.json")
    with pytest.raises(OSError, match="injected"):
        run_pipeline(spark, repos, out, n_shards=2)
    assert (manifests / "merge.json").read_text() == old_merge
    monkeypatch.setattr(fsio, "_rename", real_rename)
    again = run_pipeline(spark, repos, out, n_shards=2)
    assert again["resumed_shards"] == 2
    for key in ("input_rows", "mentions", "linked_mentions", "triples", "merge"):
        assert again[key] == clean[key]
