"""The Hadoop-FS artifact layer (curies_spark/fsio.py): atomic JSON
replace, guided errors on torn files, listing, and the streaming dedup
``_signature.json`` stamp's crash behaviour."""

from __future__ import annotations

import pytest

from curies_spark import fsio


def test_write_read_replace_round_trip(spark, tmp_path):
    for root in (str(tmp_path / "plain"), f"file://{tmp_path}/uri"):
        path = f"{root}/_manifests/a.json"
        assert fsio.fs_read_json(spark, path) is None
        fsio.fs_write_json(spark, path, {"v": 1})
        fsio.fs_write_json(spark, path, {"v": 2})  # replaces an existing target
        assert fsio.fs_read_json(spark, path) == {"v": 2}
    assert sorted(p.name for p in (tmp_path / "uri" / "_manifests").iterdir()) == [
        ".a.json.crc",
        "a.json",
    ]


def test_glob_and_partition_ids(spark, tmp_path):
    root = f"file://{tmp_path}/m"
    assert fsio.fs_glob(spark, root, "shard-*.json") == []
    for k in (2, 0, 1):
        fsio.fs_write_json(spark, f"{root}/shard-{k}.json", {"shard": k})
    (tmp_path / "m" / "shard-3.json.tmp").write_text("{")  # a crash leftover
    assert fsio.fs_glob(spark, root, "shard-*.json") == [
        "shard-0.json",
        "shard-1.json",
        "shard-2.json",
    ]
    for n in (3, 7):
        (tmp_path / "s" / f"batch={n}").mkdir(parents=True)
    (tmp_path / "s" / "batch=7" / "_SUCCESS").touch()
    assert fsio.partition_ids(spark, str(tmp_path / "s"), "batch") == [7]
    assert fsio.partition_ids(spark, str(tmp_path / "s"), "batch", committed=False) == [3, 7]


@pytest.mark.parametrize("torn", ['{"v": ', b"\xff\xfe"])
def test_torn_file_raises_guided_error(spark, tmp_path, torn):
    path = tmp_path / "x.json"
    (path.write_bytes if isinstance(torn, bytes) else path.write_text)(torn)
    with pytest.raises(RuntimeError, match="x.json.*fresh out_dir"):
        fsio.fs_read_json(spark, str(path))


def test_signature_stamp_torn_or_crashed(spark, tmp_path, monkeypatch):
    """A torn ``_signature.json`` fails the resume with the guided error;
    a crash before the stamp's rename leaves no stamp, and the next
    check stamps cleanly."""
    from curies_spark.streaming import dedup as SD

    out = str(tmp_path / "out")

    def crash(spark, src, dst):
        raise OSError("injected crash before rename")

    monkeypatch.setattr(fsio, "_rename", crash)
    with pytest.raises(OSError, match="injected"):
        SD._check_signature_format(spark, out, k=3)
    assert not (tmp_path / "out" / "_signature.json").exists()
    monkeypatch.undo()

    SD._check_signature_format(spark, out, k=3)
    stamp = tmp_path / "out" / "_signature.json"
    good = stamp.read_text()
    stamp.write_text(good[: len(good) // 2])
    with pytest.raises(RuntimeError, match="_signature.json.*fresh out_dir"):
        SD._check_signature_format(spark, out, k=3)
    stamp.write_text(good)
    SD._check_signature_format(spark, out, k=3)
