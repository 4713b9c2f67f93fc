"""The storage seam: every Hadoop FileSystem touch in the engine goes
through `target_hdfs_spark/storage.py`, and no module reaches into
another module's private names. Plus the seam's own listing and
manifest primitives."""

from __future__ import annotations

import ast
import pathlib

from target_hdfs_spark import storage

PKG = pathlib.Path(__file__).resolve().parent.parent / "target_hdfs_spark"
SEAM = PKG / "storage.py"


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path, path.read_text()


def test_hadoop_fs_is_opened_only_in_storage():
    offenders = [
        f"{path.relative_to(PKG.parent)}:{i}"
        for path, text in _sources()
        if path != SEAM
        for i, line in enumerate(text.splitlines(), 1)
        if "getFileSystem(" in line or "hadoopConfiguration()" in line
    ]
    assert offenders == []


def test_no_cross_module_private_imports():
    offenders = []
    for path, text in _sources():
        for node in ast.walk(ast.parse(text)):
            if not (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").startswith("target_hdfs_spark")
            ):
                continue
            private = [
                a.name
                for a in node.names
                if a.name.startswith("_") and not a.name.startswith("__")
            ]
            if private:
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno} {private}")
    assert offenders == []


def test_committed_dirs_lists_only_success_marked_children(spark, tmp_path):
    for name in ("snap=1", "snap=2", "snap=x", "other=3"):
        (tmp_path / name).mkdir()
    for name in ("snap=1", "other=3"):
        (tmp_path / name / "_SUCCESS").touch()
    (tmp_path / "snap=4").touch()  # a file, not a directory
    root = str(tmp_path)
    assert storage.child_dirs(spark, root, "snap") == {
        1: f"{root}/snap=1",
        2: f"{root}/snap=2",
    }
    assert storage.committed_dirs(spark, root, "snap") == {1: f"{root}/snap=1"}
    assert storage.committed_dirs(spark, f"{root}/missing", "snap") == {}


def test_manifest_text_round_trips(spark, tmp_path):
    path = str(tmp_path / "manifest")
    fs, jvm = storage.filesystem(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    text = "#upsert-manifest-v2\nS part=ü\n#end"
    storage.write_text(fs, jpath, text)
    assert storage.read_text(fs, jvm, jpath) == text


def test_glob_matches_directory_name_literally(spark, tmp_path):
    root = tmp_path / "we{ir}d[1]-x"
    for name in ("c=de__old", "c=fr"):
        (root / name).mkdir(parents=True)
    fs, jvm = storage.filesystem(spark, str(root))
    found = storage.glob(fs, jvm, str(root), "*=*__old")
    assert [s.getPath().getName() for s in found] == ["c=de__old"]
    assert storage.glob(fs, jvm, str(tmp_path / "missing"), "*=*__old") == []
