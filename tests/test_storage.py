"""``knowledgegraphs_spark/storage.py`` is the one file-system layer for
store paths: only it resolves a Hadoop FileSystem, and the modules that
keep stores (the triple store, delta compaction, the resume manifest, the
Turtle sidecar) call it instead of the driver's local ``os``/``shutil``,
which would misread a ``file:``/``hdfs://``/``s3a://`` path. Most tests
here read the package's source or stub the file system; the ``write_text``
tests run against the local file system through a Spark session."""

import ast
from pathlib import Path

import pytest

from knowledgegraphs_spark import storage

PACKAGE = Path(__file__).resolve().parents[1] / "knowledgegraphs_spark"
OWNER = PACKAGE / "storage.py"
STORE_MODULES = [
    "streaming/maintenance.py",
    "plans/manifest.py",
    "operators/triples.py",
    "sinks/turtle.py",
    "sources/turtle_source.py",
]
LOCAL_FS_CALLS = {
    "os.rename",
    "os.replace",
    "os.listdir",
    "os.makedirs",
    "os.path.exists",
    "os.path.isdir",
    "shutil.rmtree",
    "open",
}


def _dotted(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _dotted(node.value)
        return head and f"{head}.{node.attr}"
    return None


def test_only_storage_resolves_a_file_system_and_store_modules_use_it():
    owner_text = OWNER.read_text()
    # the owner really resolves the FS, so the scan below can't pass just
    # because the names changed
    assert "org.apache.hadoop.fs" in owner_text and "getFileSystem" in owner_text
    leaks = [
        f"{path.relative_to(PACKAGE)}: {needle}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != OWNER
        for needle in ("org.apache.hadoop.fs", "getFileSystem")
        if needle in path.read_text()
    ]
    for rel in STORE_MODULES:
        tree = ast.parse((PACKAGE / rel).read_text())
        leaks += [
            f"{rel}:{node.lineno}: {_dotted(node.func)}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and _dotted(node.func) in LOCAL_FS_CALLS
        ]
    assert not leaks, leaks


class _RefusingFS:
    """A Hadoop FileSystem stand-in whose rename reports failure the way
    Hadoop does: by returning False, not by raising."""

    def rename(self, src, dst):
        return False


def test_move_raises_when_rename_returns_false(monkeypatch):
    monkeypatch.setattr(storage, "_fs", lambda spark, path: (_RefusingFS(), path))
    with pytest.raises(OSError, match="rename"):
        storage.move(None, "store/_staging_rewrite/subj_bucket=3", "store/subj_bucket=3")


@pytest.mark.parametrize("scheme", ["", "file:"], ids=["path", "file-uri"])
def test_write_text_replaces_an_existing_file(spark, tmp_path, scheme):
    """Overwriting leaves the new text and nothing beside it: no ``.tmp``,
    and no ``.crc`` — not even the stale one of a file first written
    through the checksummed file system."""
    target = tmp_path / "_manifest.json"
    fs, p = storage._fs(spark, str(target))
    stream = fs.create(p, True)  # checksummed: writes a .crc sidecar
    stream.write(bytearray(b"old"))
    stream.close()
    assert (tmp_path / "._manifest.json.crc").exists()

    storage.write_text(spark, scheme + str(target), '{"stages": {}}')
    assert target.read_text() == '{"stages": {}}'
    assert storage.read_text(spark, scheme + str(target)) == '{"stages": {}}'
    assert [f.name for f in tmp_path.iterdir()] == ["_manifest.json"]


def test_write_text_replaces_through_file_context_off_the_checksummed_fs(
    spark, tmp_path, monkeypatch
):
    """A file system without the checksum layer (HDFS, object stores)
    replaces through ``FileContext.rename`` with ``OVERWRITE``: here the
    raw local file system stands in for one."""
    target = tmp_path / "_manifest.json"
    target.write_text("old")
    fs, _ = storage._fs(spark, str(target))
    raw = fs.getRawFileSystem()
    jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    monkeypatch.setattr(
        storage, "_fs", lambda spark, path: (raw, raw.makeQualified(jvm_path(path)))
    )
    storage.write_text(spark, str(target), "new")
    assert target.read_text() == "new"
    assert [f.name for f in tmp_path.iterdir()] == ["_manifest.json"]
