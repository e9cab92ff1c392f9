"""Content-keyed corpus cache (sources/clips.py: corpus_path, publish):
a corpus path is a pure function of the package source, the numpy
version and the generator's parameters, and publishing is atomic; every
synthetic corpus is built by the one ``ledger_table`` kernel. Spark-free
except ``test_ledger_table_rows_equal_row_function``."""

import ast
import collections
import glob
import os
import shutil
import subprocess
import sys

import pytest

import jsonschema_spark
from jsonschema_spark.sources import clips
from jsonschema_spark.sources.clips import corpus_path, publish

PKG = os.path.dirname(jsonschema_spark.__file__)
TREE = os.path.dirname(PKG)

# a dict parameter: its repr is insertion-ordered, so the key must not
# depend on the interpreter's string-hash seed
_PATH_OF = (
    "import sys; sys.path.insert(0, sys.argv[1]); "
    "from jsonschema_spark.sources.clips import corpus_path, synth_quality_clips; "
    "print(corpus_path(synth_quality_clips, 40, {'b': 1, 'a': [2, 3]}))"
)


def _path_in_fresh_interpreter(tree: str, hash_seed: int) -> str:
    env = dict(os.environ, PYTHONHASHSEED=str(hash_seed))
    out = subprocess.run(
        [sys.executable, "-c", _PATH_OF, tree],
        env=env, capture_output=True, text=True, check=True,
    )
    return out.stdout.strip().splitlines()[-1]


def test_key_is_stable_across_interpreters_and_hash_seeds():
    assert _path_in_fresh_interpreter(TREE, 1) == _path_in_fresh_interpreter(TREE, 2)


def test_different_params_give_different_paths():
    paths = {
        corpus_path(clips.synth_quality_clips, 40),
        corpus_path(clips.synth_quality_clips, 41),
        corpus_path(clips.synth_quality_clips, 40, (200, 2000)),
        corpus_path(clips.synth_padded_clips, 40),
    }
    assert len(paths) == 4
    for p in paths:
        name = os.path.basename(p)
        assert name.replace("_", "").isalnum() and name.isascii(), name


def test_one_changed_source_byte_moves_the_path(tmp_path):
    tree = tmp_path / "tree"
    shutil.copytree(PKG, tree / "jsonschema_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    before = _path_in_fresh_interpreter(str(tree), 0)
    assert before == _path_in_fresh_interpreter(TREE, 0)
    src = tree / "jsonschema_spark" / "sources" / "synth.py"
    data = bytearray(src.read_bytes())
    data[-1:] = b" " if data[-1:] != b" " else b"\n"
    src.write_bytes(bytes(data))
    after = _path_in_fresh_interpreter(str(tree), 0)
    assert after != before
    assert os.path.dirname(after) == os.path.dirname(before)


def test_repointing_the_root_moves_the_path(tmp_path, monkeypatch):
    default = corpus_path(clips.synth_quality_clips, 40)
    monkeypatch.setattr(clips, "_MATERIALIZE_ROOT", str(tmp_path))
    moved = corpus_path(clips.synth_quality_clips, 40)
    assert moved == os.path.join(str(tmp_path), os.path.basename(default))


def test_every_oracle_follows_a_repointed_root(tmp_path, monkeypatch):
    """The oracle SQL resolves each corpus path when oracle_sql() runs, as
    the Spark side does, never from the root seen at import."""
    import __spark_entry__ as m

    old = m.oracle_sql()
    root = clips._MATERIALIZE_ROOT
    monkeypatch.setattr(clips, "_MATERIALIZE_ROOT", str(tmp_path))
    new = m.oracle_sql()
    assert sum(root + os.sep in sql for sql in old.values()) > 100
    for name, sql in old.items():
        assert new[name] == sql.replace(root + os.sep, str(tmp_path) + os.sep), name


def test_layout_and_image_corpora_live_under_the_cache_root():
    from jsonschema_spark.sources.images import (
        synth_images,
        synth_jpeg_images,
        synth_progressive_jpeg_images,
    )
    from jsonschema_spark.sources.layouts import synth_layout, synth_layout_2d

    root = clips._MATERIALIZE_ROOT
    for path in (
        corpus_path(synth_layout, "geo"),
        corpus_path(synth_layout_2d, "zorder"),
        corpus_path(synth_images, 8),
        corpus_path(synth_jpeg_images, 8),
        corpus_path(synth_progressive_jpeg_images, 8),
    ):
        assert path.startswith(root + os.sep), path


def _write(text):
    def write(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part"), "w") as f:
            f.write(text)

    return write


def _read(path):
    with open(os.path.join(path, "part")) as f:
        return f.read()


def test_failed_write_leaves_nothing_and_the_next_call_rebuilds(tmp_path):
    path = str(tmp_path / "corpus_k")

    def broken(tmp):
        _write("half")(tmp)
        raise RuntimeError("generator failed mid-write")

    with pytest.raises(RuntimeError):
        publish(path, broken)
    assert os.listdir(tmp_path) == []
    assert publish(path, _write("whole")) == path
    assert _read(path) == "whole"
    # published: write is not called again
    assert publish(path, broken) == path
    assert os.listdir(tmp_path) == ["corpus_k"]


def test_rename_race_loser_discards_its_copy(tmp_path):
    path = str(tmp_path / "corpus_k")

    def lose_the_race(tmp):
        _write("winner")(path)  # another session publishes first
        _write("loser")(tmp)

    assert publish(path, lose_the_race) == path
    assert _read(path) == "winner"
    assert os.listdir(tmp_path) == ["corpus_k"]


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield t.id
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield (a.asname or a.name).split(".")[0]


def test_sources_modules_bind_each_top_level_name_once():
    """A second top-level def/assignment/import of a name silently
    shadows the first (in clips.py this once sent an oracle to the wrong
    generator)."""
    for path in sorted(glob.glob(os.path.join(PKG, "sources", "*.py"))):
        with open(path) as f:
            names = collections.Counter(_top_level_names(ast.parse(f.read())))
        dup = sorted(k for k, v in names.items() if v > 1)
        assert not dup, (os.path.basename(path), dup)


def _range_map_in_pandas_owners(tree: ast.Module):
    """(top-level def, line) of every ``<x>.range(...).mapInPandas(...)``
    call and every ``parallelize(...)`` call, tagged by kind."""
    for top in tree.body:
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            owner = getattr(top, "name", "<module>")
            if node.func.attr == "parallelize":
                yield "parallelize", owner, node.lineno
            inner = node.func.value
            if (
                node.func.attr == "mapInPandas"
                and isinstance(inner, ast.Call)
                and isinstance(inner.func, ast.Attribute)
                and inner.func.attr == "range"
            ):
                yield "range.mapInPandas", owner, node.lineno


def test_only_ledger_table_maps_a_range():
    """Every synthetic corpus goes through ``clips.ledger_table``: no
    generator under sources/ builds rows with row-at-a-time RDD code
    (``parallelize``) or restates the ``spark.range -> mapInPandas``
    skeleton."""
    found = []
    for path in sorted(glob.glob(os.path.join(PKG, "sources", "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        for kind, owner, line in _range_map_in_pandas_owners(tree):
            where = (os.path.basename(path), owner)
            if kind == "range.mapInPandas" and where == ("clips.py", "ledger_table"):
                continue
            found.append((kind, *where, line))
    assert not found, found


def test_ledger_table_rows_equal_row_function(spark):
    """The Arrow batch path keeps every value a row function returns:
    bytes, ints, booleans, lists and NULLs, in row order."""
    from jsonschema_spark.sources import images, videos

    cases = [
        (videos._row, videos.VIDEOS_SCHEMA, videos.TRUNC_MOD),
        (videos._mp4_row, videos.MP4_VIDEOS_SCHEMA, videos.MP4_CLASS_MOD),
        (videos._webm_row, videos.WEBM_VIDEOS_SCHEMA, videos.WEBM_CLASS_MOD),
        (images._jpeg_row, images.JPEG_IMAGES_SCHEMA, images.JPEG_TRUNC_MOD),
    ]
    for row, schema, n in cases:
        got = [tuple(r) for r in clips.ledger_table(spark, n, schema, row).collect()]
        assert got == [row(i) for i in range(n)], row.__name__
