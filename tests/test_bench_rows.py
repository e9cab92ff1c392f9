"""bench.py rows are views over the contract registry (no Spark needed):
every row names registered contract queries and a bench-tier size, or is
one of the few bespoke rows; the row names match the recorded history."""

import ast
import inspect
import json
import os
from pathlib import Path
from unittest import mock

from __spark_entry__ import queries

with mock.patch.dict(os.environ):  # bench pins BLAS threads on import
    import bench

ROOT = Path(__file__).resolve().parent.parent
ALLOWED_ENV = {f"SPARK_GRAFT_{k}" for k in ("SF_DIR", "CPUS", "CLIPS", "PASSES")}


def test_row_names_match_recorded_history():
    recorded = json.loads((ROOT / "BENCH_r05.json").read_text())["parsed"]["queries"]
    rows = [*bench.ROWS, *bench.BESPOKE]
    assert len(rows) == len(set(rows))
    assert set(rows) == set(recorded)
    assert not set(bench.ROWS) & set(bench.BESPOKE)


def test_rows_target_registered_queries_at_valid_sizes():
    reg = queries()
    for name, (qs, n) in bench.ROWS.items():
        assert n is None or (type(n) is int and n > 0), f"{name}: size {n!r}"
        for q in (qs,) if isinstance(qs, str) else qs:
            assert q in reg, f"{name}: {q} is not a contract query"
            if n is not None:  # the builder must take the bench-tier size
                assert "n" in inspect.signature(reg[q]).parameters, f"{name}: {q}"


def test_bespoke_rows_stay_few():
    assert len(bench.BESPOKE) <= 10


def test_bench_reads_only_its_four_env_vars():
    tree = ast.parse((ROOT / "bench.py").read_text())
    read = set()
    for node in ast.walk(tree):
        # os.environ.get("X", ...) / os.getenv("X") / os.environ["X"]
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            env_get = f.attr == "get" and getattr(f.value, "attr", None) == "environ"
            if (env_get or f.attr == "getenv") and node.args:
                read.add(ast.unparse(node.args[0]))
        elif isinstance(node, ast.Subscript) and getattr(node.value, "attr", None) == "environ":
            read.add(ast.unparse(node.slice))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.startswith("SPARK_GRAFT_"):
                assert node.value in ALLOWED_ENV, node.value
    assert read == {repr(v) for v in ALLOWED_ENV}
