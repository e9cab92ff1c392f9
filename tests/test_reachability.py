"""Nothing under ``jsonschema_spark/`` may exist that production does not reach.

Spark-free, ``ast`` only. The production roots are ``jobs/``,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``tools/``.

1. The static import closure of the roots (module-level and function-local
   imports, absolute and relative, through package ``__init__`` files) must
   cover every module under ``jsonschema_spark/``.
2. Every top-level ``def``/``class`` of a package module must be reached
   transitively from the roots through ``ast`` Name, Attribute or
   import-alias nodes. Only a registering decorator (``@W.parser``: the
   walker enters its registry at import) makes a definition reached by
   itself; ``pandas_udf``, ``dataclass`` or ``lru_cache`` definitions are
   traced like undecorated ones. Module-level statements of an imported
   module run at import, so they reach what they name.
3. Anything else is listed in ``NOT_IN_PRODUCTION`` with the reason it stays.
   A listed name that production reaches, or that no test uses, fails the
   test. "Uses" means a Name or Attribute chain that resolves through the
   test file's imports to the listed module or definition; an import alone,
   or the same short name bound to something else, does not count.

To keep an unreached definition (a Spark-free reference a test compares a
production path against, or a compile-half port the goldens check), add
``"module.name": "reason"`` below; a whole module is listed by its module
name. Anything else is wired into a job, contract query or bench row, or
deleted.
"""

from __future__ import annotations

import ast
import os
from functools import lru_cache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "jsonschema_spark"
ROOT_DIRS = ("jobs", "perfbench", "tools")
ROOT_FILES = ("__spark_entry__.py", "bench.py")

_REF = "Spark-free reference the test compares the production path against: "
_PORT = "compile-half port of the reference library, checked by "
_TESTED = "test-only feature; delete it together with "

NOT_IN_PRODUCTION: dict[str, str] = {
    # references and ports (stay)
    "jsonschema_spark.functions.fbank.mfcc_np": _REF + "test_fbank",
    "jsonschema_spark.functions.loudness.loudness_single": _REF + "test_loudness",
    "jsonschema_spark.functions.vorbis.imdct": _REF + "test_vorbis",
    "jsonschema_spark.functions.vorbis.decode_vorbis_stream": _REF + "test_vorbis",
    "jsonschema_spark.functions.flac._fixed_restore_scalar": _REF + "test_flac",
    "jsonschema_spark.functions.flac._read_residual_scalar": _REF + "test_flac",
    "jsonschema_spark.functions.flac._write_residual_scalar": _REF + "test_flac",
    "jsonschema_spark.functions.grid.grid_round_sql":
        "DuckDB spelling of grid_round; test_fbank checks both engines agree",
    "jsonschema_spark.functions.ogg.parse_opus_packets":
        "one-clip view of the OPUS_PKT walker for test_opus_packets",
    "jsonschema_spark.functions.ogg.parse_vorbis_packets":
        "one-clip view of the VORBIS_PKT walker for test_opus_packets",
    "jsonschema_spark.functions.multimodal.encode_fake_image":
        "writer of the FIMG payloads test_multimodal decodes",
    "jsonschema_spark.functions.multimodal.encode_fake_video":
        "writer of the FVID payloads test_multimodal decodes",
    "jsonschema_spark.functions.multimodal.y4m_frame_count":
        "one-clip frame count test_multimodal checks the Y4M walker against",
    "jsonschema_spark.jsonptr.validate_json_pointer": _PORT + "test_jsonptr",
    "jsonschema_spark.jsonptr.is_array_index": _PORT + "test_jsonptr",
    "jsonschema_spark.jsonptr.JSONPointerError": _PORT + "test_jsonptr",
    "jsonschema_spark.jsonptr.SegmentError": _PORT + "test_jsonptr",
    "jsonschema_spark.pointer.validate_reference_pointer": _PORT + "test_jsonptr",
    "jsonschema_spark.loader.new_embedded_loader": _PORT + "the resolve goldens",
    "jsonschema_spark.schema.TRUE": _PORT + "test_schema",
    "jsonschema_spark.sources.clips.clips_schema":
        "JSON form of CLIPS_SCHEMA that test_audio validates against",
    # test-only features (go with their tests)
    "jsonschema_spark.plans.compat": _TESTED + "test_compat",
    "jsonschema_spark.streaming": "package of the streaming modules below",
    "jsonschema_spark.streaming.validate":
        _TESTED + "test_streaming_checkpoint::test_windowed_summary_counts",
    "jsonschema_spark.streaming.stateful":
        _TESTED + "test_streaming_checkpoint::test_stateful_running_totals",
    "jsonschema_spark.streaming.drift":
        _TESTED + "the four test_streaming_checkpoint drift-parity tests",
    "jsonschema_spark.streaming.dedup": _TESTED + "test_streaming_dedup",
    "jsonschema_spark.streaming.manifest": _TESTED + "test_streaming_manifest",
    "jsonschema_spark.streaming.sequence": _TESTED + "test_streaming_sequence",
    "jsonschema_spark.streaming.sessions":
        _TESTED + "test_temporal::test_sessionize_stream_batch_parity",
    "jsonschema_spark.functions.multimodal.image_features": _TESTED + "test_multimodal",
    "jsonschema_spark.operators.decontaminate.decontaminate":
        _TESTED + "test_decontaminate",
    "jsonschema_spark.operators.dedup.distinct_by_content":
        _TESTED + "test_corpus_ops and test_streaming_dedup",
    "jsonschema_spark.operators.dedup.duplicate_clusters": _TESTED + "test_components",
    "jsonschema_spark.operators.drift.ks_test": _TESTED + "test_engine_ops",
    "jsonschema_spark.operators.drift.chi_square_test": _TESTED + "test_engine_ops",
    "jsonschema_spark.operators.drift.ks_statistic_approx": _TESTED + "test_engine_ops",
    "jsonschema_spark.operators.labels.decode_labels": _TESTED + "test_labels",
    "jsonschema_spark.operators.labels.learn_char_vocab": _TESTED + "test_labels",
    "jsonschema_spark.operators.layout.cluster_zordered": _TESTED + "test_layout",
    "jsonschema_spark.operators.layout.write_bucketed": _TESTED + "test_layout",
    "jsonschema_spark.operators.pii.scrub": _TESTED + "test_pii",
    "jsonschema_spark.operators.reconcile.reconcile_summary": _TESTED + "test_reconcile",
    "jsonschema_spark.operators.sampling.hash_sample": _TESTED + "test_sampling",
    "jsonschema_spark.operators.segments.segment_summary": _TESTED + "test_segments",
    "jsonschema_spark.operators.spandedup.trim_repeated_spans":
        _TESTED + "test_spandedup",
}


def _py_files(d: str):
    for dirpath, dirnames, files in os.walk(d):
        dirnames[:] = sorted(n for n in dirnames if n != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _modname(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


@lru_cache(maxsize=None)
def _package() -> dict[str, tuple[str, ast.Module]]:
    out = {}
    for path in _py_files(os.path.join(REPO, PKG)):
        with open(path) as f:
            out[_modname(path)] = (path, ast.parse(f.read(), path))
    return out


@lru_cache(maxsize=None)
def _roots() -> dict[str, tuple[str, ast.Module]]:
    paths = [os.path.join(REPO, f) for f in ROOT_FILES]
    for d in ROOT_DIRS:
        paths += list(_py_files(os.path.join(REPO, d)))
    out = {}
    for path in paths:
        with open(path) as f:
            out["<root>" + os.path.relpath(path, REPO)] = (path, ast.parse(f.read(), path))
    return out


def _import_base(mod: str, path: str, node: ast.ImportFrom) -> str:
    """Absolute module name an ``ImportFrom`` reads from."""
    if not node.level:
        return node.module or ""
    parts = mod.split(".")
    if os.path.basename(path) != "__init__.py":
        parts = parts[:-1]
    parts = parts[: len(parts) - (node.level - 1)]
    return ".".join(parts + ([node.module] if node.module else []))


def _with_parents(name: str):
    parts = name.split(".")
    return {".".join(parts[:i]) for i in range(1, len(parts) + 1)}


def _imports(mod: str, path: str, tree: ast.Module) -> set[str]:
    """Every package module this file imports, anywhere in it."""
    pkg = _package()
    got: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                got |= _with_parents(a.name)
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(mod, path, node)
            got |= _with_parents(base)
            got |= {f"{base}.{a.name}" for a in node.names}
    return {m for m in got if m in pkg}


def import_closure(extra=()) -> set[str]:
    """Package modules the roots (and the ``extra`` modules) import,
    transitively."""
    pkg = _package()
    todo = set(extra)
    for mod, (path, tree) in _roots().items():
        todo |= _imports(mod, path, tree)
    seen: set[str] = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        path, tree = pkg[m]
        todo |= _imports(m, path, tree) - seen
    return seen


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _top_defs(tree: ast.Module) -> dict[str, ast.AST]:
    return {n.name: n for n in tree.body if isinstance(n, _DEFS)}


def _source(mod: str) -> tuple[str, ast.Module]:
    return _package().get(mod) or _roots().get(mod) or _tests()[mod]


@lru_cache(maxsize=None)
def _bindings(mod: str) -> dict[str, set[tuple]]:
    return _bind(mod, *_source(mod))


def _bind(mod: str, path: str, tree: ast.Module) -> dict[str, set[tuple]]:
    """name -> targets: ``("mod", m)`` or ``("def", m, name)``. Imports
    anywhere in the file bind (function-local ones included)."""
    pkg = _package()
    out: dict[str, set[tuple]] = {}
    for name in _top_defs(tree):
        out.setdefault(name, set()).add(("def", mod, name))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out.setdefault(a.asname, set()).add(("mod", a.name))
                else:
                    head = a.name.split(".")[0]
                    out.setdefault(head, set()).add(("mod", head))
        elif isinstance(node, ast.ImportFrom):
            base = _import_base(mod, path, node)
            for a in node.names:
                sub = f"{base}.{a.name}"
                target = ("mod", sub) if sub in pkg else ("def", base, a.name)
                out.setdefault(a.asname or a.name, set()).add(target)
    return out


def _resolve_def(mod: str, name: str, depth: int = 0) -> set[tuple[str, str]]:
    """Follow re-exports to the module that defines ``name``."""
    if mod not in _package() or depth > 10:
        return set()
    if name in _top_defs(_package()[mod][1]):
        return {(mod, name)}
    out = set()
    for t in _bindings(mod).get(name, ()):
        if t[0] == "def":
            out |= _resolve_def(t[1], t[2], depth + 1)
    return out


def _attr_chain(node: ast.Attribute) -> list[str] | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return [node.id] + parts[::-1]


def _through_module(m: str, attrs: list[str]) -> set[tuple[str, str]]:
    pkg = _package()
    for a in attrs:
        if f"{m}.{a}" in pkg:
            m = f"{m}.{a}"
            continue
        return _resolve_def(m, a)
    return set()


def _refs(mod: str, nodes) -> set[tuple[str, str]]:
    """Package definitions the given nodes of module ``mod`` name."""
    binds = _bindings(mod)
    path = _source(mod)[0]
    out: set[tuple[str, str]] = set()

    def lookup(name: str, attrs: list[str]):
        for t in binds.get(name, ()):
            if t[0] == "def":
                out.update(_resolve_def(t[1], t[2]))
            else:
                out.update(_through_module(t[1], attrs))

    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                lookup(node.id, [])
            elif isinstance(node, ast.Attribute):
                chain = _attr_chain(node)
                if chain:
                    lookup(chain[0], chain[1:])
            elif isinstance(node, ast.ImportFrom):
                base = _import_base(mod, path, node)
                for a in node.names:
                    out.update(_resolve_def(base, a.name))
    return out


def _registers(node: ast.AST) -> bool:
    """``@W.parser``: the decorator enters the walker into its registry at
    import, so the definition is reached however nothing names it."""
    return any(
        isinstance(d, ast.Attribute) and d.attr == "parser"
        for d in node.decorator_list
    )


def reached(listed=()) -> tuple[set[str], set[tuple[str, str]]]:
    """The modules and the (module, name) top-level definitions production
    reaches, counting the ``listed`` qualnames as further roots."""
    pkg = _package()
    todo = {tuple(q.rsplit(".", 1)) for q in listed if q not in pkg}
    for mod, (_, tree) in _roots().items():
        todo |= _refs(mod, [tree])
    closure = import_closure([q for q in listed if q in pkg])
    for mod in closure:
        tree = pkg[mod][1]
        runs_at_import = [
            n for n in tree.body
            if not isinstance(n, (ast.Import, ast.ImportFrom) + _DEFS)
        ]
        registered = [
            n for n in tree.body if isinstance(n, _DEFS) and _registers(n)
        ]
        todo |= _refs(mod, runs_at_import + registered)
        todo |= {(mod, n.name) for n in registered}
    seen: set[tuple[str, str]] = set()
    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        mod, name = key
        node = _top_defs(pkg[mod][1]).get(name)
        if node is not None:
            todo |= _refs(mod, [node]) - seen
    return closure, seen


def unreached(listed=()) -> dict[str, int]:
    """qualname -> line count of every module and definition that neither
    production nor the ``listed`` qualnames reach."""
    pkg = _package()
    closure, hit = reached(listed)
    out = {}
    for mod, (path, tree) in pkg.items():
        if mod not in closure:
            with open(path) as f:
                out[mod] = sum(1 for _ in f)
            continue
        for name, node in _top_defs(tree).items():
            if (mod, name) not in hit:
                out[f"{mod}.{name}"] = node.end_lineno - node.lineno + 1
    return out


@lru_cache(maxsize=None)
def _tests() -> dict[str, tuple[str, ast.Module]]:
    out = {}
    for path in _py_files(os.path.join(REPO, "tests")):
        if os.path.basename(path) != os.path.basename(__file__):
            with open(path) as f:
                out["<test>" + os.path.relpath(path, REPO)] = (path, ast.parse(f.read(), path))
    return out


def _uses(mod: str, path: str, tree: ast.Module) -> set[str]:
    """Qualnames of the package modules and definitions a test file uses:
    a Name or an Attribute chain, resolved through the file's imports. An
    import that nothing uses does not count."""
    binds = _bind(mod, path, tree)
    pkg = _package()
    out: set[str] = set()

    def lookup(name: str, attrs: list[str]):
        for t in binds.get(name, ()):
            if t[0] == "def":
                out.update(f"{m}.{n}" for m, n in _resolve_def(t[1], t[2]))
                continue
            m, rest = t[1], list(attrs)
            while rest and f"{m}.{rest[0]}" in pkg:
                m = f"{m}.{rest.pop(0)}"
            if m in pkg:
                out.add(m)
            if rest:
                out.update(f"{d}.{n}" for d, n in _resolve_def(m, rest[0]))

    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            lookup(node.id, [])
        elif isinstance(node, ast.Attribute):
            chain = _attr_chain(node)
            if chain:
                lookup(chain[0], chain[1:])
    return out


def stale(listed: dict[str, str], tests: dict[str, tuple[str, ast.Module]]) -> list[str]:
    """Entries of ``listed`` that production reaches, that no longer exist,
    or that no test in ``tests`` (key -> (path, tree)) uses."""
    gone = unreached()
    used: set[str] = set()
    for mod, (path, tree) in tests.items():
        used |= _uses(mod, path, tree)
    out = []
    for q in listed:
        if q not in gone:
            out.append(f"{q}: reached from production, or no longer exists")
        elif not any(u == q or u.startswith(q + ".") for u in used):
            out.append(f"{q}: no test uses it")
    return out


def test_roots_reach_every_module():
    closure = import_closure()
    missing = sorted(
        m for m in _package() if m not in closure and m not in NOT_IN_PRODUCTION
    )
    assert not missing, f"modules no production root imports: {missing}"


def test_roots_reach_every_definition():
    listed = frozenset(NOT_IN_PRODUCTION)
    missing = sorted(
        (q, n) for q, n in unreached(listed).items()
        if q not in _package() and q.rsplit(".", 1)[0] not in listed
    )
    assert not missing, (
        "definitions production never reaches (wire them in, delete them, "
        f"or list them in NOT_IN_PRODUCTION), with line counts: {missing}"
    )


def test_not_in_production_is_current():
    assert all(why.strip() for why in NOT_IN_PRODUCTION.values())
    assert not stale(NOT_IN_PRODUCTION, _tests())


def test_deleted_test_makes_its_entry_stale():
    entry = {"jsonschema_spark.functions.fbank.mfcc_np": "reference"}
    imp = "from jsonschema_spark.functions.fbank import mfcc_np\n"
    test = "def test_mfcc():\n    assert mfcc_np(x) is not None\n"

    def files(*srcs):
        return {
            f"<test>t{i}": ("t.py", ast.parse(src)) for i, src in enumerate(srcs)
        }

    assert stale(entry, files(imp + test)) == []
    assert stale(entry, files(
        "from jsonschema_spark.functions import fbank\n"
        "def test_mfcc():\n    fbank.mfcc_np(x)\n"
    )) == []
    gone = ["jsonschema_spark.functions.fbank.mfcc_np: no test uses it"]
    # the test is deleted, its import stays
    assert stale(entry, files(imp)) == gone
    # the same short name, bound to something else, does not count
    assert stale(entry, files("def test_other():\n    other.mfcc_np(x)\n")) == gone
