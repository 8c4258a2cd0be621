"""No module reaches into another module's private names, and the
stage-checkpoint protocol has one owner.

Scans the program sources (``sequali_spark/``, ``jobs/`` and
``__spark_entry__.py``) with ``ast`` and flags every
``from sequali_spark.<mod> import _name`` and every ``mod._name`` where
``mod`` is an imported ``sequali_spark`` module.  Shared state and
helpers get a public name in the module that owns them (see
sequali_spark/runtime/pins.py for the persisted-frame registry).

The second scan flags every call of the checkpoint protocol's steps
(reuse check, manifest invalidation, manifest commit) outside
sequali_spark/runtime/checkpoint.py: their crash order lives in
``checkpoint.stage`` and a job that calls the steps itself can get it
wrong.

The third flags the Hadoop FileSystem API outside its two owners:
runtime/checkpoint.py for driver-side files and runtime/pins.py for
the fingerprint listings.  Every other module reads, writes, renames
and deletes through checkpoint's helpers.

The fourth flags every table read outside sequali_spark/sources/tables.py
(also in bench.py and scripts/), and the fifth every operator that
imports ``load`` from another operator module instead of from
sources.tables.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sequali_spark"


def _sources(root: str = REPO) -> list[str]:
    out = [os.path.join(root, "__spark_entry__.py")]
    for top in (PACKAGE, "jobs"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _is_module(dotted: str) -> bool:
    base = os.path.join(REPO, *dotted.split("."))
    return os.path.isfile(base + ".py") or os.path.isdir(base)


def _is_private(name: str) -> bool:
    return name.startswith("_") and not (name.startswith("__") and name.endswith("__"))


def _resolve(node: ast.ImportFrom, current: str, is_pkg: bool) -> str:
    if not node.level:
        return node.module or ""
    parts = current.split(".")
    base = parts[: len(parts) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


def _dotted(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _dotted(node.value)
        return None if head is None else f"{head}.{node.attr}"
    return None


def violations() -> list[str]:
    hits = []
    for path in _sources():
        current = _module_name(path)
        is_pkg = path.endswith("__init__.py")
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        rel = os.path.relpath(path, REPO)
        # local name (or full dotted path) -> imported sequali_spark module
        modules: dict[str, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == PACKAGE:
                        modules[a.asname or a.name] = a.name
            elif isinstance(node, ast.ImportFrom):
                src = _resolve(node, current, is_pkg)
                if src.split(".")[0] != PACKAGE:
                    continue
                for a in node.names:
                    full = f"{src}.{a.name}"
                    if _is_module(full):
                        modules[a.asname or a.name] = full
                    elif _is_private(a.name) and src != current:
                        hits.append(f"{rel}:{node.lineno} {a.name}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and _is_private(node.attr):
                owner = modules.get(_dotted(node.value) or "")
                if owner is not None and owner != current:
                    hits.append(f"{rel}:{node.lineno} {node.attr}")
    return sorted(hits)


def test_no_module_imports_another_modules_private_names():
    assert violations() == []


STAGE_STEPS = {"stage_is_reusable", "invalidate_stage_manifest", "write_stage_manifest"}
STAGE_OWNER = os.path.join(PACKAGE, "runtime", "checkpoint.py")


def stage_step_calls(root: str = REPO) -> list[str]:
    """Every call of a STAGE_STEPS function outside STAGE_OWNER, as
    ``path:line name``; ``root`` lets the scan run on another checkout."""
    hits = []
    for path in _sources(root):
        rel = os.path.relpath(path, root)
        if rel == STAGE_OWNER:
            continue
        for node in ast.walk(ast.parse(open(path, encoding="utf-8").read(), path)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in STAGE_STEPS:
                    hits.append(f"{rel}:{node.lineno} {name}")
    return sorted(hits)


def test_stage_protocol_has_one_owner():
    assert stage_step_calls() == []


HADOOP_FS = ("getFileSystem", "org.apache.hadoop.fs.Path")
HADOOP_FS_OWNERS = {
    STAGE_OWNER,
    os.path.join(PACKAGE, "runtime", "pins.py"),
}


def hadoop_fs_uses(root: str = REPO) -> list[str]:
    """Every source line naming a HADOOP_FS entry outside
    HADOOP_FS_OWNERS, as ``path:line name``."""
    hits = []
    for path in _sources(root):
        rel = os.path.relpath(path, root)
        if rel in HADOOP_FS_OWNERS:
            continue
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                hits += [f"{rel}:{n} {name}" for name in HADOOP_FS if name in line]
    return hits


def test_hadoop_filesystem_has_two_owners():
    assert hadoop_fs_uses() == []


TABLE_OWNER = os.path.join(PACKAGE, "sources", "tables.py")


def table_reads(root: str = REPO) -> list[str]:
    """Every ``.read.parquet(`` line outside TABLE_OWNER, in the program
    sources plus bench.py and scripts/, as ``path:line``."""
    paths = _sources(root) + [os.path.join(root, "bench.py")]
    for d, _, files in os.walk(os.path.join(root, "scripts")):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    hits = []
    for path in paths:
        rel = os.path.relpath(path, root)
        if rel == TABLE_OWNER:
            continue
        with open(path, encoding="utf-8") as f:
            hits += [f"{rel}:{n}" for n, line in enumerate(f, 1) if ".read.parquet(" in line]
    return hits


def test_table_reads_have_one_owner():
    assert table_reads() == []


def operator_load_imports(root: str = REPO) -> list[str]:
    """Every ``load`` an operator module imports from another operator
    module, as ``path:line``."""
    ops = os.path.join(root, PACKAGE, "operators")
    hits = []
    for path in _sources(root):
        if os.path.dirname(path) != ops:
            continue
        rel = os.path.relpath(path, root)
        current = f"{PACKAGE}.operators.{os.path.basename(path)[:-3]}"
        for node in ast.walk(ast.parse(open(path, encoding="utf-8").read(), path)):
            if (
                isinstance(node, ast.ImportFrom)
                and _resolve(node, current, False).startswith(f"{PACKAGE}.operators.")
                and any(a.name == "load" for a in node.names)
            ):
                hits.append(f"{rel}:{node.lineno}")
    return hits


def test_operators_load_tables_from_the_seam():
    assert operator_load_imports() == []
