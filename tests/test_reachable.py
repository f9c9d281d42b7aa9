"""Every top-level definition under mmore_spark/ is reached by an entry point.

The entry points are the CLI (``mmore_spark/__main__.py``), the driver
contract (``__spark_entry__.py`` and ``bench.py``), ``kgbench/``,
``scripts/`` and ``tools/``; ``KGPipeline``/``build_graph`` are reached
through them. Tests are not entry points: code only a test calls is not
part of the engine.

The scan is static and name-based. A module becomes live when live code
imports it; a top-level definition of a live module becomes live when live
code names it (``ast.Name``, ``ast.Attribute`` or an imported name). The
bodies of live definitions and the module-level statements of live modules
are live code, and the scan repeats until nothing new turns up. Matching by
bare name over-approximates what is reached, so a definition it reports is
certainly unreached; dispatch by string (a registry keyed by name) is seen
only where the name appears as an identifier.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "mmore_spark"

# Definitions no entry point reaches that stay, each with its reason.
ALLOWED = {
    "mmore_spark/corpus/generator.py:render_text_py":
        "test oracle: the Python twin of the render expression",
    "mmore_spark/functions/spans.py:span_signature":
        "test oracle: the spans round-trip tests compare through it",
    "mmore_spark/corpus/derive.py:plant_py":
        "test oracle: the Python twin of the derived-corpus planting",
    "mmore_spark/operators/extract.py:rule_extract_re":
        "test oracle: the regex spelling of the rule extractor",
    "mmore_spark/operators/extract.py:_compiled_templates":
        "test oracle: the combined regex that rule_extract_re runs",
    "mmore_spark/io/tables.py:upsert_table":
        "the fold's writer named by ROADMAP items 7 and 13",
}


def _entry_files() -> list[pathlib.Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py",
             ROOT / PKG / "__main__.py"]
    for d in ("kgbench", "scripts", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _resolve(module: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = module.split(".")
    base = base[: len(base) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


def _refs(nodes, module: str, is_pkg: bool):
    """(names, modules) that ``nodes`` refer to or import."""
    names: set[str] = set()
    modules: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    modules.add(a.name)
            elif isinstance(n, ast.ImportFrom):
                base = _resolve(module, is_pkg, n)
                modules.add(base)
                for a in n.names:
                    names.add(a.name)
                    modules.add(f"{base}.{a.name}")  # may name a submodule
    return names, modules


def _defined_names(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name)]


def unreached() -> list[str]:
    """``path:name`` of each top-level definition no entry point reaches."""
    modules = {}  # name -> (path, is_pkg, definitions, body statements)
    for path in sorted((ROOT / PKG).rglob("*.py")):
        if path.name == "__main__.py":
            continue
        defs, body = {}, []
        for stmt in ast.parse(path.read_text()).body:
            defined = _defined_names(stmt)
            for name in defined:
                defs[name] = stmt
            if not defined:
                body.append(stmt)
        modules[_module_name(path)] = (path, path.name == "__init__.py",
                                       defs, body)

    live_modules: set[str] = set()
    scanned_modules: set[str] = set()  # live modules whose body is queued
    live_defs: set[tuple[str, str]] = set()
    names: set[str] = set()
    pending = []  # (module, is_pkg, statements) not yet scanned
    for path in _entry_files():
        pending.append((_module_name(path), False,
                        ast.parse(path.read_text()).body))

    while pending:
        for module, is_pkg, stmts in pending:
            got_names, got_modules = _refs(stmts, module, is_pkg)
            names |= got_names
            for m in got_modules:
                parts = m.split(".")
                for i in range(1, len(parts) + 1):
                    if ".".join(parts[:i]) in modules:
                        live_modules.add(".".join(parts[:i]))
        pending = []
        for module in sorted(live_modules):
            path, is_pkg, defs, body = modules[module]
            if module not in scanned_modules:
                scanned_modules.add(module)
                pending.append((module, is_pkg, body))
            for name, stmt in defs.items():
                if name in names and (module, name) not in live_defs:
                    live_defs.add((module, name))
                    pending.append((module, is_pkg, [stmt]))

    out = []
    for module, (path, _, defs, _) in sorted(modules.items()):
        rel = path.relative_to(ROOT).as_posix()
        if module not in live_modules:
            out.append(f"{rel}:*")
            continue
        out += [f"{rel}:{name}" for name in defs
                if (module, name) not in live_defs
                and not name.startswith("__")]
    return out


def test_every_definition_is_reached_by_an_entry_point():
    found = unreached()
    dead = [d for d in found if d not in ALLOWED]
    assert not dead, (
        "reached by no entry point; delete it, wire it to an entry point, "
        f"or add it to ALLOWED with its reason: {dead}")
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"reached now, or gone; drop from ALLOWED: {stale}"


def unused_imports() -> list[str]:
    """``path:line:name`` of each module-level import its module never
    names, over ``mmore_spark/`` and ``tests/``.  ``__init__.py`` files
    (which re-export), ``__future__`` imports and lines marked
    ``# noqa`` are left out."""
    out = []
    for d in (PKG, "tests"):
        for path in sorted((ROOT / d).rglob("*.py")):
            if path.name == "__init__.py":
                continue
            source = path.read_text()
            lines = source.splitlines()
            tree = ast.parse(source)
            used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            for stmt in tree.body:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    continue
                if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                    continue
                if any("# noqa" in line
                       for line in lines[stmt.lineno - 1:stmt.end_lineno]):
                    continue
                for a in stmt.names:
                    name = a.asname or a.name.split(".")[0]
                    if name not in used:
                        out.append(f"{path.relative_to(ROOT).as_posix()}:"
                                   f"{stmt.lineno}:{name}")
    return out


def test_no_unused_imports():
    found = unused_imports()
    assert not found, f"imported but never used; remove the import: {found}"
