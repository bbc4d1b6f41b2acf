"""The package surface is exactly what an entry point reaches.

Roots are the names used (``ast.Name`` ids and ``ast.Attribute`` attrs) in
the registry (``__spark_entry__.py``), ``bench.py``, ``tools/*.py`` and
``perfbench/*.py``, plus the package's own module-level statements other
than defs, classes, assignments and imports (``__main__``'s ``if __name__``
block, for example). From those roots the scan marks top-level package
names transitively through their bodies. Imports, docstrings, comments and
``__all__`` strings are not uses, so an ``__init__`` re-export keeps
nothing alive, and neither does a test. Dunder metadata such as
``__version__`` is not surface.

Matching is by identifier, not by resolved module, so a name used anywhere
live keeps every top-level definition that carries it; the scan can miss
dead code but never calls a statically used name dead (a call made only
through a string, e.g. ``getattr``, is invisible to it). No Spark is
started.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "strategicai_visibility_loop_etl_spark"
ROOT_FILES = (
    [REPO / "__spark_entry__.py", REPO / "bench.py"]
    + sorted((REPO / "tools").glob("*.py"))
    + sorted((REPO / "perfbench").glob("*.py"))
)

# Top-level package names kept although no root reaches them, each with the
# reason. Empty: every such name has been deleted.
ALLOWLIST: dict[str, str] = {}


def _used_names(node):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _target_names(stmt):
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}


def _scan():
    """Return ``{(module, name): lines}`` for every unreached top-level name."""
    defs = {}  # (module, name) -> (body node, lines)
    roots = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = str(path.relative_to(PACKAGE))
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(mod, stmt.name)] = (stmt, stmt.end_lineno - stmt.lineno + 1)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                for name in _target_names(stmt):
                    if name.startswith("__"):  # __all__, __version__: metadata
                        continue
                    defs[(mod, name)] = (stmt, stmt.end_lineno - stmt.lineno + 1)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _used_names(stmt)  # docstrings hold no Name nodes
    for path in ROOT_FILES:
        roots |= _used_names(ast.parse(path.read_text(), str(path)))

    by_name = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    reached, frontier = set(), list(roots)
    while frontier:
        name = frontier.pop()
        if name not in reached:
            reached.add(name)
            for key in by_name.get(name, ()):
                frontier.extend(_used_names(defs[key][0]))
    return {key: lines for key, (_, lines) in sorted(defs.items()) if key[1] not in reached}


def test_every_package_name_is_reached_from_an_entry_point():
    unreached = _scan()
    stale = set(ALLOWLIST) - {name for _, name in unreached}
    assert not stale, f"ALLOWLIST names that an entry point now reaches: {sorted(stale)}"
    dead = {k: n for k, n in unreached.items() if k[1] not in ALLOWLIST}
    listing = "\n".join(f"  {m}:{name} ({n} lines)" for (m, name), n in dead.items())
    assert not dead, (
        f"{len(dead)} top-level package names ({sum(dead.values())} lines) are "
        f"reached from no entry point; delete them with their tests, or add an "
        f"ALLOWLIST entry that says why they stay:\n{listing}"
    )
