"""The package surface is exactly what an entry point reaches: every
top-level name, and every mode flag of every function.

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
through a string, e.g. ``getattr``, is invisible to it). The option scan
(``test_every_mode_flag_is_set_by_a_caller``) documents its own rules.
No Spark is started.
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

# ``(function, parameter)`` mode flags kept although no caller sets them,
# each with the reason. Empty: every such flag has been folded into a
# constant.
OPTION_ALLOWLIST: dict[tuple[str, str], str] = {}


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


def _mode_flags():
    """``{(function, parameter): (module, line, default, slot)}`` for
    every package function parameter whose default is a bool literal, or
    a str literal that the body compares with a str literal, and that
    the body tests in an ``if`` or a conditional expression. ``slot`` is
    the parameter's position in a call, None for keyword-only ones."""
    def str_compared(fn, name):
        for n in ast.walk(fn):
            if isinstance(n, ast.Compare):
                sides = [n.left, *n.comparators]
                if any(isinstance(x, ast.Name) and x.id == name for x in sides):
                    for x in sides:
                        elts = x.elts if isinstance(x, (ast.Tuple, ast.List, ast.Set)) else [x]
                        if any(isinstance(e, ast.Constant) and isinstance(e.value, str)
                               for e in elts):
                            return True
        return False

    def tested(fn, name):
        return any(
            isinstance(n, (ast.If, ast.IfExp))
            and any(isinstance(x, ast.Name) and x.id == name for x in ast.walk(n.test))
            for n in ast.walk(fn)
        )

    flags = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = str(path.relative_to(PACKAGE))
        for fn in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            with_default = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            with_default += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for param, default in with_default:
                if not isinstance(default, ast.Constant):
                    continue
                v = default.value
                if (isinstance(v, bool) or isinstance(v, str) and str_compared(fn, param.arg)) \
                        and tested(fn, param.arg):
                    slot = positional.index(param) if param in positional else None
                    if slot is not None and positional[0].arg in ("self", "cls"):
                        slot -= 1  # bound calls do not pass it
                    flags[(fn.name, param.arg)] = (mod, fn.lineno, v, slot)
    return flags


def _unset_mode_flags(flags):
    """``{(function, parameter): (module, line, default)}`` for the mode
    flags that no call in a root file or package module sets to anything
    but their default."""
    wanted = {name for name, _ in flags}
    set_ = set()
    for path in sorted(PACKAGE.rglob("*.py")) + ROOT_FILES:
        for call in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in wanted:
                continue
            for (fname, param), (_, _, default, slot) in flags.items():
                if fname != name:
                    continue
                passed = [kw.value for kw in call.keywords if kw.arg == param]
                if slot is not None and slot < len(call.args):
                    passed.append(call.args[slot])
                if any(kw.arg is None for kw in call.keywords) or any(
                    not (isinstance(v, ast.Constant) and type(v.value) is type(default)
                         and v.value == default)
                    for v in passed
                ):
                    set_.add((fname, param))
    return {k: v[:3] for k, v in sorted(flags.items()) if k not in set_}


def test_every_mode_flag_is_set_by_a_caller():
    """The name scan's rule applied to options: a mode flag that every
    caller leaves at its default is a constant, and the code behind its
    other values is dead.

    A *mode flag* is a package function parameter whose default is a
    bool literal, or a str literal that the body compares with a str
    literal, and that the body tests in an ``if`` statement or a
    conditional expression. It is *set* when some call of that
    function's name in a root file (the same roots as the name scan) or
    a package module passes it a different literal, or any non-literal
    expression, by keyword or by position; a ``**mapping`` argument sets
    every parameter. So a value passed through a config dict
    (``f(flag=cfg["flag"])`` or ``f(**cfg)``) counts as set: whether the
    config field itself is ever changed is for the config's own readers
    to show, not for this scan. Tests are not callers.

    Matching is by name, as in the name scan. A call that reaches the
    function through a wrapper (``pool.submit(f, flag=x)``) is not seen;
    a flag set only that way needs an ``OPTION_ALLOWLIST`` entry that
    says so."""
    unset = _unset_mode_flags(_mode_flags())
    stale = set(OPTION_ALLOWLIST) - set(unset)
    assert not stale, f"OPTION_ALLOWLIST flags that a caller now sets: {sorted(stale)}"
    dead = {k: v for k, v in unset.items() if k not in OPTION_ALLOWLIST}
    listing = "\n".join(
        f"  {mod}:{line} {fn}({param}={default!r})"
        for (fn, param), (mod, line, default) in dead.items()
    )
    assert not dead, (
        f"{len(dead)} mode flags are never set to another value by an entry "
        f"point or the package; make each a constant and delete the code "
        f"behind its other values, or add an OPTION_ALLOWLIST entry that says "
        f"why it stays:\n{listing}"
    )
