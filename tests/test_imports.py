"""Every package import in the repo's program files resolves (Spark-free).

Walks the AST of the package, ``perfbench/``, ``tools/`` and
``__spark_entry__.py`` and collects every ``real_time_sliding_window_spark``
import, function-local ones included: a lazy import of a module that no
longer exists only fails when that code path runs, so a tier-1 suite that
never reaches it would stay green.

The same walk guards the stateful operators' shape: one event-time timer
rule (``stateful.arm_timer``), at most three ``applyInPandasWithState``
wirings, and append output mode on every streaming write; and the engine's
layering: the streaming engine imports nothing from the curation side.
"""

from __future__ import annotations

import ast
import fnmatch
import importlib
import importlib.util
from pathlib import Path

PKG = "real_time_sliding_window_spark"
ROOT = Path(__file__).resolve().parent.parent


def _sources() -> list[Path]:
    files = [ROOT / "__spark_entry__.py"]
    for d in (PKG, "perfbench", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _package_of(path: Path) -> str:
    """Dotted package of a file inside the package (for relative imports)."""
    return ".".join(path.relative_to(ROOT).parent.parts)


def _imports(path: Path) -> list[tuple[int, str, list[str]]]:
    """(line, module, imported names) for each package import in ``path``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, []) for a in node.names
                    if a.name.split(".")[0] == PKG]
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                base = _package_of(path).rsplit(".", node.level - 1)[0]
                module = f"{base}.{module}" if module else base
            if module.split(".")[0] == PKG:
                out.append((node.lineno, module,
                            [a.name for a in node.names if a.name != "*"]))
    return out


def _module_file(module: str) -> Path | None:
    """Source file of a package module, or None if ``module`` is not one."""
    base = ROOT.joinpath(*module.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_modules(path: Path) -> set[str]:
    """Package modules ``path`` imports; ``from pkg import mod`` names ``mod``."""
    out = set()
    for _, module, names in _imports(path):
        subs = {f"{module}.{n}" for n in names if _module_file(f"{module}.{n}")}
        out |= subs
        if not names or len(subs) < len(names):
            out.add(module)
    return out


def _resolves(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent package is missing
        return False


def _unresolved(module: str, names: list[str]) -> list[str]:
    if not _resolves(module):
        return [module]
    mod = importlib.import_module(module)
    return [
        f"{module}.{n}" for n in names
        if not hasattr(mod, n)
        and not (hasattr(mod, "__path__") and _resolves(f"{module}.{n}"))
    ]


def _calls(attr: str) -> list[tuple[Path, ast.Call]]:
    """(file, call node) of every ``<obj>.attr(...)`` call in the package."""
    out = []
    for path in _sources():
        if path.is_relative_to(ROOT / PKG):
            out += [(path, node)
                    for node in ast.walk(ast.parse(path.read_text(), str(path)))
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == attr]
    return out


def test_one_timer_rule_and_three_stateful_sites():
    """Every event-time timer is armed by ``stateful.arm_timer`` (one rule,
    not a fork per operator), and ``applyInPandasWithState`` is wired at
    most three times: the ring, the CEP kernel and the as-of join."""
    stateful = ROOT / PKG / "operators" / "stateful.py"
    arm = next(n for n in ast.walk(ast.parse(stateful.read_text()))
               if isinstance(n, ast.FunctionDef) and n.name == "arm_timer")
    timers = [(p, c.lineno) for p, c in _calls("setTimeoutTimestamp")]
    assert len(timers) == 1, timers
    path, line = timers[0]
    assert path == stateful and arm.lineno <= line <= arm.end_lineno, timers
    sites = [(p, c.lineno) for p, c in _calls("applyInPandasWithState")]
    assert len(sites) <= 3, sites


def test_every_streaming_write_is_append_mode():
    """Every ``.outputMode(...)`` call passes the literal ``"append"``:
    windows are final when emitted, and open windows are read from the
    append query's own state (``streaming/live_view.py``), not from a
    second, update-mode query."""
    calls = _calls("outputMode")
    assert calls, "no outputMode call found — walker broken?"
    other = [
        (str(p.relative_to(ROOT)), c.lineno) for p, c in calls
        if c.keywords or len(c.args) != 1
        or not (isinstance(c.args[0], ast.Constant) and c.args[0].value == "append")
    ]
    assert not other, other


# The streaming engine and everything it imports, named relative to the
# package. Curation-side modules (operators other than these two,
# functions/, plans/, storage, util) stay outside it.
ENGINE_ROOTS = ("streaming/*.py", "sources/*.py", "session.py", "operators/stateful.py")
ENGINE_CLOSURE = ("config", "session", "synth", "operators.stateful",
                  "operators.windows", "sources.*", "streaming.*")


def test_engine_imports_stay_on_the_engine_path():
    """The transitive package imports of ``streaming/``, ``sources/``,
    ``session`` and ``operators.stateful`` stay within ``ENGINE_CLOSURE``,
    function-local imports included."""
    todo = [p for g in ENGINE_ROOTS for p in sorted((ROOT / PKG).glob(g))]
    seen: set[Path] = set()
    reached: set[str] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for module in _imported_modules(path):
            reached.add(module)
            target = _module_file(module)
            assert target is not None, f"{path.relative_to(ROOT)}: {module}"
            todo.append(target)
    names = {m.removeprefix(PKG).removeprefix(".") for m in reached}
    # synth via sources, operators.windows via a lazy import in pipeline
    assert {"config", "synth", "operators.windows"} <= names, names
    outside = sorted(n for n in names
                     if not any(fnmatch.fnmatchcase(n, g) for g in ENGINE_CLOSURE))
    assert not outside, outside


def test_every_package_import_resolves():
    seen, missing = 0, []
    for path in _sources():
        for line, module, names in _imports(path):
            seen += 1
            missing += [f"{path.relative_to(ROOT)}:{line}: {m}"
                        for m in _unresolved(module, names)]
    assert seen > 20, f"only {seen} package imports found — walker broken?"
    assert not missing, "dangling imports:\n" + "\n".join(missing)


def test_walker_flags_a_dangling_lazy_import(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        "def f():\n"
        f"    from {PKG}.operators import windows, no_such_module\n"
        f"    from {PKG}.session import get_spark, no_such_name\n"
        f"    import {PKG}.no_such_pkg.mod\n"
    )
    found = [m for _, mod, names in _imports(src)
             for m in _unresolved(mod, names)]
    assert found == [
        f"{PKG}.operators.no_such_module",
        f"{PKG}.session.no_such_name",
        f"{PKG}.no_such_pkg.mod",
    ]
