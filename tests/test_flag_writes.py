"""Every module-level flag a test or tool assigns must exist.

Python accepts ``CE.SOME_REMOVED_FLAG = True`` silently: the write
just creates a new module attribute that no code reads, so a leftover
A/B tool or variant test would run the same plan twice and report a
tie. This parses every ``tests/*.py`` and ``tools/*.py`` file (no
Spark session) and checks each assignment to ``<alias>.<UPPER_NAME>``
(plain, annotated, augmented and tuple targets, plus
``setattr(<alias>, "UPPER_NAME", ...)``) where ``<alias>`` is bound to
a ``cosmoz_data_pipeline_spark`` module.
"""

from __future__ import annotations

import ast
import importlib
import re
from pathlib import Path

PKG = "cosmoz_data_pipeline_spark"
ROOT = Path(__file__).resolve().parents[1]
UPPER = re.compile(r"^[A-Z][A-Z0-9_]*$")


def _module_aliases(tree: ast.AST) -> dict[str, set[str]]:
    """alias -> names of the package modules bound to it anywhere in
    the file (function-local imports included)."""
    aliases: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    # `import a.b.c` binds `a`; `import a.b.c as x` binds c
                    bound = a.name if a.asname else a.name.split(".")[0]
                    aliases.setdefault(a.asname or bound, set()).add(bound)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if not (node.module or "").split(".")[0] == PKG:
                continue
            for a in node.names:
                full = f"{node.module}.{a.name}"
                try:
                    importlib.import_module(full)
                except ImportError:
                    continue  # an attribute, not a submodule
                aliases.setdefault(a.asname or a.name, set()).add(full)
    return aliases


def _dotted(expr: ast.expr) -> str | None:
    if isinstance(expr, ast.Name):
        return expr.id
    if isinstance(expr, ast.Attribute):
        head = _dotted(expr.value)
        return None if head is None else f"{head}.{expr.attr}"
    return None


def _targets(node: ast.AST):
    """(base expression, attribute name, line) of each attribute write."""
    if isinstance(node, ast.Assign):
        stack = list(node.targets)
    elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
        stack = [node.target]
    elif (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "setattr"
        and len(node.args) >= 2
        and isinstance(node.args[1], ast.Constant)
        and isinstance(node.args[1].value, str)
    ):
        yield node.args[0], node.args[1].value, node.lineno
        return
    else:
        return
    while stack:
        t = stack.pop()
        if isinstance(t, (ast.Tuple, ast.List)):
            stack.extend(t.elts)
        elif isinstance(t, ast.Starred):
            stack.append(t.value)
        elif isinstance(t, ast.Attribute):
            yield t.value, t.attr, t.lineno


def _stale_writes(source: str) -> list[tuple[int, str]]:
    """(line, "<alias>.<NAME>") for each write to an upper-case name
    that the package module bound to ``<alias>`` does not define."""
    tree = ast.parse(source)
    aliases = _module_aliases(tree)
    bad = []
    for node in ast.walk(tree):
        for base, name, line in _targets(node):
            dotted = _dotted(base)
            if dotted is None or not UPPER.match(name):
                continue
            head, _, rest = dotted.partition(".")
            mods = []
            for m in aliases.get(head, ()):
                try:
                    mods.append(
                        importlib.import_module(f"{m}.{rest}" if rest else m)
                    )
                except ImportError:
                    pass  # the base is an attribute, not a module
            if mods and not any(hasattr(m, name) for m in mods):
                bad.append((line, f"{dotted}.{name}"))
    return bad


def _files() -> list[Path]:
    return sorted([*ROOT.glob("tests/*.py"), *ROOT.glob("tools/*.py")])


def test_flag_writes_target_defined_names():
    files = _files()
    assert len(files) > 20, "test/tool discovery found too few files"
    bad = [
        f"{p.relative_to(ROOT)}:{line}: {target} is not defined"
        for p in files
        for line, target in _stale_writes(p.read_text())
    ]
    assert not bad, "writes to module names that do not exist:\n" + "\n".join(bad)


def test_guard_catches_stale_write():
    # the guard itself must bite: a write to a missing flag through
    # each binding form is reported, a write to a real one is not
    bad = _stale_writes(
        "import cosmoz_data_pipeline_spark.plans.catalog_ext as ce\n"
        "import cosmoz_data_pipeline_spark.domain.levels\n"
        "from cosmoz_data_pipeline_spark.plans import catalog_ext as CE\n"
        "from cosmoz_data_pipeline_spark.domain import levels\n"
        "from cosmoz_data_pipeline_spark.plans import REGISTRY\n"
        "CE.NO_SUCH_FLAG = True\n"
        "ce.MINHASH_SIG_KERNEL = True\n"
        "levels.LEVEL1_SEQ_BUCKETED, levels.GONE_FLAG = None, False\n"
        "cosmoz_data_pipeline_spark.domain.levels.DOTTED_GONE = 1\n"
        "setattr(CE, 'ALSO_GONE', 1)\n"
        "REGISTRY.NOT_A_MODULE = 1\n"
        "def f():\n"
        "    from cosmoz_data_pipeline_spark.operators import asof\n"
        "    asof.ASOF_BUCKETED = None\n"
        "    asof.NOT_THERE: bool = True\n"
        "    asof.ALSO_NOT_THERE += 1\n"
    )
    assert sorted(t for _, t in bad) == [
        "CE.ALSO_GONE",
        "CE.NO_SUCH_FLAG",
        "asof.ALSO_NOT_THERE",
        "asof.NOT_THERE",
        "cosmoz_data_pipeline_spark.domain.levels.DOTTED_GONE",
        "levels.GONE_FLAG",
    ], bad
