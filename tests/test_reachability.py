"""Every library module is reached from an entry point.

An AST import walk (no imports executed, no Spark) starts at the files a
user or the benchmark runs and follows every ``import`` /
``from ... import`` of a package module, plus any string constant that
spells a package module's dotted name. A module under
``distributedqueryengine_spark/`` that the walk never reaches is code
that only its own tests run; the test names it.

``KNOWN_UNREACHED`` holds the unreached modules still waiting for
deletion. The list may only shrink: a new unreached module fails the
test, and so does an entry that is reached again or no longer exists.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "distributedqueryengine_spark"

# the entry points: the query inventory (`entry`/`queries`/`oracle_sql`),
# the bench CLI, the repo benchmark, the paper's query service and
# pipeline, the oracle harness
ENTRY_FILES = ["__spark_entry__.py", "bench.py", "tools/check_correctness.py"]
ENTRY_MODULES = [f"{PACKAGE}.api", f"{PACKAGE}.service", f"{PACKAGE}.pipeline"]

# unreached modules kept, with their tests, until a later deletion
KNOWN_UNREACHED = {
    f"{PACKAGE}.functions.bpe",
    f"{PACKAGE}.functions.diversity",
    f"{PACKAGE}.functions.linkage",
    f"{PACKAGE}.operators.abtest",
    f"{PACKAGE}.operators.attribution",
    f"{PACKAGE}.operators.cdc",
    f"{PACKAGE}.operators.geo",
    f"{PACKAGE}.operators.skew",
    f"{PACKAGE}.operators.survival",
    f"{PACKAGE}.operators.timeseries",
    f"{PACKAGE}.streaming.stateful",
}


def package_modules() -> dict[str, str]:
    """Dotted module name -> file path, for every .py in the package."""
    mods = {}
    for root, dirs, files in os.walk(os.path.join(REPO, PACKAGE)):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = path
    return mods


def _with_parents(name: str) -> list[str]:
    """Importing a.b.c runs a/__init__ and a/b/__init__ first."""
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def referenced_modules(path: str, module: str | None, mods: dict[str, str]) -> set[str]:
    """Package modules that the file at ``path`` imports or names."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    is_pkg = os.path.basename(path) == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level and module:
                anchor = module.split(".")
                anchor = anchor[: len(anchor) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([base] if base else []))
            found.add(base)
            # `from pkg import sub` imports the submodule pkg.sub
            found.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            found.add(node.value)
    out = set()
    for name in found:
        out.update(p for p in _with_parents(name) if p in mods)
    return out


def unreached_modules() -> list[str]:
    mods = package_modules()
    roots = [os.path.join(REPO, f) for f in ENTRY_FILES]
    perf = os.path.join(REPO, "perfbench")
    roots += sorted(os.path.join(perf, f) for f in os.listdir(perf) if f.endswith(".py"))
    seen: set[str] = set()
    todo = [m for name in ENTRY_MODULES for m in _with_parents(name)]
    for path in roots:
        todo.extend(referenced_modules(path, None, mods))
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(referenced_modules(mods[name], name, mods) - seen)
    return sorted(set(mods) - seen)


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = [m for m in unreached_modules() if m not in KNOWN_UNREACHED]
    assert not unreached, (
        f"{len(unreached)} package module(s) reached from no entry point "
        f"({', '.join(ENTRY_FILES + ENTRY_MODULES)}, perfbench/*.py): "
        + ", ".join(unreached)
    )


def test_known_unreached_list_is_current():
    mods = package_modules()
    stale = sorted(m for m in KNOWN_UNREACHED if m not in mods)
    assert not stale, "KNOWN_UNREACHED names deleted module(s): " + ", ".join(stale)
    reached = sorted(KNOWN_UNREACHED - set(unreached_modules()))
    assert not reached, (
        "KNOWN_UNREACHED names module(s) an entry point now reaches: " + ", ".join(reached)
    )
