"""Every module-level name in the package is used by something.

A source-only scan (no Spark): parse the package, the tests and the bench
code, collect every ``Name`` / ``Attribute`` load and every import alias, and
fail on a module-level ``def`` / ``class`` / assignment in the package that
nothing references outside its own definition.  References made only from
inside other unreferenced definitions do not count (iterated to a fixed
point), so a dead helper does not keep its dead constant alive.  Docstring
mentions are not references: only AST nodes are read.

Exempt: dunders, and query builders registered through ``queries.q(...)``
(the registry reaches them by name).  Any other exemption goes in ALLOWLIST
with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "adavnceseo_crawler_spark"
SCANNED = [PACKAGE, ROOT / "tests", ROOT / "perfbench", ROOT / "BENCH",
           ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]

# (module path relative to the repo root, name) -> reason it stays unreferenced
ALLOWLIST: dict[tuple[str, str], str] = {
    ("adavnceseo_crawler_spark/synth.py", "gen_documents"):
        "BENCH/corpus_scaling.py calls it from the script text it runs in a "
        "subprocess (a string, not an AST node) to build the corpus-scaling "
        "corpus",
}


def _files():
    for p in SCANNED:
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(p.rglob("*.py"))


def _registered_query(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        f = d.func if isinstance(d, ast.Call) else None
        if (isinstance(f, ast.Name) and f.id == "q") or (
            isinstance(f, ast.Attribute) and f.attr == "q"
        ):
            return True
    return False


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = []
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    names = []
    for t in targets:
        for n in ast.walk(t):
            if isinstance(n, ast.Name):
                names.append(n.id)
    return names


def _references(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) for every Name/Attribute load and import alias."""
    refs = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            refs.append((n.id, n.lineno))
        elif isinstance(n, ast.Attribute) and not isinstance(n.ctx, ast.Store):
            refs.append((n.attr, n.lineno))
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            for a in n.names:
                refs.extend((part, n.lineno) for part in a.name.split("."))
    return refs


def scan() -> list[str]:
    """Module-level package names with no live reference, as 'path:line name'."""
    defs = []  # (rel path, name, first line, last line)
    refs = []  # (rel path, name, line)
    for path in _files():
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        refs.extend((rel, name, line) for name, line in _references(tree))
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if _registered_query(node):
                continue
            for name in _defined_names(node):
                if name.startswith("__") and name.endswith("__"):
                    continue
                if (rel, name) not in ALLOWLIST:
                    defs.append((rel, name, node.lineno, node.end_lineno))

    by_name: dict[str, list[tuple[str, int]]] = {}
    for rel, name, line in refs:
        by_name.setdefault(name, []).append((rel, line))
    dead: list[tuple] = []

    def used(d):
        for rel, line in by_name.get(d[1], ()):
            if any(rel == e[0] and e[2] <= line <= e[3] for e in dead + [d]):
                continue
            return True
        return False

    while True:
        found = [d for d in defs if d not in dead and not used(d)]
        if not found:
            break
        dead.extend(found)
    return sorted(f"{d[0]}:{d[2]} {d[1]}" for d in dead)


def test_no_dead_module_names():
    for (rel, name), reason in ALLOWLIST.items():
        tree = ast.parse((ROOT / rel).read_text())
        assert reason.strip() and any(
            name in _defined_names(n) for n in tree.body
        ), f"stale allowlist entry {rel} {name}"
    dead = scan()
    assert not dead, "module-level names nothing uses:\n" + "\n".join(dead)
