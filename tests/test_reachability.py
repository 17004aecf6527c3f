"""Every module under hexspark/ must be imported, directly or through other
modules, from a product surface: the driver contract, bench.py, the batch
and corpus runner scripts, perfbench, the compat API or the streaming
package. A module only its own tests import is dead code, and the guard
fails on any unreached module.

The same holds per definition: every top-level function and class, every
class method and every module constant (a top-level assignment) under
hexspark/, public or private (single leading underscore; dunders are
exempt), must be read in code (an identifier or attribute, not a
comment, docstring, string, re-export import or assignment target) of a
non-test file, outside its own definition. The scan runs to a fixed
point: a name used only inside unreached definitions is unreached too, so
a deletion cannot leave an orphaned private helper or constant behind.
Uses are matched by name, so a method counts as reached when any live
code reads an attribute of that name. streaming/ and compat.py are
product surfaces themselves and are not checked. UNREACHED_FUNCS lists
the test oracles still kept, and only shrinks; no method or constant is
exempt.

The test modules are held to the same rule for what they import: every
name a tests/*.py module binds by an import must be read in that module.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ROOTS = ["__spark_entry__.py", "bench.py", "scripts/run_pipeline.py",
         "scripts/run_corpus.py", "perfbench/*.py", "hexspark/compat.py",
         "hexspark/streaming/*.py"]
NON_TEST = ["*.py", "hexspark/**/*.py", "scripts/*.py", "perfbench/*.py"]
SURFACES = ("hexspark.streaming", "hexspark.compat")
# blocking.band_projection stays as the brute-force band oracle of tests;
# probe.probe_clusters stays as the exact oracle of test_streaming_probe
# and test_cluster_probe
UNREACHED_FUNCS = {
    "hexspark.pipeline.blocking.band_projection",
    "hexspark.pipeline.probe.probe_clusters",
}


def _module(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path) -> set[str]:
    """Dotted names a file imports, each with its parent packages."""
    pkg = _module(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[:len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return {".".join(n.split(".")[:i + 1]) for n in names
            for i in range(n.count(".") + 1)}


def test_every_hexspark_module_is_reached_from_a_product_surface():
    files = {_module(p): p for p in (REPO / "hexspark").rglob("*.py")}
    todo = [p for g in ROOTS for p in REPO.glob(g)]
    seen = {_module(p) for p in todo}
    while todo:
        for name in _imports(todo.pop()) - seen:
            seen.add(name)
            if name in files:
                todo.append(files[name])
    assert sorted(set(files) - seen) == [], "unreached module"


def _first_line(node: ast.FunctionDef | ast.ClassDef) -> int:
    return min([node.lineno] + [d.lineno for d in node.decorator_list])


def _defs(tree: ast.Module, mod: str):
    """(key, kind, first line, last line) of each checked definition."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            if not node.name.startswith("__"):
                yield f"{mod}.{node.name}", "func", _first_line(node), node.end_lineno
            for m in node.body if isinstance(node, ast.ClassDef) else []:
                if isinstance(m, ast.FunctionDef) and not m.name.startswith("__"):
                    yield (f"{mod}.{node.name}.{m.name}", "method", _first_line(m),
                           m.end_lineno)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if (isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                            and not n.id.startswith("__")):
                        yield f"{mod}.{n.id}", "const", node.lineno, node.end_lineno


def _unreached() -> dict[str, set[str]]:
    """Unreached definitions by kind: "func", "method", "const"."""
    defs = {}  # key -> (kind, module, first line, last line)
    uses = defaultdict(list)  # identifier -> [(module, line)]
    for path in {p for g in NON_TEST for p in REPO.glob(g)}:
        tree = ast.parse(path.read_text())
        mod = _module(path)
        for node in ast.walk(tree):
            # a store (`X = ...`, `obj.x = ...`) names a target, it reads nothing
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                uses[node.id].append((mod, node.lineno))
            elif (isinstance(node, ast.Attribute)
                    and not isinstance(node.ctx, ast.Store)):
                uses[node.attr].append((mod, node.lineno))
        if not mod.startswith("hexspark") or mod.startswith(SURFACES):
            continue
        for key, kind, first, last in _defs(tree, mod):
            defs[key] = (kind, mod, first, last)

    dead: set[str] = set()

    def live(key: str, mod: str, line: int) -> bool:
        return not any(
            defs[k][1] == mod and defs[k][2] <= line <= defs[k][3]
            for k in dead | {key}
        )

    while True:
        new = {k for k in set(defs) - dead
               if not any(live(k, m, n) for m, n in uses[k.rsplit(".", 1)[1]])}
        if not new:
            break
        dead |= new
    out = {"func": set(), "method": set(), "const": set()}
    for k in dead:
        out[defs[k][0]].add(k)
    return out


def test_every_public_function_is_reached_from_non_test_code():
    dead = _unreached()["func"]
    assert sorted(dead - UNREACHED_FUNCS) == [], "new unreached function"
    assert sorted(UNREACHED_FUNCS - dead) == [], "listed function now reached"


def test_every_method_is_reached_from_non_test_code():
    assert sorted(_unreached()["method"]) == [], "unreached method"


def test_every_module_constant_is_read_by_non_test_code():
    assert sorted(_unreached()["const"]) == [], "unread module constant"


def _unread_imports(path: Path) -> list[str]:
    """Names `path` binds by an import but never reads."""
    tree = ast.parse(path.read_text())
    bound = {}  # name -> line
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for a in node.names:
                name = a.asname or a.name.split(".")[0]
                bound.setdefault(name, node.lineno)
    read = {n.id for n in ast.walk(tree)
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)}
    return [f"{path.name}:{line} {name}"
            for name, line in sorted(bound.items(), key=lambda x: x[1])
            if name not in read]


def test_every_test_import_is_read():
    unread = [u for p in sorted((REPO / "tests").glob("*.py"))
              for u in _unread_imports(p)]
    assert unread == [], "unread test import"
