"""Every module under hexspark/ must be imported, directly or through other
modules, from a product surface: the driver contract, bench.py, the batch
and corpus runner scripts, perfbench, the compat API or the streaming
package. A module only its own tests import is dead code.

UNREACHED names the modules still kept without a product caller; each is
tested on its own and is either wired into a surface or deleted later.
The guard fails on any other unreached module, and on a listed module
that a surface now reaches (so the list only shrinks).

The same holds per definition: every top-level function and class, every
class method and every module constant (a top-level assignment) under
hexspark/, public or private (single leading underscore; dunders are
exempt), must be read in code (an identifier or attribute, not a
comment, docstring, string, re-export import or assignment target) of a
non-test file, outside its own definition. The scan runs to a fixed
point: a name used only inside unreached definitions, or only inside the
UNREACHED modules, is unreached too, so a deletion cannot leave an
orphaned private helper or constant behind. Uses are matched by name, so
a method counts as reached when any live code reads an attribute of that
name. streaming/ and compat.py are product surfaces themselves and are
not checked. UNREACHED_FUNCS lists the functions still kept, and only
shrinks, as UNREACHED does; no method or constant is exempt."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ROOTS = ["__spark_entry__.py", "bench.py", "scripts/run_pipeline.py",
         "scripts/run_corpus.py", "perfbench/*.py", "hexspark/compat.py",
         "hexspark/streaming/*.py"]
UNREACHED = {"hexspark.pipeline.active", "hexspark.pipeline.pprl",
             "hexspark.pipeline.tokensim"}
NON_TEST = ["*.py", "hexspark/**/*.py", "scripts/*.py", "perfbench/*.py"]
SURFACES = ("hexspark.streaming", "hexspark.compat")
# blocking.band_projection stays as the brute-force band oracle of tests;
# probe.probe_clusters (with its _hex_dist) stays as the exact oracle of
# test_streaming_probe and test_cluster_probe
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
    assert sorted(set(files) - seen) == sorted(UNREACHED)


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
        if (not mod.startswith("hexspark") or mod in UNREACHED
                or mod.startswith(SURFACES)):
            continue
        for key, kind, first, last in _defs(tree, mod):
            defs[key] = (kind, mod, first, last)

    dead: set[str] = set()

    def live(key: str, mod: str, line: int) -> bool:
        return mod not in UNREACHED and not any(
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
