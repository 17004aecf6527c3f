"""Every module under hexspark/ must be imported, directly or through other
modules, from a product surface: the driver contract, bench.py, the batch
and corpus runner scripts, perfbench, the compat API or the streaming
package. A module only its own tests import is dead code.

UNREACHED names the modules still kept without a product caller; each is
tested on its own and is either wired into a surface or deleted later.
The guard fails on any other unreached module, and on a listed module
that a surface now reaches (so the list only shrinks)."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ROOTS = ["__spark_entry__.py", "bench.py", "scripts/run_pipeline.py",
         "scripts/run_corpus.py", "perfbench/*.py", "hexspark/compat.py",
         "hexspark/streaming/*.py"]
UNREACHED = {"hexspark.pipeline.active", "hexspark.pipeline.pprl",
             "hexspark.pipeline.tokensim"}


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
