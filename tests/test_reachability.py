"""Every module under hexspark/ must be imported, directly or through other
modules, from a product surface: the driver contract, bench.py, the batch
and corpus runner scripts, perfbench, the compat API or the streaming
package. A module only its own tests import is dead code.

UNREACHED names the modules still kept without a product caller; each is
tested on its own and is either wired into a surface or deleted later.
The guard fails on any other unreached module, and on a listed module
that a surface now reaches (so the list only shrinks).

The same holds per function: every top-level function and class under
hexspark/, public or private (single leading underscore), must be named
in code (an identifier or attribute, not a comment, docstring, string or
re-export import) of a non-test file, outside its own definition. The
scan runs to a fixed point: a name used only inside unreached
definitions, or only inside the UNREACHED modules, is unreached too, so
a deletion cannot leave an orphaned private helper behind. streaming/
and compat.py are product surfaces themselves and are not checked.
UNREACHED_FUNCS lists the ones still kept, and only shrinks, as
UNREACHED does."""

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
    "hexspark.columns.hamming_bytes", "hexspark.columns.simhash256",
    "hexspark.columns.simhash256_series", "hexspark.columns.valid_hex",
    "hexspark.columns.within_dist_hex", "hexspark.ops.dedup.ngram_jaccard",
    "hexspark.ops.dedup.ngram_set",
    "hexspark.ops.multimodal.decode_bmp_pixels",
    "hexspark.ops.multimodal.decode_wav_samples",
    "hexspark.ops.multimodal.encode_bmp_pixels",
    "hexspark.ops.multimodal.resize_images",
    "hexspark.ops.multimodal.sample_audio_frames",
    "hexspark.ops.multimodal.synthetic_media",
    "hexspark.ops.sampling.sample_fraction",
    "hexspark.ops.sketch.bloom_may_contain",
    "hexspark.pipeline.align.containment_pairs",
    "hexspark.pipeline.blocking.band_projection",
    "hexspark.pipeline.clustering.threshold_components",
    "hexspark.pipeline.fs.classify", "hexspark.pipeline.linkage.link_tables",
    "hexspark.pipeline.matching.group_linkage",
    "hexspark.pipeline.probe.first_match_index",
    "hexspark.pipeline.probe.probe_clusters",
    "hexspark.pipeline.repair.cluster_diagnostics",
    "hexspark.pipeline.repair.repair_clusters",
    "hexspark.pipeline.scoring.edit_distance",
    "hexspark.pipeline.scoring.edit_similarity",
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


def _unreached_funcs() -> set[str]:
    defs = {}  # "module.name" -> (module, first line, last line)
    uses = defaultdict(list)  # identifier -> [(module, line)]
    for path in {p for g in NON_TEST for p in REPO.glob(g)}:
        tree = ast.parse(path.read_text())
        mod = _module(path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                uses[node.id].append((mod, node.lineno))
            elif isinstance(node, ast.Attribute):
                uses[node.attr].append((mod, node.lineno))
        if (not mod.startswith("hexspark") or mod in UNREACHED
                or mod.startswith(SURFACES)):
            continue
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and not node.name.startswith("__")):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs[f"{mod}.{node.name}"] = (mod, first, node.end_lineno)

    dead: set[str] = set()

    def live(key: str, mod: str, line: int) -> bool:
        return mod not in UNREACHED and not any(
            defs[k][0] == mod and defs[k][1] <= line <= defs[k][2]
            for k in dead | {key}
        )

    while True:
        new = {k for k in set(defs) - dead
               if not any(live(k, m, n) for m, n in uses[k.rsplit(".", 1)[1]])}
        if not new:
            return dead
        dead |= new


def test_every_public_function_is_reached_from_non_test_code():
    dead = _unreached_funcs()
    assert sorted(dead - UNREACHED_FUNCS) == [], "new unreached function"
    assert sorted(UNREACHED_FUNCS - dead) == [], "listed function now reached"
