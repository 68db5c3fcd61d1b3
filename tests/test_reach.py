"""Reachability guard, no Spark: every `cesium_spark` module must be
imported, directly or transitively, from something that runs it (the
driver entry, the headline bench, the spark-submit jobs, the job-level
benchmark), or be on the kept list below. An import-graph walk over the
AST, function-local imports included."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY_FILES = ["__spark_entry__.py", "bench.py", "jobs/*.py", "perfbench/*.py"]

# Reached only by tests, and kept on purpose (README, "Deliberately
# descoped reference surfaces"): cesium's public API, and the explicit
# salting the north rule requires.
KEPT_UNREACHED = {
    "cesium_spark.api",
    "cesium_spark.time_series",
    "cesium_spark.datasets",
    "cesium_spark.sources.archive",
    "cesium_spark.sources.featureset_io",
    "cesium_spark.sources.transcripts",
    "cesium_spark.operators.salt",
}


def _package_modules():
    mods = {}
    for path in glob.glob(os.path.join(ROOT, "cesium_spark", "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, ROOT)[:-3].split(os.sep)
        mods[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return mods


def _imported(path, module):
    """Dotted names `path` imports: each module and, for `from m import
    n`, the candidate submodule `m.n`. Relative imports resolve against
    `module` (the file's own dotted name, or None for an entry file)."""
    package = module if path.endswith("__init__.py") else (module or "").rpartition(".")[0]
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            prefix = package.rsplit(".", node.level - 1)[0] if node.level else ""
            name = ".".join(filter(None, (prefix, node.module)))
            yield name
            yield from (f"{name}.{a.name}" for a in node.names)


def _unreached():
    mods = _package_modules()
    todo = [(p, None) for pat in ENTRY_FILES for p in glob.glob(os.path.join(ROOT, pat))]
    seen = set()
    while todo:
        path, module = todo.pop()
        for name in _imported(path, module):
            parts = name.split(".")
            # importing a.b.c runs the packages a and a.b as well
            for hit in (".".join(parts[:i]) for i in range(1, len(parts) + 1)):
                if hit in mods and hit not in seen:
                    seen.add(hit)
                    todo.append((mods[hit], hit))
    return set(mods) - seen


def test_only_the_kept_modules_are_unreached():
    assert _unreached() == KEPT_UNREACHED
