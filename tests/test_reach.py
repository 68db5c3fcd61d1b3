"""Reachability guards, no Spark. Every `cesium_spark` module must be
imported, directly or transitively, from something that runs it (the
driver entry, the headline bench, the spark-submit jobs, the job-level
benchmark), or be on the kept list below: an import-graph walk over the
AST, function-local imports included. Inside the package, every
top-level function and method must be reached by name from those entry
points or the kept modules, or be on the kept function list."""

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


# Reached only by tests, and kept on purpose.
KEPT_FUNCTIONS = {
    # the north star's streamed continuous aggregate: the streaming head
    # of the partial-state cascade that rollup_states rolls up batch-side
    "cesium_spark.streaming.stream.streaming_partial_states",
    # the full-corpus span index the streamed span head must equal
    "cesium_spark.operators.dedup.span_index_rows",
    # the text-input SimHash the JVM-tokenized path is checked against
    "cesium_spark.operators.dedup._simhash_batch",
    # the Python form of the per-group digest compress_blocks computes in the JVM
    "cesium_spark.operators.compress.text_content_hash",
    # the two-way merge that pins the sketch's defining property
    "cesium_spark.operators.sketch.ddsketch_merge",
}


def _defs(tree):
    """(qualified name, node) of each top-level function and method."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield f"{node.name}.{sub.name}", sub


def _names(node):
    """Every name `node` may call a function by: bare names, attribute
    names and imported names. A name shared by two functions reaches
    both, so the walk errs towards reached."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rpartition(".")[2]


def _module_code(tree):
    """The parts of a module that run on import: all of it but the
    bodies of its top-level functions and methods."""
    for node in tree.body:
        if isinstance(node, ast.ClassDef):
            yield from (*node.bases, *node.keywords, *node.decorator_list)
            body = node.body
        else:
            body = [node]
        for stmt in body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from (*stmt.decorator_list, stmt.args)
            else:
                yield stmt


def _unreached_functions():
    mods = _package_modules()
    trees = {}
    for mod, path in mods.items():
        with open(path) as f:
            trees[mod] = ast.parse(f.read(), path)
    by_name = {}
    for tree in trees.values():
        for _, node in _defs(tree):
            by_name.setdefault(node.name, []).append(node)
    # roots: the entry files, the kept modules whole, and the code that
    # runs on import of every imported module
    roots = []
    for pat in ENTRY_FILES:
        for path in glob.glob(os.path.join(ROOT, pat)):
            with open(path) as f:
                roots.append(ast.parse(f.read(), path))
    roots += [trees[m] for m in KEPT_UNREACHED]
    for mod in set(mods) - _unreached():
        roots += _module_code(trees[mod])
    seen = set()
    while roots:
        for name in _names(roots.pop()):
            if name not in seen:
                seen.add(name)
                roots += by_name.get(name, [])
    return {
        f"{mod}.{qual}"
        for mod, tree in trees.items() if mod not in KEPT_UNREACHED
        for qual, node in _defs(tree)
        # dunders run implicitly (construction, operators, with-blocks)
        if node.name not in seen
        and not (node.name.startswith("__") and node.name.endswith("__"))
    }


def test_only_the_kept_modules_are_unreached():
    assert _unreached() == KEPT_UNREACHED


def test_only_the_kept_functions_are_unreached():
    assert _unreached_functions() == KEPT_FUNCTIONS
