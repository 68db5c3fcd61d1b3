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


# One owner per rollup decision: the tier grid (operators/rollup.py), the
# default measurement channel (kernel.py) and the partial-state aggregate
# (operators/aggstate.py).
TIER_NAMES = {"1m", "1h", "1d", "1 minute", "1 hour", "1 day"}
UNITS = {"second", "minute", "hour", "day"}


def _parsed_modules():
    for mod, path in sorted(_package_modules().items()):
        with open(path) as f:
            yield mod, ast.parse(f.read(), path)


def _code_nodes(tree):
    """Every node of `tree` but its docstrings and its parameter
    defaults (a default tier chooses a tier, it does not define one)."""
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and ast.get_docstring(node) is not None:
            skip.add(id(node.body[0]))
        if isinstance(node, ast.arguments):
            skip.update(id(d) for d in (*node.defaults, *node.kw_defaults) if d is not None)
    todo = [tree]
    while todo:
        node = todo.pop()
        if id(node) in skip:
            continue
        yield node
        todo.extend(ast.iter_child_nodes(node))


def _const(node):
    return node.value if isinstance(node, ast.Constant) else None


def test_only_rollup_spells_the_tier_grid():
    """No module but operators/rollup.py spells a tier name, keys a map by
    tier or by time unit, or reads TIERS; nothing defines _TIER_SECONDS."""
    found = []
    for mod, tree in _parsed_modules():
        for node in _code_nodes(tree):
            name = node.id if isinstance(node, ast.Name) else (
                node.attr if isinstance(node, ast.Attribute) else (
                    node.name if isinstance(node, ast.alias) else None))
            if name == "_TIER_SECONDS":
                found.append((mod, name))
            if mod == "cesium_spark.operators.rollup":
                continue
            if name == "TIERS" or _const(node) in TIER_NAMES:
                found.append((mod, name or _const(node)))
            if isinstance(node, ast.Dict) and any(
                    _const(k) in TIER_NAMES | UNITS for k in node.keys if k is not None):
                found.append((mod, "dict keyed by tier or unit"))
    assert found == []


def test_only_the_kernel_spells_the_default_measurement():
    """``length(text)``, the default channel, is spelled in kernel.py only
    (``kernel.measurement``)."""
    found = []
    for mod, tree in _parsed_modules():
        if mod == "cesium_spark.kernel":
            continue
        for node in _code_nodes(tree):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "length":
                arg = node.args[0] if node.args else None
                if _const(arg) == "text" or (
                        isinstance(arg, ast.Call) and arg.args and _const(arg.args[0]) == "text"):
                    found.append((mod, node.lineno))
    assert found == []


def test_stream_builds_no_partial_state_aggregate():
    """The streamed partial states are aggstate.partial_states on a
    watermarked stream: stream.py aggregates no copy of STATE_COLS."""
    with open(os.path.join(ROOT, "cesium_spark", "operators", "aggstate.py")) as f:
        tree = ast.parse(f.read())
    state_cols = next(
        set(ast.literal_eval(n.value)) for n in tree.body
        if isinstance(n, ast.Assign) and getattr(n.targets[0], "id", None) == "STATE_COLS")
    with open(os.path.join(ROOT, "cesium_spark", "streaming", "stream.py")) as f:
        tree = ast.parse(f.read())
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "agg":
            aliases = {
                _const(c.args[0]) for c in ast.walk(node)
                if isinstance(c, ast.Call) and getattr(c.func, "attr", None) == "alias" and c.args}
            if len(aliases & state_cols) > 2:
                found.append(node.lineno)
    assert found == []
