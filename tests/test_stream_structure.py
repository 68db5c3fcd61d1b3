"""Structural guards on the streaming module, no Spark (AST walks in the
style of tests/test_reach.py): `stream.py`'s `__all__` names every public
top-level function, and `applyInPandasWithState` is called only by the
keyed-state frame `_keyed_state_head`, so a new keyed head goes through
the frame."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STREAM = os.path.join("cesium_spark", "streaming", "stream.py")


def _tree(rel):
    with open(os.path.join(ROOT, rel)) as f:
        return ast.parse(f.read(), rel)


def test_stream_all_lists_every_public_def():
    tree = _tree(STREAM)
    public = {n.name for n in tree.body
              if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")}
    (exported,) = [ast.literal_eval(n.value) for n in tree.body
                   if isinstance(n, ast.Assign)
                   and [t.id for t in n.targets] == ["__all__"]]
    assert len(exported) == len(set(exported))
    assert set(exported) == public


def test_apply_in_pandas_with_state_only_in_the_keyed_frame():
    callers = set()
    for path in glob.glob(os.path.join(ROOT, "cesium_spark", "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)
        for top in _tree(rel).body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "applyInPandasWithState"):
                    callers.add((rel, getattr(top, "name", None)))
    assert callers == {(STREAM, "_keyed_state_head")}
