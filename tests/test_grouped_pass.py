"""The one grouped pass of the batched grouped operators, no Spark.

`kernel.map_sorted_groups` carries each Arrow batch's trailing group into
the next batch, so its per-frame function sees only whole groups however
the rows are cut into batches. AST walks in the style of
tests/test_stream_structure.py keep it the one place that sorts partitions
for a grouped pass and that finds group boundaries, and keep the tier
rollups on one path, so the kernel builds no ``F.window`` groups of its
own."""

import ast
import glob
import os

import numpy as np
import pandas as pd
import pytest

from cesium_spark.kernel import map_sorted_groups

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KERNEL = os.path.join("cesium_spark", "kernel.py")


def _modules():
    for path in glob.glob(os.path.join(ROOT, "cesium_spark", "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)
        with open(path) as f:
            yield rel, ast.parse(f.read(), rel)


def _calls(tree, attr):
    """(top-level def name, node) of every ``<expr>.attr(...)`` call."""
    for top in tree.body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == attr):
                yield getattr(top, "name", None), node


class _Narrow:
    """The part of a DataFrame `map_sorted_groups` reads: it keeps the
    per-partition function instead of planning a query."""

    class sparkSession:
        conf = {"spark.sql.shuffle.partitions": "4"}

    def repartition(self, n, *cols):
        return self

    def sortWithinPartitions(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


@pytest.mark.parametrize("seed", range(8))
def test_per_frame_sees_whole_groups_under_any_batch_cut(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 300))
    rows = pd.DataFrame({
        "a": np.sort(rng.integers(0, 4, n)),
        "b": rng.integers(0, 3, n),
        "v": np.arange(n),
    }).sort_values(["a", "b", "v"], ignore_index=True)
    truth = [(k, list(g["v"])) for k, g in rows.groupby(["a", "b"], sort=False)]

    seen = []

    def per_frame(body, starts):
        assert starts[0] == 0 and (np.diff(starts) > 0).all()
        for s, z in zip(starts, np.append(starts[1:], len(body))):
            g = body.iloc[s:z]
            seen.append(((g["a"].iloc[0], g["b"].iloc[0]), list(g["v"])))
        return body.iloc[starts]

    narrow = _Narrow()
    map_sorted_groups(narrow, ["a", "b"], ["v"], per_frame, "a long")
    cuts = np.sort(rng.integers(0, n + 1, int(rng.integers(0, 12))))
    batches = [rows.iloc[lo:hi] for lo, hi in zip([0, *cuts], [*cuts, n])]
    out = pd.concat(list(narrow.fn(iter(batches))), ignore_index=True)
    assert seen == truth
    assert len(out) == len(truth)


def test_sort_within_partitions_only_in_the_grouped_pass_and_layout():
    callers = {(rel, name) for rel, tree in _modules()
               for name, _ in _calls(tree, "sortWithinPartitions")}
    assert {(rel, name) for rel, name in callers
            if rel != os.path.join("cesium_spark", "operators", "layout.py")} \
        == {(KERNEL, "map_sorted_groups")}


def test_no_module_outside_the_kernel_reaches_its_group_helpers():
    helpers = {"iter_group_frames", "group_starts", "_group_starts"}
    users = set()
    for rel, tree in _modules():
        if rel == KERNEL:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                if helpers & {a.name for a in node.names}:
                    users.add(rel)
            elif isinstance(node, ast.Attribute) and node.attr in helpers:
                users.add(rel)
    assert users == set()


def test_kernel_builds_no_window_groups():
    _, tree = next((rel, t) for rel, t in _modules() if rel == KERNEL)
    assert [name for name, _ in _calls(tree, "window")] == []
