"""The history spec module stays test-side, and the library's moment
columns equal the spec's per-request scalar moments."""

from __future__ import annotations

import ast
import math
from pathlib import Path

import numpy as np
import pytest

from ohsome_planet_spark.functions.waygeom import is_area, way_geometry
from ohsome_planet_spark.operators.history import batch_gc_moment_cols, batch_geometries
from tests.history_spec import _gc_moments

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "ohsome_planet_spark"


def _imported_modules(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module or ""


def test_library_imports_nothing_from_tests():
    bad = [
        f"{path.relative_to(REPO)}: {mod}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for mod in _imported_modules(ast.parse(path.read_text(encoding="utf-8")))
        if mod == "tests" or mod.startswith("tests.")
    ]
    assert not bad, "\n".join(bad)


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text(encoding="utf-8")).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
    return names


def test_spec_twins_are_not_defined_in_the_library():
    spec = _top_level_names(REPO / "tests" / "history_spec.py")
    lib = _top_level_names(PACKAGE / "operators" / "history.py")
    assert {"merge_contributions", "_way_partition_kernel",
            "_relation_partition_kernel", "node_contributions_kernel"} <= spec
    assert not spec & lib, sorted(spec & lib)


def test_spec_node_hop_drops_spark_zip_finders_first():
    """The node twin's mapInPandas function left the library's hop scan
    (tests/test_python_hops.py) with it; it keeps the same first call."""
    from tests.test_python_hops import _drops_first, _hops

    tree = ast.parse((REPO / "tests" / "history_spec.py").read_text(encoding="utf-8"))
    hops = [fn for fn, _ in _hops(tree)]
    assert [fn.name for fn in hops] == ["partition_fn"]
    assert _drops_first(hops[0])


def _random_requests(seed: int):
    """Way snapshots as geometry requests: points, open lines, zero-length
    lines, closed rings (simple and self-intersecting), open rings with area
    tags, members with invalid or invisible coordinates, empty requests."""
    rng = np.random.default_rng(seed)
    reqs = []
    for _ in range(300):
        shape = rng.integers(0, 8)
        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        if shape == 0:  # point
            pts = [(cx, cy)]
        elif shape == 1:  # open line
            n = int(rng.integers(2, 14))
            pts = list(zip(cx + rng.normal(0, 1, n), cy + rng.normal(0, 1, n)))
        elif shape == 2:  # zero-length line
            pts = [(cx, cy)] * int(rng.integers(2, 5))
        elif shape in (3, 4):  # closed ring, simple (convex) or shuffled
            n = int(rng.integers(3, 24))
            ang = np.sort(rng.uniform(0, 2 * math.pi, n))
            if shape == 4:
                rng.shuffle(ang)
            r = rng.uniform(0.01, 2.0)
            pts = list(zip(cx + r * np.cos(ang), cy + r * np.sin(ang)))
            pts.append(pts[0])
        elif shape == 5:  # open ring under area tags
            n = int(rng.integers(3, 10))
            pts = list(zip(cx + rng.normal(0, 1, n), cy + rng.normal(0, 1, n)))
        elif shape == 6:  # empty
            pts = []
        else:  # every member invalid
            pts = [(200.0, cy), (float("nan"), cy), (cx, -95.0)]
        vis = [True] * len(pts)
        if pts and shape != 7 and rng.random() < 0.3:
            # one invalid or invisible member inside the request
            i = int(rng.integers(0, len(pts)))
            if rng.random() < 0.5:
                vis[i] = False
            else:
                pts[i] = (181.0, pts[i][1])
        # empty requests under area tags too: kind Polygon, no coordinates
        closed_refs = shape in (3, 4, 5) or (shape >= 6 and rng.random() < 0.5)
        n_refs = max(len(pts), 3) if closed_refs else len(pts)
        refs = (1, 1) if closed_refs else (1, 2)
        tags = {"building": "yes"} if closed_refs or rng.random() < 0.2 else {}
        reqs.append((pts, vis, tags, refs, n_refs))
    return reqs


@pytest.mark.parametrize("seed", range(5))
def test_batch_gc_moment_cols_match_scalar_spec(seed):
    """Every request's column components equal the spec's `_gc_moments` of
    its way geometry. The branch each request takes (polygon, line part,
    point fallback, empty), every zero and the point fallback's values are
    pinned bit for bit. The six summed components are pinned to 1e-9: the library
    sums a request with np.add.reduceat and the spec with np.sum, which
    associate differently from three summands on."""
    reqs = _random_requests(seed)
    isarea = np.array([is_area(t, r[0], r[1], n) for _, _, t, r, n in reqs], bool)
    geo = batch_geometries(
        np.array([len(p) for p, *_ in reqs], np.int64), isarea,
        np.array([x for p, *_ in reqs for x, _ in p], np.float64),
        np.array([y for p, *_ in reqs for _, y in p], np.float64),
        np.array([v for _, vis, *_ in reqs for v in vis], bool),
    )
    cols = batch_gc_moment_cols(geo)
    keys = ("aw", "gx", "gy", "tl", "lx", "ly", "npt", "px", "py")
    expected = np.zeros((len(keys), len(reqs)))
    valid = np.zeros(len(reqs), bool)
    kinds = set()
    for r, (pts, vis, tags, refs, n_refs) in enumerate(reqs):
        kind, data = way_geometry(
            np.array([x for x, _ in pts], np.float64),
            np.array([y for _, y in pts], np.float64),
            np.array(vis, bool), tags, refs[0], refs[1], n_refs)
        if data is None:
            continue
        valid[r] = True
        kinds.add(kind)
        expected[:, r] = _gc_moments(kind, data)
    assert kinds == {"Point", "LineString", "Polygon"}
    assert (~valid).any()
    np.testing.assert_array_equal(cols["valid"], valid)
    for i, k in enumerate(keys):
        got = np.asarray(cols[k], np.float64)
        if k in ("npt", "px", "py"):
            assert np.array_equal(got.view(np.int64), expected[i].view(np.int64)), k
        else:
            np.testing.assert_allclose(got, expected[i], rtol=1e-9, atol=1e-9, err_msg=k)
            zero = expected[i] == 0.0
            assert np.array_equal(got[zero].view(np.int64), expected[i][zero].view(np.int64)), k
            assert (got[~zero] != 0.0).all(), k
