"""Python hops drop the zip finders of pyspark's own archives at entry.

A reused Python worker starts every task with pyspark's
`setup_spark_files`, whose `importlib.invalidate_caches()` makes each
cached `zipimporter` re-read its archive's directory. With pyspark.zip,
the py4j zip and the spark-core jar cached 16 times over, that cost
~0.2 s per task. `session.drop_spark_zip_finders()` removes those finders
and keeps every other one; every function the library hands to a Python
worker calls it first.
"""

import ast
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from ohsome_planet_spark.session import drop_spark_zip_finders

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "ohsome_planet_spark"


def _zip_module(path: Path, module: str, value: int) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", f"VALUE = {value}\n")
    return path


def test_drop_spark_zip_finders_keeps_user_archives(tmp_path, monkeypatch):
    lib = tmp_path / "spark" / "python" / "lib"
    spark_zips = {
        "hop_probe_pyspark": _zip_module(lib / "pyspark.zip", "hop_probe_pyspark", 1),
        "hop_probe_py4j": _zip_module(
            lib / "py4j-0.10.9.9-src.zip", "hop_probe_py4j", 2),
        "hop_probe_jar": _zip_module(
            tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar",
            "hop_probe_jar", 3),
    }
    user_zip = _zip_module(tmp_path / "user" / "deps.zip", "hop_probe_user", 4)
    archives = {**spark_zips, "hop_probe_user": user_zip}
    monkeypatch.setattr(sys, "path", [*map(str, archives.values()), *sys.path])
    finders = {}
    for path in archives.values():
        finders[str(path)] = zipimport.zipimporter(str(path))
        monkeypatch.setitem(sys.path_importer_cache, str(path), finders[str(path)])

    drop_spark_zip_finders()

    for path in spark_zips.values():
        assert str(path) not in sys.path_importer_cache
    assert sys.path_importer_cache[str(user_zip)] is finders[str(user_zip)]
    try:
        # a dropped finder is rebuilt through sys.path_hooks on demand
        for i, module in enumerate(archives, start=1):
            assert importlib.import_module(module).VALUE == i
    finally:
        for module in archives:
            sys.modules.pop(module, None)


# --- every worker-side function of the library calls the helper first ------

_HOP_METHODS = {"mapInArrow", "mapInPandas"}


def _is_hop_call(call: ast.Call) -> bool:
    f = call.func
    return isinstance(f, ast.Attribute) and (
        f.attr in _HOP_METHODS or f.attr.startswith("applyIn"))


def _is_pandas_udf(node: ast.AST) -> bool:
    f = node.func if isinstance(node, ast.Call) else node
    return (isinstance(f, ast.Attribute) and f.attr == "pandas_udf") or (
        isinstance(f, ast.Name) and f.id == "pandas_udf")


def _own_nodes(body):
    """The nodes of a function body outside its nested defs."""
    stack = list(body)
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda, ast.ClassDef)):
            stack.extend(ast.iter_child_nodes(node))


def _lookup(name: str, scopes) -> ast.FunctionDef | None:
    for scope in reversed(scopes):
        for node in _own_nodes(scope.body):
            if isinstance(node, ast.FunctionDef) and node.name == name:
                return node
    return None


def _resolve(expr: ast.AST, scopes):
    """The def a hop argument names: a function by name, or the def a
    factory call returns by name."""
    if isinstance(expr, ast.Name):
        return _lookup(expr.id, scopes)
    if isinstance(expr, ast.Call) and isinstance(expr.func, ast.Name):
        factory = _lookup(expr.func.id, scopes)
        if factory is not None:
            for node in _own_nodes(factory.body):
                if isinstance(node, ast.Return) and node.value is not None:
                    return _resolve(node.value, [*scopes, factory])
    return None


def _hops(tree: ast.Module):
    """(def or None, line) for every function handed to a Python worker."""
    found, decorators = [], set()

    def visit(node, scopes):
        if isinstance(node, ast.FunctionDef):
            if any(_is_pandas_udf(d) for d in node.decorator_list):
                found.append((node, node.lineno))
            decorators.update(map(id, node.decorator_list))
            scopes = [*scopes, node]
        if isinstance(node, ast.Call) and node.args and id(node) not in decorators and (
                _is_hop_call(node) or (
                    _is_pandas_udf(node)
                    and isinstance(node.args[0], (ast.Name, ast.Lambda)))):
            found.append((_resolve(node.args[0], scopes), node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    visit(tree, [tree])
    return found


def _drops_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if (isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
        and isinstance(first.value.func, ast.Name)
        and first.value.func.id == "drop_spark_zip_finders"
        and not first.value.args and not first.value.keywords
    )


def test_every_python_hop_drops_spark_zip_finders_first():
    seen, bad = set(), []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        for fn, line in _hops(ast.parse(path.read_text(encoding="utf-8"))):
            if fn is None:
                bad.append(f"{rel}:{line}: hop function not resolvable to a def")
                continue
            seen.add((path.stem, fn.name))
            if not _drops_first(fn):
                bad.append(f"{rel}:{fn.lineno}: {fn.name} does not call "
                           "drop_spark_zip_finders() first")
    assert not bad, "\n".join(bad)
    # the hops of the export path, so the scan cannot quietly find nothing
    assert {
        ("history", "xz2_from_bbox"), ("enrich", "_point_wkb"),
        ("spatial_join", "pip_countries"), ("history_arrow", "partition_fn"),
        ("geoparquet", "write_partition"),
    } <= seen, sorted(seen)


# --- a reused worker's next task finds no pyspark-archive finder ------------

SCRIPT = r"""
import json
import sys

from ohsome_planet_spark.operators.history import xz2_udf
from ohsome_planet_spark.session import get_spark

FRESH = "pyspark.sql.avro.functions"
spark = get_spark(app_name="hops", master="local[1]", shuffle_partitions=1)
spark.sparkContext.addPyFile(sys.argv[1])


def use_user_zip(batches):
    import hop_user_mod

    for b in batches:
        yield b


def probe(batches):
    import importlib
    import sys
    import time
    import zipimport

    import pyarrow as pa

    archives = sorted(f.archive for f in list(sys.path_importer_cache.values())
                      if isinstance(f, zipimport.zipimporter))
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    invalidate_s = time.perf_counter() - t0
    fresh = FRESH not in sys.modules
    mod = importlib.import_module(FRESH)
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([{"out": json.dumps({
        "archives": archives, "invalidate_s": invalidate_s,
        "fresh": fresh, "fresh_file": mod.__file__})}])


one = spark.range(1, numPartitions=1)
one.mapInArrow(use_user_zip, one.schema).collect()
boxes = spark.range(100, numPartitions=1).selectExpr("id / 10 AS x")
for _ in range(2):  # one library hop, twice, in the same worker
    boxes.select(xz2_udf()("x", "x", "x", "x").alias("xz")).collect()
out = json.loads(one.mapInArrow(probe, "out string").first().out)
spark.stop()
print(json.dumps(out))
"""


def _is_spark_archive_name(archive: str) -> bool:
    name = os.path.basename(archive)
    return name == "pyspark.zip" or name.endswith(".jar") or (
        name.startswith("py4j-") and name.endswith(".zip"))


def test_reused_worker_next_task_finds_no_spark_zip_finders(tmp_path):
    user_zip = _zip_module(tmp_path / "hop_user_zip.zip", "hop_user_mod", 7)
    env = dict(os.environ, PYTHONPATH=str(REPO))
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(user_zip)], capture_output=True,
        text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    spark_archives = [a for a in out["archives"] if _is_spark_archive_name(a)]
    assert spark_archives == [], out
    # the addPyFile archive keeps its finder, so it still refreshes
    assert [a for a in out["archives"]
            if os.path.basename(a) == "hop_user_zip.zip"], out
    # a pyspark submodule first imported after the pruning still imports
    assert out["fresh"], out
    assert out["fresh_file"].endswith(os.path.join("avro", "functions.py"))
