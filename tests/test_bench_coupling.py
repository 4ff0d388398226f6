"""The benchmark under perfbench/ reaches into the engine by name: the
methods its traced CDC run wraps (``tr.wrap(obj, "name", ...)``), the
``pipe.``/``table.`` attributes it reads, the keyword arguments it passes,
the engine names it imports and the curation queries it runs. A rename
or removal of any of them breaks the benchmark (the traced run only)
without failing a test that drives the engine, so this test parses the
benchmark's source and checks each name against the engine. No Spark
session is started."""

import ast
import importlib
import inspect
import pathlib

import pytest

import __spark_entry__
from embulk_filter_timestamp_format_spark.lake import IceTable
from embulk_filter_timestamp_format_spark.streaming.cdc import CdcPipeline

PERFBENCH = pathlib.Path(__file__).resolve().parents[1] / "perfbench"
PACKAGE = "embulk_filter_timestamp_format_spark"


def _tree(name: str) -> ast.Module:
    return ast.parse((PERFBENCH / name).read_text())


def _objects():
    """The benchmark's ``table`` and ``pipe``, built without a session."""
    table = IceTable(None, "unused")
    return {"table": table, "pipe": CdcPipeline(None, table)}


def _wrapped(tree: ast.Module) -> set:
    """(object, attribute) of every ``tr.wrap`` call; an attribute held in
    a loop variable resolves to the constants the loop runs over."""
    loops = {
        n.target.id: [e.value for e in n.iter.elts]
        for n in ast.walk(tree)
        if isinstance(n, ast.For) and isinstance(n.target, ast.Name)
        and isinstance(n.iter, (ast.Tuple, ast.List))
    }
    out = set()
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "wrap" and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "tr"
        ):
            obj, attr = n.args[0], n.args[1]
            names = [attr.value] if isinstance(attr, ast.Constant) else loops[attr.id]
            out |= {(obj.id, a) for a in names}
    return out


def test_cdc_wrap_targets_are_engine_methods():
    objs = _objects()
    wrapped = _wrapped(_tree("cdc.py"))
    assert ("table", "merge_into") in wrapped  # the parse found the calls
    for obj, attr in sorted(wrapped):
        assert callable(getattr(objs[obj], attr, None)), f"{obj}.{attr}"


def test_cdc_attribute_reads_resolve():
    objs = _objects()
    used = {
        (n.value.id, n.attr)
        for n in ast.walk(_tree("cdc.py"))
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
        and n.value.id in objs
    }
    assert ("pipe", "apply_batch") in used
    for obj, attr in sorted(used):
        assert hasattr(objs[obj], attr), f"{obj}.{attr}"


def test_cdc_keyword_arguments_exist():
    ctors = {("IceTable", "create"): IceTable.create, ("CdcPipeline", None): CdcPipeline}
    seen = 0
    for n in ast.walk(_tree("cdc.py")):
        if not isinstance(n, ast.Call):
            continue
        f = n.func
        key = (
            (f.value.id, f.attr)
            if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
            else (f.id, None) if isinstance(f, ast.Name) else None
        )
        if key not in ctors:
            continue
        seen += 1
        params = inspect.signature(ctors[key]).parameters
        for kw in n.keywords:
            assert kw.arg in params, f"{key[0]}: no keyword {kw.arg!r}"
    assert seen == 2


@pytest.mark.parametrize("module", sorted(p.name for p in PERFBENCH.glob("*.py")))
def test_engine_imports_resolve(module):
    for n in ast.walk(_tree(module)):
        if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(PACKAGE):
            mod = importlib.import_module(n.module)
            for alias in n.names:
                assert hasattr(mod, alias.name), f"{n.module}.{alias.name}"


def test_curation_queries_exist():
    subset = next(
        ast.literal_eval(n.value)
        for n in ast.walk(_tree("curation.py"))
        if isinstance(n, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "SUBSET" for t in n.targets)
    )
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    for name, _module, _table in subset:
        assert name in queries and name in oracles, name
