"""The tier table is the one place tier names live: the modules that
derive the stage DAG, the serving router and the retention targets
from it must not spell a tier's name themselves. Likewise
operators/rollup.py is the one place aggregation rules live: the
modules that build or serve tiers through it call no aggregate
function themselves. It is also the one place time arithmetic lives:
every bucket label, partition value, rewrite set and pruning bound
derives from its end-label rule."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from isp_trace_parser_spark.tiers import TIERS

PKG = Path(__file__).resolve().parent.parent / "isp_trace_parser_spark"
DERIVED = ["pipeline.py", "serving.py", "operators/retention.py"]


def _docstrings(tree: ast.Module) -> set[int]:
    """ids of the docstring constants of the module, its classes and
    its functions."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


@pytest.mark.parametrize("module", DERIVED)
def test_derived_modules_spell_no_tier_name(module):
    tree = ast.parse((PKG / module).read_text())
    docs = _docstrings(tree)
    names = {t.name for t in TIERS}
    found = [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docs
        and node.value in names
    ]
    assert found == [], f"{module} names tiers outside tiers.TIERS: {found}"


AGGREGATES = {"sum", "count", "min", "max", "avg", "hll_sketch_agg", "hll_union_agg"}


@pytest.mark.parametrize("module", ["pipeline.py", "serving.py", "streaming/rollup_stream.py"])
def test_tier_builders_call_no_aggregate(module):
    tree = ast.parse((PKG / module).read_text())
    found = [
        (node.lineno, node.func.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
        and node.func.attr in AGGREGATES
    ]
    assert found == [], f"{module} aggregates outside operators/rollup.py: {found}"


TIME_CALLS = {"timedelta", "fromisoformat", "strftime"}
SQL_INTERVAL = re.compile(r"\binterval\b", re.IGNORECASE)


@pytest.mark.parametrize(
    "module",
    ["pipeline.py", "serving.py", "tiers.py", "operators/retention.py",
     "operators/codec.py", "plans/partitioning.py"],
)
def test_time_arithmetic_lives_in_rollup(module):
    """No INTERVAL literal and no datetime arithmetic or formatting call
    outside operators/rollup.py, the rule's home."""
    tree = ast.parse((PKG / module).read_text())
    docs = _docstrings(tree)
    found = [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and id(node) not in docs and SQL_INTERVAL.search(node.value)
    ] + [
        (node.lineno, name)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        for name in [getattr(node.func, "attr", getattr(node.func, "id", None))]
        if name in TIME_CALLS
    ]
    assert found == [], f"{module} does time arithmetic outside operators/rollup.py: {found}"


def test_every_tier_input_is_declared_before_it():
    seen: set[str] = set()
    for t in TIERS:
        assert t.input is None or t.input in seen, t.name
        seen.add(t.name)


def test_every_tier_is_partitioned():
    """Every tier is written by one dynamic partition overwrite: each
    row names a partition column with a declared encoding."""
    from isp_trace_parser_spark.tiers import PARTITIONS

    assert [t.name for t in TIERS if t.partition_col not in PARTITIONS] == []
