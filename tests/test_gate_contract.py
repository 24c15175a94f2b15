"""Gate-contract shape, checked without a Spark session: ``queries()``
and ``oracle_sql()`` name the same entries, and each ``q_*`` query
function is run by exactly one registered entry — directly, through a
helper, or as a ``MEMBER_BATTERIES`` member — so no operator check is
paid for twice."""

import ast
import sys
from collections import defaultdict
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402

_TREE = ast.parse(Path(entry.__file__).read_text())
_FUNCS = {n.name: n for n in _TREE.body if isinstance(n, ast.FunctionDef)}


def _reached(fn_name: str) -> set[str]:
    """Module functions ``fn_name`` runs, transitively: names in its body,
    plus the members of the battery spec it builds."""
    seen, todo = set(), [fn_name]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        battery = name.removeprefix("q_")
        if battery in entry.MEMBER_BATTERIES:
            todo += ["q_" + m for _, m, _ in entry.MEMBER_BATTERIES[battery][1]]
        todo += [
            n.id
            for n in ast.walk(_FUNCS[name])
            if isinstance(n, ast.Name) and n.id in _FUNCS
        ]
    return seen


def test_each_query_function_runs_under_exactly_one_entry():
    owners = defaultdict(list)
    for name, fn in entry.queries().items():
        for q in _reached(fn.__name__):
            if q.startswith("q_"):
                owners[q].append(name)
    shared = {q: e for q, e in owners.items() if len(e) > 1}
    assert shared == {}
    unreached = {q for q in _FUNCS if q.startswith("q_")} - set(owners)
    assert unreached == set()


def test_oracle_keys_match_queries():
    try:
        oracles = entry.oracle_sql()
    except duckdb.IOException as e:  # ann_ivf literals replay the gate parquet
        pytest.skip(f"oracle_sql() needs the gate's sf0.01 parquet: {e}")
    assert set(oracles) == set(entry.queries())
