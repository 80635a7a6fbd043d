"""The query registry: every plans module declares one ``QUERIES = {name:
(builder, oracle_sql)}`` dict and ``contract.merge_queries`` merges them
once.  A repeated name is an error, never a silent last-write-wins."""

from __future__ import annotations

import ast
import pathlib
import types

import pytest

from aspep_etl_spark.plans import contract

PLANS_DIR = pathlib.Path(contract.__file__).parent


def _fake(name, queries):
    return types.SimpleNamespace(__name__=name, QUERIES=queries)


def test_merge_keeps_module_order():
    a = _fake("fake_a", {"x": (len, "SELECT 1"), "y": (len, "SELECT 2")})
    b = _fake("fake_b", {"z": (len, "SELECT 3")})
    assert list(contract.merge_queries([a, b])) == ["x", "y", "z"]


def test_merge_rejects_a_repeated_name_naming_both_modules():
    a = _fake("fake_a", {"dup": (len, "SELECT 1")})
    b = _fake("fake_b", {"other": (len, "SELECT 2"), "dup": (len, "SELECT 3")})
    with pytest.raises(ValueError, match="'dup'") as err:
        contract.merge_queries([a, b])
    assert "fake_a" in str(err.value) and "fake_b" in str(err.value)


def test_queries_and_oracles_share_243_names():
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    assert len(queries) == 243
    assert list(queries) == list(oracles)


def test_every_entry_pairs_a_callable_with_a_non_empty_oracle():
    import __spark_entry__ as entry

    for name, builder in entry.queries().items():
        assert callable(builder), name
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def test_no_queries_literal_repeats_a_key():
    # a dict literal keeps the last of two equal keys silently, so the merge
    # cannot see a repeat inside one module: check the source instead
    seen = 0
    for path in sorted(PLANS_DIR.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, ast.Assign)
                and [getattr(t, "id", None) for t in node.targets] == ["QUERIES"]
            ):
                keys = [k.value for k in node.value.keys]
                assert len(keys) == len(set(keys)), path.name
                seen += len(keys)
    assert seen == 243
