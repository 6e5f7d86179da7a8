"""The rule table that derives the SQL door's Spark text from the DuckDB
oracle text (``sql_library.to_spark``): what it rewrites, what it
leaves alone and what it refuses. No Spark session is needed."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from puregraphdb_spark.sql_library import (
    DERIVED,
    HAND_WRITTEN,
    SPARK_SQL,
    to_spark,
)


def test_literals_and_comments_are_untouched():
    sql = "select 'a//b', 'len(x)', 'it''s [1]' -- len(x) // [2]\nfrom t"
    assert to_spark(sql) == sql


def test_renames_and_forms():
    assert to_spark("select len(string_split(lower(t), ' ')) from d") == (
        "select size(split(lower(t), ' ')) from d")
    assert to_spark("select a // 2, cast(b as varchar)") == (
        "select a  div  2, cast(b as string)")
    assert to_spark("regexp_replace(t, ' +', ' ', 'g')") == (
        "regexp_replace(t, ' +', ' ')")
    assert to_spark("list_slice(l, 1, 3)") == "slice(l, 1, 3)"
    assert to_spark("generate_series(1, n)") == (
        "filter(sequence(1, n), _gs -> _gs between 1 and n)")
    assert to_spark("generate_series(lo, hi, interval 1 day)") == (
        "sequence(lo, hi, interval 1 day)")


def test_list_literal_becomes_array_and_index_raises():
    assert to_spark("[1, 2]") == "array(1, 2)"
    assert to_spark("select f(x, [1, 2])") == "select f(x, array(1, 2))"
    assert to_spark("unnest([[1], ['a]']])") == (
        "explode(array(array(1), array('a]')))")
    for index in ("select l[1]", "select f(x)[1]", "select x::double[]",
                  "select ['a', 'b'][1]"):
        with pytest.raises(ValueError, match="list index"):
            to_spark(index)


@pytest.mark.parametrize("sql", [
    "string_split(t, '.')",           # Spark's split takes a regex
    "string_split(t, sep)",           # separator not a literal
    "list_slice(l, n - 2, n)",        # DuckDB's 3rd argument is an end
    "regexp_replace(t, 'a', 'b')",    # DuckDB replaces the first match
    "regexp_replace(t, 'a', 'b', 'i')",
])
def test_guarded_forms_raise(sql):
    with pytest.raises(ValueError, match="no exact Spark form"):
        to_spark(sql)


def test_each_query_has_one_text():
    assert not set(DERIVED) & set(HAND_WRITTEN)
    assert set(SPARK_SQL) == set(DERIVED) | set(HAND_WRITTEN)
    oracles = entrymod.oracle_sql()
    for name in DERIVED:
        assert SPARK_SQL[name] == to_spark(oracles[name])
