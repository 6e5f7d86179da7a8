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
    assert to_spark("select l[1]") == "select element_at(l, cast(1 as int))"
    assert to_spark("select f(x)[1]") == (
        "select element_at(f(x), cast(1 as int))")
    assert to_spark("select x::double[]") == "select x::array<double>"
    assert to_spark("select ['a', 'b'][1]") == (
        "select element_at(array('a', 'b'), cast(1 as int))")
    # only a dotted name, a call or a bracketed group can be indexed
    for index in ("select 'ab'[1]", "select 1[1]"):
        with pytest.raises(ValueError, match="list index"):
            to_spark(index)


def test_index_operands():
    assert to_spark("select l[i]") == "select element_at(l, cast(i as int))"
    assert to_spark("select t.l[i + 1] from t") == (
        "select element_at(t.l, cast(i + 1 as int)) from t")
    assert to_spark("select (['a','b'])[k]") == (
        "select element_at((array('a','b')), cast(k as int))")
    assert to_spark("select l[1][2]") == (
        "select element_at(element_at(l, cast(1 as int)), cast(2 as int))")


def test_array_types():
    assert to_spark("select x::DOUBLE[]") == "select x::array<double>"
    assert to_spark("select cast([] as varchar[])") == (
        "select cast(array() as array<string>)")
    assert to_spark("select cast(c as hugeint)") == (
        "select cast(c as decimal(38,0))")


GUARDED_SLICE = ("if(({a}) >= 1 and ({b}) >= ({a}) - 1, "
                 "slice({x}, {a}, ({b}) - ({a}) + 1), "
                 "raise_error('list_slice: begin below 1 or end below begin'))")


def test_computed_slice_is_guarded():
    assert to_spark("select x[a:b]") == "select " + GUARDED_SLICE.format(
        x="x", a="a", b="b")
    assert to_spark("list_slice(l, n - 2, n)") == GUARDED_SLICE.format(
        x="l", a="n - 2", b="n")
    # the begin-1 form keeps its plain slice
    assert to_spark("list_slice(l, 1, n)") == "slice(l, 1, n)"


def test_unnest_in_a_from_list_joins_laterally():
    assert to_spark("select i from t, unnest(l) as g(i)") == (
        "select i from t, lateral explode(l) as g(i)")
    assert to_spark("select unnest(l) as i from t") == (
        "select explode(l) as i from t")


def test_encode_and_renames():
    assert to_spark("select encode(x)") == "select encode(x, 'UTF-8')"
    assert to_spark("select array_to_string(l, ' ')") == (
        "select array_join(l, ' ')")
    assert to_spark("select list_min(l)") == "select array_min(l)"


@pytest.mark.parametrize("sql", [
    "string_split(t, '.')",           # Spark's split takes a regex
    "string_split(t, sep)",           # separator not a literal
    "regexp_replace(t, 'a', 'b')",    # DuckDB replaces the first match
    "regexp_replace(t, 'a', 'b', 'i')",
    "l[1:2:3]",                       # no such slice
    "encode(t, 'latin1')",            # only the UTF-8 default is known
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
