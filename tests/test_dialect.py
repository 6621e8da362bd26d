"""Spellings shared by Spark and the DuckDB oracle, and the primitives
of kektordb_spark/dialect.py, each pinned on a tiny literal query.

The operators write every SQL text once. Where DuckDB accepts the Spark
spelling, both engines run the very same function names; if a future
DuckDB drops one of those aliases, the named case below fails instead
of dozens of oracle-parity cases. The other spellings live in
dialect.py; each primitive runs here on both engines too, with its
dialect's text.
"""

from __future__ import annotations

import duckdb
import pytest

from kektordb_spark import dialect as D


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def _rows(spark, con, sql, sort=False):
    s = [tuple(r) for r in spark.sql(sql("spark")).collect()]
    d = [tuple(r) for r in con.execute(sql("duckdb")).fetchall()]
    if sort:
        s, d = sorted(s, key=repr), sorted(d, key=repr)
    return s, d


def _q(s: str) -> str:
    return f"'{s}'"


TS = "TIMESTAMP '2024-01-15 10:30:45'"
ABC_MD5 = f"md5({_q('abc')})"
GROUPS = ("FROM (VALUES (1, 3, 'c'), (1, 1, 'a'), (1, 2, 'b'), (2, 5, 'z')) "
          "AS t(g, k, name) GROUP BY g")

# Spark spellings DuckDB accepts with the same meaning, NULL and
# duplicate elements included. Array literals are the only per-engine
# text here (D.arr_lit); the function under test is spelled once.
SHARED = {
    "cast_string": lambda d: (
        "SELECT CAST(12 AS STRING), CAST(-7 AS STRING), "
        "CAST(NULL AS STRING), concat('p_', CAST(40 AS STRING))"),
    "array_contains": lambda d: (
        f"SELECT array_contains({D.arr_lit(d, '1, NULL, 2, 2')}, 2), "
        f"array_contains({D.arr_lit(d, '1, 2, 2')}, 3), "
        f"array_contains({D.str_arr(d, ['a', 'b', 'b'])}, 'b')"),
    "filter": lambda d: (
        f"SELECT filter({D.arr_lit(d, '1, NULL, 2, 3, 2')}, x -> x >= 2), "
        f"filter({D.str_arr(d, ['a', '', 'b', 'a'])}, t -> t <> '')"),
    "split": lambda d: (
        "SELECT split('a b  c', ' '), split('', ' '), split('one', ' ')"),
    "regexp_extract_all_group0": lambda d: (
        "SELECT regexp_extract_all('Ab, cd9_x! cd', '[a-z0-9_]+', 0)"),
    "broadcast_hint_comment": lambda d: (
        "SELECT /*+ BROADCAST(t), BROADCAST(u) */ t.x, u.y "
        "FROM (VALUES (1)) AS t(x) JOIN (VALUES (1, 'y')) AS u(x, y) "
        "ON u.x = t.x"),
    # Element order of these two is engine-defined (Spark: first
    # occurrence; DuckDB: hash order), so compare their sizes.
    "array_distinct": lambda d: (
        f"SELECT {D.size(d, 'array_distinct(' + D.arr_lit(d, '3, 1, 3, 2, 1') + ')')}"),
    "array_intersect": lambda d: (
        f"SELECT {D.size(d, 'array_intersect(' + D.arr_lit(d, '3, 1, 2, 2') + ', ' + D.arr_lit(d, '2, 3, 3, 5') + ')')}"),
}


@pytest.mark.parametrize("case", sorted(SHARED))
def test_shared_spelling(spark, con, case):
    s, d = _rows(spark, con, SHARED[case])
    assert s == d


@pytest.mark.parametrize("fn", ["array_distinct", "array_intersect"])
def test_shared_set_functions_same_elements(spark, con, fn):
    args = {"array_distinct": ["3, 1, 3, 2, 1"],
            "array_intersect": ["3, 1, 2, 2", "2, 3, 3, 5"]}[fn]
    s, d = _rows(spark, con, lambda x: (
        f"SELECT {fn}({', '.join(D.arr_lit(x, a) for a in args)})"))
    assert sorted(s[0][0]) == sorted(d[0][0])


def test_shared_list_functions_null_elements_diverge(spark, con):
    """The engines disagree on NULL array elements for two of the
    shared functions, so the operators only hand them NULL-free arrays
    (token and gram arrays never hold NULL): ``array_distinct`` keeps a
    NULL element in Spark and drops it in DuckDB; a missed
    ``array_contains`` against an array holding NULL is NULL in Spark
    and false in DuckDB. A change on either side shows up here."""
    def sql(d):
        return (f"SELECT array_distinct({D.arr_lit(d, '1, NULL, 1')}), "
                f"array_contains({D.arr_lit(d, '1, NULL')}, 3)")
    s, d = _rows(spark, con, sql)
    assert (sorted(s[0][0], key=repr), s[0][1]) == ([1, None], None)
    assert d[0] == ([1], False)


def _dot_cases(d):
    a, b = D.double_arr(d, [0.1, 0.7]), D.double_arr(d, [0.3, -0.2])
    return (f"SELECT {D.fold_sum(d, D.double_arr(d, [0.1, 0.2, 0.3]))}, "
            f"{D.dot_sql(d, a, b)}, {D.l2sq_sql(d, a, b)}")


PRIMITIVES = {
    "epoch": lambda d: f"SELECT {D.epoch(d, TS)}",
    "epoch_us": lambda d: f"SELECT {D.epoch_us(d, TS)}",
    "int_div": lambda d: f"SELECT 17 {D.int_div(d)} 5, 1705314645 {D.int_div(d)} 3600",
    "xor": lambda d: f"SELECT {D.xor(d, 'CAST(12 AS BIGINT)', 'CAST(10 AS BIGINT)')}",
    "hex_to_int": lambda d: (
        f"SELECT {D.hex_to_int(d, ABC_MD5)}, {D.hex_to_int(d, ABC_MD5, 14, 15)}, "
        f"{D.hex_to_int(d, ABC_MD5, 2, '1 + 4', ty='DOUBLE')}"),
    "regex_all": lambda d: (
        f"SELECT {D.regex_all(d, _q('a1 b22 c'), '[0-9]+')}, "
        f"{D.regex_all(d, _q('x  y'), chr(92) + 'S+')}"),
    "regexp_replace_all": lambda d: (
        f"SELECT {D.regexp_replace_all(d, _q('a1b22c'), '[0-9]+', '#')}"),
    "rlike": lambda d: (
        f"SELECT {D.rlike(d, _q('abc123'), '[0-9]{3}')}, {D.rlike(d, _q('abc'), '[0-9]')}"),
    "arr_lit": lambda d: f"SELECT {D.arr_lit(d, '1, NULL, 2')}",
    "str_arr": lambda d: f"SELECT {D.str_arr(d, ['x', 'y', 'x'])}",
    "double_arr": lambda d: f"SELECT {D.double_arr(d, [0.5, -1.25, 1e-300])}",
    "empty_str_arr": lambda d: f"SELECT {D.empty_str_arr(d)}, {D.size(d, D.empty_str_arr(d))}",
    "size": lambda d: f"SELECT {D.size(d, D.arr_lit(d, '1, 2, 2'))}",
    "elem": lambda d: f"SELECT {D.elem(d, D.str_arr(d, ['a', 'b', 'c']), '2')}",
    "transform": lambda d: f"SELECT {D.transform(d, D.arr_lit(d, '1, 2, NULL'), 'x -> x * 10')}",
    "fold": lambda d: (
        f"SELECT {D.fold(d, D.arr_lit(d, '1, 2, 3'), 'CAST(0 AS BIGINT)', '(s, x) -> s * 10 + x')}"),
    "concat_arr": lambda d: (
        f"SELECT {D.concat_arr(d, D.arr_lit(d, '1, 2'), D.arr_lit(d, '2, 3'))}"),
    "array_join": lambda d: f"SELECT {D.array_join(d, D.str_arr(d, ['a', 'b', 'a']), '-')}",
    "seq": lambda d: f"SELECT {D.seq(d, '2', '5')}, {D.seq1(d, '0')}, {D.seq1(d, '3')}",
    "zip_with": lambda d: (
        f"SELECT {D.zip_with(d, D.double_arr(d, [1.0, 2.0]), D.double_arr(d, [3.0, 5.0]), lambda x, y: f'{x} * {y}')}"),
    "fold_dot_l2": _dot_cases,
}

# Generators and aggregates: row order is not part of the result.
PRIMITIVES_ROWS = {
    "explode": lambda d: f"SELECT {D.explode(d, D.arr_lit(d, '3, 1, 3'))} AS x",
    "unnest": lambda d: (
        f"SELECT g, x FROM (VALUES (7)) AS v(g) {D.unnest(d, D.arr_lit(d, '5, 6, 5'), 'x')}"),
    "posexplode": lambda d: D.posexplode(
        d, "g", f"(SELECT 1 AS g, {D.double_arr(d, [0.5, 0.25, 0.5])} AS v) s"),
    "collect_sorted": lambda d: f"SELECT g, {D.collect_sorted(d, 'k')} {GROUPS}",
    "sorted_csv": lambda d: f"SELECT g, {D.sorted_csv(d, 'k')} {GROUPS}",
    "list_by": lambda d: f"SELECT g, {D.list_by(d, 'name', 'k')} {GROUPS}",
}


@pytest.mark.parametrize("case", sorted(PRIMITIVES))
def test_dialect_primitive(spark, con, case):
    s, d = _rows(spark, con, PRIMITIVES[case])
    assert s == d


@pytest.mark.parametrize("case", sorted(PRIMITIVES_ROWS))
def test_dialect_primitive_rows(spark, con, case):
    s, d = _rows(spark, con, PRIMITIVES_ROWS[case], sort=True)
    assert s == d
