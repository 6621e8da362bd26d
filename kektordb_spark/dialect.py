"""The one place where Spark SQL and DuckDB SQL spellings differ.

Every operator emits its SQL text once, for both engines: the Spark
plan runs it, the DuckDB oracle checks it. Where DuckDB accepts the
Spark spelling with the same meaning, the text is written in Spark
spelling for both engines and needs nothing from here:

  * ``CAST(x AS STRING)`` (DuckDB: alias of VARCHAR);
  * ``array_contains``, ``array_distinct``, ``filter``, ``split``
    (aliases of ``list_contains``, ``list_distinct``, ``list_filter``,
    ``string_split``) and ``array_intersect`` (a macro over
    ``list_intersect``);
  * ``regexp_extract_all(s, re, 0)`` (group 0 is DuckDB's default;
    ``regex_all`` below only differs in escaping the pattern);
  * ``/*+ BROADCAST(x) */`` join hints, which DuckDB reads as comments.

tests/test_dialect.py pins each of those on both engines. Every other
spelling difference is defined below, once. Each function takes the
dialect name (``"spark"`` or ``"duckdb"``) first and returns SQL text.
"""

from __future__ import annotations


# ---------------------------------------------------------------------------
# Scalars
# ---------------------------------------------------------------------------

def epoch(dialect: str, col: str) -> str:
    """Epoch seconds of a timestamp: Spark ``unix_timestamp`` (UTC
    session) == DuckDB ``floor(epoch(ts))`` for naive timestamps."""
    if dialect == "spark":
        return f"CAST(unix_timestamp({col}) AS BIGINT)"
    return f"CAST(floor(epoch({col})) AS BIGINT)"


def epoch_us(dialect: str, col: str) -> str:
    """Epoch microseconds of a timestamp (UTC session on Spark)."""
    if dialect == "spark":
        return f"unix_micros(CAST({col} AS TIMESTAMP))"
    return f"epoch_us({col})"


def int_div(dialect: str) -> str:
    """Integer-division operator."""
    return "DIV" if dialect == "spark" else "//"


def xor(dialect: str, a: str, b: str) -> str:
    """Bitwise xor of two BIGINTs."""
    if dialect == "spark":
        return f"CAST(({a}) ^ ({b}) AS BIGINT)"
    return f"xor({a}, {b})"


def hex_to_int(dialect: str, hexpr: str, n_hex: int = 8, start: int | str = 1,
               ty: str = "BIGINT") -> str:
    """``n_hex`` hex chars of a hex string, from 1-based ``start`` ->
    a value in [0, 16^n_hex) of type ``ty``. n_hex <= 15 keeps the
    value inside signed int64."""
    if dialect == "spark":
        return f"CAST(conv(substr({hexpr}, {start}, {n_hex}), 16, 10) AS {ty})"
    i = f"CAST(concat('0x', substr({hexpr}, {start}, {n_hex})) AS BIGINT)"
    return i if ty == "BIGINT" else f"CAST({i} AS {ty})"


def regex_all(dialect: str, col: str, pattern: str) -> str:
    """Every match of ``pattern`` in ``col``, as an array. Spark SQL
    string literals process backslash escapes (default
    spark.sql.parser.escapedStringLiterals=false); DuckDB's are raw.
    Doubling the backslashes for Spark makes both engines see the same
    regex."""
    if dialect == "spark":
        pattern = pattern.replace("\\", "\\\\")
    return f"regexp_extract_all({col}, '{pattern}', 0)"


def regexp_replace_all(dialect: str, col: str, pattern: str, repl: str) -> str:
    """Replace every match (Spark replaces all by default; DuckDB needs
    the 'g' flag)."""
    if dialect == "spark":
        return f"regexp_replace({col}, '{pattern}', '{repl}')"
    return f"regexp_replace({col}, '{pattern}', '{repl}', 'g')"


def rlike(dialect: str, col: str, pattern: str) -> str:
    """Unanchored regex match predicate."""
    if dialect == "spark":
        return f"{col} RLIKE '{pattern}'"
    return f"regexp_matches({col}, '{pattern}')"


# ---------------------------------------------------------------------------
# Arrays
# ---------------------------------------------------------------------------

def arr_lit(dialect: str, inner: str) -> str:
    """Array literal from a comma-separated element list."""
    return f"array({inner})" if dialect == "spark" else f"[{inner}]"


def str_arr(dialect: str, words: list[str]) -> str:
    """Array literal of quoted string constants."""
    return arr_lit(dialect, ", ".join(f"'{w}'" for w in words))


def double_arr(dialect: str, xs: list[float]) -> str:
    """Array literal of exact double constants."""
    return arr_lit(dialect, ", ".join(f"CAST({x!r} AS DOUBLE)" for x in xs))


def empty_str_arr(dialect: str) -> str:
    if dialect == "spark":
        return "CAST(array() AS ARRAY<STRING>)"
    return "CAST([] AS VARCHAR[])"


def size(dialect: str, arr: str) -> str:
    """Array length."""
    return f"{'size' if dialect == 'spark' else 'len'}({arr})"


def elem(dialect: str, arr: str, i: str) -> str:
    """1-based array element access."""
    if dialect == "spark":
        return f"element_at({arr}, {i})"
    return f"{arr}[{i}]"


def fold(dialect: str, arr: str, init: str, lam: str) -> str:
    """Left fold of ``arr`` starting from ``init``; ``lam`` is the
    two-argument ``(acc, x) -> ...`` lambda."""
    if dialect == "spark":
        return f"aggregate({arr}, {init}, {lam})"
    return f"list_reduce(list_prepend({init}, {arr}), {lam})"


def transform(dialect: str, arr: str, lam: str) -> str:
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}({arr}, {lam})"


def concat_arr(dialect: str, a: str, b: str) -> str:
    fn = "concat" if dialect == "spark" else "list_concat"
    return f"{fn}({a}, {b})"


def array_join(dialect: str, arr: str, sep: str) -> str:
    """Join a string array with a literal separator. An empty array
    joins to '' (DuckDB's array_to_string returns NULL for it)."""
    if dialect == "spark":
        return f"array_join({arr}, '{sep}')"
    return f"coalesce(array_to_string({arr}, '{sep}'), '')"


def collect_sorted(dialect: str, col: str) -> str:
    """Aggregate: the group's values as an ascending array."""
    if dialect == "spark":
        return f"array_sort(collect_list({col}))"
    return f"list_sort(list({col}))"


def sorted_csv(dialect: str, col: str) -> str:
    """Aggregate: the group's values, ascending, as one comma-joined
    string."""
    return array_join(dialect, transform(
        dialect, collect_sorted(dialect, col), "x -> CAST(x AS STRING)"), ",")


def seq(dialect: str, lo: str, hi: str) -> str:
    """[lo..hi] (inclusive) as an array, for lo <= hi (Spark sequence
    counts DOWN when lo > hi, DuckDB range is then empty)."""
    if dialect == "spark":
        return f"sequence({lo}, {hi})"
    return f"range({lo}, {hi} + 1)"


def seq1(dialect: str, n: str) -> str:
    """[1..n] as an array; n clamped to >= 1 so both engines agree."""
    return seq(dialect, "1", f"greatest({n}, 1)")


def explode(dialect: str, arr: str) -> str:
    """Select-list generator: one output row per element of ``arr``."""
    return f"{'explode' if dialect == 'spark' else 'unnest'}({arr})"


def unnest(dialect: str, arr: str, alias: str, rel: str = "_t") -> str:
    """FROM-clause suffix that explodes ``arr`` into column ``alias``
    of relation ``rel``."""
    if dialect == "spark":
        return f"LATERAL VIEW explode({arr}) {rel} AS {alias}"
    return f", unnest({arr}) AS {rel}({alias})"


def posexplode(dialect: str, cols: str, rel: str, arr: str = "v") -> str:
    """SELECT ``cols`` plus one (pos, x) row per element of ``arr``
    over ``rel``; pos is 0-based."""
    if dialect == "spark":
        return f"SELECT {cols}, pos, x FROM {rel} LATERAL VIEW posexplode({arr}) t AS pos, x"
    return (f"SELECT {cols}, generate_subscripts({arr}, 1) - 1 AS pos, "
            f"unnest({arr}) AS x FROM {rel}")


def list_by(dialect: str, val: str, key: str) -> str:
    """Aggregate: the group's ``val`` values ordered by ``key``."""
    if dialect == "spark":
        return f"transform(array_sort(collect_list(struct({key}, {val}))), s -> s.{val})"
    return f"list({val} ORDER BY {key})"


def fold_sum(dialect: str, arr: str) -> str:
    """Left-fold sum of a double array — identical association order in
    both engines (Spark aggregate starts at 0.0; DuckDB list_reduce
    starts at the first element; 0.0+x == x bitwise for finite x)."""
    if dialect == "spark":
        return f"aggregate({arr}, CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
    return f"list_reduce({arr}, (s, x) -> s + x)"


def zip_with(dialect: str, a: str, b: str, fn) -> str:
    """Element-wise combination of two equal-length arrays;
    ``fn(x, y)`` renders the per-element expression from the two
    element references."""
    if dialect == "spark":
        return f"zip_with({a}, {b}, (x, y) -> {fn('x', 'y')})"
    return f"list_transform(list_zip({a}, {b}), p -> {fn('p[1]', 'p[2]')})"


def dot_sql(dialect: str, a: str, b: str) -> str:
    """Dot product of two double arrays, identical fold order."""
    return fold_sum(dialect, zip_with(dialect, a, b, lambda x, y: f"{x} * {y}"))


def l2sq_sql(dialect: str, a: str, b: str) -> str:
    """Squared euclidean distance (reference distance_go.go:56-68)."""
    return fold_sum(dialect, zip_with(
        dialect, a, b, lambda x, y: f"({x} - {y}) * ({x} - {y})"))


# ---------------------------------------------------------------------------
# Relations
# ---------------------------------------------------------------------------

def docs_tok(dialect: str) -> str:
    """Tokenized-documents view: Spark reads the repartitioned
    ``docs_tok_par`` that load_tables registers; the oracle reads the
    ``docs_tok`` CTE."""
    return "docs_tok_par" if dialect == "spark" else "docs_tok"


def materialized(dialect: str) -> str:
    """CTE keyword suffix: DuckDB re-evaluates a multi-consumer CTE per
    reference unless it is MATERIALIZED; Spark has no such keyword."""
    return " MATERIALIZED" if dialect == "duckdb" else ""
