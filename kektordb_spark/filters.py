"""kektordb filter-DSL → SQL predicate translator (F1–F5 in SURVEY.md §2.2).

Grammar (reference pkg/core/core.go:1695-1922):
  * ``key OP value`` leaves with OP in ``!= <= >= = < >`` (first operator
    found by scanning in that order — core.go:1790-1800).
  * ``AND`` binds tighter than ``OR``; both case-insensitive; no
    parentheses, no NOT (core.go:1716-1757).

Non-standard semantics preserved exactly:
  * ``!=`` matches rows where the field is NULL/missing
    (allValidIDs ANDNOT matched — core.go:1886-1917, DOCUMENTATION.md:756).
  * booleans are compared via their "true"/"false" string forms
    (core.go:1479-1494).
  * equality on an array column means membership (core.go:1496-1510).

The translator emits the SAME predicate in Spark SQL and DuckDB SQL so the
engine and the oracle share one source of truth. In Spark the output goes
through ``F.expr`` → Catalyst, which pushes the predicate into the parquet
scan (verified via .explain PushedFilters) — the roaring-bitmap allowlist
of the reference becomes ordinary predicate pushdown.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

_OR_RE = re.compile(r"\s+OR\s+", re.IGNORECASE)
_AND_RE = re.compile(r"\s+AND\s+", re.IGNORECASE)
# Scan order matters: two-char operators first (core.go:1793).
_OPS = ["!=", "<=", ">=", "=", "<", ">"]


@dataclass(frozen=True)
class Leaf:
    key: str
    op: str
    value: str  # raw text, quotes stripped


def parse_filter(filter_str: str) -> list[list[Leaf]]:
    """Parse into OR-blocks of AND-leaves."""
    filter_str = filter_str.strip()
    if not filter_str:
        raise ValueError("empty filter")
    blocks: list[list[Leaf]] = []
    for or_block in _OR_RE.split(filter_str):
        or_block = or_block.strip()
        if not or_block:
            continue
        leaves: list[Leaf] = []
        for sub in _AND_RE.split(or_block):
            sub = sub.strip()
            if not sub:
                continue
            leaves.append(_parse_leaf(sub))
        if leaves:
            blocks.append(leaves)
    if not blocks:
        raise ValueError(f"invalid filter: {filter_str!r}")
    return blocks


def _parse_leaf(text: str) -> Leaf:
    op, idx = None, -1
    for candidate in _OPS:
        i = text.find(candidate)
        if i != -1:
            op, idx = candidate, i
            break
    if op is None:
        raise ValueError(f"invalid filter leaf: {text!r}")
    key = text[:idx].strip()
    value = text[idx + len(op):].strip()
    if len(value) >= 2 and value[0] == value[-1] and value[0] in "'\"":
        value = value[1:-1]
    if not key:
        raise ValueError(f"invalid filter leaf: {text!r}")
    return Leaf(key=key, op=op, value=value)


def _is_number(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


def _sql_literal(value: str, col_type: str) -> str:
    t = col_type.lower()
    if t.startswith(("int", "bigint", "double", "float", "decimal", "smallint", "tinyint", "long")):
        if not _is_number(value):
            raise ValueError(f"non-numeric value {value!r} for numeric column")
        return value
    if t.startswith("bool"):
        # bools indexed as "true"/"false" strings (core.go:1479-1494)
        return "true" if value.lower() == "true" else "false"
    escaped = value.replace("'", "''")
    return f"'{escaped}'"


def leaf_to_sql(leaf: Leaf, schema: dict[str, str], dialect: str = "spark") -> str:
    """Emit one leaf as a SQL predicate. ``schema`` maps column -> type
    name (e.g. 'string', 'double', 'boolean', 'array<string>')."""
    col_type = schema.get(leaf.key)
    if col_type is None:
        raise ValueError(f"unknown filter field: {leaf.key}")
    t = col_type.lower()
    is_array = t.startswith(("array", "list")) or t.endswith("[]")
    if is_array:
        inner = "string"
        lit = _sql_literal(leaf.value, inner)
        member = f"array_contains({leaf.key}, {lit})"
        if leaf.op == "=":
            return member
        if leaf.op == "!=":
            # != includes rows missing the value (and NULL arrays)
            return f"(NOT coalesce({member}, false))"
        raise ValueError(f"operator {leaf.op} unsupported on array field {leaf.key}")
    lit = _sql_literal(leaf.value, col_type)
    if leaf.op == "=":
        return f"{leaf.key} = {lit}"
    if leaf.op == "!=":
        # core.go:1886-1917: != includes rows where the field is missing.
        return f"({leaf.key} IS NULL OR {leaf.key} <> {lit})"
    if not (t.startswith(("int", "bigint", "double", "float", "decimal", "smallint", "tinyint", "long"))):
        # Range operators only exist on the numeric B-Tree path
        # (core.go:1836-1884) — reject to match reference behavior.
        raise ValueError(f"range operator {leaf.op} on non-numeric field {leaf.key}")
    return f"{leaf.key} {leaf.op} {lit}"


def filter_to_sql(filter_str: str, schema: dict[str, str], dialect: str = "spark") -> str:
    """Full DSL → SQL predicate (OR of ANDs)."""
    blocks = parse_filter(filter_str)
    or_parts = []
    for leaves in blocks:
        and_parts = [leaf_to_sql(leaf, schema, dialect) for leaf in leaves]
        or_parts.append("(" + " AND ".join(and_parts) + ")")
    return " OR ".join(or_parts)


def filter_to_column(filter_str: str, schema: dict[str, str]) -> Column:
    """DSL → Spark Column (Catalyst expression)."""
    return F.expr(filter_to_sql(filter_str, schema, "spark"))


_CONTAINS_RE = re.compile(
    r"\s*(?:AND\s+)?CONTAINS\s*\(\s*([A-Za-z0-9_]+)\s*,\s*'([^']*)'\s*\)\s*(?:AND\s+)?",
    re.IGNORECASE,
)


def parse_hybrid_filter(filter_str: str) -> tuple[str, str | None, str | None]:
    """F5 (pkg/engine/search_utils.go:18-43): extract the
    ``CONTAINS(field,'text')`` clause from a filter string; the text part
    routes to the BM25 scorer, the remainder stays a boolean filter.
    Returns (remaining_dsl, field, text) — field/text None when no
    CONTAINS clause is present. Like the reference, only one CONTAINS
    clause is supported and it must be AND-joined. Deliberate
    divergence: the reference trims only an UPPERCASE "AND " leftover
    (Go strings.TrimPrefix is case-sensitive) even though its DSL
    keywords are case-insensitive, leaving a dangling lowercase "and"
    in the boolean remainder; we trim case-insensitively, consistent
    with the DSL."""
    m = _CONTAINS_RE.search(filter_str)
    if not m:
        return filter_str.strip(), None, None
    rest = (filter_str[: m.start()] + " " + filter_str[m.end():]).strip()
    rest = re.sub(r"^\s*AND\s+|\s+AND\s*$", "", rest, flags=re.IGNORECASE).strip()
    return rest, m.group(1), m.group(2)
