"""The ``Brain`` extension point — the engine's single seam for
LLM-dependent operators (SURVEY.md §7 "custom piece": contradictions,
HyDe hypothesis, CQR query rewriting, consolidation synthesis, profile
text).

The reference calls an LLM client (pkg/llm/client.go ``Chat``) from
inside the gardener/proxy loops and ships deterministic fallbacks for
every call site (gardener.go:2078-2174, 2273-2294; consolidation picks
the most graph-central member; the proxy falls back to the original
query vector). This module names that seam for the Spark engine:

  * :class:`Brain` — the interface. One implementation =
    ``DeterministicBrain`` (default, below); a production deployment
    subclasses it with real model calls. Every method is BATCH-shaped
    (lists in, lists out) so an implementation can send one request
    per Arrow batch, never per row.
  * :func:`set_brain` / :func:`get_brain` — process-wide registry; the
    operators resolve the brain lazily at UDF-construction time.

Determinism contract: the default brain is pure and SQL-expressible,
so every operator built on it stays oracle-checkable (the same
discipline as the hash-projection embedder in sources/rag.py — swap
the stub for a real model and the PLAN is unchanged; only the verdict
column's provenance changes and the DuckDB oracle no longer applies).

Call sites wired today: contradiction judging
(plans/registry.gardener_contradictions). The other hooks mirror the
reference's no-LLM paths that other operators already implement
inline (identity rewrite == proxy stage 1; grounded-mean hypothesis ==
proxy_hyde stage 3; central-member synthesis == api.consolidate) and
exist here so a real brain overrides ONE class, not five operators.
"""

from __future__ import annotations

from kektordb_spark.dialect import str_arr

# Antonym axes of the deterministic contradiction heuristic, in fixed
# priority order (first match wins → deterministic reason strings).
# The fixture part-name vocabulary (hot/cold gizmo, small/large ring,
# ...) exercises them; a real deployment replaces the whole judge with
# a model call.
ANTONYM_PAIRS = [
    ("hot", "cold"), ("small", "large"), ("fast", "slow"), ("new", "old"),
]
_ANTONYM_WORDS = frozenset(w for p in ANTONYM_PAIRS for w in p)


class Brain:
    """LLM seam. Every method is batch-shaped and must be
    deterministic given its inputs OR clearly documented as not
    oracle-checkable."""

    def judge_contradictions(
        self, contents_a: list[str], contents_b: list[str],
    ) -> list[tuple[bool, str]]:
        """For each pair: (contradiction?, reason). Reference call
        site: gardener.go:1405-1447 (LLM JSON verdict)."""
        raise NotImplementedError

    def rewrite_query(self, queries: list[str]) -> list[str]:
        """CQR / proxy stage 1 (proxy.go:220-240)."""
        raise NotImplementedError

    def synthesize(self, member_contents: list[list[str]]) -> list[str]:
        """Consolidation master synthesis (gardener.go:979-1000)."""
        raise NotImplementedError


class DeterministicBrain(Brain):
    """The reference's no-LLM fallbacks, batch-shaped.

    Contradiction judge: two contents conflict when they share at
    least one NON-antonym topic token and sit on opposite ends of an
    antonym axis (ANTONYM_PAIRS). This is a documented stand-in for
    the reference's LLM JSON verdict — pure string logic, replayed
    verbatim in SQL by the DuckDB oracle."""

    def judge_contradictions(self, contents_a, contents_b):
        out = []
        for a, b in zip(contents_a, contents_b):
            ta = [t for t in (a or "").split(" ") if t]
            tb = [t for t in (b or "").split(" ") if t]
            topic = bool(
                (set(ta) - _ANTONYM_WORDS) & (set(tb) - _ANTONYM_WORDS)
            )
            verdict: tuple[bool, str] = (False, "")
            if topic:
                for x, y in ANTONYM_PAIRS:
                    if x in ta and y in tb:
                        verdict = (True, f"antonym conflict: {x} vs {y}")
                        break
                    if y in ta and x in tb:
                        verdict = (True, f"antonym conflict: {y} vs {x}")
                        break
            out.append(verdict)
        return out

    def rewrite_query(self, queries):
        # Identity — the proxy's own fallback when no LLM is wired.
        return list(queries)

    def synthesize(self, member_contents):
        # Most-central-member selection happens graph-side
        # (api.consolidate); the text fallback is "first member".
        return [(ms[0] if ms else "") for ms in member_contents]


_BRAIN: Brain = DeterministicBrain()


def set_brain(brain: Brain) -> None:
    global _BRAIN
    _BRAIN = brain


def get_brain() -> Brain:
    return _BRAIN


def contradiction_judge_udf():
    """Arrow-batched struct(contradiction, reason) over two content
    columns, resolving the active brain per batch."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf
    from pyspark.sql.types import (
        BooleanType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("contradiction", BooleanType()),
        StructField("reason", StringType()),
    ])

    def judge(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        verdicts = get_brain().judge_contradictions(a.tolist(), b.tolist())
        return pd.DataFrame(
            {"contradiction": [v[0] for v in verdicts],
             "reason": [v[1] for v in verdicts]}
        )

    return pandas_udf(judge, schema, PandasUDFType.SCALAR)


def contradiction_sql_pred(dialect: str, a: str, b: str) -> tuple[str, str]:
    """The DeterministicBrain judge as SQL: returns (contradiction
    predicate, reason expression) over two content-string columns —
    the oracle twin of contradiction_judge_udf, and the Spark engine's
    own fast path when the default brain is active."""
    arr = str_arr(dialect, sorted(_ANTONYM_WORDS))
    ta, tb = f"split({a}, ' ')", f"split({b}, ' ')"
    topic_a = f"filter({ta}, t -> NOT array_contains({arr}, t) AND t <> '')"
    topic = (f"arrays_overlap({topic_a}, {tb})" if dialect == "spark"
             else f"len(list_intersect({topic_a}, {tb})) > 0")
    axes = []
    inner = "CASE "
    for x, y in ANTONYM_PAIRS:
        for w1, w2 in ((x, y), (y, x)):
            hit = f"(array_contains({ta}, '{w1}') AND array_contains({tb}, '{w2}'))"
            axes.append(hit)
            inner += f"WHEN {hit} THEN 'antonym conflict: {w1} vs {w2}' "
    inner += "ELSE '' END"
    # the topic guard gates the reason too, so the twin is exact even
    # outside the predicate (python returns '' for non-contradictions)
    reason = f"(CASE WHEN {topic} THEN {inner} ELSE '' END)"
    pred = f"({topic}) AND ({' OR '.join(axes)})"
    return pred, reason
