"""Text analysis functions (SURVEY.md §2.4 T1-T7).

Tokenizer mirrors reference pkg/textanalyzer/analyzer.go:17-44
(lowercase, ``[\\p{L}0-9_]+`` word regex, stopword removal). BM25 uses
k1=1.2, b=0.75 with idf = ln(1+(N-df+0.5)/(df+0.5))
(pkg/core/core.go:1960-2070), written once as the SQL text of
:func:`bm25_sql`: every Spark text-search query runs it (through
:func:`bm25_scores` when the corpus is a DataFrame) and every DuckDB
oracle runs the same text. Sentiment is a +1/-1 lexicon count
(gardener.go:2568-2625 pattern); info density = unique/total tokens
(adaptive_retriever.go:478-499).

Everything here is built-in-function Spark SQL (JVM-side, codegen'd);
the Porter2-style stemmer — which cannot be a native expression — lives
in ``kektordb_spark.functions.stemmer`` as a pandas UDF off the default
hot path (the reference only stems when a text index is configured with
a language).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kektordb_spark.dialect import size
from kektordb_spark.lineage import checkpoint
from kektordb_spark.tables import ENGLISH_STOPWORDS

BM25_K1 = 1.2
BM25_B = 0.75

TOKEN_REGEX = "[a-z0-9_]+"  # corpus is ASCII; reference uses [\p{L}0-9_]+

# Tiny deterministic sentiment lexicons over the synthetic corpus
# vocabulary (the reference ships fixed en/it lexicons —
# gardener.go:2568-2625; ours is fixed the same way).
POSITIVE_WORDS = ["fast", "small", "good", "great", "win"]
NEGATIVE_WORDS = ["slow", "error", "fail", "bad", "loss"]


def tokens(col: str, remove_stopwords: bool = True) -> Column:
    """Analyzer tokens of a string column (T1, no stemming)."""
    raw = f"regexp_extract_all(lower({col}), '{TOKEN_REGEX}', 0)"
    if not remove_stopwords:
        return F.expr(raw)
    stops = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    return F.expr(f"filter({raw}, t -> NOT array_contains(array({stops}), t))")


def bm25_sql(
    dialect: str, query_tokens: list[str], k: int | None,
    allow_pred: str | None = None, source: str = "docs_tok",
    scored_only: bool = False,
) -> str:
    """BM25 (T2) over the (doc_id, toks) relation ``source``, as one SQL
    text for both engines; returns (doc, score).

    Candidates = union of the query tokens' posting lists
    (core.go:2005-2021), i.e. the docs holding at least one query
    token. Score = sum over query tokens — WITH multiplicity: the
    reference iterates the analyzed query tokens including duplicates
    (core.go:2024-2031 ``for _, token := range queryTokens``), so a
    repeated token contributes its term once per occurrence — of
    idf * tf*(k1+1) / (tf + k1*(1-b+b*len/avgdl)) (core.go:2043-2070).
    N, avgdl and df are corpus-wide. An empty query scores nothing.

    Plan shape: query token sets are tiny, so each distinct token's tf
    is an array scan of the doc's tokens, all in ONE narrow projection
    (``per``) — no posting explode, no token-keyed shuffle (an
    explode/group-by postings relation shuffled every (token, doc)
    pair to serve a 3-token query: ~2.4 s of 5 s at sf0.1). The
    one-row ``stats`` aggregate over ``per`` is broadcast into the
    scoring projection. The terms are summed in sorted-token order and
    every literal is a double (Spark parses ``1.2`` as a decimal), so
    both engines evaluate the same double expression in the same order;
    raw scores differ only where their ``ln`` does (DuckDB's can be a
    few ulp off Java's).

    ``allow_pred`` (a predicate over ``source`` columns) post-filters
    the scored set — the reference's hybrid text branch applies the
    boolean allowlist AFTER corpus-wide scoring (ops.go:997-1026).
    ``scored_only`` keeps the raw score (fusion callers re-normalize)
    instead of rounding it to 6 dp. ``k=None`` keeps the whole scored
    set; otherwise the top ``k`` by rounded score, then doc."""
    mult = Counter(query_tokens)
    toks = sorted(mult)
    tfs = [f"tf_{i}" for i in range(len(toks))]
    k1, b = f"{BM25_K1!r}e0", f"{BM25_B!r}e0"
    per = [size(dialect, f"filter(toks, x -> x = '{t}')") + f" AS {tf}"
           for t, tf in zip(toks, tfs)]
    df = [f"sum(CASE WHEN {tf} > 0 THEN 1 ELSE 0 END) AS df_{i}"
          for i, tf in enumerate(tfs)]
    score = "\n       + ".join(
        f"CASE WHEN {tf} > 0 THEN {float(mult[t])!r}e0"
        f" * ln(1.0e0 + (n_docs - df_{i} + 0.5e0) / (df_{i} + 0.5e0))"
        f" * ({tf} * ({k1} + 1.0e0))"
        f" / ({tf} + {k1} * (1.0e0 - {b} + {b} * dl / avgdl)) ELSE 0.0e0 END"
        for i, (t, tf) in enumerate(zip(toks, tfs))
    ) or "0.0e0"
    if len(tfs) > 1:
        hit = f"greatest({', '.join(tfs)}) > 0"
    else:  # greatest() needs >= 2 arguments
        hit = f"{tfs[0]} > 0" if tfs else "false"
    return f"""
WITH per AS (
  SELECT {', '.join([f"doc_id AS doc, {size(dialect, 'toks')} AS dl"] + per)}
  FROM {source}
),
stats AS (SELECT {', '.join(["count(1) AS n_docs, avg(dl) AS avgdl"] + df)} FROM per),
scored AS (
  SELECT /*+ BROADCAST(stats) */ doc, {score} AS score
  FROM per CROSS JOIN stats
  WHERE {hit}
)
SELECT doc, {"score" if scored_only else "round(score, 6) AS score"}
FROM scored
{f"WHERE doc IN (SELECT doc_id FROM {source} WHERE {allow_pred})" if allow_pred else ""}
{f"ORDER BY round(score, 6) DESC, doc LIMIT {k}" if k is not None else ""}
""".strip()


def bm25_scores(docs: DataFrame, query_tokens: list[str]) -> DataFrame:
    """Spark binding of :func:`bm25_sql` over analyzed documents
    (doc_id, toks); returns the raw (doc, score) scored set.

    The analyzed tokens are materialized once, eagerly: two sibling
    stages of ONE job read them (the ``stats`` aggregate and the
    scoring projection), and each would otherwise re-run the
    tokenizer; a lazy checkpoint lets concurrently scheduled stages
    race past the unfilled blocks and re-tokenize."""
    base = docs.select("doc_id", "toks")
    if query_tokens:
        base = checkpoint(base, readers=2)
    return docs.sparkSession.sql(
        bm25_sql("spark", query_tokens, None, source="{docs}", scored_only=True),
        docs=base)
