"""Text analysis functions (SURVEY.md §2.4 T1-T7).

Tokenizer mirrors reference pkg/textanalyzer/analyzer.go:17-44
(lowercase, ``[\\p{L}0-9_]+`` word regex, stopword removal). BM25 uses
k1=1.2, b=0.75 with idf = ln(1+(N-df+0.5)/(df+0.5))
(pkg/core/core.go:1960-2070). Sentiment is a +1/-1 lexicon count
(gardener.go:2568-2625 pattern); info density = unique/total tokens
(adaptive_retriever.go:478-499).

Everything here is built-in-function Spark SQL (JVM-side, codegen'd);
the Porter2-style stemmer — which cannot be a native expression — lives
in ``kektordb_spark.functions.stemmer`` as a pandas UDF off the default
hot path (the reference only stems when a text index is configured with
a language).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kektordb_spark.dialect import explode, size, str_arr, unnest
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


def build_postings(docs: DataFrame, id_col: str = "doc_id", toks_col: str = "toks") -> DataFrame:
    """Posting lists as a DataFrame: (token, doc, tf). The reference's
    in-RAM inverted text index (core.go:902-930) becomes a derived
    relation built with explode + groupBy — one shuffle, map-side
    combined."""
    return (
        docs.select(F.col(id_col).alias("doc"), F.explode(toks_col).alias("token"))
        .groupBy("token", "doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_scores(
    docs: DataFrame,
    query_tokens: list[str],
    id_col: str = "doc_id",
    toks_col: str = "toks",
) -> DataFrame:
    """BM25 over an analyzed corpus; returns (doc, score).

    Candidates = union of posting lists of the query tokens
    (core.go:2005-2021); score = sum over query tokens — WITH
    multiplicity: the reference iterates the analyzed query tokens
    including duplicates (core.go:2024-2031 ``for _, token := range
    queryTokens``), so a repeated query token contributes its term
    score once per occurrence — of
    idf * tf*(k1+1) / (tf + k1*(1-b+b*len/avgdl)) (core.go:2043-2070).

    Plan shape: one explode+groupBy for postings, broadcast of the
    (tiny) per-token document frequencies, a scalar subquery-free
    cross-stat via a literal N/avgdl aggregation — three narrow shuffles
    total, all keyed on the doc id.
    """
    if not query_tokens:
        # Empty analyzed query (e.g. an all-stopword CONTAINS filter)
        # matches nothing — the reference's posting-union candidate set
        # is empty (core.go:2005-2021).
        return docs.select(F.col(id_col).alias("doc")).limit(0).withColumn(
            "score", F.lit(0.0)
        )
    spark = docs.sparkSession
    # Materialize the analyzed tokens once: without this, Catalyst
    # collapses the tokenizer projection into the explode, re-running
    # the regexp + stopword filter once per OUTPUT token (~100x the
    # work). Eager rather than lazy: the relation is scanned by three
    # sibling stages of ONE job (postings, lengths, stats), and a lazy
    # checkpoint lets concurrently-scheduled stages race past the
    # unfilled blocks and re-tokenize.
    base = checkpoint(docs.select(
        F.col(id_col).alias("doc"), F.col(toks_col).alias("toks")
    ), readers=3)

    # Query token sets are tiny by nature, so tf(token, doc) comes from
    # per-token array scans in ONE narrow projection — no posting
    # explode, no token-keyed shuffle (the prior shape shuffled the
    # full (token, doc) posting relation to serve a 3-token query;
    # measured ~2.4 s of the 5 s total at sf0.1). build_postings
    # remains the materialized-index path for repeated-query serving.
    uniq: dict[str, int] = {}
    for t in query_tokens:
        uniq[t] = uniq.get(t, 0) + 1
    tokens = sorted(uniq)

    def tf_col(t: str) -> F.Column:
        esc = t.replace("'", "\\'")
        return F.expr(f"size(filter(toks, x -> x = '{esc}'))")

    per = base.select(
        "doc", F.size("toks").alias("dl"),
        *[tf_col(t).alias(f"tf_{i}") for i, t in enumerate(tokens)],
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(tokens))
        ],
    )
    rows = per.crossJoin(F.broadcast(stats))
    terms = []
    for i, t in enumerate(tokens):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        terms.append(
            F.when(
                tf > 0,
                float(uniq[t]) * idf * (tf * (BM25_K1 + 1))
                / (tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))),
            ).otherwise(F.lit(0.0))
        )
    score = terms[0]
    for term in terms[1:]:
        score = score + term
    hits = [F.col(f"tf_{i}") for i in range(len(tokens))]
    # greatest() requires >= 2 columns — a one-token query is just that
    # token's tf (the reference's posting union degenerates the same way)
    any_hit = (hits[0] if len(hits) == 1 else F.greatest(*hits)) > 0
    # candidates = union of the query tokens' posting lists
    # (core.go:2005-2021) == rows with at least one matching token
    return rows.where(any_hit).select("doc", score.alias("score"))


def bm25_oracle_sql(
    dialect: str, query_tokens: list[str], k: int | None,
    allow_pred: str | None = None, source: str = "docs_tok",
    scored_only: bool = False,
) -> str:
    """Self-contained BM25 SQL over the ``docs_tok`` view — identical
    formula in Spark SQL and DuckDB SQL (used by the correctness gate).

    ``allow_pred`` (a predicate over docs_tok columns) post-filters the
    scored set — the reference's hybrid text branch applies the boolean
    allowlist AFTER corpus-wide scoring (ops.go:997-1026), so idf/avgdl
    stay corpus-wide.

    ``scored_only`` emits RAW scores (no round-6 projection) for fusion
    callers that re-normalize. ``k=None`` EXPLICITLY requests the
    unbounded scored set — required when the caller is a DuckDB-only
    oracle whose Spark twin normalizes corpus-wide (hybrid fusion, the
    vsearch facade); dialect-shared callers (RRF) pass a real ``k`` so
    both engines' branches genuinely arrive top-N-bounded. This
    replaces the r4 pattern of slicing the returned text at
    rindex("SELECT doc") and appending an unbounded SELECT — which
    made ``k`` dead and silently mis-sliced on any edit to the final
    SELECT (ADVICE r4).

    Query tokens keep their multiplicity (core.go:2024-2031 iterates
    the analyzed query INCLUDING duplicates): qn weights each term."""
    qt = (f"SELECT token, CAST(count(*) AS DOUBLE) AS qn FROM "
          f"(SELECT {explode(dialect, str_arr(dialect, query_tokens))} AS token) "
          "GROUP BY token")
    dl_expr = size(dialect, "toks")
    tok = (f"SELECT doc_id AS doc, {dl_expr} AS dl, t.token AS token FROM {source} "
           f"{unnest(dialect, 'toks', 'token', 't')}")
    return f"""
WITH tok AS ({tok}),
lengths AS (SELECT doc_id AS doc, {dl_expr} AS dl FROM {source}),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM lengths),
qt AS ({qt}),
postings AS (
  SELECT token, doc, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
  FROM tok GROUP BY token, doc
),
dfreq AS (
  SELECT p.token, max(qt.qn) AS qn, CAST(count(*) AS DOUBLE) AS df
  FROM postings p JOIN qt USING (token) GROUP BY p.token
),
scored AS (
  SELECT p.doc,
         sum(
           d.qn
           * ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (p.tf * ({BM25_K1} + 1.0))
           / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * CAST(p.dl AS DOUBLE) / s.avgdl))
         ) AS score
  FROM postings p
  JOIN dfreq d ON p.token = d.token
  CROSS JOIN stats s
  GROUP BY p.doc
)
SELECT doc, {"score" if scored_only else "round(score, 6) AS score"}
FROM scored
{f"WHERE doc IN (SELECT doc_id FROM {source} WHERE {allow_pred})" if allow_pred else ""}
{f"ORDER BY round(score, 6) DESC, doc LIMIT {k}" if k is not None else ""}
""".strip()
