"""Property-based pin of the BM25 scorer (T2) against an independent
Python transcription of the reference's Go
(pkg/core/core.go:1965-2068: FindIDsByTextSearch +
calculateBM25TermScore — candidates are the UNION of the query
tokens' posting lists, each query token scores WITH multiplicity,
idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation with k1=1.2,
b=0.75 length normalization).

Corpus-stat convention: N and avgdl cover every document in the
corpus (the engine's documented semantics — docs_tok is the
per-field index). ``bm25_sql`` is the only BM25 text: every Spark
text-search query runs it (``bm25_scores`` binds a DataFrame to it) and
every oracle runs it on DuckDB. The hypothesis property checks the
DuckDB side; the fixed cases run the same text on both engines and
check both against the reference, and the raw scores against each
other (they may differ by the few ulp that separate DuckDB's ``ln``
from Java's).
"""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from kektordb_spark.functions.text import BM25_B, BM25_K1, bm25_sql


def ref_bm25(
    docs: list[list[str]], query: list[str]
) -> dict[int, float]:
    n_docs = len(docs)
    if n_docs == 0 or not query:
        return {}
    dl = [len(t) for t in docs]
    avgdl = sum(dl) / n_docs
    # posting lists: token -> {doc: tf}
    postings: dict[str, dict[int, int]] = {}
    for i, toks in enumerate(docs):
        for t in toks:
            postings.setdefault(t, {}).setdefault(i, 0)
            postings[t][i] += 1
    # candidates = union of the query tokens' posting lists
    cands: set[int] = set()
    for t in query:
        cands |= set(postings.get(t, {}))
    out: dict[int, float] = {}
    for d in cands:
        score = 0.0
        for t in query:  # WITH duplicates, like the Go loop
            plist = postings.get(t)
            if not plist:
                continue
            tf = plist.get(d, 0)
            if tf == 0:
                continue
            df = len(plist)
            idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
            score += idf * (tf * (BM25_K1 + 1)) / (
                tf + BM25_K1 * (1 - BM25_B + BM25_B * (dl[d] / avgdl))
            )
        out[d] = round(score, 6)
    return out


_doc = st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]), max_size=10)
_query = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "missing"]),
    max_size=5,
)


def _duck(docs: list[list[str]]):
    con = duckdb.connect()
    con.execute("CREATE TABLE docs_tok (doc_id BIGINT, toks VARCHAR[])")
    con.executemany(
        "INSERT INTO docs_tok VALUES (?, ?)", [(i, t) for i, t in enumerate(docs)]
    )
    return con


def _check(got: dict[int, float], want: dict[int, float]) -> None:
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=2e-6)


@settings(max_examples=80, deadline=None)
@given(docs=st.lists(_doc, min_size=1, max_size=8), query=_query)
def test_bm25_oracle_matches_go_reference(docs, query) -> None:
    rows = _duck(docs).execute(bm25_sql("duckdb", query, k=10**6)).fetchall()
    _check(dict(rows), ref_bm25(docs, query))


_CORPUS = [["alpha", "beta", "alpha"], [], ["beta", "gamma"], ["alpha"],
           ["delta", "delta", "beta", "alpha", "gamma"]]


@pytest.mark.parametrize("query", [
    [],                                   # empty query: nothing scored
    ["gamma"],                            # one token
    ["alpha", "beta", "alpha", "gamma"],  # a repeated token
    ["missing", "beta"],                  # a token in no doc
], ids=["empty", "one", "repeated", "absent"])
def test_bm25_text_on_both_engines(spark, query) -> None:
    """The same bm25_sql text on Spark and DuckDB over a corpus with a
    doc that has no tokens: both match the reference, and so do their
    raw scores."""
    want = ref_bm25(_CORPUS, query)
    docs = spark.createDataFrame(list(enumerate(_CORPUS)), "doc_id bigint, toks array<string>")
    duck = _duck(_CORPUS)
    for scored_only in (False, True):
        spark_rows = dict(spark.sql(bm25_sql(
            "spark", query, 10**6, source="{docs}", scored_only=scored_only),
            docs=docs).collect())
        duck_rows = dict(duck.execute(bm25_sql(
            "duckdb", query, 10**6, scored_only=scored_only)).fetchall())
        _check(spark_rows, want)
        assert spark_rows == pytest.approx(duck_rows, rel=1e-14, abs=0)
