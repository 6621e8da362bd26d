"""Training-data text-analysis functions: language ID, quality
scoring, token counting, document fingerprinting.

The reference's text layer stops at tokenize/stem/BM25/sentiment
(pkg/textanalyzer/analyzer.go, core.go:1957-2068); a 100 TB pipeline
additionally needs per-document quality/language/size signals. All four
are dialect-parameterized SQL (Spark SQL / DuckDB produce identical
results) — pure projection-time column expressions, no shuffle, no UDF:
at scale these run inside the parquet scan's whole-stage-codegen span.
"""

from __future__ import annotations

from kektordb_spark.dialect import (
    array_join, fold, hex_to_int, regex_all, size, str_arr, transform, unnest,
)
from kektordb_spark.tables import ENGLISH_STOPWORDS

# Tiny per-language stopword profiles (n-gram/stopword-hit heuristic —
# the classic langid trick, deterministic and SQL-only). Alphabetical
# order of language codes doubles as the tie-break.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "en": ["the", "of", "and", "to", "in", "is", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans"],
}

# BPE-ish pre-tokenizer: word pieces, digit runs, single punctuation —
# the GPT-2 pre-tokenizer shape without unicode categories.
BPE_ISH_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def _raw_tokens(dialect: str, col: str) -> str:
    return regex_all(dialect, f"lower({col})", "[a-z0-9_]+")


def _grid6(expr: str) -> str:
    """Quantize a non-negative DOUBLE onto the 1e-6 integer grid,
    tie-free (SCALE.md rule 7b). `floor` never ties, so unlike
    `round(x, 6)` — scaled-multiply HALF_UP in Spark vs C-lib rint in
    DuckDB, 1-ulp divergent on exact .5 micro-boundaries (e.g. any
    ratio with denominator 128: x*1e6 lands exactly on .5) — both
    engines emit the bit-identical double. All inputs here are single
    IEEE divisions of exact integers, so `expr` itself is already
    bit-identical cross-engine; the final BIGINT/1e6 division is one
    more exactly-rounded IEEE op. Dialect-free: same text both sides."""
    return f"CAST(floor(({expr}) * 1e6) AS BIGINT) / 1e6"


def lang_id_sql(dialect: str) -> str:
    """Language ID by stopword-profile hits; argmax with alphabetical
    tie-break; 'und' (undetermined) when no profile hits."""
    toks = _raw_tokens(dialect, "text")
    langs = sorted(LANG_PROFILES)
    score_cols = ",\n       ".join(
        "{n} AS s_{l}".format(
            n=size(dialect, f"filter(toks, t -> array_contains("
                            f"{str_arr(dialect, LANG_PROFILES[l])}, t))"),
            l=l,
        )
        for l in langs
    )
    # alphabetical CASE chain: >= gives ties to the earliest language
    whens = "\n         ".join(
        "WHEN {conds} THEN '{l}'".format(
            conds=" AND ".join(f"s_{l} >= s_{o}" for o in langs if o != l) or "true",
            l=l,
        )
        for l in langs
    )
    zero = " AND ".join(f"s_{l} = 0" for l in langs)
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
s AS (
  SELECT doc_id,
       {score_cols}
  FROM t
)
SELECT doc_id,
       CASE WHEN {zero} THEN 'und'
         {whens}
         ELSE 'und' END AS lang_pred
FROM s
""".strip()


def quality_score_sql(dialect: str) -> str:
    """Per-doc quality signals + composite score in [0,1]:
    token count band, stopword ratio band, mean token length band,
    punctuation density. The weights are fixed, documented constants —
    the point is the *shape* (pure columnar scoring at scan time)."""
    toks = _raw_tokens(dialect, "text")
    stops = str_arr(dialect, ENGLISH_STOPWORDS)
    n_toks = size(dialect, "toks")
    n_stop = size(dialect, f"filter(toks, t -> array_contains({stops}, t))")
    n_punct = size(dialect, regex_all(dialect, "text", "[^a-zA-Z0-9\\s]"))
    joined = array_join(dialect, "toks", "")
    mean_len = f"CASE WHEN {n_toks} = 0 THEN 0.0 ELSE CAST(length({joined}) AS DOUBLE) / {n_toks} END"
    return f"""
WITH t AS (SELECT doc_id, text, n_chars, {toks} AS toks FROM documents),
m AS (
  SELECT doc_id,
         CAST({n_toks} AS INT)                                   AS n_toks,
         {_grid6(f"CASE WHEN {n_toks} = 0 THEN 0.0 ELSE CAST({n_stop} AS DOUBLE) / {n_toks} END")}  AS stopword_ratio,
         {_grid6(f"CAST({n_punct} AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0)")}            AS punct_ratio,
         {_grid6(mean_len)}                                      AS mean_tok_len
  FROM t
)
SELECT doc_id, n_toks, stopword_ratio, punct_ratio, mean_tok_len,
       -- e0 literals force DOUBLE in BOTH dialects: bare 0.25/1.0 parse as
       -- DECIMAL on Spark AND DuckDB, and a decimal-typed output column hashes
       -- differently across engines even when every value agrees (r5 red row).
       -- Quarters are IEEE-exact, so no _grid6 needed.
       0.25e0 * (CASE WHEN n_toks BETWEEN 5 AND 1000 THEN 1e0 ELSE 0e0 END)
       + 0.25e0 * (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1e0 ELSE 0e0 END)
       + 0.25e0 * (CASE WHEN punct_ratio <= 0.2 THEN 1e0 ELSE 0e0 END)
       + 0.25e0 * (CASE WHEN mean_tok_len BETWEEN 2.0 AND 12.0 THEN 1e0 ELSE 0e0 END)
         AS quality
FROM m
""".strip()


def token_count_sql(dialect: str) -> str:
    """Whitespace token count + BPE-ish piece count + chars-per-token
    estimate (the CharsPerToken budgeting idea from the reference's
    adaptive retrieval, pkg/rag/adaptive_retriever.go:300-411)."""
    ws = size(dialect, regex_all(dialect, "text", "\\S+"))
    bpe = size(dialect, regex_all(dialect, "lower(text)", BPE_ISH_RE))
    return f"""
SELECT doc_id,
       CAST({ws} AS INT)  AS ws_tokens,
       CAST({bpe} AS INT) AS bpe_tokens,
       {_grid6(f"CASE WHEN {bpe} = 0 THEN 0.0 ELSE CAST(n_chars AS DOUBLE) / {bpe} END")} AS chars_per_token
FROM documents
""".strip()


# T4 word sets, transcribed from pkg/textanalyzer/compressor.go:30-101.
# The effective removable set is safeStopWords MINUS importantWords
# (isStopWord checks isImportantWord first — notably 'a' is in BOTH
# lists, so it is PRESERVED despite being an article).
ENGLISH_SAFE_STOPWORDS = [
    "a", "an", "the",
    "is", "am", "are", "was", "were", "be", "been", "being",
    "have", "has", "had", "do", "does", "did",
    "will", "would", "shall", "should",
    "to", "of", "in", "on", "at", "by", "for", "from", "with", "about",
    "its", "as",
]
ITALIAN_SAFE_STOPWORDS = [
    "il", "lo", "la", "i", "gli", "le", "un", "uno", "una",
    "di", "a", "da", "in", "con", "su", "per", "tra", "fra",
    "al", "allo", "ai", "agli", "alla", "alle",
    "del", "dello", "dei", "degli", "della", "delle",
    "nel", "nello", "nei", "negli", "nella", "nelle",
    "sul", "sullo", "sui", "sugli", "sulla", "sulle",
    "dal", "dallo", "dai", "dagli", "dalla", "dalle",
    "col", "coi",
    "è", "era", "erano",
    "sto", "stai", "sta", "stiamo", "state", "stanno",
    "ho", "hai", "ha", "abbiamo", "avete", "hanno",
]
IMPORTANT_WORDS = [
    # English negations / logical operators / confusable single letters
    "not", "no", "never", "none", "nothing",
    "and", "or", "but", "if", "unless", "except",
    "only", "all", "every", "each", "any",
    "a", "i",
    # Italian
    "non", "mai", "nulla", "niente",
    "e", "ed", "o", "oppure", "ma", "però", "tuttavia",
    "se", "qualora", "tranne", "eccetto",
    "solo", "soltanto", "tutti", "tutte", "ogni", "ciascuno",
    "sono", "sia", "siano",
]
ENGLISH_REMOVABLE = [w for w in ENGLISH_SAFE_STOPWORDS if w not in IMPORTANT_WORDS]
ITALIAN_REMOVABLE = [w for w in ITALIAN_SAFE_STOPWORDS if w not in IMPORTANT_WORDS]

# smartTokenize (compressor.go:135-160): token chars are letters,
# digits, apostrophe, hyphen; punctuation is dropped, case preserved.
# ASCII class suffices for the fixture corpus; '' escapes the quote
# inside the SQL string literal.
_SMART_TOKEN_RE = "[A-Za-z0-9''-]+"


def compress_context_sql(dialect: str) -> str:
    """T4 context compression ("caveman mode",
    pkg/textanalyzer/compressor.go:73-222): smartTokenize (punctuation
    dropped, case and word forms preserved), remove the language's
    safe stopwords EXCEPT negations/logical operators, re-join with
    single spaces; report the token reduction ratio
    (CompressionRatio, compressor.go:210-222; the docs cite 20-35%).
    Language dispatch like the Go: 'it'/'italian' uses the Italian
    set, everything else falls back to English. Pure projection —
    tokenize/filter/join runs inside the scan's codegen span."""
    en = str_arr(dialect, ENGLISH_REMOVABLE)
    it = str_arr(dialect, ITALIAN_REMOVABLE)
    words = regex_all(dialect, "text", _SMART_TOKEN_RE)
    removable = f"CASE WHEN lang IN ('it', 'italian') THEN {it} ELSE {en} END"
    # an empty result joins to '', matching the Go (Compress("") == "")
    joined = array_join(dialect, "kept", " ")
    kept = "filter(words, w -> NOT array_contains(rem, lower(w)))"
    return f"""
WITH c0 AS (
  SELECT doc_id, {words} AS words, {removable} AS rem FROM documents
),
c AS (
  SELECT doc_id, {kept} AS kept, {size(dialect, 'words')} AS n_orig FROM c0
)
SELECT doc_id,
       {joined} AS compressed,
       CAST(n_orig AS INT) AS n_orig,
       CAST({size(dialect, 'kept')} AS INT) AS n_kept,
       round(CASE WHEN n_orig = 0 THEN 0.0
             ELSE 1.0 - CAST({size(dialect, 'kept')} AS DOUBLE) / n_orig END,
             6) AS reduction
FROM c
""".strip()


def fingerprint_sql(dialect: str) -> str:
    """Deterministic document fingerprint: polynomial rolling hash over
    the token hash sequence, mod 2^31-1 (order-sensitive, unlike the
    SimHash set fingerprint in operators/dedup.py)."""
    toks = _raw_tokens(dialect, "text")
    hashes = transform(dialect, "toks", f"t -> {hex_to_int(dialect, 'md5(t)')}")
    fp = fold(dialect, hashes, "CAST(0 AS BIGINT)",
              "(s, x) -> (s * 31 + x) % 2147483647")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents)
SELECT doc_id, {fp} AS fingerprint
FROM t
""".strip()


def info_density_sql(dialect: str) -> str:
    """T6 information density (pkg/rag/adaptive_retriever.go:478-499):
    unique tokens / total tokens per document."""
    uniq, tot = size(dialect, "array_distinct(toks)"), size(dialect, "toks")
    return f"""
SELECT doc_id, CAST({tot} AS INT) AS n_toks,
       round(CAST({uniq} AS DOUBLE) / {tot}, 6) AS density
FROM docs_tok
WHERE {tot} > 0
""".strip()


# ---------------------------------------------------------------------------
# Unigram language-model log-probability (perplexity-proxy quality score)
# ---------------------------------------------------------------------------

def unigram_logprob_sql(dialect: str, source: str = "docs_tok") -> str:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution, plus the perplexity proxy exp(-mean) — the
    classic LM-based quality filter (a cheap stand-in for the KenLM
    perplexity gate in C4/CCNet-style pipelines): documents whose token
    mix diverges from the corpus (boilerplate, garbled text, wrong
    language) score low-probability / high-perplexity.

    Plan shape: ONE posting explode feeds both the global unigram
    counts (tiny hash aggregate — the "model") and the per-doc scoring
    join; the model relation is distinct-token-sized so it broadcasts
    back, and the final pass is one doc-keyed aggregate. Two shuffles
    total at any scale. Rounding: mean log-prob to 5 decimals, and the
    perplexity proxy derives from the ROUNDED mean so both engines
    exponentiate the identical value (SCALE.md rule 7 discipline).
    The mean itself sums ln terms on an integer grid (rule 7b: each
    term quantized to 1e-12 per row, summed as BIGINT — exactly
    associative, so the doc-keyed shuffle order can never flip a
    rounding boundary; same fix class as hyde/PQ/IVFPQ)."""
    tok_rel = f"""SELECT doc_id, tok FROM {source}
  {unnest(dialect, 'toks', 'tok')}"""
    return f"""
WITH tok AS (
  {tok_rel}
),
lm AS (
  SELECT tok, count(*) AS c FROM tok GROUP BY tok
),
tot AS (
  SELECT sum(c) AS n FROM lm
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_toks,
       round(sum(lp_q) / 1e12 / count(*), 5) AS avg_logprob,
       round(exp(-round(sum(lp_q) / 1e12 / count(*), 5)), 3) AS ppl_proxy
FROM (
  SELECT t.doc_id,
         CAST(round(ln(CAST(lm.c AS DOUBLE) / tot.n) * 1e12) AS BIGINT)
           AS lp_q
  FROM tok t
  JOIN lm ON lm.tok = t.tok
  CROSS JOIN tot
) q
GROUP BY doc_id
""".strip()


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-rule family)
# ---------------------------------------------------------------------------

def repetition_signals_sql(dialect: str, source: str = "docs_tok") -> str:
    """Per-document repetition statistics — the Gopher repetition-rule
    family (Rae et al. 2021 §A1.1) re-anchored on the analyzed-token
    stream: duplicate-word mass, top-bigram mass, and the resulting
    keep/flag decision (top-2-gram fraction > 0.18 is the published
    Gopher cutoff; duplicate-word cutoff 0.60 is this engine's config).

    Plan shape: adjacent bigrams come from positional indexing of the
    (materialized) token arrays, the per-(doc, bigram) count and the
    per-doc roll-up are two hash aggregates both keyed on doc_id — the
    second reuses the first's partitioning at scale. No joins besides
    the broadcastable per-doc size relation."""
    if dialect == "spark":
        bi = f"""
  SELECT doc_id, concat(toks[i], ' ', toks[i + 1]) AS bg
  FROM (SELECT doc_id, toks,
               explode(sequence(0, size(toks) - 2)) AS i
        FROM {source} WHERE size(toks) >= 2) e"""
    else:
        bi = f"""
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
  FROM {source}, unnest(generate_series(1, len(toks) - 1)) AS _g(i)
  WHERE len(toks) >= 2"""
    n_toks = size(dialect, "toks")
    n_uniq = size(dialect, "array_distinct(toks)")
    return f"""
WITH sizes AS (
  SELECT doc_id, {n_toks} AS n_toks, {n_uniq} AS n_uniq
  FROM {source} WHERE {n_toks} >= 2
),
bi AS ({bi}),
cnt AS (
  SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg
),
agg AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM cnt GROUP BY doc_id
)
SELECT s.doc_id,
       round(1.0 - CAST(s.n_uniq AS DOUBLE) / s.n_toks, 6) AS dup_word_frac,
       round(CAST(a.top_c AS DOUBLE) / a.n_bg, 6) AS top_bigram_frac,
       CAST(CASE WHEN CAST(a.top_c AS DOUBLE) / a.n_bg > 0.18
                   OR 1.0 - CAST(s.n_uniq AS DOUBLE) / s.n_toks > 0.60
             THEN 1 ELSE 0 END AS INT) AS flagged_repetitive
FROM sizes s JOIN agg a ON a.doc_id = s.doc_id
""".strip()
