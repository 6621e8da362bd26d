"""Training-data pipeline operators: corpus mixing, decontamination,
sharding, sequence packing, composite quality gating.

The reference stops at per-document analysis (tokenize/BM25/compress —
pkg/textanalyzer) and dedup-shaped maintenance (gardener clusters); a
100 TB pretraining pipeline additionally needs the corpus-level
mechanics implemented here. Everything is dialect-parameterized SQL
(one source of truth for Spark and the DuckDB oracle) built on the
same portable hash primitive as operators/dedup.py (md5 -> first 8 hex
-> BIGINT), so every sampling / sharding / packing decision is
deterministic and engine-independent — re-running the pipeline on a
different cluster layout yields byte-identical corpus splits.

Plan shapes (see SCALE.md):
  * mix sampling     — scan-time hash filter, zero shuffles;
  * shard assignment — hash projection + one window keyed on shard
    (shard count scales with data: 16 at fixture, O(100k) at 100 TB,
    so per-shard row counts stay executor-bounded);
  * sequence packing — running sum per shard (one window, same key);
  * decontamination  — gram-hash EQUI-join, eval side broadcast;
  * quality gate     — scan-time projections + one hash-agg (dup pick).
"""

from __future__ import annotations

import pandas as pd

from kektordb_spark.dialect import (
    docs_tok, hex_to_int, regex_all, regexp_replace_all, seq, size, str_arr, unnest,
)
from kektordb_spark.functions.textquality import BPE_ISH_RE

# ---------------------------------------------------------------------------
# Shared hash helpers
# ---------------------------------------------------------------------------

SAMPLE_SEED = "mix42"
N_BUCKETS = 10_000


def _seeded_hash(dialect: str, seed: str) -> str:
    """md5 of the seed-salted doc_id -> BIGINT in [0, 16^8). Keys on
    doc_id only, so every decision made from it is stable under
    re-partitioning and corpus growth."""
    return hex_to_int(dialect, f"md5(concat('{seed}', CAST(doc_id AS STRING)))")


def _doc_bucket(dialect: str, seed: str = SAMPLE_SEED) -> str:
    """Deterministic per-doc bucket in [0, N_BUCKETS): md5 of the
    seeded id. Salting the seed re-draws the sample."""
    return f"({_seeded_hash(dialect, seed)}) % {N_BUCKETS}"


# Target mixture: per-language keep rates (fixture languages; unlisted
# languages fall through to the default). The rates are config, the
# mechanism (hash-gated stratified Bernoulli sampling) is the point.
MIX_RATES: dict[str, float] = {
    "en": 1.0, "de": 0.6, "es": 0.6, "fr": 0.6, "zh": 0.3,
}
MIX_DEFAULT_RATE = 0.1


def _rate_case() -> str:
    # e0 suffix: bare decimal literals parse as DECIMAL in both dialects,
    # which leaks a DECIMAL-typed output column (target_rate) that hashes
    # differently across engines — see tests/test_schema_guard.py.
    whens = " ".join(
        f"WHEN '{l}' THEN {r}e0" for l, r in sorted(MIX_RATES.items())
    )
    return f"CASE lang {whens} ELSE {MIX_DEFAULT_RATE}e0 END"


def mix_sample_sql(dialect: str) -> str:
    """Stratified deterministic corpus sampling: keep a document iff
    its seeded hash bucket clears the language's target rate.
    Hash-gating (vs rand()) makes the sample reproducible across
    engines, re-runs, and cluster layouts, and composable: a 0.3
    sample is a strict subset of a 0.6 sample under the same seed.
    Scan-time filter — no shuffle, pushes past column pruning."""
    bucket = _doc_bucket(dialect)
    return f"""
SELECT doc_id, lang, source,
       CAST({bucket} AS INT) AS sample_bucket
FROM documents
WHERE {bucket} < CAST(round(({_rate_case()}) * {N_BUCKETS}, 0) AS BIGINT)
""".strip()


def mix_summary_sql(dialect: str) -> str:
    """Observed-vs-target mixture report over the stratified sample:
    one aggregation pass (map-side combined) over the scan-time
    filter — the audit a data-mixing job ships with its output."""
    bucket = _doc_bucket(dialect)
    rate = _rate_case()
    return f"""
WITH flagged AS (
  SELECT lang,
         CASE WHEN {bucket} < CAST(round(({rate}) * {N_BUCKETS}, 0) AS BIGINT)
              THEN 1 ELSE 0 END AS kept,
         {rate} AS target_rate
  FROM documents
)
SELECT lang,
       CAST(count(*) AS INT)  AS total_docs,
       CAST(sum(kept) AS INT) AS kept_docs,
       round(CAST(sum(kept) AS DOUBLE) / count(*), 4) AS observed_rate,
       round(target_rate, 4) AS target_rate
FROM flagged
GROUP BY lang, target_rate
""".strip()


# ---------------------------------------------------------------------------
# Shard assignment + sequence packing
# ---------------------------------------------------------------------------

N_SHARDS = 16
PACK_CAPACITY = 256  # BPE-ish tokens per packed training sequence


def _shard(dialect: str) -> str:
    return f"({_seeded_hash(dialect, 'shard')}) % {N_SHARDS}"


def shard_assign_sql(dialect: str) -> str:
    """Deterministic shard assignment + intra-shard position for
    training-data loading: shard = seeded hash mod N_SHARDS (a
    hash-shuffle any engine reproduces), position = rank within the
    shard ordered by (hash, doc_id) — i.e. a deterministic global
    shuffle of the corpus, the thing a dataloader needs to resume
    mid-epoch without coordination. One window keyed on shard; shard
    count scales with data so the per-shard sort stays bounded."""
    sh = _shard(dialect)
    h = _seeded_hash(dialect, "pos")
    return f"""
WITH s AS (
  SELECT doc_id, CAST({sh} AS INT) AS shard, {h} AS h FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT)
         AS position
FROM s
""".strip()


N_EPOCHS = 2  # epochs materialized by the epoch-shuffle query


def epoch_shuffle_sql(dialect: str, epochs: int = N_EPOCHS) -> str:
    """Deterministic multi-EPOCH global shuffle (r6): every training
    epoch gets an independent permutation of the corpus — shard and
    within-shard position both keyed on md5(epoch salt + doc_id) — so
    epoch 2 never replays epoch 1's order (the staleness/curriculum
    artifact repeated-order training produces), yet any worker can
    recompute its slice from (epoch, shard, position) alone: no
    rand(), no driver-held permutation state, resume-exact across
    re-runs and cluster layouts.

    Mechanics: one UNION ALL branch per epoch (epoch count is config,
    like MIX_RATES), each keying the SAME hash-shard + rank-window
    shape as shard_assign_sql but with the epoch in the hash salt. One
    shuffle keyed (epoch, shard); shard count scales with data so the
    per-shard sort stays bounded — at 100 TB this is exactly the
    per-epoch file-manifest a dataloader materializes ahead of time."""
    branches = []
    for e in range(epochs):
        key = f"md5(concat('ep{e}:', CAST(doc_id AS STRING)))"
        shard = f"({hex_to_int(dialect, key)}) % {N_SHARDS}"
        branches.append(
            f"SELECT doc_id, {e} AS epoch, CAST({shard} AS INT) AS shard,"
            f" {key} AS k FROM documents"
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH keyed AS (
{union}
)
SELECT doc_id, CAST(epoch AS INT) AS epoch, shard,
       CAST(row_number() OVER (PARTITION BY epoch, shard
                               ORDER BY k ASC, doc_id ASC) AS INT)
         AS position
FROM keyed
""".strip()


def pack_sequences_sql(dialect: str) -> str:
    """Concatenate-and-chunk sequence packing (the GPT-style pack: the
    shard's documents form one token stream, split every
    PACK_CAPACITY tokens; documents may straddle a boundary): per
    shard, a running token sum in deterministic order gives each doc
    its stream offset; pack id = offset div capacity. One window per
    shard — the same key as shard assignment, so at scale the sort
    reuses the shard shuffle. Emits the doc -> (pack, offset) map a
    dataloader materializes."""
    sh = _shard(dialect)
    bpe = size(dialect, regex_all(dialect, "lower(text)", BPE_ISH_RE))
    return f"""
WITH t AS (
  SELECT doc_id, CAST({sh} AS INT) AS shard,
         CAST({bpe} AS BIGINT) AS n_toks
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_toks,
         coalesce(sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS stream_off
  FROM t
)
SELECT doc_id, shard, CAST(n_toks AS INT) AS n_toks,
       CAST(shard * 1000000 + CAST(floor(stream_off / {PACK_CAPACITY}) AS BIGINT)
            AS BIGINT) AS pack_id,
       CAST(stream_off % {PACK_CAPACITY} AS INT) AS pack_offset
FROM c
""".strip()


# ---------------------------------------------------------------------------
# Decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

GRAM_N = 5
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0  ->  held-out eval document


def _grams(dialect: str, toks: str) -> str:
    """Hashes of all word GRAM_N-grams of a token array (empty when the
    doc is shorter than GRAM_N). Matching slices: Spark slice(a,i+1,N)
    == DuckDB a[i+1:i+N] (1-based, N elements)."""
    n = GRAM_N
    if dialect == "spark":
        return (
            f"CASE WHEN size({toks}) >= {n} THEN "
            f"transform(sequence(0, size({toks}) - {n}), "
            f"i -> md5(concat_ws(' ', slice({toks}, i + 1, {n})))) "
            f"ELSE array() END"
        )
    return (
        f"list_transform(generate_series(0, len({toks}) - {n}), "
        f"i -> md5(array_to_string({toks}[i + 1:i + {n}], ' ')))"
    )


def decontaminate_sql(dialect: str) -> str:
    """Benchmark decontamination: flag training documents sharing any
    word {GRAM_N}-gram with the held-out eval slice (doc_id %
    {EVAL_MOD} == 0). Candidate generation is a gram-hash EQUI-join —
    never a doc x doc comparison — and the eval side of a real
    pipeline is tiny (benchmarks), i.e. broadcast. Reports per
    contaminated training doc the distinct shared grams and distinct
    eval docs hit — the audit trail for dropping or masking."""
    toks = regex_all(dialect, "lower(text)", "[a-z0-9_]+")
    grams = _grams(dialect, "toks")
    if dialect == "spark":
        ex = "LATERAL VIEW explode(grams) _g AS gram"
        train_g = f"SELECT doc_id, gram FROM g WHERE doc_id % {EVAL_MOD} <> 0 {ex}"
        eval_g = (f"SELECT doc_id AS eval_id, gram FROM g "
                  f"WHERE doc_id % {EVAL_MOD} = 0 {ex}")
    else:
        train_g = (f"SELECT doc_id, unnest(grams) AS gram FROM g "
                   f"WHERE doc_id % {EVAL_MOD} <> 0")
        eval_g = (f"SELECT doc_id AS eval_id, unnest(grams) AS gram FROM g "
                  f"WHERE doc_id % {EVAL_MOD} = 0")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
g AS (SELECT doc_id, {grams} AS grams FROM t),
tr AS ({train_g}),
ev AS ({eval_g})
SELECT tr.doc_id,
       CAST(count(DISTINCT tr.gram) AS INT) AS n_shared_grams,
       CAST(count(DISTINCT ev.eval_id) AS INT) AS n_eval_docs
FROM tr JOIN ev ON ev.gram = tr.gram
GROUP BY tr.doc_id
""".strip()


# ---------------------------------------------------------------------------
# Composite quality gate
# ---------------------------------------------------------------------------

def quality_gate_sql(dialect: str) -> str:
    """C4/Gopher-shaped corpus filter chain with an audit column: each
    document gets a deterministic ordered list of rejection reasons
    (too_short / too_long / bad_stopword_ratio / high_punct /
    exact_dup) and kept = no reasons. Signals are the scan-time
    expressions of functions/textquality.py; the only shuffle is the
    exact-dup hash-agg (first occurrence by doc_id wins, matching
    operators/dedup.py exact semantics). The reason column is what
    separates a *pipeline* filter from a WHERE clause: every dropped
    row is accounted for downstream."""
    from kektordb_spark.tables import ENGLISH_STOPWORDS

    toks = regex_all(dialect, "lower(text)", "[a-z0-9_]+")
    stops = str_arr(dialect, ENGLISH_STOPWORDS)
    punct_re = "[^a-zA-Z0-9" + chr(92) + "s]"
    punct_arr = regex_all(dialect, "text", punct_re)
    n_toks = size(dialect, "toks")
    n_stop = size(dialect, f"filter(toks, t -> array_contains({stops}, t))")
    n_punct = size(dialect, punct_arr)
    return f"""
WITH t AS (
  SELECT doc_id, text, n_chars, {toks} AS toks,
         md5(lower(text)) AS text_hash
  FROM documents
),
m AS (
  SELECT doc_id, text_hash,
         {n_toks} AS n_toks,
         CASE WHEN {n_toks} = 0 THEN 0.0
              ELSE CAST({n_stop} AS DOUBLE) / {n_toks} END AS stop_ratio,
         CAST({n_punct} AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0)
           AS punct_ratio,
         row_number() OVER (PARTITION BY md5(lower(text))
                            ORDER BY doc_id) AS occ
  FROM t
)
SELECT doc_id,
       concat_ws(',',
         CASE WHEN n_toks < 5 THEN 'too_short' END,
         CASE WHEN n_toks > 1000 THEN 'too_long' END,
         CASE WHEN n_toks >= 5 AND (stop_ratio < 0.01 OR stop_ratio > 0.6)
              THEN 'bad_stopword_ratio' END,
         CASE WHEN punct_ratio > 0.2 THEN 'high_punct' END,
         CASE WHEN occ > 1 THEN 'exact_dup' END) AS reject_reasons,
       CAST(CASE WHEN n_toks >= 5 AND n_toks <= 1000
                  AND stop_ratio >= 0.01 AND stop_ratio <= 0.6
                  AND punct_ratio <= 0.2 AND occ = 1
             THEN 1 ELSE 0 END AS INT) AS kept
FROM m
""".strip()


# ---------------------------------------------------------------------------
# Vocabulary building: adjacent-token pair counts (the BPE merge-step
# statistic)
# ---------------------------------------------------------------------------

VOCAB_TOP_K = 32


def vocab_pairs_sql(dialect: str, source: str = "docs_tok", k: int = VOCAB_TOP_K) -> str:
    """Top-k most frequent ADJACENT token pairs over the analyzed
    corpus — the statistic a BPE/WordPiece vocabulary builder computes
    each merge round (merge the argmax pair, re-count, repeat); one
    round is exposed as a query, the iterated builder lives in
    tests/test_vocab.py against an independent Python reference.

    Token ORDER matters (unlike every bag-of-words operator here), so
    pairs come from positional indexing, not explode-of-set.

    Plan shape: the pair relation explodes a per-doc pair ARRAY that
    the Spark runner materializes first (SCALE.md rule 1 — the
    generator child is evaluated interpreted, once per OUTPUT row);
    the count is one hash aggregate keyed on the pair (map-side
    partial), and top-k is TakeOrderedAndProject. At 100 TB this is
    the canonical two-phase count: no shuffle ever carries more than
    the distinct-pair relation."""
    if dialect == "spark":
        pairs = ("transform(sequence(0, size(toks) - 2), "
                 "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")
        p = f"""
  SELECT pr.w1 AS w1, pr.w2 AS w2
  FROM (SELECT {pairs} AS prs FROM {source} WHERE size(toks) >= 2) t
  LATERAL VIEW explode(prs) _p AS pr"""
    else:
        p = f"""
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM {source}, unnest(generate_series(1, len(toks) - 1)) AS _g(i)
  WHERE len(toks) >= 2"""
    return f"""
WITH p AS ({p})
SELECT w1, w2, count(*) AS cnt
FROM p
GROUP BY w1, w2
ORDER BY cnt DESC, w1 ASC, w2 ASC
LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# BPE vocabulary TRAINING loop: iterated argmax-pair merge — the
# whole builder, not just the one-round statistic above
# ---------------------------------------------------------------------------

BPE_ROUNDS = 5


def _adj_pairs(dialect: str, source: str) -> str:
    """Adjacent-token pair relation (w1, w2) over ``source(doc_id,
    toks)`` — positional, order-preserving (vocab_pairs_sql shape)."""
    if dialect == "spark":
        # TOTAL expression: get() nulls on out-of-bounds and the
        # sequence stop is clamped to >= 0 — Spark's subexpression
        # elimination can evaluate the transform inside the Filter
        # predicate BEFORE `size(toks) >= 2` short-circuits, and
        # sequence(0, -1) generates a DESCENDING range, so the
        # untotal form threw INVALID_ARRAY_INDEX on <2-token docs.
        pairs = ("transform(sequence(0, greatest(size(toks) - 2, 0)), "
                 "i -> struct(get(toks, i) AS w1, get(toks, i + 1) AS w2))")
        return f"""
  SELECT pr.w1 AS w1, pr.w2 AS w2
  FROM (SELECT {pairs} AS prs FROM {source} WHERE size(toks) >= 2) t
  LATERAL VIEW explode(prs) _p AS pr"""
    return f"""
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM {source}, unnest(generate_series(1, len(toks) - 1)) AS _g(i)
  WHERE len(toks) >= 2"""


def _bpe_merge_expr(dialect: str) -> str:
    """Greedy left-to-right single-pair merge of ``toks`` against the
    current round's argmax pair (columns ``b.w1``/``b.w2`` of a 1-row
    relation referenced from inside the lambda): scan the array once,
    replacing every non-overlapping (w1, w2) occurrence with the
    space-joined merged symbol — exact BPE merge-step semantics
    (merged output never re-merges within its own round because the
    new symbol contains a space and so never string-equals w1)."""
    if dialect == "spark":
        return """CASE WHEN b.w1 IS NULL OR size(toks) = 0 THEN toks ELSE
  aggregate(toks, CAST(array() AS ARRAY<STRING>),
    (acc, x) -> CASE WHEN size(acc) > 0
                      AND element_at(acc, -1) = b.w1 AND x = b.w2
                THEN concat(slice(acc, 1, size(acc) - 1),
                            array(concat(b.w1, ' ', b.w2)))
                ELSE concat(acc, array(x)) END) END"""
    return """CASE WHEN b.w1 IS NULL OR len(toks) = 0 THEN toks ELSE
  list_reduce(list_transform(toks, x -> [x]),
    (acc, x) -> CASE WHEN len(acc) > 0
                      AND acc[-1] = b.w1 AND x[1] = b.w2
                THEN list_append(acc[1:len(acc) - 1],
                                 b.w1 || ' ' || b.w2)
                ELSE list_concat(acc, x) END) END"""


def _bpe_best_sql(dialect: str, pairs_rel: str) -> str:
    """The round's argmax pair as a GUARANTEED 1-row relation: the real
    argmax when any adjacent pair exists, else a null sentinel row.
    Guards the r4 ADVICE hazard: a 0-row best (e.g. a swapped
    ``source`` where every doc has <2 tokens after merges) CROSS
    JOINed into the merge silently EMPTIED the whole token relation —
    bpe_apply returned an empty audit instead of identity
    tokenization. The merge expression/kernel treats a null pair as
    identity, so a dry round now passes tokens through unchanged; the
    trainer filters sentinel rows out of the merge table."""
    null_s = "CAST(NULL AS STRING)"
    return f"""
SELECT w1, w2, cnt FROM (
  SELECT w1, w2, cnt FROM (
    SELECT w1, w2, count(*) AS cnt FROM {pairs_rel}
    GROUP BY w1, w2
    ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT 1
  ) r
  UNION ALL
  SELECT {null_s} AS w1, {null_s} AS w2, CAST(NULL AS BIGINT) AS cnt
) u
ORDER BY cnt DESC NULLS LAST, w1 ASC LIMIT 1
""".strip()


def bpe_train_sql(dialect: str, rounds: int = BPE_ROUNDS,
                  source: str = "docs_tok") -> str:
    """The ITERATED BPE vocabulary builder as one SQL text: ``rounds``
    unrolled (count pairs -> argmax -> greedy merge) steps, returning
    the merge table (step, w1, w2, cnt) a tokenizer trainer ships.

    This is the text pipeline's pagerank: a bounded driver-side loop
    whose per-round control decision is DATA-dependent (the argmax
    pair), expressed declaratively — the argmax is a 1-row relation
    CROSS JOINed into the next round's merge lambda, so the engine
    broadcasts the decision instead of the driver collecting it.

    Plan shape per round: one hash aggregate keyed on the pair (the
    only data-sized shuffle; map-side partials), a 1-row
    TakeOrderedAndProject, and a map-only fold over the token arrays.
    The Spark runner (``bpe_train``) checkpoints the token relation
    between rounds — the unrolled text re-derives every prior round on
    each reference (fine for the DuckDB oracle, which materializes
    CTEs; exponential for Spark's inlining of multiply-referenced
    CTEs, SCALE.md rule 2). At 100 TB the per-round cost is a
    pair-count aggregate over the corpus — the known cost of training
    a tokenizer on everything; the usual move (train the vocab on a
    mix_sample_sql subcorpus) composes here by swapping ``source``.
    """
    merge = _bpe_merge_expr(dialect)
    parts = [f"t0 AS (SELECT doc_id, toks FROM {source})"]
    units = []
    for i in range(rounds):
        parts.append(f"p{i} AS ({_adj_pairs(dialect, f't{i}')})")
        parts.append(f"best{i} AS (\n{_bpe_best_sql(dialect, f'p{i}')}\n)")
        parts.append(f"""t{i + 1} AS (
  SELECT doc_id, {merge} AS toks
  FROM t{i} CROSS JOIN best{i} b
)""")
        units.append(
            f"SELECT {i + 1} AS step, w1, w2, cnt FROM best{i}")
    body = ",\n".join(parts)
    un = "\nUNION ALL ".join(units)
    return f"""
WITH {body}
SELECT CAST(step AS INT) AS step, w1, w2, cnt FROM ({un}) u
WHERE w1 IS NOT NULL
ORDER BY step
""".strip()


def _bpe_merge_udf():
    """Arrow-batched greedy merge kernel: one O(n) scan per document,
    replacing the SQL fold (which is O(n^2) per row — ``concat(acc,
    array(x))`` copies the accumulator per element, measured 7 s for 5
    rounds at sf0.1 vs ~2 s with this kernel). Semantics are provably
    identical to the fold: after a merge the stack top is the merged
    symbol, which contains a space and so never string-equals w1, so
    greedy earliest-first and fold-left agree on every input. The
    argmax pair arrives as COLUMNS (constant per batch via the 1-row
    cross join), keeping the loop's control decision out of the
    driver."""
    from pyspark.sql import functions as F

    @F.pandas_udf("array<string>")
    def merge(toks: pd.Series, w1: pd.Series, w2: pd.Series) -> pd.Series:
        out = []
        for t, a, b in zip(toks, w1, w2):
            if not isinstance(a, str) or not isinstance(b, str):
                # null sentinel round (_bpe_best_sql; None or NaN in
                # the Arrow batch): identity
                out.append(t)
                continue
            res = []
            i, n = 0, len(t)
            ab = None
            while i < n:
                if i + 1 < n and t[i] == a and t[i + 1] == b:
                    if ab is None:
                        ab = a + " " + b
                    res.append(ab)
                    i += 2
                else:
                    res.append(t[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    return merge


def bpe_train(spark, rounds: int = BPE_ROUNDS,
              source: str = "docs_tok_par"):
    """Spark runner for the BPE training loop: same per-round shape as
    bpe_train_sql, with the token relation localCheckpoint'ed between
    rounds (truncating the re-derivation chain — the pagerank
    discipline) and each round's argmax kept as a checkpointed 1-ROW
    relation that the merge step CROSS JOINs (broadcast), so no
    round's control decision ever passes through the driver. The merge
    itself is the Arrow kernel (``_bpe_merge_udf``); the fold form
    stays available as bpe_train_sql('spark') and the equivalence is
    pinned in tests/test_vocab.py."""
    from pyspark.sql import functions as F

    t = spark.table(source).selectExpr("doc_id", "toks")
    merge = _bpe_merge_udf()
    bests = []
    for i in range(rounds):
        # ONE materialization job per round: the checkpoint of the
        # merged relation. best_i stays LAZY over the checkpointed
        # t_i — it is evaluated inside t_{i+1}'s checkpoint and once
        # more by the final merge-table union, both one cheap hash-agg
        # over already-materialized data. (Checkpointing best_i too
        # doubled the job count, and per-job fixed overhead — not the
        # merge compute — is what dominates this loop at fixture
        # scale: 11 jobs ~7-10 s vs 6 jobs ~4 s.)
        # r7: LAZY checkpoint — the round's broadcast argmax build is
        # the first consumer and materializes t's blocks (sequentially,
        # before the merge stage probes them), so the loop body builds
        # plans only; every job runs inside the final action's cascade
        t = t.localCheckpoint(eager=False)
        t.createOrReplaceTempView(f"_bpe_t{i}")
        best = spark.sql(
            _bpe_best_sql("spark", f"({_adj_pairs('spark', f'_bpe_t{i}')}) p"))
        bests.append(best.select(F.lit(i + 1).alias("step"), "w1", "w2", "cnt"))
        t = (
            t.crossJoin(F.broadcast(best))
            .select("doc_id", merge("toks", "w1", "w2").alias("toks"))
        )
    out = bests[0]
    for b in bests[1:]:
        out = out.unionAll(b)
    return out.where(F.col("w1").isNotNull()).select(
        F.col("step").cast("int").alias("step"), "w1", "w2", "cnt"
    ).orderBy("step")


# ---------------------------------------------------------------------------
# DSIR-style data selection: hashed-ngram importance resampling
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 512
DSIR_TARGET_LANG = "en"
DSIR_K = 50
DSIR_SEED = "dsir42"


def dsir_bg_sql(source: str = "docs_tok_par") -> str:
    """Spark-dialect (doc_id, lang, bucket) bigram-bucket relation —
    the piece the runner materializes once (see dsir_select_sql).
    Default source is the PRE-TOKENIZED parquet relation
    (tables.load_tables ``docs_tok_par``): explode re-evaluates its
    child per OUTPUT row (SCALE.md rule 1), so generating bigrams over
    the tokenizing VIEW re-runs the regex per bigram — measured 14.2 s
    vs 0.3 s at sf0.1."""
    pairs = ("transform(sequence(0, size(toks) - 2), "
             "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")
    bucket = hex_to_int("spark", "md5(concat(pr.w1, ' ', pr.w2))")
    return f"""
SELECT doc_id, lang, ({bucket}) % {DSIR_BUCKETS} AS bucket
FROM (SELECT doc_id, lang, {pairs} AS prs
      FROM {source} WHERE size(toks) >= 2) t
LATERAL VIEW explode(prs) _p AS pr
""".strip()


def dsir_select_sql(dialect: str, bg_source: str | None = None) -> str:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how target-like its
    hashed-ngram profile is — log w(x) = sum over the doc's bigram
    occurrences of ln(p_target(bucket) / p_raw(bucket)) — then sample
    top-k under per-doc Gumbel noise (Gumbel-top-k == sampling without
    replacement proportional to w). Fixture target: the ``lang='en'``
    slice as the in-domain corpus, whole corpus as raw; B=512 hash
    buckets at fixture scale (the paper uses 10k).

    Determinism: the Gumbel uniform is the SEEDED-HASH discipline
    every sampler here uses (mix_sample_sql) — u = (md5-bucket + .5)/
    1e6 per doc, g = -ln(-ln(u)) — so the "random" draw is
    engine-reproducible and stable under growth. The importance sum
    uses the rule-7b integer grid (each bucket's log ratio quantized
    to 1e-12, summed as BIGINT — exactly associative under any
    partitioning; same class as text_unigram_logprob). Docs with <2
    tokens have no ngram profile and are deterministically excluded.

    Plan shape at 100 TB: both ngram LMs are B-row relations (ONE
    bucket-keyed aggregate each, map-side partials; B is fixed, so
    they always broadcast); scoring is a broadcast join + one
    doc-keyed aggregate; selection is TakeOrderedAndProject. Two
    data-sized shuffles total, both partially aggregated map-side."""
    B = DSIR_BUCKETS
    if bg_source is not None:
        # Pre-materialized (doc_id, lang, bucket) relation: bg is
        # referenced by THREE consumers (target LM, raw LM, scoring
        # join) and Spark inlines multiply-referenced CTEs (SCALE.md
        # rule 2) — the runner (``dsir_select``) checkpoints it once.
        head = (f"WITH bg AS (SELECT doc_id, lang, bucket "
                f"FROM {bg_source}),")
    else:
        if dialect == "spark":
            pairs = ("transform(sequence(0, size(toks) - 2), "
                     "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")
            bg_rel = f"""
  SELECT doc_id, lang, pr.w1 AS w1, pr.w2 AS w2
  FROM (SELECT doc_id, lang, {pairs} AS prs
        FROM docs_tok WHERE size(toks) >= 2) t
  LATERAL VIEW explode(prs) _p AS pr"""
            cat = "concat(w1, ' ', w2)"
        else:
            bg_rel = f"""
  SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
  FROM docs_tok, unnest(generate_series(1, len(toks) - 1)) AS _g(i)
  WHERE len(toks) >= 2"""
            cat = "w1 || ' ' || w2"
        bucket = hex_to_int(dialect, f"md5({cat})")
        head = f"""WITH bgr AS ({bg_rel}),
bg AS (
  SELECT doc_id, lang, ({bucket}) % {B} AS bucket FROM bgr
),"""
    gu = _seeded_hash(dialect, DSIR_SEED)
    return f"""
{head}
tgt AS (
  SELECT bucket, count(*) AS c FROM bg
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
),
rawc AS (
  SELECT bucket, count(*) AS c FROM bg GROUP BY bucket
),
tn AS (SELECT sum(c) AS n FROM tgt),
rn AS (SELECT sum(c) AS n FROM rawc),
w AS (
  SELECT r.bucket,
         CAST(round((ln((coalesce(t.c, 0) + 1.0) / (tn.n + {B}.0))
                     - ln((r.c + 1.0) / (rn.n + {B}.0))) * 1e12)
              AS BIGINT) AS lw_q
  FROM rawc r
  LEFT JOIN tgt t ON t.bucket = r.bucket
  CROSS JOIN tn CROSS JOIN rn
),
docw AS (
  SELECT bg.doc_id, bg.lang,
         sum(w.lw_q) AS lw_sum, count(*) AS n_grams
  FROM bg JOIN w ON w.bucket = bg.bucket
  GROUP BY bg.doc_id, bg.lang
)
SELECT doc_id, lang, CAST(n_grams AS BIGINT) AS n_grams,
       round(lw_sum / 1e12, 6) AS logw,
       round(lw_sum / 1e12
             - ln(-ln((({gu}) % 1000000 + 0.5) / 1000000.0)), 6)
         AS sel_score,
       CAST(row_number() OVER (
         ORDER BY round(lw_sum / 1e12
                        - ln(-ln((({gu}) % 1000000 + 0.5) / 1000000.0)), 6)
                  DESC, doc_id ASC) AS INT) AS rank
FROM docw
ORDER BY rank
LIMIT {DSIR_K}
""".strip()


# ---------------------------------------------------------------------------
# Curriculum ordering: difficulty-binned, deterministically interleaved
# ---------------------------------------------------------------------------

CURRICULUM_STEPS = (  # (name, min inclusive) over the difficulty score
    ("easy", 0.00),
    ("medium", 0.35),
    ("hard", 0.65),
)


def curriculum_sql(dialect: str) -> str:
    """Curriculum schedule for training-data loading: each document is
    binned into a difficulty step by FIXED score thresholds and given a
    deterministic position within its (step, shard) cell.

    The difficulty score is a scan-time proxy — normalized length plus
    lexical diversity (distinct-token ratio): longer, less-repetitive
    documents train later.  Thresholds are configuration, NOT corpus
    quantiles, deliberately: an exact quantile (ntile/percent_rank)
    needs a global total order — a single-partition sort at 100 TB —
    while fixed cutoffs keep the binning a zero-shuffle scan
    expression and make the schedule stable when the corpus grows
    (re-binning a grown corpus never reshuffles old epochs' steps).
    Corpus-adaptive cutoffs belong in a separate tiny aggregate
    (approx percentiles) feeding the SAME fixed-threshold form.

    Position: seeded-hash rank within (step, shard) — the
    shard_assign_sql pattern, so the per-cell window stays
    executor-bounded at any scale; a dataloader replays
    step ASC, shard, position.  One bounded window is the only
    shuffle."""
    toks = regex_all(dialect, "lower(text)", "[a-z0-9_]+")
    n_toks = size(dialect, "toks")
    n_uniq = size(dialect, "array_distinct(toks)")
    sh = _shard(dialect)
    h = _seeded_hash(dialect, "curr")
    cuts = sorted(CURRICULUM_STEPS, key=lambda t: -t[1])
    step_case = "CASE " + " ".join(
        f"WHEN score >= {lo} THEN '{name}'" for name, lo in cuts
    ) + " END"
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks, {sh} AS shard, {h} AS h FROM documents
),
m AS (
  SELECT doc_id, shard, h,
         round(0.5 * least(CAST({n_toks} AS DOUBLE) / 200.0, 1.0)
               + 0.5 * (CASE WHEN {n_toks} = 0 THEN 0.0
                        ELSE CAST({n_uniq} AS DOUBLE) / {n_toks} END),
               6) AS score
  FROM t
)
SELECT doc_id, score, {step_case} AS step, CAST(shard AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY {step_case}, shard
                               ORDER BY h, doc_id) AS INT) AS position
FROM m
""".strip()


ADAPTIVE_STEPS = ("warmup", "core", "hard", "frontier")  # quartile names
ADAPTIVE_QS = (0.25, 0.5, 0.75)


def curriculum_adaptive_sql(dialect: str) -> str:
    """Corpus-ADAPTIVE curriculum binning — the companion
    curriculum_sql's docstring promises: cutoffs come from the corpus's
    own score distribution instead of fixed configuration, computed as
    ONE tiny aggregate (3 doubles) that feeds the same zero-shuffle
    CASE binning via a broadcast of the 1-row cutoff relation.

    Exact `percentile` here (both engines interpolate at rank p*(n-1),
    verified value-equal vs DuckDB quantile_cont); at 100 TB swap the
    aggregate for `approx_percentile` — the t-digest sketch merges
    map-side, the cutoff relation is still 1 row, and NOTHING else in
    the plan changes (that swap-point is the whole reason the cutoffs
    live in their own relation). Re-binning a grown corpus shifts step
    boundaries (quartiles move) — that is the semantic difference vs
    curriculum_sql, which trades adaptivity for growth stability; a
    pipeline picks per epoch policy.

    Everything else matches curriculum_sql: difficulty = normalized
    length + lexical diversity, position = seeded-hash rank within
    (step, shard), one bounded window as the only data-sized shuffle.
    """
    toks = regex_all(dialect, "lower(text)", "[a-z0-9_]+")
    n_toks = size(dialect, "toks")
    n_uniq = size(dialect, "array_distinct(toks)")
    if dialect == "spark":
        qagg = ("percentile(score, array("
                + ", ".join(str(q) for q in ADAPTIVE_QS) + "))")
        elem = lambda i: f"q[{i}]"  # noqa: E731 — 0-based
    else:
        qagg = ("quantile_cont(score, ["
                + ", ".join(str(q) for q in ADAPTIVE_QS) + "])")
        elem = lambda i: f"q[{i + 1}]"  # noqa: E731 — 1-based
    sh = _shard(dialect)
    h = _seeded_hash(dialect, "curr")
    step_case = ("CASE "
                 + " ".join(
                     f"WHEN m.score >= c.c{i} THEN '{name}'"
                     for i, name in reversed(
                         list(enumerate(ADAPTIVE_STEPS[1:])))
                 )
                 + f" ELSE '{ADAPTIVE_STEPS[0]}' END")
    cut_cols = ", ".join(
        f"round({elem(i)}, 6) AS c{i}" for i in range(len(ADAPTIVE_QS))
    )
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks, {sh} AS shard, {h} AS h FROM documents
),
m AS (
  SELECT doc_id, shard, h,
         round(0.5 * least(CAST({n_toks} AS DOUBLE) / 200.0, 1.0)
               + 0.5 * (CASE WHEN {n_toks} = 0 THEN 0.0
                        ELSE CAST({n_uniq} AS DOUBLE) / {n_toks} END),
               6) AS score
  FROM t
),
cuts AS (
  SELECT {cut_cols} FROM (SELECT {qagg} AS q FROM m) t
)
SELECT doc_id, score, {step_case} AS step, CAST(shard AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY {step_case}, shard
                               ORDER BY h, doc_id) AS INT) AS position
FROM m CROSS JOIN cuts c
""".strip()


# ---------------------------------------------------------------------------
# Train/val/test split assignment + stratification audit
# ---------------------------------------------------------------------------

SPLIT_SEED = "split42"
SPLIT_CUTS = (("train", 9000), ("val", 9500), ("test", 10000))  # of 10000


def split_stratified_sql(dialect: str) -> str:
    """Deterministic train/val/test assignment + stratification audit:
    split = seeded-hash bucket against fixed cutoffs (90/5/5 of 10000)
    — the same zero-shuffle scan-time decision as mix_sample_sql, so a
    document's split NEVER changes as the corpus grows and any engine
    reproduces it bit-for-bit; the audit aggregates per-(lang, source)
    stratum counts and observed fractions (one hash-agg pass), which is
    how a pipeline checks the uniform hash kept each stratum's split
    near 90/5/5 without a stratified sampler's global sort."""
    h = _seeded_hash(dialect, SPLIT_SEED)
    cases = []
    for name, hi in SPLIT_CUTS:
        cases.append(f"WHEN bucket < {hi} THEN '{name}'")
    case = "CASE " + " ".join(cases) + " END"
    return f"""
WITH b AS (
  SELECT doc_id, lang, source, ({h}) % {N_BUCKETS} AS bucket FROM documents
),
a AS (
  SELECT doc_id, lang, source, {case} AS split FROM b
)
SELECT lang, source, split,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY lang, source), 4) AS frac
FROM a
GROUP BY lang, source, split
""".strip()


# ---------------------------------------------------------------------------
# PII scrub / redaction
# ---------------------------------------------------------------------------

# Patterns avoid backslash classes (\d, \b) entirely — [0-9] and [.]
# behave identically in Java regex (Spark) and RE2 (DuckDB), so no
# dialect-escaping is needed and no boundary-semantics drift is
# possible. Email/IP/phone are the C4/Dolma PII triple.
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
PII_IP_RE = "[0-9]{1,3}([.][0-9]{1,3}){3}"
PII_PHONE_RE = "555-[0-9]{4}"


def pii_scrub_sql(dialect: str) -> str:
    """PII detection + redaction (the C4/Dolma scrub pass): count and
    mask emails, IPv4 addresses, and phone numbers per document,
    emitting the per-class counts and an md5 of the fully redacted
    text (pinning byte-exact redaction across engines without
    shipping the text).

    The fixture corpus contains no PII, so the query first derives a
    deterministic DIRTY view — every doc gains a synthetic email,
    every 3rd an IP, every 5th a phone, all pure functions of doc_id
    built identically in both dialects — and the scrubber is then
    genuinely parity-checked against it (same discipline as
    dedup_exact_sql's injected duplicates).

    At scale: pure scan-time projection — three regexp passes per
    row, zero shuffles (the ORDER BY is presentation-only; a real run
    writes back partition-preserving). Masking order is fixed
    (email -> ip -> phone) so overlapping matches resolve
    deterministically."""

    def c(e: str) -> str:
        return f"CAST({e} AS STRING)"

    dirty = (
        f"text || ' contact user' || {c('doc_id')} || '@mail' || "
        f"{c('doc_id % 7')} || '.example.com'"
        f" || CASE WHEN doc_id % 3 = 0 THEN ' from 10.' || "
        f"{c('doc_id % 200')} || '.' || {c('doc_id % 250')} || '.' || "
        f"{c('doc_id % 25')} ELSE '' END"
        f" || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || "
        f"{c('1000 + doc_id % 9000')} ELSE '' END"
    )
    red = regexp_replace_all(dialect, "dirty", PII_EMAIL_RE, "<EMAIL>")
    red = regexp_replace_all(dialect, red, PII_IP_RE, "<IP>")
    red = regexp_replace_all(dialect, red, PII_PHONE_RE, "<PHONE>")
    return f"""
WITH dirty_docs AS (
  SELECT doc_id, {dirty} AS dirty FROM documents
)
SELECT doc_id,
       CAST({size(dialect, regex_all(dialect, 'dirty', PII_EMAIL_RE))} AS INT) AS n_emails,
       CAST({size(dialect, regex_all(dialect, 'dirty', PII_IP_RE))} AS INT)    AS n_ips,
       CAST({size(dialect, regex_all(dialect, 'dirty', PII_PHONE_RE))} AS INT) AS n_phones,
       CAST(length({red}) AS INT) AS redacted_len,
       md5({red})                 AS redacted_hash
FROM dirty_docs
ORDER BY doc_id
""".strip()


# ---------------------------------------------------------------------------
# UniMax-style language-balanced sampling (water-filling under an
# epoch cap — arXiv:2304.09151)
# ---------------------------------------------------------------------------

UNIMAX_EPOCHS = 2          # max repeats of any language's data
UNIMAX_BUDGET_X10 = 14     # corpus budget = total_docs * 1.4
UNIMAX_SEED = "unimax42"


def lang_balance_sql(dialect: str) -> str:
    """UniMax language balancing (Chung et al. 2023): allocate a
    corpus budget across languages as uniformly as possible, capping
    each language at UNIMAX_EPOCHS repeats of its data — the
    principled alternative to temperature sampling for multilingual
    pretraining mixes. Emits the realized sampling plan: one row per
    (doc, epoch) drawn, with the per-language allocation as audit
    columns.

    The water-filling threshold is computed EXACTLY in integer
    arithmetic over the (tiny) per-language size relation: sort
    languages by cap = size * E ascending; a language is fully
    allocated iff cap_k * (n-k+1) <= B - C_(k-1) (equal-share test
    against the remaining budget); the rest get the uniform share
    floor((B - C_K) / (n - K)) (the sub-budget remainder, < n-K docs,
    is deterministically dropped). Doc selection within a language is
    seeded-hash rank (mix_sample_sql discipline) so the plan is
    engine- and layout-reproducible; allocations beyond one epoch
    wrap around the rank order (doc r gets ceil((alloc - r + 1)/size)
    copies).

    At scale: language stats are ONE map-side-combined aggregate to a
    #langs-row relation that always broadcasts; the threshold math
    happens inside that tiny relation; selection is one rank window
    keyed on lang (the same bounded-sort budget as curriculum
    position assignment) plus a metadata-only epoch explode."""
    e = UNIMAX_EPOCHS
    h = _seeded_hash(dialect, UNIMAX_SEED)
    copies = unnest(dialect, seq(dialect, "1", "n_copies"), "epoch", "_e")
    return f"""
WITH sizes AS (
  SELECT lang, count(*) AS sz FROM documents GROUP BY lang
),
btot AS (
  SELECT CAST(floor(sum(sz) * {UNIMAX_BUDGET_X10} / 10.0) AS BIGINT) AS b
  FROM sizes
),
ord AS (
  SELECT lang, sz, sz * {e} AS cap,
         row_number() OVER (ORDER BY sz * {e}, lang) AS k,
         coalesce(sum(sz * {e}) OVER (ORDER BY sz * {e}, lang
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS prev_c,
         count(*) OVER () AS n
  FROM sizes
),
fl AS (
  SELECT o.*, b.b,
         CASE WHEN o.cap * (o.n - o.k + 1) <= b.b - o.prev_c
              THEN 1 ELSE 0 END AS is_full
  FROM ord o CROSS JOIN btot b
),
kstat AS (
  SELECT coalesce(sum(is_full), 0) AS kf,
         coalesce(sum(CASE WHEN is_full = 1 THEN cap ELSE 0 END), 0) AS ck,
         max(n) AS n, max(b) AS b
  FROM fl
),
alloc AS (
  SELECT f.lang, f.sz, f.cap,
         CASE WHEN f.is_full = 1 THEN f.cap
              ELSE CAST(floor(CAST(k.b - k.ck AS DOUBLE)
                              / nullif(k.n - k.kf, 0)) AS BIGINT)
         END AS alloc
  FROM fl f CROSS JOIN kstat k
),
rb AS (
  -- r7: per-lang selection rank via two-level numbering (the
  -- tables.ordv_parts device). The old single window PARTITION BY
  -- lang sorted each language's WHOLE corpus on one task — the
  -- SCALE.md row's documented "if a language outgrows a sort" swap,
  -- now implemented unconditionally. Bucket = the hash's TOP BYTE
  -- (a prefix of the order key, so bucket-major order == hash
  -- order); equal hashes share a bucket, doc_id breaks ties inside.
  SELECT doc_id, lang, h,
         CAST(floor(h / 16777216.0) AS BIGINT) AS bkt
  FROM (SELECT d.doc_id, d.lang, {h} AS h FROM documents d) hh
),
rloc AS (
  SELECT doc_id, lang, bkt,
         row_number() OVER (PARTITION BY lang, bkt
                            ORDER BY h, doc_id) AS lr
  FROM rb
),
roff AS (
  SELECT lang, bkt,
         CAST(coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS off
  FROM (SELECT lang, bkt, count(*) AS cnt FROM rb
        GROUP BY lang, bkt) c
),
ranked AS (
  SELECT l.doc_id, l.lang, l.lr + o.off AS r
  FROM rloc l JOIN roff o ON o.lang = l.lang AND o.bkt = l.bkt
),
plan AS (
  SELECT /*+ BROADCAST(a) */
         r.doc_id, r.lang, r.r, a.sz, a.alloc,
         CAST(floor(CAST(a.alloc AS DOUBLE) / a.sz) AS BIGINT)
           + CASE WHEN r.r <= a.alloc % a.sz THEN 1 ELSE 0 END AS n_copies
  FROM ranked r JOIN alloc a ON a.lang = r.lang
)
SELECT doc_id, lang,
       CAST(r AS INT) AS sel_rank,
       CAST(epoch AS INT) AS epoch,
       CAST(alloc AS INT) AS lang_alloc,
       CAST(sz AS INT) AS lang_docs
FROM (SELECT * FROM plan WHERE n_copies > 0) p
{copies}
ORDER BY lang, sel_rank, epoch
""".strip()


# ---------------------------------------------------------------------------
# BPE APPLY: tokenize the corpus with the trained merge table — the
# train -> apply round trip a tokenizer pipeline actually ships
# ---------------------------------------------------------------------------

def bpe_apply_sql(dialect: str, rounds: int = BPE_ROUNDS,
                  source: str = "docs_tok") -> str:
    """Apply the BPE merge table trained by bpe_train_sql to the
    corpus it was trained on, returning the per-document tokenization
    audit: token counts before/after and an md5 of the merged token
    stream (byte-exact pin of the tokenization without shipping it).

    Same unrolled round structure as bpe_train_sql — training derives
    the argmax pair of round i from the already-(i-1)-times-merged
    corpus, so APPLYING the merge table in order IS the training
    recurrence; the only difference is returning the final token
    relation instead of the merge table. A production pipeline trains
    on a mix_sample subcorpus and applies to everything — compose by
    swapping ``source`` in the two calls.

    Plan shape: identical to the trainer (per round: one map-side
    pair aggregate, a 1-row argmax broadcast, a map-only merge) plus
    one final doc-keyed projection. The Spark runner (``bpe_apply``)
    reuses the Arrow merge kernel and per-round checkpoints."""
    merge = _bpe_merge_expr(dialect)
    joined = ("concat_ws(' ', toks)" if dialect == "spark"
              else "array_to_string(toks, ' ')")
    parts = [f"t0 AS (SELECT doc_id, toks FROM {source})"]
    for i in range(rounds):
        parts.append(f"p{i} AS ({_adj_pairs(dialect, f't{i}')})")
        parts.append(f"best{i} AS (\n{_bpe_best_sql(dialect, f'p{i}')}\n)")
        parts.append(f"""t{i + 1} AS (
  SELECT doc_id, {merge} AS toks
  FROM t{i} CROSS JOIN best{i} b
)""")
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT a.doc_id,
       CAST({size(dialect, 'b.toks')} AS INT) AS n_toks_before,
       CAST({size(dialect, 'a.toks')} AS INT) AS n_toks_after,
       md5({joined.replace('toks', 'a.toks')}) AS tok_hash
FROM t{rounds} a JOIN t0 b ON b.doc_id = a.doc_id
ORDER BY a.doc_id
""".strip()


def bpe_apply(spark, rounds: int = BPE_ROUNDS,
              source: str = "docs_tok_par"):
    """Spark runner for BPE apply: the bpe_train loop (Arrow merge
    kernel, one checkpoint job per round, argmax as a broadcast 1-row
    relation) returning the tokenized corpus audit instead of the
    merge table."""
    from pyspark.sql import functions as F

    # The before-count rides along through every round as a small int
    # column, so the final audit needs NO corpus x corpus join back to
    # the untokenized relation (a join both of whose sides are
    # data-sized at 100 TB).
    t = spark.table(source).selectExpr(
        "doc_id", "toks", "CAST(size(toks) AS INT) AS n_toks_before")
    merge = _bpe_merge_udf()
    for i in range(rounds):
        t = t.localCheckpoint(eager=False)  # lazy: see bpe_train
        t.createOrReplaceTempView(f"_bpea_t{i}")
        best = spark.sql(
            _bpe_best_sql("spark", f"({_adj_pairs('spark', f'_bpea_t{i}')}) p"))
        t = (
            t.crossJoin(F.broadcast(best))
            .select("doc_id", merge("toks", "w1", "w2").alias("toks"),
                    "n_toks_before")
        )
    return t.select(
        "doc_id",
        "n_toks_before",
        F.size("toks").cast("int").alias("n_toks_after"),
        F.md5(F.concat_ws(" ", "toks")).alias("tok_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus statistics audit (vocab size, TTR, Zipf slope, heavy hitters)
# ---------------------------------------------------------------------------

ZIPF_TOP_K = 64


def corpus_stats_sql(dialect: str, source: str | None = None) -> str:
    """Corpus-level statistics audit: total/unique token counts,
    type-token ratio, the top-{ZIPF_TOP_K} heavy hitters, and the
    Zipf slope (least-squares fit of ln freq on ln rank over the
    head) — the one-page sanity report a corpus build ships next to
    its output (a slope far from -1 or a heavy-hitter mass spike is
    the classic symptom of boilerplate contamination or a broken
    extractor upstream).

    Output: one row per heavy hitter, with the corpus-level stats as
    repeated columns (single result, both granularities).

    Determinism: the regression terms are per-row doubles over the
    top-k relation quantized onto the rule-7b integer grid (BIGINT
    sums are exactly associative under any partitioning); ln/round on
    identical double inputs agree across engines.

    At scale: the frequency relation is ONE hash aggregate keyed on
    the token (map-side partials — the shuffle carries the distinct
    vocabulary, not the corpus); top-k is TakeOrderedAndProject; the
    regression runs inside the 64-row head. Same two-phase-count
    budget as vocab_pairs."""
    if source is None:
        source = docs_tok(dialect)
    # The final stage opens its own WITH; splice its CTE list into ours.
    final = corpus_stats_final_sql("tf", "topk")
    assert final.startswith("WITH ")
    return f"""
WITH tf AS (
  {corpus_tf_sql(dialect, source)}
),
topk AS (
  {corpus_topk_sql("tf")}
),
{final[len("WITH "):]}
""".strip()


def corpus_tf_sql(dialect: str, source: str | None = None) -> str:
    """Corpus-stats stage 1: the token-frequency relation — ONE hash
    aggregate keyed on the token (shuffle carries the vocabulary)."""
    if source is None:
        source = docs_tok(dialect)
    un = unnest(dialect, "toks", "tok")
    return f"""
SELECT tok, count(*) AS c
FROM (SELECT toks FROM {source}) t
{un}
GROUP BY tok
""".strip()


def corpus_topk_sql(tf: str = "tf") -> str:
    """Corpus-stats stage 2: the {ZIPF_TOP_K}-row heavy-hitter head
    (TakeOrderedAndProject over the vocab relation)."""
    return f"""
SELECT tok, c,
       row_number() OVER (ORDER BY c DESC, tok ASC) AS rk
FROM {tf}
ORDER BY c DESC, tok ASC
LIMIT {ZIPF_TOP_K}
""".strip()


def corpus_stats_final_sql(tf: str = "tf", topk: str = "topk") -> str:
    """Corpus-stats stage 3: totals + Zipf regression + per-hitter
    report. nullif guards the regression denominator: a single-type
    corpus has one topk row with ln(rank)=0, so n*sxx - sx^2 = 0 —
    DuckDB yields NULL on /0 but Spark 4 (ANSI mode) raises; nullif
    makes both emit NULL deterministically. type_token_ratio and
    head_mass are integer ratios — quantized on the tie-free floor
    micro-grid (rule 7b: round(x,6) HALF_UP-vs-rint diverges 1 ulp
    when x*1e6 lands exactly on .5, which integer ratios CAN hit);
    the slope keeps round() — its inputs are quotients of ln-derived
    integer-grid sums, never an exact micro-boundary."""
    g6 = "CAST(floor(({x}) * 1e6) AS BIGINT) / 1e6"
    ttr = g6.format(x=f"CAST(o.n_types AS DOUBLE) / o.n_tokens")
    hm = g6.format(x=f"CAST(t.c AS DOUBLE) / o.n_tokens")
    return f"""
WITH tot AS (
  SELECT sum(c) AS n_tokens, count(*) AS n_types FROM {tf}
),
reg AS (
  SELECT count(*) AS n,
         sum(CAST(round(ln(rk) * 1e6) AS BIGINT))           AS sx,
         sum(CAST(round(ln(c) * 1e6) AS BIGINT))            AS sy,
         sum(CAST(round(ln(rk) * ln(c) * 1e12) AS BIGINT))  AS sxy,
         sum(CAST(round(ln(rk) * ln(rk) * 1e12) AS BIGINT)) AS sxx
  FROM {topk}
)
SELECT t.rk AS rank, t.tok, CAST(t.c AS BIGINT) AS freq,
       CAST(o.n_tokens AS BIGINT) AS n_tokens,
       CAST(o.n_types AS BIGINT)  AS n_types,
       {ttr} AS type_token_ratio,
       round((r.n * (r.sxy / 1e12) - (r.sx / 1e6) * (r.sy / 1e6))
             / nullif(r.n * (r.sxx / 1e12) - (r.sx / 1e6) * (r.sx / 1e6), 0.0), 6)
         AS zipf_slope,
       {hm} AS head_mass
FROM {topk} t CROSS JOIN tot o CROSS JOIN reg r
ORDER BY t.rk
""".strip()


# ---------------------------------------------------------------------------
# Sequence-length histogram / token-mass budget report
# ---------------------------------------------------------------------------

def length_histogram_sql(dialect: str, source: str | None = None) -> str:
    """Power-of-two sequence-length histogram with cumulative token
    mass — the report that sizes a packing config (pack_sequences_sql
    seq_len), a curriculum's length bands, and the truncation budget:
    for each bucket k (docs whose token count+1 lands in [2^k, 2^{k+1})),
    the doc count, token mass, share of total tokens, and the
    cumulative share when buckets are consumed shortest-first.

    Determinism: the bucket is `length(bin(n+1)) - 1` — binary-string
    length is an exact integer in both engines, where
    `floor(ln(n)/ln(2))` would sit one ulp below an integer on exact
    powers of two and floor-diverge. Shares are on the tie-free floor
    micro-grid.

    At scale: ONE hash aggregate keyed on the bucket (map-side
    partials; the shuffle carries <= 64 bucket rows per map task) and
    one window over the bucket relation. The scan reads only the
    pre-tokenized array's length."""
    if source is None:
        source = docs_tok(dialect)
    n_toks = size(dialect, "toks")
    # bin() renders BIGINT as its binary digits in both dialects; for
    # DuckDB the argument must be BIGINT (bin(VARCHAR) would parse).
    g6 = "CAST(floor(({x}) * 1e6) AS BIGINT) / 1e6"
    share = g6.format(x="CAST(toks_in_bucket AS DOUBLE) / tot")
    cshare = g6.format(
        x="CAST(sum(toks_in_bucket) OVER (ORDER BY bucket) AS DOUBLE) / tot")
    return f"""
WITH b AS (
  SELECT length(bin(CAST({n_toks} + 1 AS BIGINT))) - 1 AS bucket,
         {n_toks} AS n
  FROM {source}
),
agg AS (
  SELECT bucket,
         count(*) AS n_docs,
         sum(n) AS toks_in_bucket,
         min(n) AS min_len,
         max(n) AS max_len
  FROM b GROUP BY bucket
),
tot AS (SELECT sum(toks_in_bucket) AS tot FROM agg)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(min_len AS INT) AS min_len,
       CAST(max_len AS INT) AS max_len,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(toks_in_bucket AS BIGINT) AS tokens,
       {share} AS token_share,
       {cshare} AS cum_token_share
FROM agg CROSS JOIN tot
ORDER BY bucket
""".strip()
