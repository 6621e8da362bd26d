"""Large-scale training-data deduplication operators.

The reference deduplicates memories semantically (redundant-cluster
consolidation, gardener.go:781-937: k-NN + score>=0.90 greedy grouping);
a 100 TB training-data pipeline additionally needs the classic
document-dedup family. All five variants below are implemented as
dialect-parameterized SQL (Spark SQL / DuckDB SQL produce bit-identical
results) so every operator has a first-class oracle:

  * exact           — hash-groupBy on the normalized text (one shuffle,
                      map-side combined).
  * minhash_lsh     — word-3-gram shingles → K minhashes → B bands →
                      bucket equi-join → true-Jaccard verification.
                      The cross product never materializes: candidate
                      generation is an equi-join on (band, key), the
                      scale path for 100 TB corpora.
  * simhash         — 32-bit simhash fingerprint per doc; near-dup pairs
                      via 4x8-bit chunk pigeonhole blocking (hamming<=T
                      implies some chunk equal when T<4) + popcount.
  * ngram_jaccard   — char-4-gram Jaccard within cheap blocks
                      (length bucket); the blocked-pairwise pattern.
  * embedding_topk  — most-similar embedding pairs by exact cosine
                      (brute force here; the LSH path in operators/knn.py
                      is the scale variant of the same candidate step).

Portable hash primitive: md5 (identical lowercase hex in Spark and
DuckDB) with the first 8 hex chars parsed to BIGINT — Spark
``conv(x,16,10)``, DuckDB ``CAST('0x'||x AS BIGINT)``.
"""

from __future__ import annotations

from kektordb_spark.dialect import (
    concat_arr, docs_tok, dot_sql, elem, empty_str_arr, hex_to_int, int_div,
    seq1, size, sorted_csv, transform, unnest, xor,
)
from kektordb_spark.operators.components import min_label_ctes


def word_shingles(dialect: str, toks: str, n: int = 3) -> str:
    """Distinct word n-gram shingles of a token-array column. Inputs
    with fewer than ``n`` tokens have NO shingles (empty array) — the
    clamped-sequence shortcut would instead emit one partial/empty
    shingle, which (a) reports any two short docs as near-duplicates
    and (b) creates a worst-case skew key joining every short doc into
    one candidate bucket (caught by tests/test_ppjoin_property.py on
    the char-gram twin)."""
    cnt = f"{size(dialect, toks)} - {n - 1}"
    parts = ", ".join(elem(dialect, toks, f"i + {j}") for j in range(n))
    grams = transform(
        dialect, seq1(dialect, cnt), f"i -> concat_ws(' ', {parts})"
    )
    return (f"CASE WHEN {cnt} >= 1 THEN array_distinct({grams}) "
            f"ELSE {empty_str_arr(dialect)} END")


def char_ngrams(dialect: str, txt: str, n: int = 4) -> str:
    """Distinct character n-grams of a string column; strings shorter
    than ``n`` have NO grams (see word_shingles — same phantom-gram /
    skew-key hazard)."""
    cnt = f"length({txt}) - {n - 1}"
    grams = transform(
        dialect, seq1(dialect, cnt), f"i -> substr({txt}, i, {n})"
    )
    return (f"CASE WHEN {cnt} >= 1 THEN array_distinct({grams}) "
            f"ELSE {empty_str_arr(dialect)} END")


def jaccard(dialect: str, a: str, b: str) -> str:
    """Jaccard similarity of two set-like (pre-deduplicated) arrays."""
    inter = size(dialect, f"array_intersect({a}, {b})")
    union = size(dialect, f"array_distinct({concat_arr(dialect, a, b)})")
    return f"CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE)"


# ---------------------------------------------------------------------------
# D1: exact dedup (hash groupBy)
# ---------------------------------------------------------------------------

def dedup_exact_sql(dialect: str) -> str:
    """Exact dedup with keep-first semantics over a corpus that UNIONs in
    shifted copies of every 10th doc (the driver corpus has no literal
    byte-dups, so duplicates are injected deterministically — same rows
    both engines). Output: one row per duplicated content hash with the
    canonical (min) id and the sorted dropped ids.

    At scale: a single hash-aggregate, map-side combined; the md5 is
    computed in the scan projection. No row ever carries the full text
    past the shuffle (hash + id only).
    """
    sort_ids = sorted_csv(dialect, "doc_id")
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
),
hashed AS (
  SELECT doc_id, md5(lower(text)) AS text_hash FROM corpus
)
SELECT text_hash,
       min(doc_id)               AS canonical_id,
       CAST(count(*) AS INT)     AS n_copies,
       {sort_ids}                AS member_ids
FROM hashed
GROUP BY text_hash
HAVING count(*) > 1
""".strip()


# ---------------------------------------------------------------------------
# D2: MinHash + LSH banding
# ---------------------------------------------------------------------------

# Universal-hash family over one md5 base hash: h_i = (a_i*h + b_i) mod P.
# One md5 per shingle instead of K — the md5 is the dominant per-row cost
# at corpus scale; the affine derivations are codegen'd integer math.
# a_i < 2^30 keeps a_i*h < 2^62 (no BIGINT overflow); P = largest 32-bit
# prime. Fixed seed => identical constants in both dialects.
_MINHASH_P = 4294967291
import random as _random  # noqa: E402

_rng = _random.Random(0x5EED)
_MINHASH_AB = [
    (_rng.randrange(1, 1 << 30), _rng.randrange(_MINHASH_P)) for _ in range(16)
]


def minhash_arr_sql(dialect: str, shingle_n: int = 3, source: str = "docs_tok") -> str:
    """Per-doc shingle ARRAY relation (doc_id, sh). The Spark runner
    materializes THIS first and explodes the concrete column afterwards:
    Spark's GenerateExec evaluates the generator child interpreted (no
    whole-stage codegen), so exploding an unevaluated higher-order
    expression re-runs the whole analyzer pipeline per row ~10-20x
    slower than computing the arrays in a codegen'd projection."""
    return f"""
SELECT doc_id, {word_shingles(dialect, 'toks', shingle_n)} AS sh
FROM {source}
""".strip()


def minhash_ex_from_arr_sql(dialect: str, source: str = "_mh_arr") -> str:
    """Shingle postings exploded from a pre-materialized array column."""
    return f"""
SELECT doc_id, s FROM {source} {unnest(dialect, 'sh', 's')}
""".strip()


def minhash_ex_sql(dialect: str, shingle_n: int = 3, source: str = "docs_tok") -> str:
    """The shingle-posting relation (doc_id, s): distinct word n-grams
    exploded. This is the one expensive subplan every downstream CTE
    re-reads — the Spark runner materializes it once (registry) because
    Spark inlines multiply-referenced CTEs while DuckDB materializes
    them."""
    return f"""
SELECT doc_id, s FROM (
  SELECT doc_id, {word_shingles(dialect, 'toks', shingle_n)} AS shingles
  FROM {source}
) sh {unnest(dialect, 'shingles', 's')}
""".strip()


def minhash_sig_sql(
    dialect: str, n_hashes: int = 12, ex_source: str = "ex",
) -> str:
    """The per-doc MinHash signature relation (doc_id, h0..hK-1): one
    md5 per shingle, K affine-derived min-hashes in a single aggregate
    pass over the postings."""
    hash_aggs = ",\n    ".join(
        f"min(({a} * h + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MINHASH_AB[:n_hashes])
    )
    return f"""
SELECT doc_id,
    {hash_aggs}
FROM (SELECT doc_id, {hex_to_int(dialect, 'md5(s)')} AS h FROM {ex_source}) hx
GROUP BY doc_id
""".strip()


def minhash_lsh_sql(
    dialect: str,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    shingle_n: int = 3,
    ex_source: str | None = None,
    sig_source: str | None = None,
) -> str:
    """MinHash signatures over word shingles, banded LSH candidate
    generation, true-Jaccard verification.

    Plan shape (scale story): shingle explode → one md5 per shingle →
    groupBy(doc) computes all K affine-derived min-hashes in ONE
    aggregate pass; bands explode K/B keys per doc; the candidate join
    is an equi-join on (band, key) — never a cross product.
    Verification re-joins the (tiny) candidate set against the exploded
    shingle postings.

    ``ex_source``: name of a pre-materialized (doc_id, s) posting
    relation (see minhash_ex_sql); ``sig_source``: name of a
    pre-materialized signature relation (see minhash_sig_sql). Both
    default to inline CTEs. The Spark runner materializes both: sig is
    referenced once per band plus the verification path, and Spark
    re-evaluates inlined CTEs per reference.
    """
    assert n_hashes % bands == 0
    r = n_hashes // bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS bkey FROM sig".format(
            b=b, cols=", ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    ex_cte = (
        f"ex AS (\n{minhash_ex_sql(dialect, shingle_n)}\n)"
        if ex_source is None
        else f"ex AS (SELECT doc_id, s FROM {ex_source})"
    )
    sig_cte = (
        f"sig AS (\n{minhash_sig_sql(dialect, n_hashes)}\n)"
        if sig_source is None
        else f"sig AS (SELECT * FROM {sig_source})"
    )
    return f"""
WITH {ex_cte},
{sig_cte},
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
-- verification via the posting join (never re-touches the shingle
-- ARRAYS): shared-count c per candidate pair from the exploded
-- shingles, |A∪B| = na + nb - c
sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
),
ver AS (
  SELECT c.id_a, c.id_b, count(*) AS shared
  FROM cand c
  JOIN ex a ON a.doc_id = c.id_a
  JOIN ex b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY c.id_a, c.id_b
)
SELECT v.id_a, v.id_b,
       round(CAST(v.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - v.shared), 6) AS jaccard
FROM ver v
JOIN sizes sa ON sa.doc_id = v.id_a
JOIN sizes sb ON sb.doc_id = v.id_b
WHERE CAST(v.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - v.shared) >= {threshold}
""".strip()


# ---------------------------------------------------------------------------
# D3: SimHash fingerprints + pigeonhole-blocked near-dup pairs
# ---------------------------------------------------------------------------

def _simhash_fp_cte(dialect: str, n_bits: int = 48, docs_source: str = "docs_tok") -> str:
    votes = ",\n    ".join(
        f"sum(tf * (2.0 * (CAST(floor(h / {1 << i}) AS BIGINT) % 2) - 1.0)) AS v{i}"
        for i in range(n_bits)
    )
    fp = " + ".join(
        f"CASE WHEN v{i} >= 0.0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(n_bits)
    )
    return f"""tok AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
  FROM {docs_source} {unnest(dialect, 'toks', 't')}
  GROUP BY doc_id, t
),
hashed AS (
  SELECT doc_id, tf, {hex_to_int(dialect, 'md5(t)', n_bits // 4)} AS h FROM tok
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
),
fp AS (
  SELECT doc_id, {fp} AS fingerprint FROM votes
)"""


def simhash_sql(dialect: str, docs_source: str = "docs_tok") -> str:
    """Per-doc 48-bit SimHash fingerprint (tf-weighted bit votes —
    Manku et al. WWW'07 use 64; 48 keeps every intermediate inside
    signed int64 on both engines with the same blocking guarantees).

    One explode + two hash-aggregates; the 48 bit-votes are computed as
    48 conditional sums in a single groupBy pass (no 48x row blowup)."""
    return (f"WITH {_simhash_fp_cte(dialect, docs_source=docs_source)}"
            "\nSELECT doc_id, fingerprint FROM fp").strip()


def simhash_pairs_sql(
    dialect: str, max_hamming: int = 3, chunks: int = 4,
    chunk_bits: int = 12,
    docs_source: str = "docs_tok", fp_source: str | None = None,
) -> str:
    """Near-dup pairs with hamming(fp_a, fp_b) <= T via pigeonhole
    blocking: with 4 chunks of 12 bits, hamming <= 3 implies at least
    one chunk is identical, so candidates come from a chunk equi-join —
    never a cross product (the pattern Google used for web dedup:
    Manku et al., WWW'07). Chunk width sets bucket selectivity: 2^12 =
    4096 values per chunk keeps expected bucket occupancy ~N/4096 —
    the scaling probe measured the previous 8-bit chunks (256 buckets)
    going quadratic at 50k docs (15x time at 10x rows; 12-bit re-run
    scales ~linearly). Beyond ~10M docs, add Manku's permuted tables
    (more chunk views over rotated fingerprints) instead of ever
    widening a single chunk past the hamming guarantee."""
    chunk_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, fingerprint, {c} AS chunk_idx, "
        f"CAST(floor(fingerprint / {1 << (chunk_bits * c)}) AS BIGINT) "
        f"% {1 << chunk_bits} AS chunk_val FROM fp"
        for c in range(chunks)
    )
    ham = f"bit_count({xor(dialect, 'fp_a', 'fp_b')})"
    fp_cte = (
        _simhash_fp_cte(dialect, docs_source=docs_source)
        if fp_source is None
        else f"fp AS (SELECT doc_id, fingerprint FROM {fp_source})"
    )
    return f"""
WITH {fp_cte},
chunks AS (
{chunk_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.fingerprint AS fp_a,
                  b.doc_id AS id_b, b.fingerprint AS fp_b
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST({ham} AS INT) AS hamming
FROM cand
WHERE {ham} <= {max_hamming}
""".strip()


# ---------------------------------------------------------------------------
# D4: blocked char-ngram Jaccard
# ---------------------------------------------------------------------------

def ngram_ex_sql(dialect: str, n: int = 4, source: str = "documents") -> str:
    """The gram-posting relation (doc_id, blk, gram): distinct char
    n-grams exploded, with the length-bucket block. Materialized once by
    the Spark runner (registry) — Spark inlines multiply-referenced
    CTEs, so without materialization this subplan runs 5x."""
    div = int_div(dialect)
    return f"""
SELECT doc_id, blk, gram FROM (
  SELECT doc_id, n_chars {div} 32 AS blk, {char_ngrams(dialect, 'ltext', n)} AS grams
  FROM (SELECT doc_id, n_chars, lower(text) AS ltext FROM {source})
) g {unnest(dialect, 'grams', 'gram')}
""".strip()


def ngram_arr_sql(dialect: str, n: int = 4, source: str = "documents") -> str:
    """The gram-ARRAY relation (doc_id, blk, grams): each doc's distinct
    char n-grams as one array row, plus the length-bucket block. Tiny
    relative to the exploded postings (one row per doc), so at scale it
    broadcasts. The Spark runner materializes this FIRST and derives the
    postings by exploding the concrete column (see minhash_arr_sql for
    why exploding unevaluated expressions is pathological)."""
    div = int_div(dialect)
    # lower(text) is hoisted out of the per-gram lambda: an inlined
    # lower() inside transform() re-lowercases the whole string once
    # PER GRAM (len(text) evaluations instead of 1).
    return f"""
SELECT doc_id, n_chars {div} 32 AS blk,
       {char_ngrams(dialect, 'ltext', n)} AS grams
FROM (SELECT doc_id, n_chars, lower(text) AS ltext FROM {source})
""".strip()


def ngram_ex_from_arr_sql(dialect: str, source: str = "_ng_arr") -> str:
    """Gram postings exploded from a pre-materialized array column."""
    return f"""
SELECT doc_id, blk, gram FROM {source} {unnest(dialect, 'grams', 'gram')}
""".strip()


def ngram_pref_sql(
    dialect: str, threshold: float = 0.6, ex_source: str = "ex",
    arr_source: str | None = None,
) -> str:
    """The PPJoin prefix relation (doc_id, blk, gram, n_g, rnk): each
    doc's grams ordered by global document frequency ascending (rarest
    first, gram tie-break), truncated to the first
    |A| - ceil(t*|A|) + 1 positions. The prefix self-join references
    this relation TWICE (a JOIN b) and Spark inlines multiply-referenced
    subplans, so the Spark runner materializes it once — measured ~2x
    on the whole PPJoin stage at sf0.1. At scale this is the persisted
    prefix-index table classic AllPairs systems build anyway.

    When ``arr_source`` (the one-row-per-doc gram-array relation) is
    given, per-doc sizes come from the array length — a broadcastable
    |docs|-row relation — instead of re-aggregating the postings; the
    grams are DISTINCT per doc so the two are identical."""
    sizes = (
        f"SELECT doc_id, count(*) AS n_g FROM {ex_source} GROUP BY doc_id"
        if arr_source is None
        else f"SELECT doc_id, {size(dialect, 'grams')} AS n_g FROM {arr_source}"
    )
    # df inline as a window count (one shuffle keyed on gram) instead
    # of a groupBy + re-join of the same postings — the rank window
    # then re-keys on doc_id; two shuffles total, no extra join.
    return f"""
SELECT doc_id, blk, gram, n_g, rnk FROM (
  SELECT doc_id, blk, gram, n_g,
         row_number() OVER (PARTITION BY doc_id ORDER BY df, gram) AS rnk
  FROM (
    SELECT e.doc_id, e.blk, e.gram, s.n_g,
           count(*) OVER (PARTITION BY e.gram) AS df
    FROM {ex_source} e
    JOIN ({sizes}) s ON s.doc_id = e.doc_id
  ) d
) t
WHERE rnk <= n_g - CAST(ceil({threshold} * n_g) AS BIGINT) + 1
""".strip()


def ngram_jaccard_sql(
    dialect: str, n: int = 4, threshold: float = 0.6,
    ex_source: str | None = None, arr_source: str | None = None,
    pref_source: str | None = None,
) -> str:
    """Char-4-gram Jaccard within length-bucket blocks (n_chars DIV 32)
    with an EXACT prefix + positional filter (AllPairs/PPJoin, Bayardo
    et al. WWW'07 / Xiao et al. WWW'08): order each doc's grams by
    global document frequency ascending (rarest first, gram tie-break),
    index only the first |A| - ceil(t*|A|) + 1 grams — if J(A,B) >= t
    the two prefixes must share a gram, so candidates come from an
    equi-join of the (small, rare-gram) prefix postings instead of all
    postings. Three exact pruning predicates on the prefix join: size
    (min >= t*max), and the PPJoin positional bound — overlap <= 1 +
    min(n_a - pos_a, n_b - pos_b) must reach the equivalent overlap
    threshold ceil(t/(1+t)*(n_a+n_b)); for the first shared gram under
    the global order the bound is tight, so no true pair is lost.
    The prefix join is aggregated per pair (GROUP BY instead of
    DISTINCT) so TWO exact bounds prune before verification:

    * first-gram viability: a truly-matching pair's FIRST shared
      prefix gram g satisfies 1 + min(n_a - rnk_a(g), n_b - rnk_b(g))
      >= alpha (the bound upper-bounds overlap, and overlap >= alpha),
      so ``bool_or`` of the per-row test is a necessary condition;
    * summed positional bound: with ov = |shared prefix grams| and
      ra/rb the positions of the LAST shared prefix gram, every
      uncounted common gram sorts strictly after it in the global
      order (both gram lists are sorted consistently; a common gram
      before it in either list would be inside both prefixes and
      hence counted), so overlap <= ov + min(n_a - ra, n_b - rb).
      This is strictly stronger than the single-gram bound when
      prefixes collide often (small-alphabet corpora: measured 21x
      fewer candidates at sf0.1, 636k -> 30k).

    r7 — the PPJoin INDEXING-prefix asymmetry (Xiao et al. §3.2: the
    size-smaller doc joins through only ~0.25|B| grams) was
    implemented, measured, and REJECTED: it halves the join rows
    (6.5M -> 3.3M at sf0.1) and stays exact, but it guts the summed
    positional bound — rb is then capped by the short index prefix,
    so `nb - rb` balloons and survivors explode 30k -> 535k at sf0.1
    (2.8 -> 14 s end-to-end; 97 -> 207 s at the 10x probe corpus).
    The symmetric probing-prefix join with both grouped bounds at
    full strength is the measured optimum: pruning power is worth
    more than join-row count here because the per-pair aggregate and
    verification ride on what survives, not on what joins.

    Survivors are verified per-pair with one array intersection against
    the (broadcastable, one-row-per-doc) gram arrays — per-pair O(|A|+
    |B|) with no posting re-explosion, so the verify stage shuffles
    |cand| rows, not |cand| x grams.

    Scale story: the candidate join touches only rare grams
    (frequency-ascending order is also the skew fix) and only
    probe-prefix x index-prefix postings, blocking by length bucket
    caps fanout on top; the per-pair aggregation is the same shuffle
    the DISTINCT needed, and verification is a broadcast join against
    per-doc arrays. The honest caveat the 1/3/10x probe measures:
    posting lists grow with corpus size whenever the gram space
    saturates, so EXACT all-pairs Jaccard stays super-linear — at
    100 TB the dedup route is dedup_minhash_lsh (banded signatures,
    exact-Jaccard verify, recall audited by dedup_lsh_recall_audit);
    this operator is the exact path for bounded blocks and the
    ground-truth their audit compares against.
    """
    arr_cte = (
        f"arr AS (\n{ngram_arr_sql(dialect, n)}\n)"
        if arr_source is None
        else f"arr AS (SELECT doc_id, grams FROM {arr_source})"
    )
    if pref_source is None:
        ex_cte = (
            f"ex AS (\n{ngram_ex_sql(dialect, n)}\n)"
            if ex_source is None
            else f"ex AS (SELECT doc_id, blk, gram FROM {ex_source})"
        )
        pref_ctes = f"""{ex_cte},
pref AS (
{ngram_pref_sql(dialect, threshold, ex_source='ex')}
),"""
    else:
        pref_ctes = (
            f"pref AS (SELECT doc_id, blk, gram, n_g, rnk FROM {pref_source}),"
        )
    inter = size(dialect, "array_intersect(ga.grams, gb.grams)")
    return f"""
WITH {pref_ctes}
{arr_cte},
grouped AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         count(*) AS ov, max(a.rnk) AS ra, max(b.rnk) AS rb,
         any_value(a.n_g) AS na, any_value(b.n_g) AS nb,
         max(CASE WHEN 1 + least(a.n_g - a.rnk, b.n_g - b.rnk)
                       >= ceil({threshold} / (1.0 + {threshold}) * (a.n_g + b.n_g))
                  THEN 1 ELSE 0 END) AS viable
  FROM pref a JOIN pref b
    ON a.blk = b.blk AND a.gram = b.gram AND a.doc_id < b.doc_id
  WHERE CAST(least(a.n_g, b.n_g) AS DOUBLE) >= {threshold} * greatest(a.n_g, b.n_g)
  GROUP BY a.doc_id, b.doc_id
),
cand AS (
  SELECT id_a, id_b FROM grouped
  WHERE viable = 1
    AND ov + least(na - ra, nb - rb)
        >= ceil({threshold} / (1.0 + {threshold}) * (na + nb))
),
ver AS (
  SELECT c.id_a, c.id_b,
         CAST({inter} AS DOUBLE) AS c,
         {size(dialect, 'ga.grams')} AS na,
         {size(dialect, 'gb.grams')} AS nb
  FROM cand c
  JOIN arr ga ON ga.doc_id = c.id_a
  JOIN arr gb ON gb.doc_id = c.id_b
)
SELECT id_a, id_b, round(c / (na + nb - c), 6) AS jaccard
FROM ver
WHERE c / (na + nb - c) >= {threshold}
""".strip()


def minhash_clusters_sql(
    dialect: str, pairs_rel: str | None = None, iters: int = 3,
) -> str:
    """Duplicate-cluster RESOLUTION — the pipeline step after pair
    discovery that a training-data dedup actually ships: connected
    components over the verified MinHash dup pairs (bounded min-label
    propagation, same shape as consolidation), one CANONICAL document
    kept per cluster (longest by n_chars, ties to the lowest doc_id —
    the usual "keep the most complete copy" rule), everything else
    counted as dropped.

    ``pairs_rel`` names a pre-materialized (id_a, id_b) relation (the
    Spark runner reuses the dedup_minhash_lsh pipeline's checkpointed
    result); default inlines the full pair derivation (the DuckDB
    oracle's self-contained form — DuckDB supports the nested WITH).

    Scale: propagation shuffles (node, label) pairs only; the
    canonical pick is one broadcast join against documents + a
    per-cluster window over member counts (dup clusters are small by
    construction — near-exact copies)."""
    if pairs_rel is None:
        pairs = f"pairs0 AS (\n{minhash_lsh_sql(dialect)}\n)"
    else:
        pairs = f"pairs0 AS (SELECT id_a, id_b FROM {pairs_rel})"
    parts = [pairs, """und AS (
  SELECT id_a AS u, id_b AS w FROM pairs0
  UNION ALL SELECT id_b AS u, id_a AS w FROM pairs0
)"""]
    labels, prev = min_label_ctes("und", iters)
    parts += labels
    members = sorted_csv(dialect, "node")
    parts.append(f"""grp AS (
  SELECT label, CAST(count(*) AS INT) AS size, {members} AS members
  FROM {prev} GROUP BY label
)""")
    parts.append(f"""canon AS (
  SELECT label, node AS canonical_doc FROM (
    SELECT m.label, m.node,
           row_number() OVER (PARTITION BY m.label
                              ORDER BY d.n_chars DESC, m.node ASC) AS rn
    FROM {prev} m JOIN documents d ON d.doc_id = m.node) t
  WHERE rn = 1
)""")
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT /*+ BROADCAST(c) */ c.canonical_doc, g.size, CAST(g.size - 1 AS INT) AS dropped, g.members
FROM grp g JOIN canon c ON c.label = g.label
""".strip()


# ---------------------------------------------------------------------------
# D5: embedding-cosine near-dup (exact top-k pairs)
# ---------------------------------------------------------------------------

def embedding_topk_pairs_sql(dialect: str, k: int = 20) -> str:
    """Top-k most-cosine-similar embedding pairs, exact. The brute-force
    candidate step is O(N^2) — correct baseline at fixture scale; at
    100 TB the candidate step swaps to the LSH bucket join
    (operators/knn.py lsh_bucketed_knn) with identical scoring/top-k.
    TakeOrderedAndProject keeps the shuffle at k rows per partition."""
    sim = f"({dot_sql(dialect, 'a.v', 'b.v')}) / (a.norm * b.norm)"
    return f"""
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {sim} AS sim
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 6) AS sim
FROM p
ORDER BY round(sim, 6) DESC, id_a, id_b
LIMIT {k}
""".strip()


def minhash_incremental_sql(
    dialect: str,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    shingle_n: int = 3,
    new_mod: int = 10,
    new_rem: int = 7,
    ex_source: str | None = None,
    sig_source: str | None = None,
) -> str:
    """Incremental dedup — the production re-crawl shape: dedup a NEW
    batch (here: doc_id % new_mod = new_rem, ~10% of the corpus)
    against the EXISTING corpus without ever comparing old-vs-old (the
    whole point: corpus-side work was already paid when those docs
    landed). Candidates come from a band equi-join restricted to
    new×old; each new doc reports its BEST corpus match at or above the
    Jaccard threshold (round-6 score + lowest-old-id tie-break,
    SCALE.md rule 7) — the ship decision is "drop the new copy".

    At 100 TB the old side's band keys and signatures are a PERSISTED
    index (exactly the minhash_sig relation, maintained at ingest like
    tables.load_tables' ANN layer) and the per-batch cost is
    O(|batch|) signature computation + an equi-join probing the band
    index — never a corpus rescan."""
    assert n_hashes % bands == 0
    r = n_hashes // bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS bkey FROM sig".format(
            b=b, cols=", ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    ex_cte = (
        f"ex AS (\n{minhash_ex_sql(dialect, shingle_n)}\n)"
        if ex_source is None
        else f"ex AS (SELECT doc_id, s FROM {ex_source})"
    )
    sig_cte = (
        f"sig AS (\n{minhash_sig_sql(dialect, n_hashes)}\n)"
        if sig_source is None
        else f"sig AS (SELECT * FROM {sig_source})"
    )
    return f"""
WITH {ex_cte},
{sig_cte},
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM (SELECT * FROM bands WHERE doc_id % {new_mod} = {new_rem}) n
  JOIN (SELECT * FROM bands WHERE doc_id % {new_mod} <> {new_rem}) o
    ON n.band = o.band AND n.bkey = o.bkey
),
sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
),
ver AS (
  SELECT c.new_id, c.old_id, count(*) AS shared
  FROM cand c
  JOIN ex a ON a.doc_id = c.new_id
  JOIN ex b ON b.doc_id = c.old_id AND b.s = a.s
  GROUP BY c.new_id, c.old_id
),
scored AS (
  SELECT v.new_id, v.old_id,
         round(CAST(v.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - v.shared), 6)
           AS jaccard
  FROM ver v
  JOIN sizes sa ON sa.doc_id = v.new_id
  JOIN sizes sb ON sb.doc_id = v.old_id
  WHERE CAST(v.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - v.shared)
        >= {threshold}
)
SELECT new_id, old_id AS dup_of, jaccard
FROM (
  SELECT *, row_number() OVER (PARTITION BY new_id
                               ORDER BY jaccard DESC, old_id ASC) AS rk
  FROM scored
) t WHERE rk = 1
""".strip()


# ---------------------------------------------------------------------------
# D7: paragraph-level exact dedup (CCNet / Dolma line dedup shape)
# ---------------------------------------------------------------------------

PARA_W = 12  # tokens per pseudo-paragraph segment


def paragraph_dedup_sql(dialect: str, source: str | None = None) -> str:
    """Paragraph-level exact dedup: remove repeated SEGMENTS (not whole
    documents) across the corpus, keep-first in (doc_id, seg_idx)
    order — the CCNet/Dolma "line dedup" pass that strips boilerplate
    (headers, navigation, license blocks) repeated across pages while
    keeping each document's unique remainder.

    The fixture corpus is a token stream with no newline structure, so
    a "paragraph" is a fixed window of {PARA_W} tokens (segment i =
    toks[{PARA_W}i+1 .. {PARA_W}(i+1)]), and — like dedup_exact_sql —
    the fixture has no natural cross-doc segment repeats, so the corpus
    deterministically UNIONs in a boilerplate-injected copy of every
    5th document (its first 2 segments, i.e. first 24 tokens): every
    segment of an injected doc is a repeat of the original's prefix
    segments, both engines construct identical rows.

    Output: per-doc audit (n_segs, n_removed, kept_ratio) — the
    accounting a corpus-cleaning job ships with its output (cf.
    quality_gate_sql's reject-reason discipline).

    At scale: segments are generated in the scan projection (array
    slice of the pre-tokenized relation — no regexp re-run, SCALE.md
    rule 1); first-occurrence ranking is ONE shuffle keyed on the
    segment hash (the row carries hash + ids only, never the text);
    the per-doc rollup is a second shuffle keyed on doc_id. Same
    two-shuffle budget as exact whole-doc dedup plus the rollup.
    Reference seam: the reference dedups at memory granularity via
    gardener consolidation (gardener.go:781-937); segment-level
    dedup is the pretraining-corpus counterpart.
    """
    w = PARA_W
    if source is None:
        source = docs_tok(dialect)
    if dialect == "spark":
        corpus = f"""
  SELECT doc_id, toks FROM {source}
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, slice(toks, 1, {2 * w}) AS toks
  FROM {source} WHERE doc_id % 5 = 0 AND size(toks) > 0"""
        segs = f"""
  SELECT doc_id, i,
         md5(concat_ws(' ', slice(toks, i * {w} + 1, {w}))) AS h
  FROM (SELECT doc_id, toks FROM corpus WHERE size(toks) > 0) t
  LATERAL VIEW explode(
    sequence(0, CAST(ceil(size(toks) / {w}.0) AS INT) - 1)) _s AS i"""
    else:
        corpus = f"""
  SELECT doc_id, toks FROM {source}
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, toks[1:{2 * w}] AS toks
  FROM {source} WHERE doc_id % 5 = 0 AND len(toks) > 0"""
        segs = f"""
  SELECT doc_id, i,
         md5(array_to_string(toks[i * {w} + 1:(i + 1) * {w}], ' ')) AS h
  FROM (SELECT doc_id, toks FROM corpus WHERE len(toks) > 0) t,
       unnest(generate_series(0, CAST(ceil(len(toks) / {w}.0) AS INT) - 1))
         AS _g(i)"""
    return f"""
WITH corpus AS ({corpus}),
segs AS ({segs}),
firsts AS (
  -- r7: keep-first via a min AGGREGATE over the (doc_id, i) order
  -- encoded as one BIGINT, not a per-hash rank window. The window
  -- forced every occurrence of a hash into ONE task and SORTED it —
  -- exactly the skew this operator's SCALE.md row warned about (one
  -- boilerplate segment repeated corpus-wide = one giant window
  -- group). The aggregate partial-combines map-side (a skewed hash
  -- reduces to one row per partition before the shuffle) and the
  -- occurrence join is AQE-skew-splittable, which a window never is.
  SELECT h, min(doc_id * 1000000 + i) AS first_key
  FROM segs GROUP BY h
)
SELECT s.doc_id,
       CAST(count(*) AS INT) AS n_segs,
       CAST(sum(CASE WHEN s.doc_id * 1000000 + s.i > f.first_key
                THEN 1 ELSE 0 END) AS INT) AS n_removed,
       round(1.0 - CAST(sum(CASE WHEN s.doc_id * 1000000 + s.i
                                      > f.first_key
                            THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*), 4) AS kept_ratio
FROM segs s JOIN firsts f ON f.h = s.h
GROUP BY s.doc_id
ORDER BY s.doc_id
""".strip()


# ---------------------------------------------------------------------------
# Exact substring-duplication audit (sliding windows)
# ---------------------------------------------------------------------------

SUBSTR_W = 10  # tokens per sliding window


def substring_windows_sql(dialect: str, source: str | None = None) -> str:
    """Exact substring-duplication audit at fixed {SUBSTR_W}-token
    granularity — the fixed-window formulation of exact substring
    dedup (Lee et al., arXiv:2107.06499, "Deduplicating Training Data
    Makes Language Models Better", the ExactSubstr pass): a span
    duplicated anywhere in the corpus (across docs or repeated within
    one — both count, as in the paper) is witnessed by its sliding
    {SUBSTR_W}-token windows, since any duplicated span of length
    >= W contains a duplicated W-window. The paper builds suffix
    arrays for variable-length spans; the sliding-window form trades
    span-boundary precision for a shuffle-friendly two-pass plan,
    the standard scale-out compromise (and the basis of its own
    parallel sharding).

    Per-doc audit output: window count, duplicated-window count
    (corpus-wide occurrence >= 2), duplicated fraction on the
    tie-free floor micro-grid. Unlike dedup_paragraph's keep-first
    segments (boilerplate REMOVAL), this measures raw duplication
    mass — the signal used to decide whether ExactSubstr cutting is
    worth running at all.

    Plan: windows are generated in the scan projection over the
    PRE-TOKENIZED relation (array slice + md5, no regexp re-run —
    SCALE.md rule 1); corpus-wide occurrence counts come from ONE
    window function over ONE shuffle keyed on the window hash (hash +
    ids cross the shuffle, never text — the dedup_paragraph
    discipline; no self-join); the per-doc rollup is the second
    shuffle. Docs shorter than {SUBSTR_W} tokens have no windows and
    are absent by definition. The window expressions are TOTAL
    (clamped sequence bounds / slice) — Spark's subexpression
    elimination can evaluate scan projections before the length
    filter (the _adj_pairs lesson)."""
    w = SUBSTR_W
    if source is None:
        source = docs_tok(dialect)
    if dialect == "spark":
        wins = f"""
  SELECT doc_id, pr.pos AS pos, pr.h AS h
  FROM (SELECT doc_id,
               transform(sequence(1, greatest(size(toks) - {w} + 1, 1)),
                         i -> struct(i AS pos,
                                     md5(concat_ws(' ', slice(toks, i, {w}))) AS h))
                 AS prs
        FROM {source} WHERE size(toks) >= {w}) t
  LATERAL VIEW explode(prs) _p AS pr"""
    else:
        wins = f"""
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:i + {w} - 1], ' ')) AS h
  FROM {source},
       unnest(generate_series(1, len(toks) - {w} + 1)) AS _g(i)
  WHERE len(toks) >= {w}"""
    return f"""
WITH wins AS ({wins}),
hcnt AS (
  -- r7: per-hash multiplicity via a map-side-combinable AGGREGATE +
  -- join, not count(*) OVER (PARTITION BY h) — the window buffered
  -- every occurrence of a hash in one task (a boilerplate window
  -- repeated corpus-wide = one giant group); the aggregate reduces a
  -- skewed hash to one row per partition before the shuffle and the
  -- join back is AQE-skew-splittable (same fix as paragraph dedup's
  -- keep-first).
  SELECT h, count(*) AS c FROM wins GROUP BY h
)
SELECT w.doc_id,
       CAST(count(*) AS INT) AS n_windows,
       CAST(sum(CASE WHEN hc.c >= 2 THEN 1 ELSE 0 END) AS INT)
         AS dup_windows,
       CAST(floor(CAST(sum(CASE WHEN hc.c >= 2 THEN 1 ELSE 0 END)
                       AS DOUBLE)
                  / count(*) * 1e6) AS BIGINT) / 1e6 AS dup_fraction
FROM wins w JOIN hcnt hc ON hc.h = w.h
GROUP BY w.doc_id
ORDER BY w.doc_id
""".strip()


# ---------------------------------------------------------------------------
# LSH banding recall/precision audit — the dedup-side quality gate
# ---------------------------------------------------------------------------

def minhash_recall_audit_sql(
    dialect: str,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    shingle_n: int = 3,
    ex_source: str | None = None,
    sig_source: str | None = None,
) -> str:
    """Candidate-stage recall/precision of the MinHash banding scheme
    against EXACT shingle-Jaccard ground truth, computed entirely
    in-engine — the dedup companion of ann_recall_audit (a pipeline
    runs this after retuning n_hashes/bands/threshold: banding theory
    says P(candidate | j) = 1-(1-j^r)^b, ~0.94 at j=0.8 for r=3,b=4,
    so missed true pairs are EXPECTED and the measured rate is the
    tuning signal; precision measures wasted verification work).

    Ground truth = the exact all-pairs similarity join on the shingle
    postings (shared-count via ONE posting equi-join, |A∪B| by
    inclusion-exclusion — never doc x doc; cost is bounded by shingle
    posting-list skew, the same bound the LSH verification step
    already accepts; at 100 TB the audit runs on a sampled partition
    of docs, the formula is unchanged). Candidates and truth meet in
    ONE full-outer join and ONE count aggregate, so each subtree is
    consumed exactly once — no CTE re-execution on the inlining
    engine; the Spark runner serves postings/signatures from the
    persisted index (mh_ex / mh_sig). Counts are integers; the two
    rates sit on the tie-free floor grid."""
    from kektordb_spark.functions.textquality import _grid6

    assert n_hashes % bands == 0
    r = n_hashes // bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS bkey FROM sig".format(
            b=b, cols=", ".join(f"h{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    ex_cte = (
        f"ex AS (\n{minhash_ex_sql(dialect, shingle_n)}\n)"
        if ex_source is None
        else f"ex AS (SELECT doc_id, s FROM {ex_source})"
    )
    sig_cte = (
        f"sig AS (\n{minhash_sig_sql(dialect, n_hashes)}\n)"
        if sig_source is None
        else f"sig AS (SELECT * FROM {sig_source})"
    )
    return f"""
WITH {ex_cte},
{sig_cte},
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM ex a JOIN ex b ON b.s = a.s AND b.doc_id > a.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT s.id_a, s.id_b
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.id_a
  JOIN sizes sb ON sb.doc_id = s.id_b
  WHERE CAST(s.c AS DOUBLE) / (sa.n_sh + sb.n_sh - s.c) >= {threshold}
),
labeled AS (
  SELECT (t.id_a IS NOT NULL) AS is_true, (c.id_a IS NOT NULL) AS is_cand
  FROM truth t FULL OUTER JOIN cand c
    ON c.id_a = t.id_a AND c.id_b = t.id_b
),
agg AS (
  SELECT CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pairs,
         CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM labeled
)
SELECT n_true_pairs, n_candidates, n_hits,
       {_grid6('n_hits * 1.0 / nullif(n_true_pairs, 0)')} AS recall,
       {_grid6('n_hits * 1.0 / nullif(n_candidates, 0)')} AS precision
FROM agg
""".strip()
