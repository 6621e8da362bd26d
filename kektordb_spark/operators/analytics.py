"""Corpus / event / graph analytics beyond the reference surface.

The reference's stats endpoint (pkg/server/handlers.go `/stats`) reports
exact engine counters; at 100 TB the interesting statistics (distinct
users, value quantiles, per-doc keywords, graph clustering) need
shuffle-light formulations. Four operators, each dialect-parameterized
(one SQL text runs verbatim on Spark and, with syntax swaps only, on the
DuckDB oracle):

* ``kmv_distinct_sql`` — distinct-count sketch via k independent
  min-hashes (the KMV / "k minimums" estimator, Bar-Yossef et al. 2002):
  ``min`` is a map-side-combinable aggregate and duplicates cannot move
  a minimum, so the shuffle carries ``n_groups x K`` BIGINTs no matter
  how many rows scanned — the exact reason sketches exist at scale. The
  exact distinct count rides along as the calibration audit column.
* ``grid_quantiles_sql`` — p50/p90/p99 on a quantized value grid:
  ONE hash aggregate keyed on (group, grid cell) with map-side partials,
  then a window over the bounded grid relation. Exact-on-grid (error
  bounded by cell width), fully deterministic, never sorts raw rows —
  the honest alternative to ``percentile`` (which collects every value
  per group) and to ``approx_percentile`` (t-digest; not reproducible
  across engines).
* ``tfidf_keywords_sql`` — top-k terms per document by tf-idf. The
  document-frequency relation is derived FROM the tf relation (one
  explode feeds both; SCALE.md rule 1), idf joins back on the token key
  (vocabulary-sized — broadcast-able), rank quantized onto the rule-7b
  integer grid so the per-doc ordering is exactly associative.
* ``triangle_sql`` — triangle census on the part co-purchase graph
  (parts sharing an order; the market-basket item graph every
  recommender build derives). Degree-oriented edge direction (each
  undirected edge points from the lower-(degree, id) endpoint) bounds
  wedge fan-out by sqrt(m) — the standard trick that keeps distributed
  triangle counting near-linear (Suri & Vassilvitskii, WWW'11) — then
  triangles close with one more equi-join. No step is ever doc x doc or
  part x part unkeyed.

Determinism: every ranking/regression quantity is integer-grid
quantized (BIGINT sums/mins are exactly associative under any
partitioning); hash-derived values use md5 prefixes which agree
byte-for-byte across engines.
"""

from __future__ import annotations

from kektordb_spark.dialect import docs_tok, hex_to_int, l2sq_sql, unnest

# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------

KMV_K = 64
# 14 hex chars: values < 16^14 = 7.2e16, so a sum of 64 minimums stays
# far inside signed int64 (max 4.6e18 < 9.2e18).
_KMV_HEX = 14
_KMV_SCALE = 16 ** _KMV_HEX


def kmv_distinct_sql(dialect: str, source: str = "events") -> str:
    """Distinct users per event type, estimated with {KMV_K} independent
    min-hashes: for n distinct uniform hashes in [0,1), E[min] = 1/(n+1),
    so n_hat = K / sum_of_mins - 1 (harmonic estimator, rel. error
    ~1/sqrt(K) ~= 12%). Duplicated user_ids cannot move a minimum, which
    is the whole point: the scan never deduplicates, and the shuffle
    after map-side partial ``min`` carries n_types x K BIGINTs at ANY
    corpus size.

    Plan shape (r5): the K mins are K ``min()`` AGGREGATE COLUMNS over
    the un-exploded scan — r4's ``unnest(sequence(1,64))`` was a 64x
    map-side row blowup of the events scan feeding the hash-agg, 64x
    the scan rows at 100 TB; no Generate node remains. Scan-side
    compute is {KMV_K // 2} md5 digests per row (not K hashes): each
    32-hex digest yields TWO independent 14-hex uniform slices. The
    minima aggregate over the HEX SLICES AS STRINGS — fixed-width
    lowercase hex is order-isomorphic to the numeric value, so the
    scan does ZERO hex->int conversions; only the K final minima
    convert after the aggregate (38M conv calls -> 64 at sf0.1;
    measured 5.5 s -> 3.5 s local[32] bench-style). NOTE the
    hash-per-row cost is the sketch's price at scale — one pass,
    map-only, no shuffle growth; halve K to halve it.

    Two measured-and-REJECTED variants: (a) bucketed single-hash (one
    md5/row, bucket from high hex digits): per-bucket occupancy n/K
    makes E[1/(n_b+1)] convexity-bias the estimate ~35% low at the
    test corpus's n=150 (Poisson occupancy, Jensen) — independent
    full-view hashes stay unbiased at every n; (b) sha256 with FOUR
    14-hex slices per digest (16 digests/row, 2.8 s): statistically
    equivalent over random inputs (60-trial MC: sd 0.126 vs md5's
    0.141), but the fixed fixture's user set draws a 3-sigma-low
    sum-of-mins under that hash family (est 2264 vs 1500 true, rel
    err 0.51 > the 3/sqrt(K) bound) — estimator luck is per-(hash,
    dataset), and the committed sketch must hold its bound on the
    committed fixture.

    The exact count (one extra distinct aggregate — the thing the
    sketch replaces at 100 TB) rides along as the calibration audit;
    rel_error is asserted < 3/sqrt(K) in tests/test_degenerate.py.
    Determinism: est rounds via floor(x+0.5) and rel_error via the
    rule-7b floor grid — `round()` on cross-engine doubles ties
    HALF_UP-vs-rint on exact boundaries (integer-ratio inputs CAN land
    there); floor never ties.

    Reference parity note: the reference reports exact counters from its
    in-memory maps (pkg/server/handlers.go /stats); this is the
    scale-out formulation of the same report."""
    return f"""
WITH est AS (
  {kmv_est_sql(dialect, source)}
),
ex AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM {source} GROUP BY event_type
)
SELECT e.event_type, e.est_distinct,
       CAST(x.exact_distinct AS BIGINT) AS exact_distinct,
       CAST(floor(abs(CAST(e.est_distinct AS DOUBLE) / x.exact_distinct - 1) * 1e4) AS BIGINT) / 1e4
         AS rel_error
FROM est e JOIN ex x ON x.event_type = e.event_type
ORDER BY e.event_type
""".strip()


def kmv_est_sql(dialect: str, source: str = "events") -> str:
    """The estimator alone — (event_type, est_distinct) — shared by the
    batch query (which joins the exact-count audit on) and the
    STREAMING sketch's oracle (streaming/events.py
    distinct_sketch_stream: the keyed state carries the same 64 minima,
    so its final emission equals this relation exactly)."""
    digests = ",\n         ".join(
        f"md5(concat(CAST(user_id AS STRING), ':', '{s}')) AS d{s}"
        for s in range(1, KMV_K // 2 + 1)
    )
    mins = []
    for s in range(1, KMV_K // 2 + 1):
        for j in range(2):
            mins.append(f"min(substr(d{s}, {1 + _KMV_HEX * j}, {_KMV_HEX})) AS m{len(mins)}")
    min_cols = ",\n         ".join(mins)
    sum_mins = " + ".join(
        hex_to_int(dialect, f"m{i}", _KMV_HEX) for i in range(KMV_K)
    )
    return f"""
SELECT event_type,
       CAST(floor({KMV_K} / (({sum_mins}) / {_KMV_SCALE}.0) - 1 + 0.5) AS BIGINT)
         AS est_distinct
FROM (
  SELECT event_type,
         {min_cols}
  FROM (
    SELECT event_type,
           {digests}
    FROM {source}
  ) h GROUP BY event_type
) mins
""".strip()


# ---------------------------------------------------------------------------
# Grid quantiles
# ---------------------------------------------------------------------------

def grid_quantiles_sql(dialect: str) -> str:
    """p50/p90/p99 of event value per event type on a 0.01-wide value
    grid. ``floor(value*100)`` is exact IEEE in both engines (no
    round-half semantics in play); the first aggregate's shuffle carries
    (type, cell) pairs — bounded by the value RANGE, not the row count —
    and the cumulative window sorts only that grid. Quantile picks are
    pure integer comparisons (cc*2 >= tot etc.), so the result is exact
    on the grid and identical under any partitioning. At 100 TB nothing
    changes: the grid relation is still tiny, and map-side partial
    counts do the heavy lifting at the scan.

    round(vq/1e2, 2) is provably tie-free for every input (r5 audit):
    vq/1e2 is the nearest double to an exact 2-decimal rational, and
    both engines' round-2 of such a value returns that same double —
    no .5-at-3rd-decimal boundary is reachable from a /100 quotient.
    CTE audit: g -> cum -> final is a single-consumer chain (the two
    window specs over `cum` share one pass), so no materialization is
    needed on the Spark side."""
    return f"""
WITH g AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS vq, count(*) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, CAST(floor(value * 100) AS BIGINT)
),
cum AS (
  SELECT event_type, vq, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY vq) AS cc,
         sum(c) OVER (PARTITION BY event_type) AS tot
  FROM g
)
SELECT event_type,
       CAST(max(tot) AS BIGINT) AS n_rows,
       round(min(CASE WHEN cc * 2 >= tot THEN vq END) / 1e2, 2)        AS p50,
       round(min(CASE WHEN cc * 10 >= tot * 9 THEN vq END) / 1e2, 2)   AS p90,
       round(min(CASE WHEN cc * 100 >= tot * 99 THEN vq END) / 1e2, 2) AS p99
FROM cum GROUP BY event_type ORDER BY event_type
""".strip()


# ---------------------------------------------------------------------------
# TF-IDF keywords
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_keywords_sql(dialect: str, source: str | None = None) -> str:
    """Top-{TFIDF_TOP_K} keywords per document by tf-idf with the
    smoothed idf ln((N+1)/(df+1)). One explode feeds the term-frequency
    relation; document frequency is GROUP BY tok over that SAME relation
    (tf rows are already (doc, tok)-distinct), so the corpus is scanned
    once. The idf join is keyed on the token — a vocabulary-sized
    relation, broadcast-able at any corpus size. Ranking uses
    tf * round(ln(idf)*1e6)::BIGINT (integer grid → exactly associative;
    ties broken on token) and the per-doc window sorts only that doc's
    vocabulary."""
    if source is None:
        source = docs_tok(dialect)
    # The final stage opens its own WITH; splice its CTE list into ours.
    final = tfidf_final_sql("tfr", source)
    assert final.startswith("WITH ")
    return f"""
WITH tfr AS (
  {tfidf_tf_sql(dialect, source)}
),
{final[len("WITH "):]}
""".strip()


def tfidf_tf_sql(dialect: str, source: str | None = None) -> str:
    """tf-idf stage 1: the (doc, token, tf) relation — one explode,
    one hash aggregate. Feeds BOTH the document-frequency aggregate and
    the scoring join, so the Spark runner localCheckpoints it once
    (Spark inlines CTEs: the r4 single-text registration re-ran this
    corpus-sized explode+agg for each consumer)."""
    if source is None:
        source = docs_tok(dialect)
    un = unnest(dialect, "toks", "tok")
    return f"""
SELECT doc_id, tok, count(*) AS tf
FROM (SELECT doc_id, toks FROM {source}) t
{un}
GROUP BY doc_id, tok
""".strip()


def tfidf_final_sql(tfr: str = "tfr", source: str = "docs_tok") -> str:
    """tf-idf stages 2-4: document frequency (GROUP BY tok over the tf
    relation — rows are already (doc, tok)-distinct), the
    vocabulary-keyed idf join (broadcast-able at any corpus size), and
    the per-doc top-{TFIDF_TOP_K} window. `tfidf` emits sq/1e6 bare:
    sq is a BIGINT on the 1e-6 grid, so the quotient's exact decimal
    has <= 6 places and round(x,6) was a provable no-op — dropped
    rather than documented."""
    return f"""
WITH dfr AS (
  SELECT tok, count(*) AS df FROM {tfr} GROUP BY tok
),
nd AS (
  SELECT count(*) AS n_docs FROM {source}
),
scored AS (
  SELECT t.doc_id, t.tok, t.tf, d.df,
         t.tf * CAST(round(ln((n.n_docs + 1.0) / (d.df + 1.0)) * 1e6) AS BIGINT)
           AS sq
  FROM {tfr} t JOIN dfr d ON d.tok = t.tok CROSS JOIN nd n
),
ranked AS (
  SELECT doc_id, tok, tf, df, sq,
         row_number() OVER (PARTITION BY doc_id ORDER BY sq DESC, tok ASC)
           AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rank, tok,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       sq / 1e6 AS tfidf
FROM ranked WHERE rk <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
""".strip()


# ---------------------------------------------------------------------------
# Triangle census on the part co-purchase graph
# ---------------------------------------------------------------------------

TRIANGLE_TOP_N = 20


def triangle_edges_sql(dialect: str) -> str:
    """Stage 1: distinct co-purchase pairs — ONE self-equi-join of
    lineitem on the order key with pa < pb; work bounded by
    sum(parts-per-order^2), never part x part. Same text both dialects."""
    return """
SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
FROM lineitem a JOIN lineitem b
  ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
""".strip()


def triangle_deg_sql(e: str = "e") -> str:
    """Stage 2: undirected degree per node, from the edge relation."""
    return f"""
SELECT p, count(*) AS d
FROM (SELECT pa AS p FROM {e} UNION ALL SELECT pb AS p FROM {e}) n
GROUP BY p
""".strip()


def triangle_oriented_sql(e: str = "e", deg: str = "deg") -> str:
    """Stage 3: orient each edge from its lower-(degree, id) endpoint,
    bounding every node's out-degree by O(sqrt(m)) (Suri &
    Vassilvitskii, WWW'11 — the standard MapReduce triangle trick)."""
    return f"""
SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
            THEN e.pa ELSE e.pb END AS u,
       CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
            THEN e.pb ELSE e.pa END AS v
FROM {e} e
JOIN {deg} da ON da.p = e.pa
JOIN {deg} db ON db.p = e.pb
""".strip()


def triangle_pn_sql(dialect: str, o: str = "o", lanes: int = 64) -> str:
    """Stage 4: per-node triangle counts.

    DuckDB keeps the r4 wedge-join form: close wedges with one
    equi-join pair, each triangle exploding into its 3 corners in the
    same pass (consumed ONCE — r4's UNION-ALL-3-ways re-ran the pair
    join 4x on the inlining engine).

    Spark (r8) counts by adjacency-set intersection instead: one
    grouped collect of each node's out-neighbors, then per base edge
    (u, v) every w in N+(u) ∩ N+(v) closes a triangle — the same
    O(sum of wedges) element comparisons as the join form, but WITHOUT
    materializing the 49M-wedge join output. ``array_intersect`` runs
    where the two broadcast-hash probes of ``adj`` run, in the stage
    that scans the base edges (plans/r08/graph_triangle_count_after.txt;
    the optimizer also copies the expression into the join condition).
    The REPARTITION hint lands above that projection, so only the
    corner explode and the count are spread round-robin over ``lanes``
    tasks (interleaved A/B at sf0.1, 7 rounds — join 5.10 s median /
    3.96 min vs intersect 3.88 / 3.36). Counts are identical integers
    (full pn relation parity-checked); the corners of each triangle
    still explode in one pass."""
    if dialect != "spark":
        return f"""
WITH tri AS (
  SELECT o1.u AS a, o1.v AS b, o2.v AS c
  FROM {o} o1
  JOIN {o} o2 ON o2.u = o1.v
  JOIN {o} o3 ON o3.u = o1.u AND o3.v = o2.v
)
SELECT p, count(*) AS tri_cnt
FROM (SELECT unnest([a, b, c]) AS p FROM tri) x
GROUP BY p
""".strip()
    return f"""
WITH adj AS (
  SELECT u, sort_array(collect_list(v)) AS nbrs FROM {o} GROUP BY u
),
tri AS (
  SELECT /*+ REPARTITION({lanes}) */
         flatten(transform(array_intersect(au.nbrs, av.nbrs),
                           w -> array(o.u, o.v, w))) AS corners
  FROM {o} o
  JOIN adj au ON au.u = o.u
  JOIN adj av ON av.u = o.v
)
SELECT p, count(*) AS tri_cnt
FROM tri LATERAL VIEW explode(corners) x AS p
GROUP BY p
""".strip()


def triangle_final_sql(pn: str = "pn") -> str:
    """Stage 5: top-{TRIANGLE_TOP_N} triangle-central parts + the global
    census. Total = sum(per-node counts)/3 (every triangle contributes
    exactly 3 corner rows) — derived from the tiny per-node relation
    instead of a 4th pass over the triangle join. The /3 is IEEE-exact:
    the sum is an exact multiple of 3 below 2^53."""
    return f"""
SELECT CAST(pn.p AS BIGINT) AS part_id,
       CAST(pn.tri_cnt AS BIGINT) AS triangles,
       CAST(t.n_triangles AS BIGINT) AS total_triangles
FROM {pn} pn CROSS JOIN
     (SELECT sum(tri_cnt) / 3 AS n_triangles FROM {pn}) t
ORDER BY pn.tri_cnt DESC, pn.p ASC
LIMIT {TRIANGLE_TOP_N}
""".strip()


def triangle_sql(dialect: str) -> str:
    """Triangle census of the part co-purchase graph (undirected edge =
    two parts share at least one order) — the single-text composition of
    the five stages above, used verbatim as the DuckDB oracle (DuckDB
    materializes WITH-CTEs, so multi-consumer CTEs are safe there).
    The Spark side runs the SAME stage texts through a runner
    (registry.graph_triangle_count) that localCheckpoints `e`, `deg`,
    `o`, `pn` once each — Spark inlines CTEs, and `o` has 3 consumers
    (the triangle join) with `e` transitively behind each, so the r4
    single-text registration re-ran the pair-generation join ~9x: the
    recomputation multiplier rides on the biggest relation at 100 TB.
    Every count is an integer aggregate — exactly associative under any
    partitioning."""
    return f"""
WITH e AS (
  {triangle_edges_sql(dialect)}
),
deg AS (
  {triangle_deg_sql("e")}
),
o AS (
  {triangle_oriented_sql("e", "deg")}
),
pn AS (
  {triangle_pn_sql(dialect, "o")}
)
{triangle_final_sql("pn")}
""".strip()


# ---------------------------------------------------------------------------
# Embedding outlier audit: farthest-from-centroid per label
# ---------------------------------------------------------------------------

OUTLIER_PER_LABEL = 5


def embedding_outliers_sql(
    dialect: str,
    per_label: int = OUTLIER_PER_LABEL,
    cent_source: str | None = None,
) -> str:
    """Per-label embedding outliers: squared-L2 distance of every
    vector to its OWN label centroid, top-``per_label`` farthest per
    label — the standard embedding-space cleaning pass of a training
    pipeline (drop/inspect the points far from their cluster before
    they pollute dedup thresholds and ANN cell balance; SemDeDup's
    centroid machinery reused as a QUALITY audit rather than a dedup
    candidate generator).

    At scale: the centroid relation is #labels rows (broadcast side of
    the join); the distance is one index-order fold inside whole-stage
    codegen over a single corpus scan; the per-label rank window
    shuffles on label. The Spark side can serve the centroids from a
    persisted relation (``cent_source``) just like the IVF layer; the
    oracle re-derives them end-to-end. Cross-engine determinism: the
    elementwise mean is re-synchronized on the 1e-12 grid (the IVF
    discipline, ivf._mean_cte), the fold is index-ordered so the raw
    ranking distance is bit-identical, and the displayed distance sits
    on the tie-free 1e-6 floor grid (SCALE.md rule 7b)."""
    from kektordb_spark.functions.textquality import _grid6
    from kektordb_spark.operators.ivf import _mean_cte

    if cent_source is None:
        cent = _mean_cte(dialect, "emb", "cent", cid="label")
    else:
        cent = f"cent AS (SELECT label, v FROM {cent_source})"
    d = l2sq_sql(dialect, "e.v", "c.v")
    return f"""
WITH {cent},
d AS (
  SELECT e.vec_id, e.label, {d} AS dist
  FROM emb e JOIN cent c ON c.label = e.label
),
r AS (
  SELECT vec_id, label, dist,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist DESC, vec_id ASC) AS rk
  FROM d
)
SELECT label, CAST(vec_id AS BIGINT) AS vec_id, CAST(rk AS INT) AS rank,
       {_grid6('dist')} AS dist
FROM r WHERE rk <= {per_label}
ORDER BY label, rk
""".strip()
