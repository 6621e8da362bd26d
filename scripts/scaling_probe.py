#!/usr/bin/env python
"""Scaling probe: measure how the document/embedding operator families
scale as the corpus grows KxN rows, holding the similarity structure
constant.

The scaled corpora are derived from the sf0.1 fixture by replication
with a per-replica VOCABULARY REMAP (token t -> md5(t||replica)[:6]) so
every replica reproduces the original corpus's intra-replica similarity
distribution while replicas stay mutually dissimilar — pair densities
scale ~linearly with K, which is the honest scaling setup (naive
replication makes every doc a K-way duplicate and the pair count
quadratic by construction). Embeddings get a per-replica coordinate
permutation + sign flips: norms and within-replica distances are
preserved exactly; cross-replica similarities decorrelate.

The non-scaled tables (TPC-H relations, events) are symlinked, so the
registry queries run unmodified against the scaled dir. Results are
recorded in SCALE.md's measured-scaling table.

Usage: python scripts/scaling_probe.py [K ...]   (default: 1 3 10)
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
OUT_ROOT = "/tmp/kektordb_scaling"

# Document/embedding-family queries worth a scaling curve. Graph/event
# queries are excluded — their inputs are the symlinked 1x tables.
PROBE_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_clusters",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_embedding_topk",
    "gardener_consolidation_clusters",
    "bm25_top10",
    "text_quality_score",
    "text_lang_id",
    "pipeline_mix_sample",
    "pipeline_shard_assign",
    "pipeline_pack_sequences",
    "pipeline_quality_gate",
    "pipeline_decontaminate",
    "knn_cosine_top10",
    "ivf_knn",
    "lsh_knn",
    "knn_pq_top10",
    "ivfpq_knn",
    "knn_batch_allpairs",
    "pipeline_vocab_pairs",
    "text_unigram_logprob",
    "pipeline_curriculum",
    "pipeline_curriculum_adaptive",
    "pipeline_bpe_train",
    "dedup_semantic",
    "dedup_paragraph",
    "pipeline_pii_scrub",
    "pipeline_lang_balance",
    "pipeline_bpe_apply",
    # r5: CTE-materialization runners + grid fixes
    "text_keywords_tfidf",
    "pipeline_corpus_stats",
    "text_token_count",
    # r5 new operators
    "dedup_substring_windows",
    "pipeline_length_histogram",
    "graph_connected_components",
    "ann_recall_audit",
    "ann_cell_balance",
    "embedding_outliers",
    "knn_nsw_top10",
    "dedup_lsh_recall_audit",
    # r6: descent-built graph family (serve paths; the build curve is
    # the explicit nng_descent_build row)
    "ann_graph_build",
    "ann_graph_merge",
    # r6 pipeline additions
    "pipeline_epoch_shuffle",
    "pipeline_semantic_decontaminate",
    "emb_projection_audit",
    "knn_projected_recall",
    "graph_components_merge",
    "streaming_ann_assign",
    # r7: beam sweep + the window-elimination beneficiaries re-probed
    "ann_beam_recall_sweep",
    "hybrid_rrf_top15",
    "hybrid_fusion_top15",
    "search_query_text",
]


def build_scaled(k: int) -> str:
    out = f"{OUT_ROOT}/x{k}"
    if os.path.isdir(out):
        return out
    os.makedirs(out, exist_ok=True)
    import duckdb

    con = duckdb.connect()
    # documents: per-replica vocab remap, ids offset by replica stride
    parts = []
    for r in range(k):
        # Length-preserving remap onto a LETTER alphabet: hex tokens
        # would shrink the char-4-gram universe to ~16^4 and inflate
        # gram collision rates far beyond the source corpus, turning
        # the ngram probe into an artifact measurement.
        parts.append(f"""
SELECT doc_id + {r} * 10000000 AS doc_id,
       array_to_string(list_transform(string_split(text, ' '),
                       t -> translate(substr(md5(t || 'rep{r}'), 1,
                                             greatest(length(t), 3)),
                                      '0123456789', 'qrstuvwxyz')), ' ') AS text,
       lang, source, CAST(0 AS BIGINT) AS n_chars
FROM read_parquet('{BASE}/documents.parquet')""")
    union = "\nUNION ALL\n".join(parts)
    con.execute(f"""
COPY (SELECT doc_id, text, lang, source,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM ({union}))
TO '{out}/documents.parquet' (FORMAT PARQUET)
""")
    # embeddings: per-replica dim permutation + sign flips
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{BASE}/embeddings.parquet")
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    ids = t.column("vec_id").to_numpy()
    labels = t.column("label").to_numpy()
    dim = vecs.shape[1]
    out_ids, out_vecs, out_labels = [], [], []
    for r in range(k):
        rs = np.random.RandomState(r)
        perm = rs.permutation(dim)
        signs = rs.choice([-1.0, 1.0], size=dim).astype(np.float32)
        out_ids.append(ids + r * 10000000)
        out_vecs.append(vecs[:, perm] * signs)
        out_labels.append(labels)
    tbl = pa.table({
        "vec_id": np.concatenate(out_ids),
        "embedding": pa.array(
            [v.tolist() for v in np.concatenate(out_vecs)],
            type=pa.list_(pa.float32())),
        "label": np.concatenate(out_labels).astype(np.int32),
    })
    pq.write_table(tbl, f"{out}/embeddings.parquet")
    # everything else: symlink the 1x fixture
    for f in os.listdir(BASE):
        dst = f"{out}/{f}"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{f}", dst)
    return out


def print_layer_times(spark, base, k: int) -> None:
    """Each index layer's (start, end) in the build just timed,
    longest first, then the build's critical path: from the layer that
    finished last, step back to the dependency that finished last."""
    from kektordb_spark.tables import LAYER_TIMES, index_layers

    times = dict(LAYER_TIMES)
    for name, (start, end) in sorted(times.items(), key=lambda kv: kv[1][0] - kv[1][1]):
        print(f"x{k}   {name}: {start:.2f}-{end:.2f}s ({end - start:.2f}s)")
    deps = {lay.name: lay.deps for lay in index_layers(spark, base)}
    path = [max(times, key=lambda n: times[n][1])]
    while deps[path[-1]]:
        path.append(max(deps[path[-1]], key=lambda n: times[n][1]))
    print(f"x{k} index_build critical path: {' -> '.join(reversed(path))} "
          f"(ends at {times[path[0]][1]:.2f}s)", flush=True)


def main() -> None:
    # --only REGEX restricts the probed queries (targeted re-probes of
    # a round's changed operators); K args select the scale factors.
    global PROBE_QUERIES
    args = sys.argv[1:]
    if "--only" in args:
        import re

        i = args.index("--only")
        pat = re.compile(args[i + 1])
        args = args[:i] + args[i + 2:]
        PROBE_QUERIES = [q for q in PROBE_QUERIES if pat.search(q)]
    ks = [int(a) for a in args] or [1, 3, 10]
    from kektordb_spark.plans import registry
    from kektordb_spark.session import get_spark
    from kektordb_spark.tables import load_tables

    spark = get_spark("scaling-probe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.queries()
    results: dict[str, dict[int, float]] = {q: {} for q in PROBE_QUERIES}
    results["index_build"] = {}
    for k in ks:
        sf_dir = BASE if k == 1 else build_scaled(k)
        # Time the load_tables materialization pass separately: the
        # persisted index layer (tokenized docs, GEMM blocks, IVF/PQ/
        # LSH, pr_w, sim_pairs, edges_cur, MinHash/PPJoin signatures)
        # is BUILD cost that scales with the corpus — hiding it inside
        # an untimed load would make the index-served dedup rows below
        # look artificially flat (the honest-vocabulary version of the
        # build/serve split: both sides get a scaling curve).
        t0 = time.perf_counter()
        base = load_tables(spark, sf_dir)
        results["index_build"][k] = round(time.perf_counter() - t0, 2)
        print(f"x{k} index_build: {results['index_build'][k]}s", flush=True)
        print_layer_times(spark, base, k)
        # r6: time the NN-descent graph build on its own (it also runs
        # inside load_tables above) — the sub-quadratic replacement for
        # the GEMM all-pairs build deserves an explicit curve.
        from kektordb_spark.operators.nsw import nng_descent_build

        t0 = time.perf_counter()
        nng_descent_build(spark).count()
        results.setdefault("nng_descent_build", {})[k] = round(
            time.perf_counter() - t0, 2)
        print(f"x{k} nng_descent_build: "
              f"{results['nng_descent_build'][k]}s", flush=True)
        # session warm-up mirrors bench.py's preamble
        spark.sql("SELECT count(*) FROM docs_tok_par WHERE size(toks) >= 0").collect()
        spark.sql(
            "SELECT count(*) FROM docs_tok_par WHERE CAST(conv(substr(md5("
            "concat_ws(' ', toks)), 1, 8), 16, 10) AS BIGINT) >= 0").collect()
        spark.range(8).mapInPandas(lambda it: it, "id long").collect()
        for q in PROBE_QUERIES:
            t0 = time.perf_counter()
            queries[q](spark, sf_dir).collect()
            results[q][k] = round(time.perf_counter() - t0, 2)
            spark.catalog.clearCache()
            for jrdd in list(
                    spark.sparkContext._jsc.getPersistentRDDs().values()):
                jrdd.unpersist()
            print(f"x{k} {q}: {results[q][k]}s", flush=True)
    print("\n| query | " + " | ".join(f"x{k}" for k in ks) +
          " | x10/x1 |")
    print("|---|" + "---|" * (len(ks) + 1))
    for q in ["index_build", "nng_descent_build"] + PROBE_QUERIES:
        row = [f"{results[q].get(k, float('nan')):.2f}" for k in ks]
        hi, lo = results[q].get(ks[-1]), results[q].get(ks[0])
        ratio = f"{hi / lo:.1f}x" if hi and lo else "-"
        print(f"| {q} | " + " | ".join(row) + f" | {ratio} |")


if __name__ == "__main__":
    main()
