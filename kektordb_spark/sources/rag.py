"""RAG ingestion: chunk splitters + document pipeline with prev/next
links (SURVEY.md §2.1 S10, §2.4 T5).

Reference: pkg/rag/splitter.go:22-240 (recursive / markdown / code /
fixed splitters with chunk_size+overlap) and pipeline.go:125-494 (scan
→ parse → chunk → embed → VAdd with prev/next chunk edges).

Spark shape:
  * splitting is a per-document pure function → a UDF returning
    array<struct<chunk_index,text>> + posexplode. The UDF sees one
    document string at a time (documents are small relative to
    partitions); everything downstream is columnar.
  * prev/next linking needs NO self-join: one window (lag over
    partitionBy(doc) orderBy(chunk_index)) derives the edges — the
    reference creates these edges imperatively per insert
    (pipeline.go:388-427).
  * embedding is a pluggable scalar UDF (§2.10) — stubbed here with a
    deterministic hash-projection (the container has no model), same
    plumbing as a real encoder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kektordb_spark.dialect import hex_to_int, seq, transform, unnest

DEFAULT_SEPARATORS = ["\n\n", "\n", " ", ""]

# Named strategy presets — the reference's NewSplitterFactory separator
# lists verbatim (pkg/rag/splitter.go:22-90): markdown cuts on ##/###
# headers before paragraphs; code cuts on func/type/class declarations
# (splitter.go lists "\nclass" twice — a no-op on re-split, collapsed
# here); "fixed" is the [""] degenerate recursion the factory comments
# describe, distinct from split_fixed's stride-with-overlap form.
SPLITTER_PRESETS: dict[str, list[str]] = {
    "recursive": DEFAULT_SEPARATORS,
    "markdown": ["\n## ", "\n### ", "\n\n", "\n", " ", ""],
    "md": ["\n## ", "\n### ", "\n\n", "\n", " ", ""],
    "code": ["\nfunc", "\ntype", "\nclass", "\n\n", "\n", " ", ""],
    "go": ["\nfunc", "\ntype", "\nclass", "\n\n", "\n", " ", ""],
    "python": ["\nfunc", "\ntype", "\nclass", "\n\n", "\n", " ", ""],
}


def splitter_separators(
    strategy: str = "recursive",
    custom_separators: list[str] | None = None,
) -> list[str]:
    """NewSplitterFactory's selection rule (splitter.go:22-66): caller
    separators win outright; otherwise the named strategy picks its
    preset list; unknown strategies fall through to recursive."""
    if custom_separators:
        return list(custom_separators)
    return list(SPLITTER_PRESETS.get(strategy, DEFAULT_SEPARATORS))


def split_recursive(
    text: str,
    chunk_size: int = 200,
    overlap: int = 20,
    separators: list[str] | None = None,
) -> list[str]:
    """Recursive character splitting (the public LangChain-style
    algorithm, same family as splitter.go's recursive mode): try the
    coarsest separator first; pieces still over chunk_size recurse to
    the next separator; adjacent pieces merge greedily up to
    chunk_size with ``overlap`` carried between chunks."""
    seps = separators if separators is not None else DEFAULT_SEPARATORS

    def _split(t: str, seps_left: list[str]) -> list[str]:
        if len(t) <= chunk_size or not seps_left:
            return [t] if t else []
        sep, rest = seps_left[0], seps_left[1:]
        parts = list(t) if sep == "" else t.split(sep)
        out: list[str] = []
        buf = ""
        for part in parts:
            cand = buf + (sep if buf else "") + part if sep != "" else buf + part
            if len(cand) <= chunk_size:
                buf = cand
                continue
            if buf:
                out.append(buf)
                tail = buf[-overlap:] if overlap else ""
                buf = tail + (sep if tail else "") + part if sep != "" else tail + part
            else:
                buf = part
            if len(buf) > chunk_size:
                out.extend(_split(buf, rest))
                buf = ""
        if buf:
            out.append(buf)
        return out

    return [c for c in _split(text, seps) if c.strip()]


def split_fixed(text: str, chunk_size: int = 200, overlap: int = 20) -> list[str]:
    """Fixed-size splitter with overlap (splitter.go fixed mode)."""
    if not text:
        return []
    step = max(1, chunk_size - overlap)
    return [text[i : i + chunk_size] for i in range(0, len(text), step)]


_CHUNK_SCHEMA = T.ArrayType(
    T.StructType([
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("chunk_text", T.StringType()),
    ])
)


def chunk_documents(
    docs: DataFrame,
    mode: str = "recursive",
    chunk_size: int = 60,
    overlap: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    separators: list[str] | None = None,
) -> DataFrame:
    """T5: explode documents into chunk rows
    (doc_id, chunk_index, chunk_text, chunk_id).

    ``mode`` accepts the reference factory's strategy names
    (recursive/markdown/md/code/go/python → preset separator recursion;
    "fixed" → stride-with-overlap). Explicit ``separators`` override
    the preset, like CustomSeparators in splitter.go:34-40."""
    if mode != "fixed":
        seps = splitter_separators(mode, separators)

        def fn(t, cs, ov):
            return split_recursive(t, cs, ov, seps)
    else:
        fn = split_fixed

    # Arrow-batched (pandas_udf, not row-at-a-time): splitting is pure
    # per-document string work, so the only per-row cost worth paying
    # is the Python call itself — Arrow transfer amortizes the
    # serialization across the batch (r3 advice note).
    @F.pandas_udf(_CHUNK_SCHEMA)
    def _chunks(texts):
        import pandas as pd

        return pd.Series([
            [] if t is None
            else [(i, c) for i, c in enumerate(fn(t, chunk_size, overlap))]
            for t in texts
        ])

    return (
        docs.select(F.col(id_col).alias("doc_id"), _chunks(F.col(text_col)).alias("cs"))
        .select("doc_id", F.explode("cs").alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_index").alias("chunk_index"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
        .withColumn(
            "chunk_id",
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_index").cast("string")),
        )
    )


def chunk_link_edges(chunks: DataFrame, now: int = 0) -> DataFrame:
    """S10 prev/next edges via ONE window pass (lag) — no self-join:
    next_chunk edges (i -> i+1) and their prev_chunk inverses."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("chunk_index")
    with_prev = chunks.withColumn("prev_id", F.lag("chunk_id").over(w)).where(
        F.col("prev_id").isNotNull()
    )
    nxt = with_prev.select(
        F.col("prev_id").alias("src"), F.col("chunk_id").alias("dst"),
        F.lit("next_chunk").alias("rel"), F.lit(1.0).alias("weight"),
        F.lit(now).cast("long").alias("created_at"),
        F.lit(0).cast("long").alias("deleted_at"),
    )
    prv = with_prev.select(
        F.col("chunk_id").alias("src"), F.col("prev_id").alias("dst"),
        F.lit("prev_chunk").alias("rel"), F.lit(1.0).alias("weight"),
        F.lit(now).cast("long").alias("created_at"),
        F.lit(0).cast("long").alias("deleted_at"),
    )
    return nxt.unionByName(prv)


# One dimension constant shared with the embedder seam (re-exported
# here for the SQL oracle builders and existing imports).
from kektordb_spark.functions.embedder import (  # noqa: E402
    DEFAULT_DIM as EMBED_DIM,
    embedding_udf,
    get_embedder,
    set_embedder,
)

# §2.10 pluggable embedder UDF — bound to the DEFAULT HashEmbedder at
# import (deterministic hash projection, oracle-checkable). Call sites
# that must honor a swapped-in encoder (functions.embedder.
# set_embedder) build a fresh embedding_udf() at call time instead —
# see ingest().
embed_stub = embedding_udf()


def embed_sql(dialect: str, txt: str) -> str:
    """The embed_stub hash projection as a SQL expression — identical
    bytes in both engines (Spark ``sha2(t,256)`` == DuckDB
    ``sha256(t)``, lowercase hex), so the auto-embed query path
    (http_handlers.go:641-658: query_text -> embedder -> VSearch) is
    fully oracle-checkable. Swapping in a real encoder replaces this
    AND embed_stub together."""
    digest = f"sha2({txt}, 256)" if dialect == "spark" else f"sha256({txt})"
    byte = hex_to_int(dialect, digest, 2, "i * 2 + 1", ty="DOUBLE")
    return transform(dialect, seq(dialect, "0", str(EMBED_DIM - 1)),
                     f"i -> {byte} / 255.0 - 0.5")


def ingest(docs: DataFrame, now: int = 0, chunk_size: int = 60, overlap: int = 10):
    """Full S10 pipeline: chunk → embed → vector rows + prev/next
    edges. Returns (vector_rows, edge_rows) ready for api.vadd_batch /
    MERGE. One scan of docs; the only shuffle is the lag window keyed
    on doc_id. The encode step resolves the CURRENT process embedder
    (functions.embedder seam) — swap with set_embedder and re-ingest;
    dimension drift fails the job (ops.go:338-347 contract)."""
    chunks = chunk_documents(docs, chunk_size=chunk_size, overlap=overlap)
    embed = embedding_udf()
    vectors = chunks.select(
        F.col("chunk_id").alias("id"),
        embed(F.col("chunk_text")).alias("v"),
        F.col("doc_id"), F.col("chunk_index"), F.col("chunk_text"),
    )
    return vectors, chunk_link_edges(chunks, now=now)


def chunk_recursive_words_oracle_sql(
    chunk_size: int = 80, source: str = "documents",
) -> str:
    """T5 recursive splitter (splitter.go recursive mode, word-boundary
    separator level, overlap=0) as a DuckDB recursive CTE — the oracle
    for ``chunk_documents(mode="recursive", separators=[" "],
    overlap=0)``. Greedy packing is inherently sequential (each chunk
    boundary depends on the previous one), so the oracle walks words
    with WITH RECURSIVE: one iteration per word position, all documents
    advance in lockstep. Requires single-spaced text and words shorter
    than chunk_size (both hold for the fixture corpus; the Python
    splitter's sub-word recursion branch is then unreachable).

    The Spark side stays the UDF + posexplode — at 100 TB the split is
    a per-document pure function (map-only, no shuffle), which is
    exactly where a Python UDF is acceptable; the sequential CTE is
    only the sf0.01 correctness oracle."""
    return f"""
WITH RECURSIVE words AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) AS idx
  FROM {source} WHERE length(text) > 0
),
rec AS (
  SELECT doc_id, idx, length(word) AS buf_len, 0 AS chunk_no
  FROM words WHERE idx = 1
  UNION ALL
  SELECT w.doc_id, w.idx,
         CASE WHEN r.buf_len + 1 + length(w.word) <= {chunk_size}
              THEN r.buf_len + 1 + length(w.word)
              ELSE length(w.word) END,
         CASE WHEN r.buf_len + 1 + length(w.word) <= {chunk_size}
              THEN r.chunk_no ELSE r.chunk_no + 1 END
  FROM rec r JOIN words w ON w.doc_id = r.doc_id AND w.idx = r.idx + 1
)
SELECT r.doc_id, r.chunk_no AS chunk_index,
       string_agg(w.word, ' ' ORDER BY w.idx) AS chunk_text
FROM rec r JOIN words w ON w.doc_id = r.doc_id AND w.idx = r.idx
GROUP BY r.doc_id, r.chunk_no
""".strip()


def chunk_fixed_sql(
    dialect: str, chunk_size: int = 60, overlap: int = 10,
    source: str = "documents",
) -> str:
    """T5 fixed-size chunk splitter (pkg/rag/splitter.go fixed mode) as
    pure SQL — start offsets every (chunk_size - overlap) chars,
    trailing chunk may be short. The SQL form is the 100 TB path (stays
    in codegen, no Python), bit-identical to split_fixed()."""
    step = max(1, chunk_size - overlap)
    nchunks = f"CAST(ceil(length(text) / {step}.0) AS BIGINT)"
    lat = unnest(dialect, seq(dialect, "1", nchunks), "i")
    return f"""
SELECT doc_id, CAST(i - 1 AS INT) AS chunk_index,
       substr(text, CAST((i - 1) * {step} + 1 AS INT), {chunk_size}) AS chunk_text
FROM {source} {lat}
WHERE length(text) > 0
""".strip()
