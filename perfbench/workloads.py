"""Op mixes of the benchmark's workloads.

Every op is one registry query: ``registry.queries()[name](spark, sf_dir)``
followed by ``.collect()``. The mixes are sized so that one run (session
bootstrap, index build, one warm-up pass and the timed passes) fits the
benchmark's per-run time budget; see README.md.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Read path over the persisted index layer: int8 exact scan, IVF
    # cells, PQ codes and BM25 postings.
    "search": (
        "knn_int8_top10",
        "ivf_knn",
        "knn_pq_top10",
        "bm25_top10",
    ),
    # Write path: a stateful Structured Streaming query (keyed pandas
    # state, so Python workers and the state store) and the merge of an
    # arrival batch into the IVF cells that `search` reads.
    "maintain": (
        "streaming_stateful_totals",
        "ann_index_merge",
    ),
}


def all_ops() -> list[str]:
    seen: dict[str, None] = {}
    for ops in WORKLOADS.values():
        seen.update(dict.fromkeys(ops))
    return list(seen)
