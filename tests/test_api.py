"""Engine-facade mutation semantics (SURVEY.md §2.1/§2.5/§2.6) —
modeled on the reference's Go unit tests (engine_test.go, graph
tests): deterministic timestamps, soft-delete visibility, edge
versioning, evolution chains."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kektordb_spark import api

T0, T1, T2 = 1_000, 2_000, 3_000


@pytest.fixture()
def idx(spark):
    ix = api.vcreate(spark, "test", metric="cosine",
                     auto_links=(("category", "belongs_to"),))
    items = [
        {"id": "a", "vector": [1.0, 0.0], "meta": {"category": "x", "s": "1"}},
        {"id": "b", "vector": [0.0, 1.0], "meta": {"category": "x"}},
        {"id": "c", "vector": [1.0, 1.0], "meta": {}},
    ]
    return api.vadd_batch(ix, items, now=T0)


def test_vadd_strict_and_autolink(idx):
    assert idx.vectors.count() == 3
    row = idx.vectors.where(F.col("id") == "a").collect()[0]
    assert row["created_at"] == T0 and row["access_count"] == 0
    assert abs(row["norm"] - 1.0) < 1e-12
    # G7 auto-link edges derived from metadata
    links = idx.edges.where(F.col("rel") == "belongs_to").collect()
    assert {(r["src"], r["dst"]) for r in links} == {("a", "x"), ("b", "x")}
    # S2 strict mode: duplicate id REJECTED like the reference
    # (hnsw_index.go:527 "ID 'x' already exists"; 409 at the HTTP layer)
    with pytest.raises(api.DuplicateIdError, match="already exists"):
        api.vadd_batch(idx, [{"id": "a", "vector": [0.5, 0.5]}], now=T1)
    # explicit upsert mode is the bulk MERGE path
    idx2 = api.vadd_batch(idx, [{"id": "a", "vector": [0.5, 0.5]}], now=T1,
                          mode="upsert")
    assert idx2.vectors.count() == 3
    assert idx2.vectors.where(F.col("id") == "a").collect()[0]["created_at"] == T1
    # deleted ids are re-addable in strict mode (the live-id check
    # only considers non-deleted rows)
    idx3 = api.vdelete(idx, ["a"], now=T1)
    idx4 = api.vadd_batch(idx3, [{"id": "a", "vector": [0.5, 0.5]}], now=T2)
    assert idx4.vectors.where(F.col("id") == "a").where(~F.col("deleted")).count() == 1


def test_vlink_self_link_rejected(idx):
    with pytest.raises(api.SelfLinkError, match="cannot link a node to itself"):
        api.vlink(idx, "a", "a", "self_ref", now=T0)


def test_vdelete_cascade(idx):
    idx = api.vlink(idx, "a", "b", "rel1", now=T0)
    idx2 = api.vdelete(idx, ["a"], now=T1)
    assert api.vget(idx2, ["a"]).count() == 0  # F7 valid-rows predicate
    assert api.vget(idx2, ["b"]).count() == 1
    # cascade: every edge touching 'a' soft-deleted at T1 (G11)
    dead = idx2.edges.where(
        ((F.col("src") == "a") | (F.col("dst") == "a")) & (F.col("deleted_at") == 0)
    )
    assert dead.count() == 0


def test_vreinforce(idx):
    idx2 = api.vreinforce(api.vreinforce(idx, ["b"], now=T1), ["b"], now=T2)
    row = idx2.vectors.where(F.col("id") == "b").collect()[0]
    assert row["access_count"] == 2 and row["last_accessed"] == T2
    other = idx2.vectors.where(F.col("id") == "a").collect()[0]
    assert other["access_count"] == 0


def test_vset_metadata_merge(idx):
    idx2 = api.vset_metadata(idx, "a", {"s": "9", "t": "new"}, now=T1)
    meta = idx2.vectors.where(F.col("id") == "a").collect()[0]["meta"]
    assert meta["s"] == "9" and meta["t"] == "new" and meta["category"] == "x"


def test_vlink_versioning(idx):
    idx = api.vlink(idx, "a", "b", "knows", now=T0, weight=1.0)
    # identical -> idempotent no-op (graph.go:140-155)
    idx = api.vlink(idx, "a", "b", "knows", now=T1, weight=1.0)
    rows = idx.edges.where(F.col("rel") == "knows").collect()
    assert len(rows) == 1
    # changed weight -> old row closed at T2, new row appended
    idx = api.vlink(idx, "a", "b", "knows", now=T2, weight=2.0)
    rows = sorted(
        idx.edges.where(F.col("rel") == "knows").collect(),
        key=lambda r: r["created_at"],
    )
    assert len(rows) == 2
    assert rows[0]["deleted_at"] == T2 and rows[1]["weight"] == 2.0
    # time travel sees the OLD weight at T1 (G3 semantics)
    from kektordb_spark.operators.graph import active_at
    at_t1 = active_at(idx.edges.where(F.col("rel") == "knows"), T1).collect()
    assert len(at_t1) == 1 and at_t1[0]["weight"] == 1.0


def test_vunlink_and_vacuum(idx):
    idx = api.vlink(idx, "a", "c", "r", now=T0)
    idx = api.vunlink(idx, "a", "c", "r", now=T1)
    assert idx.edges.where((F.col("rel") == "r") & (F.col("deleted_at") == 0)).count() == 0
    # vacuum purges edges dead longer than retention (G12)
    idx2 = api.graph_vacuum(idx, now=T1 + 100, retention=50)
    assert idx2.edges.where(F.col("rel") == "r").count() == 0


def test_vevolve_chain(idx):
    idx = api.vlink(idx, "b", "a", "cites", now=T0)
    idx2 = api.vevolve(idx, "a", "a2", {"s": "2"}, now=T1)
    old = idx2.vectors.where(F.col("id") == "a").collect()[0]
    new = idx2.vectors.where(F.col("id") == "a2").collect()[0]
    assert old["historical"] and not new["historical"]
    assert new["meta"]["s"] == "2" and new["meta"]["category"] == "x"
    rels = {(r["src"], r["dst"], r["rel"]) for r in idx2.edges.collect()}
    assert ("a", "a2", "superseded_by") in rels
    assert ("a2", "a", "evolves_from") in rels
    assert ("b", "a2", "cites") in rels  # incoming edges copied


def test_vcompress_int8(idx):
    q = api.vcompress_int8(idx).collect()
    assert len(q) == 3
    by_id = {r["id"]: r for r in q}
    # absmax ~= 1.0 -> a=[1,0] quantizes to [127, 0]
    assert by_id["a"]["q"][0] == 127 and by_id["a"]["q"][1] == 0
    scale = by_id["a"]["scale"]
    assert abs(127 * scale - 1.0) < 0.02  # dequantized ~ original



def test_vcompress_f16(idx):
    """vcompress_f16 returns one row per non-deleted vector, and v16 is
    numpy's IEEE binary16 round-trip of the stored v."""
    import numpy as np

    # d's components are not binary16 values, so the round-trip rounds
    idx = api.vadd_batch(idx, [{"id": "d", "vector": [0.1, 1 / 3]}], now=T1)
    idx = api.vdelete(idx, ["b"], now=T1)
    live = {r["id"]: r["v"]
            for r in idx.vectors.where(~F.col("deleted")).collect()}
    got = {r["id"]: r["v16"] for r in api.vcompress_f16(idx).collect()}
    assert set(got) == set(live) == {"a", "c", "d"}
    for i, v in live.items():
        want = np.asarray(v, dtype=np.float64).astype(np.float16)
        assert got[i] == want.astype(np.float64).tolist()
    assert got["d"] != list(live["d"])

def test_kv_roundtrip(spark):
    kv = spark.createDataFrame([], api.KV_SCHEMA)
    kv = api.kv_set(spark, kv, "k1", b"hello")
    kv = api.kv_set(spark, kv, "k1", b"world")  # overwrite
    assert api.kv_get(kv, "k1") == b"world"
    assert api.kv_get(kv, "nope") is None
    kv = api.kv_delete(kv, "k1")
    assert api.kv_get(kv, "k1") is None


def test_repair_dangling(idx):
    # a -> b healthy; a -> ghost dangles (ghost was never added);
    # delete b so a -> b dangles too afterwards
    idx = api.vlink(idx, "a", "b", "refs", now=T0)
    idx = api.vlink(idx, "a", "ghost", "refs", now=T0)
    fixed = api.repair_dangling(idx, now=T1)
    active = {(r["src"], r["dst"]) for r in
              fixed.edges.where(F.col("deleted_at") == 0)
              .select("src", "dst").collect()}
    assert ("a", "ghost") not in active
    assert ("a", "b") in active  # healthy link untouched
    # after deleting b, repair closes a->b as well (G10+S5 composition)
    fixed2 = api.repair_dangling(api.vdelete(fixed, ["b"], now=T1), now=T2)
    active2 = {(r["src"], r["dst"]) for r in
               fixed2.edges.where(F.col("deleted_at") == 0)
               .select("src", "dst").collect()}
    assert ("a", "b") not in active2


def test_consolidate_merge(spark):
    """A5 merge step (gardener.go:941-1110): master synthesis, edge
    transfer with skip/in-cluster/last-member-wins rules, archive."""
    ix = api.vcreate(spark, "cons", metric="cosine")
    ix = api.vadd_batch(ix, [
        {"id": "m1", "vector": [1.0, 0.0], "meta": {"content": "alpha"}},
        {"id": "m2", "vector": [0.0, 1.0], "meta": {"content": "beta-long"}},
        {"id": "m3", "vector": [1.0, 1.0], "meta": {"content": "gamma"}},
        {"id": "x", "vector": [0.5, 0.5], "meta": {}},
        {"id": "y", "vector": [0.5, 0.5], "meta": {}},
    ], now=T0)
    ix = api.vlink(ix, "m1", "x", "likes", now=T0, weight=2.0)
    ix = api.vlink(ix, "m1", "y", "likes", now=T0, weight=1.0)
    ix = api.vlink(ix, "m3", "x", "likes", now=T0, weight=5.0)
    ix = api.vlink(ix, "m2", "m3", "likes", now=T0)        # in-cluster
    ix = api.vlink(ix, "y", "m2", "cites", now=T0, weight=1.5)
    ix = api.vlink(ix, "m1", "x", "gap_analyzed", now=T0)  # skip rel

    out = api.consolidate(ix, [["m1", "m2", "m3"]], now=T2)

    master = out.vectors.where(F.col("id") == "consolidation_m1").collect()
    assert len(master) == 1
    m = master[0]
    # mean vector + content of the most-connected member (m1: degree 4)
    assert [round(v, 9) for v in m["v"]] == [round(2 / 3, 9), round(2 / 3, 9)]
    assert m["meta"]["content"] == "alpha"
    assert m["meta"]["type"] == "consolidated_memory"
    assert m["meta"]["derived_from_count"] == "3"

    active = {(r["src"], r["dst"], r["rel"]): r["weight"] for r in
              out.edges.where(F.col("deleted_at") == 0).collect()}
    # transfers: last member (m3) wins the (likes, x) collision
    assert active[("consolidation_m1", "x", "likes")] == 5.0
    assert active[("consolidation_m1", "y", "likes")] == 1.0
    assert active[("y", "consolidation_m1", "cites")] == 1.5
    # in-cluster and analysis-artifact edges are NOT transferred
    assert ("consolidation_m1", "m3", "likes") not in active
    assert ("consolidation_m1", "x", "gap_analyzed") not in active
    # consolidated_into / derived_from link pairs per member
    for mid in ("m1", "m2", "m3"):
        assert (mid, "consolidation_m1", "consolidated_into") in active
        assert ("consolidation_m1", mid, "derived_from") in active

    # members archived in place, bystanders untouched
    for r in out.vectors.where(F.col("id").isin("m1", "m2", "m3")).collect():
        assert r["meta"]["_archived"] == "true"
        assert r["meta"]["_consolidated_into"] == "consolidation_m1"
    x_meta = out.vectors.where(F.col("id") == "x").collect()[0]["meta"]
    assert "_archived" not in x_meta


def test_readd_after_delete(idx):
    """Reference Delete removes the id from externalToInternalID
    (hnsw_index.go:2292-2325), so Add(id) after Delete(id) passes its
    map probe — re-add is allowed and resolves to the new vector."""
    deleted = api.vdelete(idx, ["a"], now=T1)
    assert api.vget(deleted, ["a"]).count() == 0
    readded = api.vadd_batch(
        deleted, [{"id": "a", "vector": [0.0, 1.0], "meta": {"s": "2"}}],
        now=T2,
    )
    rows = api.vget(readded, ["a"]).collect()
    assert len(rows) == 1
    assert rows[0]["v"] == [0.0, 1.0] and rows[0]["meta"]["s"] == "2"


def test_vlink_batch_merge(idx):
    """Batched VLink: idempotent / changed-weight / new-edge rules in
    one MERGE, duplicate keys last-wins, no per-edge collect."""
    ix = api.vlink_batch(idx, [
        ("a", "b", "refs", 1.0),
        ("a", "c", "refs", 2.0),
        ("a", "c", "refs", 3.0),   # dup key in batch: last wins
    ], now=T1)
    active = {(r["src"], r["dst"], r["rel"]): r["weight"] for r in
              ix.edges.where((F.col("deleted_at") == 0) &
                             (F.col("rel") == "refs")).collect()}
    assert active[("a", "b", "refs")] == 1.0
    assert active[("a", "c", "refs")] == 3.0
    # idempotent re-link: no new version row
    n_before = ix.edges.count()
    ix2 = api.vlink_batch(ix, [("a", "b", "refs", 1.0)], now=T2)
    assert ix2.edges.count() == n_before
    # changed weight: old row soft-closed at T2, new version appended
    ix3 = api.vlink_batch(ix2, [("a", "b", "refs", 9.0)], now=T2)
    versions = sorted(
        (r["weight"], r["deleted_at"]) for r in
        ix3.edges.where((F.col("src") == "a") & (F.col("dst") == "b") &
                        (F.col("rel") == "refs")).collect())
    assert versions == [(1.0, T2), (9.0, 0)]
    with pytest.raises(api.SelfLinkError):
        api.vlink_batch(ix3, [("a", "a", "refs", 1.0)], now=T2)


def test_resolve_conflict(idx):
    # reflection row + two conflicting memories; 'a' loses
    idx = api.vlink(idx, "c", "a", "contradicts", now=T0)
    idx2 = api.resolve_conflict(idx, "c", "kept b, discarded a",
                                now=T2, discard_id="a")
    refl = idx2.vectors.where(F.col("id") == "c").collect()[0]["meta"]
    assert refl["status"] == "resolved"
    assert refl["resolution"] == "kept b, discarded a"
    assert refl["_updated_at"] == str(T2)
    # loser archived + invalidated_by, then soft-deleted with cascade
    loser = idx2.vectors.where(F.col("id") == "a").collect()[0]
    assert loser["meta"]["_archived"] == "True"
    assert loser["meta"]["invalidated_by"] == "c"
    assert loser["deleted"] is True
    live_edges = idx2.edges.where(
        ((F.col("src") == "a") | (F.col("dst") == "a"))
        & (F.col("deleted_at") == 0)
    )
    assert live_edges.count() == 0
    # resolve without a discard id mutates only the reflection
    idx3 = api.resolve_conflict(idx, "c", "false alarm", now=T2)
    assert idx3.vectors.where(F.col("deleted")).count() == 0


def test_jsonl_export_import_roundtrip(spark):
    """S9/S4: export_jsonl -> import_jsonl preserves every active row
    (vector values, meta map, system columns); soft-deleted rows stay
    behind; sparse dumps (only id+v) get the vadd defaults."""
    import json
    import tempfile

    from kektordb_spark import api

    idx = api.vcreate(spark, "io", metric="cosine")
    idx = api.vadd_batch(idx, [
        {"id": "a", "vector": [1.0, 0.0], "meta": {"type": "fact", "k": "1"}},
        {"id": "b", "vector": [0.0, 2.0], "meta": {"type": "note"}},
        {"id": "c", "vector": [3.0, 4.0]},
    ], now=100)
    idx = api.vdelete(idx, ["c"], now=200)

    with tempfile.TemporaryDirectory() as d:
        api.export_jsonl(idx, f"{d}/dump")
        idx2 = api.import_jsonl(spark, "io2", f"{d}/dump", now=300)
        rows = {r["id"]: r.asDict() for r in idx2.vectors.collect()}
        assert set(rows) == {"a", "b"}  # tombstone not exported
        assert rows["a"]["v"] == [1.0, 0.0]
        assert rows["a"]["meta"]["type"] == "fact"
        assert rows["a"]["created_at"] == 100  # preserved, not re-stamped
        assert abs(rows["b"]["norm"] - 2.0) < 1e-12

        # sparse dump: only id + v -> defaults injected at import time
        with open(f"{d}/sparse.jsonl", "w") as fh:
            fh.write(json.dumps({"id": "z", "v": [0.0, 3.0]}) + "\n")
        idx3 = api.import_jsonl(spark, "io3", f"{d}/sparse.jsonl", now=400)
        z = idx3.vectors.collect()[0].asDict()
        assert (z["created_at"], z["access_count"], z["deleted"]) == (400, 0, False)
        assert abs(z["norm"] - 3.0) < 1e-12
        assert z["memory_layer"] == "episodic"

        # corrupt dump: a malformed line fails LOUDLY (FAILFAST), never
        # a silent all-null row dropped by the id filter (r3 ADVICE)
        with open(f"{d}/corrupt.jsonl", "w") as fh:
            fh.write(json.dumps({"id": "ok", "v": [1.0, 0.0]}) + "\n")
            fh.write("{not json at all\n")
        import pytest as _pytest
        with _pytest.raises(Exception, match="(?i)malformed|failfast|corrupt"):
            api.import_jsonl(spark, "io4", f"{d}/corrupt.jsonl", now=500) \
                .vectors.count()


def test_vtraverse_nested_tree(spark):
    """G5 VTraverse response shape (ops.go:594-692): hydrated nested
    GraphNode tree — Connections keyed by the full dot-path at the
    root and by the REMAINING path at each level; children carry
    their own VectorData; relation-less paths are absent, not empty;
    unknown root raises."""
    ix = api.vcreate(spark, "trav")
    ix = api.vadd_batch(ix, [
        {"id": n, "vector": [1.0, float(i)], "meta": {"n": n}}
        for i, n in enumerate(["a", "b", "c", "d", "e"])
    ], now=T0)
    ix = api.vlink(ix, "a", "b", "parent", now=T0)
    ix = api.vlink(ix, "a", "c", "parent", now=T0)
    ix = api.vlink(ix, "b", "d", "child", now=T0)
    ix = api.vlink(ix, "c", "e", "child", now=T0)

    tree = api.vtraverse(ix, "a", ["parent.child", "sibling"])
    assert tree["id"] == "a" and tree["meta"]["n"] == "a"
    assert set(tree["connections"]) == {"parent.child"}  # sibling: no edges
    lvl1 = tree["connections"]["parent.child"]
    assert [n["id"] for n in lvl1] == ["b", "c"]  # sorted, hydrated
    assert lvl1[0]["meta"] == {"n": "b"} and lvl1[0]["v"] == [1.0, 1.0]
    # level-2 connections keyed by the remaining path ("child")
    assert [c["id"] for c in lvl1[0]["connections"]["child"]] == ["d"]
    assert [c["id"] for c in lvl1[1]["connections"]["child"]] == ["e"]
    # leaves have no onward connections
    assert lvl1[0]["connections"]["child"][0]["connections"] == {}
    # single-segment path: flat hydrated children
    flat = api.vtraverse(ix, "b", ["child"])
    assert [n["id"] for n in flat["connections"]["child"]] == ["d"]
    with pytest.raises(KeyError):
        api.vtraverse(ix, "zz", ["parent"])


def test_splitter_presets():
    """T5 named presets (splitter.go:22-90): markdown cuts on ##/###
    headers, code on declaration keywords; custom separators override
    the strategy; unknown strategy falls back to recursive."""
    from kektordb_spark.sources.rag import (
        DEFAULT_SEPARATORS,
        SPLITTER_PRESETS,
        split_recursive,
        splitter_separators,
    )

    assert splitter_separators("markdown") == SPLITTER_PRESETS["md"]
    assert splitter_separators("go") == SPLITTER_PRESETS["code"]
    assert splitter_separators("nonsense") == DEFAULT_SEPARATORS
    assert splitter_separators("markdown", ["|"]) == ["|"]

    md = "# T\nintro words here\n## A\nalpha body text\n## B\nbeta body text"
    chunks = split_recursive(md, chunk_size=30, overlap=0,
                             separators=splitter_separators("markdown"))
    # header boundaries are the cut points (the splitter consumes the
    # matched separator, like the reference's merge loop): each ##
    # section stays intact in its own chunk instead of splitting on
    # plain newlines mid-section
    assert chunks == ["# T\nintro words here",
                      "A\nalpha body text", "B\nbeta body text"]

    code = "package x\nfunc A() {\n a()\n}\nfunc B() {\n b()\n}"
    cchunks = split_recursive(code, chunk_size=25, overlap=0,
                              separators=splitter_separators("code"))
    # each func body lands whole in its own chunk (cut on \nfunc)
    assert cchunks == ["package x", " A() {\n a()\n}", " B() {\n b()\n}"]


@pytest.fixture()
def search_idx(spark):
    """Corpus for the VSearch facade: text metadata + categories +
    a small graph (ops.go:524/896 composition surface)."""
    ix = api.vcreate(spark, "s", metric="cosine",
                     text_fields=("content",))
    items = [
        {"id": "d1", "vector": [1.0, 0.0],
         "meta": {"content": "merge sort algorithm", "category": "algo",
                  "level": "3"}},
        {"id": "d2", "vector": [0.9, 0.1],
         "meta": {"content": "window functions in sql", "category": "db",
                  "level": "5"}},
        {"id": "d3", "vector": [0.0, 1.0],
         "meta": {"content": "merge intervals and sort them",
                  "category": "algo", "level": "7"}},
        {"id": "d4", "vector": [0.5, 0.5],
         "meta": {"content": "graph traversal", "category": "algo",
                  "level": "9"}},
    ]
    ix = api.vadd_batch(ix, items, now=T0)
    ix = api.vlink(ix, "d1", "d2", "related", now=T0)
    ix = api.vlink(ix, "d2", "d4", "related", now=T0)
    return ix


def test_vsearch_vector_only(search_idx):
    """Pure vector search: ids in exact-kNN order, rank 1..k
    (ops.go:1081-1084 — alpha implicitly 1)."""
    rows = api.vsearch(search_idx, query=[1.0, 0.0], k=3).collect()
    assert [r["id"] for r in rows] == ["d1", "d2", "d4"]
    assert [r["rank"] for r in rows] == [1, 2, 3]
    scored = api.vsearch(search_idx, query=[1.0, 0.0], k=1,
                         with_scores=True).collect()
    # dist(d1)=0 -> score = 1/(1+0) = 1
    assert abs(scored[0]["score"] - 1.0) < 1e-9


def test_vsearch_filter_and_hybrid(search_idx):
    """Boolean DSL pre-filter (V2) + CONTAINS hybrid clause (F5):
    filter restricts the corpus BEFORE the search; the text branch
    re-ranks by alpha-weighted fusion (H2)."""
    rows = api.vsearch(search_idx, query=[1.0, 0.0], k=10,
                       filter="category = 'algo'").collect()
    assert [r["id"] for r in rows] == ["d1", "d4", "d3"]
    # numeric range over the string-stored metadata (B-Tree path)
    rows = api.vsearch(search_idx, query=[1.0, 0.0], k=10,
                       filter="level > 4").collect()
    assert [r["id"] for r in rows] == ["d2", "d4", "d3"]
    # hybrid: 'merge' matches d1/d3 -> text branch lifts d3 over d4
    hy = api.vsearch(search_idx, query=[1.0, 0.0], k=10,
                     filter="category = 'algo' AND CONTAINS(content, 'merge')",
                     alpha=0.5, with_scores=True).collect()
    assert [r["id"] for r in hy][:1] == ["d1"]
    ids = [r["id"] for r in hy]
    assert ids.index("d3") < ids.index("d4")


def test_vsearch_text_only_and_graph_filter(search_idx):
    """CASE A text-only (ops.go:975-995) and the graph allowlist
    intersection (resolveGraphFilter, graph.go:173-246)."""
    rows = api.vsearch(search_idx, query=None,
                       query_text="merge sort", k=10).collect()
    assert [r["id"] for r in rows][:2] == ["d1", "d3"]  # both match; d1 denser
    # graph filter: reachable from d1 within 1 hop = {d1, d2}
    gq = {"root_id": "d1", "max_depth": 1, "relations": ["related"]}
    rows = api.vsearch(search_idx, query=[1.0, 0.0], k=10,
                       graph_query=gq).collect()
    assert {r["id"] for r in rows} == {"d1", "d2"}
    with pytest.raises(ValueError, match="query vector or a text query"):
        api.vsearch(search_idx, query=None, query_text="")


def test_vsearch_hydrate_and_text_field_detect(search_idx, spark):
    """v0.6.0 hydrate field + T3 autodetect priority
    (ops.go:1660-1694)."""
    rows = api.vsearch(search_idx, query=[1.0, 0.0], k=2,
                       hydrate=True).collect()
    assert rows[0]["meta"]["content"] == "merge sort algorithm"
    assert rows[0]["v"] == [1.0, 0.0]
    assert api.detect_text_field(search_idx) == "content"
    # no text_fields configured: priority list over observed meta keys
    ix2 = api.vcreate(spark, "s2")
    ix2 = api.vadd_batch(ix2, [
        {"id": "x", "vector": [1.0], "meta": {"body": "hello world"}},
    ], now=T0)
    assert api.detect_text_field(ix2) == "body"
    # configured but off-priority-list: first configured field wins
    ix3 = api.vcreate(spark, "s3", text_fields=("notes",))
    assert api.detect_text_field(ix3) == "notes"


def test_graph_entity_nodes(spark):
    """4.6 First-Class Graph Entities (DOCUMENTATION.md:580-584,
    v0.4.1): a node added with NO vector is stored with NULL v/norm,
    participates in filters (SearchNodes) and graph traversal, and
    never surfaces in vector search. Deliberate divergence from the
    reference's zero-vector-ranked-last behavior: a NULL vector is
    EXCLUDED from distance ranking instead of ranked at the bottom —
    same user outcome for any k < corpus, and no zero-norm
    divide-by-zero special case in the cosine kernel."""
    ix = api.vcreate(spark, "ent", text_fields=("content",))
    ix = api.vadd_batch(ix, [
        {"id": "doc1", "vector": [1.0, 0.0], "meta": {"content": "a doc"}},
        {"id": "doc2", "vector": [0.0, 1.0], "meta": {"content": "b doc"}},
        {"id": "author_john", "meta": {"kind": "author"}},
    ], now=T0)
    ix = api.vlink(ix, "doc1", "author_john", "written_by", now=T0)
    row = ix.vectors.where(F.col("id") == "author_john").collect()[0]
    assert row["v"] is None and row["norm"] is None
    # SearchNodes: property filter selects the vectorless entity
    flt = ix.vectors.where(api._meta_filter_pred("kind = author"))
    assert [r["id"] for r in flt.select("id").collect()] == ["author_john"]
    # traversal reaches it
    tree = api.vtraverse(ix, "doc1", ["written_by"])
    kids = tree["connections"]["written_by"]
    assert [n["id"] for n in kids] == ["author_john"]
    assert kids[0]["v"] is None
    # vector search never returns it
    got = [r["id"] for r in api.vsearch(ix, query=[1.0, 0.0], k=10).collect()]
    assert got == ["doc1", "doc2"]
