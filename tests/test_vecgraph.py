"""Index-time persisted vector graphs (index/vecgraph.py — the
Lucene90VectorWriter `.vec` role): graphs are built at build/compaction
time and only DECODED on the query path. VERDICT r4 item 3."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest


def _mk(spark, tmp, n=90, dim=6, parts=3, groups=1, seed=31,
        vector_graphs=True):
    from lucene_spark.index import IndexBuilder, IndexConfig, IndexReader
    from lucene_spark.search import IndexSearcher

    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    rows = [(i, f"doc {i} alpha beta", [float(x) for x in vecs[i]])
            for i in range(n)]
    src = spark.createDataFrame(rows, "id long, text string, emb array<float>")
    idx = str(tmp / "index")
    cfg = IndexConfig(key_cols=("id",), content_col="text",
                      analyzer="whitespace", partitions=parts,
                      num_groups=groups, num_buckets=2, carry_cols=("emb",),
                      vector_graph_fields=("emb",) if vector_graphs else ())
    IndexBuilder(spark, cfg).build(src, idx, overwrite=True)
    r = IndexReader(spark, idx)
    return r, IndexSearcher(r), vecs, idx


def _brute(vecs, q, k, live=None):
    idx = np.arange(len(vecs)) if live is None else np.asarray(live)
    u = vecs[idx] / np.maximum(
        np.linalg.norm(vecs[idx], axis=1, keepdims=True), 1e-30)
    qn = q / max(float(np.linalg.norm(q)), 1e-30)
    cos = u.astype(np.float64) @ qn.astype(np.float64)
    order = np.lexsort((idx, -cos))
    return [(int(idx[i]), round(float(cos[i]), 6)) for i in order[:k]]


def test_build_publishes_sidecar_and_strict_query_serves_from_it(
        spark, tmp_path_factory):
    from lucene_spark.index.vecgraph import load_manifest
    from lucene_spark.search.knnfield import knn_field_topk

    r, s, vecs, idx = _mk(spark, tmp_path_factory.mktemp("vg1"))
    man = load_manifest(idx, "emb")
    assert man is not None and man["shards"]
    gdir = os.path.join(idx, "vecgraph", man["dir"])
    assert any(f.endswith(".npz") for f in os.listdir(gdir))
    # strict mode RAISES on any in-task graph build — completing proves
    # the query ran entirely off stored graphs (worker processes never
    # saw a lazy build for this index)
    q = vecs[4].astype(np.float64)
    hits = knn_field_topk(s, "emb", q, k=8, strict_sidecar=True).collect()
    ds = {row["doc_id"]: row["id"] for row in
          r.docstats().select("doc_id", "id").collect()}
    got = [(ds[h["doc_id"]], round(h["score"], 6)) for h in hits]
    assert got == _brute(vecs, q, 8)


def test_sidecar_and_lazy_paths_identical(spark, tmp_path_factory):
    from lucene_spark.search.knnfield import knn_field_topk

    r, s, vecs, idx = _mk(spark, tmp_path_factory.mktemp("vg2"))
    q = vecs[7].astype(np.float64)
    stored = knn_field_topk(s, "emb", q, k=10,
                            strict_sidecar=True).collect()
    # removing the manifest forces the lazy per-scan-partition path
    os.rename(os.path.join(idx, "vecgraph", "emb.json"),
              os.path.join(idx, "vecgraph", "emb.json.bak"))
    lazy = knn_field_topk(s, "emb", q, k=10).collect()
    assert [(h["doc_id"], round(h["score"], 9)) for h in stored] == \
        [(h["doc_id"], round(h["score"], 9)) for h in lazy]


def test_sidecar_masks_deletes(spark, tmp_path_factory):
    from lucene_spark.search.knnfield import knn_field_topk

    r, s, vecs, idx = _mk(spark, tmp_path_factory.mktemp("vg3"), parts=1)
    q = vecs[0].astype(np.float64)
    top = knn_field_topk(s, "emb", q, k=4, strict_sidecar=True).collect()
    victims = [h["doc_id"] for h in top[:2]]
    s2 = s.with_deletes(victims)
    hits = knn_field_topk(s2, "emb", q, k=4, strict_sidecar=True).collect()
    assert len(hits) == 4
    assert not (set(victims) & {h["doc_id"] for h in hits})
    ds = {row["doc_id"]: row["id"] for row in
          r.docstats().select("doc_id", "id").collect()}
    dead = {ds[v] for v in victims}
    live = [i for i in range(len(vecs)) if i not in dead]
    got = [(ds[h["doc_id"]], round(h["score"], 6)) for h in hits]
    assert got == _brute(vecs, q, 4, live=live)


def test_stale_digest_detected(spark, tmp_path_factory):
    from lucene_spark.search.knnfield import knn_field_topk
    from lucene_spark.index.vecgraph import manifest_path

    r, s, vecs, idx = _mk(spark, tmp_path_factory.mktemp("vg4"), parts=2)
    mp = manifest_path(idx, "emb")
    with open(mp) as f:
        man = json.load(f)
    man["shards"][0]["digest"] = "0" * 24        # corrupt one shard digest
    with open(mp, "w") as f:
        json.dump(man, f)
    q = vecs[3].astype(np.float64)
    # strict: the stale shard raises inside the task
    with pytest.raises(Exception):
        knn_field_topk(s, "emb", q, k=5, strict_sidecar=True).collect()
    # non-strict: falls back to an in-task build, result still exact
    hits = knn_field_topk(s, "emb", q, k=5).collect()
    ds = {row["doc_id"]: row["id"] for row in
          r.docstats().select("doc_id", "id").collect()}
    got = [(ds[h["doc_id"]], round(h["score"], 6)) for h in hits]
    assert got == _brute(vecs, q, 5)


def test_bad_vector_graph_field_fails_before_writing(spark, tmp_path_factory):
    """A vector_graph_fields entry that is not a carry column is rejected
    at build entry, before any file (let alone the manifest) is written."""
    from lucene_spark.index import IndexBuilder, IndexConfig

    src = spark.createDataFrame([(1, "doc alpha", [0.5, 1.0])],
                                "id long, text string, emb array<float>")
    idx = str(tmp_path_factory.mktemp("vgbad") / "index")
    cfg = IndexConfig(key_cols=("id",), content_col="text",
                      analyzer="whitespace", partitions=1, num_buckets=2,
                      carry_cols=("emb",), vector_graph_fields=("vec",))
    with pytest.raises(ValueError, match="carry column"):
        IndexBuilder(spark, cfg).build(src, idx, overwrite=True)
    assert not os.path.exists(os.path.join(idx, "manifest.json"))
    assert not os.path.exists(idx)


def test_pack_unpack_roundtrip_search_identical():
    from lucene_spark.index.vecgraph import _pack_graph, _unpack_graph
    from lucene_spark.pipeline.ann import (_normalize_rows, build_hnsw,
                                           search_hnsw)

    rng = np.random.default_rng(9)
    unit = _normalize_rows(rng.normal(size=(150, 8)))
    g = build_hnsw(unit, m_neighbors=6, ef_construction=32)
    g2 = _unpack_graph({k: v for k, v in _pack_graph(g).items()})
    q = unit[11]
    a = search_hnsw(unit, g, q, ef=150)
    b = search_hnsw(unit, g2, q, ef=150)
    assert np.array_equal(a[0], b[0])
    assert np.allclose(a[1], b[1])


def test_compaction_rebuilds_sidecar(spark, tmp_path_factory):
    from lucene_spark.index import compact
    from lucene_spark.index.vecgraph import load_manifest
    from lucene_spark.search.knnfield import knn_field_topk

    r, s, vecs, idx = _mk(spark, tmp_path_factory.mktemp("vg5"),
                          parts=2, groups=2)
    res = compact(spark, idx, segs_per_tier=1)
    from lucene_spark.index import IndexReader
    from lucene_spark.search import IndexSearcher

    r2 = IndexReader(spark, idx)
    s2 = IndexSearcher(r2)
    man = load_manifest(idx, "emb")
    cur = (r2.manifest.get("derived") or {}).get("docstats", "docstats")
    if res.get("into") is not None:
        assert man["docstats"] == cur       # rebuilt for the new generation
    q = vecs[2].astype(np.float64)
    hits = knn_field_topk(s2, "emb", q, k=6, strict_sidecar=True).collect()
    ds = {row["doc_id"]: row["id"] for row in
          r2.docstats().select("doc_id", "id").collect()}
    got = [(ds[h["doc_id"]], round(h["score"], 6)) for h in hits]
    assert got == _brute(vecs, q, 6)
