"""Compaction (TieredMergePolicy analogue): policy math + end-to-end
merge of streaming segment groups with result-identical search."""

from __future__ import annotations

import os

import pytest


def test_plan_compaction_policy():
    from lucene_spark.index.compaction import plan_compaction

    # under budget → no merge
    assert plan_compaction({0: 1 << 20, 1: 1 << 20}) == []
    # 15 tiny groups blow the 10-per-tier budget → merge 10 smallest
    groups = {g: (g + 1) * 1000 for g in range(15)}
    victims = plan_compaction(groups, floor_bytes=2 << 20, segs_per_tier=10,
                              max_merge_at_once=10)
    assert victims == list(range(10))
    # merge-at-once cap respected
    victims = plan_compaction(groups, floor_bytes=2 << 20, segs_per_tier=4,
                              max_merge_at_once=5)
    assert len(victims) == 5


def test_compact_streaming_groups(spark, tmp_path, check_postings_frame,
                                  check_dict_arrays):
    from lucene_spark.corpus import make_corpus
    from lucene_spark.index import IndexConfig, IndexReader
    from lucene_spark.index.compaction import compact
    from lucene_spark.search import IndexSearcher
    from lucene_spark.streaming import StreamingIndexer

    src_dir = tmp_path / "drops"
    src_dir.mkdir()
    idx_dir = str(tmp_path / "cidx")
    full = make_corpus(120, seed=13)
    # 6 drops → 6 micro-batch segment groups
    for i in range(6):
        full.iloc[i * 20:(i + 1) * 20].to_parquet(src_dir / f"d{i}.parquet", index=False)
    cfg = IndexConfig(partitions=2, num_buckets=4, analyzer="code")
    ix = StreamingIndexer(spark, idx_dir, cfg)
    schema = "repo string, path string, commit string, lang string, content string"
    q = ix.start(str(src_dir), schema, str(tmp_path / "ck"), available_now=True,
                 max_files_per_trigger=1)
    q.awaitTermination(300)

    r = IndexReader(spark, idx_dir)
    before = IndexSearcher(r).search("index OR writer OR merge", k=20).collect()
    # every micro-batch appended its own file to the buckets it touched;
    # the driver-side postings read takes them all
    post_dir = os.path.join(idx_dir, r.manifest["derived"]["postings"])
    assert max(len([f for f in files if f.endswith(".parquet")])
               for _, _, files in os.walk(post_dir)) > 1
    probe = ["index", "writer", "merge", "nonexistentterm12345"]
    assert check_postings_frame(r, probe) > 0
    assert check_dict_arrays(r, r.default_field) > 0
    n_groups_before = len([d for d in os.listdir(os.path.join(idx_dir, "raw"))
                           if d.startswith("group=")])
    assert n_groups_before >= 2

    res = compact(spark, idx_dir, cfg, floor_bytes=2 << 20, segs_per_tier=1,
                  max_merge_at_once=10)
    assert res["merged"], "compaction should have merged the tiny groups"

    n_groups_after = len([d for d in os.listdir(os.path.join(idx_dir, "raw"))
                          if d.startswith("group=")])
    assert n_groups_after < n_groups_before

    r2 = IndexReader(spark, idx_dir)
    assert r2.doc_count == 120
    assert check_postings_frame(r2, probe) > 0
    assert check_dict_arrays(r2, r2.default_field) > 0
    after = IndexSearcher(r2).search("index OR writer OR merge", k=20).collect()
    assert [(x["doc_id"], x["score"]) for x in before] == \
           [(x["doc_id"], x["score"]) for x in after]

    # lineage records the merge provenance
    import json
    parts = sorted(os.listdir(os.path.join(idx_dir, "parts")))
    merged_manifests = [json.load(open(os.path.join(idx_dir, "parts", p)))
                        for p in parts]
    assert any(m.get("merged_from") for m in merged_manifests)


def test_recover_orphan_compaction_group(spark, tmp_path):
    """Crash window between the merged-group parquet write and the
    part-manifest os.replace: the orphan raw/group=COMPACT_BASE+ dir has
    no manifest recording merged_from, and both it AND the intact victims
    hold the merged rows. Recovery must roll back (drop the orphan) so
    derived rebuilds never double-count; doc_count and search results
    stay identical to the pre-crash index."""
    import shutil

    from lucene_spark.corpus import make_corpus
    from lucene_spark.index import IndexBuilder, IndexConfig, IndexReader
    from lucene_spark.index.compaction import (
        COMPACT_BASE, _recover_incomplete_merges)
    from lucene_spark.search import IndexSearcher

    idx_dir = str(tmp_path / "oidx")
    cfg = IndexConfig(partitions=2, num_buckets=4, analyzer="code")
    df = spark.createDataFrame(make_corpus(80, seed=7))
    IndexBuilder(spark, cfg).build(df, idx_dir)

    before = IndexSearcher(IndexReader(spark, idx_dir)).search(
        "index OR writer", k=10).collect()

    # simulate the crash: a fully-written compacted copy of group 0
    # appears under a COMPACT_BASE id, but no parts manifest was committed
    raw = os.path.join(idx_dir, "raw")
    victims = [d for d in os.listdir(raw) if d.startswith("group=")]
    orphan = os.path.join(raw, f"group={COMPACT_BASE}")
    shutil.copytree(os.path.join(raw, victims[0]), orphan)

    _recover_incomplete_merges(idx_dir)
    assert not os.path.isdir(orphan), "orphan compacted group must be rolled back"

    # a streaming publish on the recovered index must not double-count
    from lucene_spark.streaming import StreamingIndexer
    ix = StreamingIndexer(spark, idx_dir, cfg)
    shutil.copytree(os.path.join(raw, victims[0]), orphan)  # re-break
    extra = spark.createDataFrame(make_corpus(20, seed=99))
    ix.process_batch(extra, 0)
    r2 = IndexReader(spark, idx_dir)
    assert r2.doc_count == 100  # 80 original + 20 streamed, no double count
    after = IndexSearcher(r2).search("index OR writer", k=10).collect()
    assert {x["doc_id"] for x in before} <= {x["doc_id"] for x in after} or \
        len(after) == 10


def test_recovery_rollforward_rebuilds_derived(spark, tmp_path):
    """Crash between the merged-manifest commit and the derived rebuild:
    recovery rolls the raw swap forward, and compact() must rebuild the
    derived artifacts EVEN IF no further merge is planned — otherwise
    the interrupted merge's folded deletes stay visible forever."""
    import json
    import os
    import shutil

    from lucene_spark.corpus import make_corpus
    from lucene_spark.index import IndexBuilder, IndexConfig, IndexReader
    from lucene_spark.index.compaction import COMPACT_BASE, compact

    idx = str(tmp_path / "rf_idx")
    src = spark.createDataFrame(make_corpus(60, seed=3))
    cfg = IndexConfig(partitions=2, num_groups=4, num_buckets=4)
    IndexBuilder(spark, cfg).build(src, idx, overwrite=True)

    # run a real delete-folding compaction, then SIMULATE the crash by
    # resurrecting one victim directory + manifest (as if retirement had
    # been interrupted after deleting only some victims)
    before = IndexReader(spark, idx).doc_count
    res = compact(spark, idx, cfg, floor_bytes=2 << 20, segs_per_tier=1,
                  deletes=[0, 1])
    assert res["into"] is not None and res["into"] >= COMPACT_BASE
    after = IndexReader(spark, idx).doc_count
    assert after == before - 2

    merged = res["into"]
    victims = res["merged"]
    # resurrect ONE victim (partial retirement state) and wipe derived
    # doc_count back to the stale value to prove the rebuild runs
    v = victims[0]
    vdir = os.path.join(idx, "raw", f"group={v}")
    os.makedirs(vdir, exist_ok=True)
    # a parquet dir exists again (empty placeholder is enough for the
    # recovery scan, which only checks isdir)
    mpath = os.path.join(idx, "manifest.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["doc_count"] = 999999       # stale marker
    with open(mpath, "w") as fh:
        json.dump(m, fh)

    res2 = compact(spark, idx, cfg, floor_bytes=2 << 20, segs_per_tier=1)
    # recovery rolled forward (victim dir dropped) and derived rebuilt:
    # the stale doc_count marker is gone
    assert not os.path.isdir(vdir)
    m2 = json.load(open(mpath))
    assert m2["doc_count"] == after, (res2, m2["doc_count"])


def test_versioned_derived_isolates_pinned_readers(spark, tmp_path):
    """Derived rebuilds publish NEW generation dirs via the manifest swap
    (segments_N analogue): a reader opened BEFORE a compaction keeps
    scanning its generation afterwards (one-gen gc grace), and the old
    generation disappears only after a SECOND rebuild."""
    import os

    from lucene_spark.corpus import make_corpus
    from lucene_spark.index import IndexBuilder, IndexConfig, IndexReader
    from lucene_spark.index.compaction import compact
    from lucene_spark.search import IndexSearcher

    idx = str(tmp_path / "viso")
    src = spark.createDataFrame(make_corpus(80, seed=5))
    cfg = IndexConfig(partitions=2, num_groups=4, num_buckets=4)
    IndexBuilder(spark, cfg).build(src, idx, overwrite=True)

    old_reader = IndexReader(spark, idx)
    assert old_reader.manifest["derived"]["postings"] == "postings.g0"
    before = IndexSearcher(old_reader).search("index OR merge", k=10).collect()

    res1 = compact(spark, idx, cfg, floor_bytes=2 << 20, segs_per_tier=1,
                   gc_min_age_seconds=0.0)
    assert res1["merged"]
    # old generation still on disk (grace), new one published
    assert os.path.isdir(os.path.join(idx, "postings.g0"))
    assert os.path.isdir(os.path.join(idx, "postings.g1"))
    # the PINNED reader still serves identical results from g0
    again = IndexSearcher(old_reader).search("index OR merge", k=10).collect()
    assert again == before
    # a fresh reader resolves the new generation
    r2 = IndexReader(spark, idx)
    assert r2.manifest["derived"]["postings"] == "postings.g1"
    assert IndexSearcher(r2).search("index OR merge", k=10).collect() == before

    # second rebuild retires g0 (age grace disabled for the test)
    res2 = compact(spark, idx, cfg, floor_bytes=2 << 20, segs_per_tier=1,
                   gc_min_age_seconds=0.0)
    if res2["merged"]:          # plan may be within budget already
        assert not os.path.isdir(os.path.join(idx, "postings.g0"))
        assert os.path.isdir(os.path.join(idx, "postings.g1"))


def test_stream_appends_follow_compacted_generation(spark, tmp_path,
                                                   check_postings_frame):
    """A compaction BETWEEN micro-batches advances the derived map; the
    next batch must append to the NEW generation, not the one being
    retired (stale-generation append = silent row loss after gc)."""
    import os

    from lucene_spark.corpus import make_corpus
    from lucene_spark.index import IndexConfig, IndexReader
    from lucene_spark.index.compaction import compact
    from lucene_spark.search import IndexSearcher
    from lucene_spark.streaming import StreamingIndexer

    idx = str(tmp_path / "sg_idx")
    cfg = IndexConfig(partitions=2, num_buckets=4, analyzer="code")
    ix = StreamingIndexer(spark, idx, cfg)
    full = make_corpus(120, seed=21)
    # four manual micro-batches
    for i in range(4):
        ix.process_batch(spark.createDataFrame(full.iloc[i * 30:(i + 1) * 30]),
                         batch_id=i)
    compact(spark, idx, cfg, floor_bytes=2 << 20, segs_per_tier=1,
            gc_min_age_seconds=0.0)
    gen_after_compact = IndexReader(spark, idx).manifest["derived"]["postings"]
    assert gen_after_compact != "postings.g0"
    rows_after_compact = spark.read.parquet(
        os.path.join(idx, gen_after_compact)).count()
    # the SAME StreamingIndexer instance (stale in-memory map) publishes
    # another batch — it must land in the post-compaction generation, NOT
    # bump a new one and NOT fall back to the stale g0
    extra = make_corpus(150, seed=22).iloc[120:150]
    ix.process_batch(spark.createDataFrame(extra), batch_id=4)
    r = IndexReader(spark, idx)
    assert r.doc_count == 150
    cur = r.manifest["derived"]["postings"]
    assert cur == gen_after_compact, (cur, gen_after_compact)
    # the new batch's postings are PHYSICALLY in the current generation
    rows_now = spark.read.parquet(os.path.join(idx, cur)).count()
    assert rows_now > rows_after_compact, (rows_now, rows_after_compact)
    assert check_postings_frame(r, ["index", "merge", "scan"]) > 0
    assert IndexSearcher(r).search("index OR merge OR scan", k=50).collect()


def test_recovery_rebuilds_when_derived_pending(spark, tmp_path):
    """Crash AFTER all victims were retired but BEFORE the derived
    rebuild: indistinguishable from a committed merge by victim
    liveness alone — the derived_pending marker forces the rebuild."""
    import json
    import os

    from lucene_spark.corpus import make_corpus
    from lucene_spark.index import IndexBuilder, IndexConfig, IndexReader
    from lucene_spark.index.compaction import compact

    idx = str(tmp_path / "dp_idx")
    src = spark.createDataFrame(make_corpus(60, seed=9))
    cfg = IndexConfig(partitions=2, num_groups=4, num_buckets=4)
    IndexBuilder(spark, cfg).build(src, idx, overwrite=True)
    res = compact(spark, idx, cfg, floor_bytes=2 << 20, segs_per_tier=1,
                  deletes=[0], gc_min_age_seconds=0.0)
    assert res["into"] is not None
    true_count = IndexReader(spark, idx).doc_count

    # simulate the crash window: re-set the pending flag and stale the
    # main manifest (as if the rebuild never ran)
    gp = os.path.join(idx, "parts", f"group-{res['into']:05d}.json")
    gm = json.load(open(gp))
    gm["derived_pending"] = True
    json.dump(gm, open(gp, "w"))
    mpath = os.path.join(idx, "manifest.json")
    m = json.load(open(mpath))
    m["doc_count"] = 888888
    json.dump(m, open(mpath, "w"))

    res2 = compact(spark, idx, cfg, floor_bytes=2 << 20, segs_per_tier=1,
                   gc_min_age_seconds=0.0)
    assert res2.get("recovered_rebuild") or res2["merged"]
    m2 = json.load(open(mpath))
    assert m2["doc_count"] == true_count
    assert not json.load(open(gp)).get("derived_pending")
