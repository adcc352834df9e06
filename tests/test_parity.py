"""The parity gate (SURVEY.md §5.2 item 2): rank-identical top-k docIDs +
float32 BM25 scores, engine vs the independent pure-Python oracle, over the
reference-shaped query set (corpus.make_query_set)."""

import numpy as np
import pytest

from lucene_spark.corpus import make_query_set


def run_engine(searcher, q, k):
    rows = searcher.search(q, k=k).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def run_oracle(searcher, oracle, q, k):
    node = searcher._plan(q)  # same parsed/expanded plan on both sides
    return oracle.search(node, k=k)


@pytest.mark.parametrize("qid,query,k", make_query_set())
def test_topk_parity(searcher, oracle, qid, query, k):
    """search() on the default (driver-side local) path."""
    _assert_float32_equal(f"q{qid} {query!r}", run_engine(searcher, query, k),
                          run_oracle(searcher, oracle, query, k))


@pytest.mark.parametrize("query", ["index", "license", "index AND writer",
                                   "index OR writer", "(index OR writer) AND merge",
                                   "index AND NOT writer"])
def test_count_parity(searcher, oracle, query):
    node = searcher._plan(query)
    assert searcher.count(query) == oracle.count(node)


def test_empty_query_results(searcher):
    assert run_engine(searcher, "nonexistentterm12345", 10) == []
    assert searcher.count("nonexistentterm12345") == 0


def test_tie_break_is_score_then_docid(searcher, oracle):
    """FIXTURES.md: tied-score docs must come back in doc_id order
    (TopScoreDocCollector.java:90-93)."""
    got = run_engine(searcher, "license", 100)
    # ties exist because many docs share the same license header and length
    scores = [s for _, s in got]
    assert len(scores) == len(set(scores)) or True
    for i in range(1, len(got)):
        if got[i - 1][1] == got[i][1]:
            assert got[i - 1][0] < got[i][0]


def test_search_after_pagination(searcher, oracle):
    node = searcher._plan("index OR writer")
    full = oracle.search(node, k=30)
    page1 = run_engine(searcher, "index OR writer", 10)
    assert page1 == [(d, pytest.approx(s, rel=1e-6)) for d, s in full[:10]]
    last_s, last_d = page1[-1][1], page1[-1][0]
    page2 = searcher.search_after("index OR writer", 10, last_s, last_d).collect()
    got2 = [(int(r["doc_id"]), float(r["score"])) for r in page2]
    assert [d for d, _ in got2] == [d for d, _ in full[10:20]]


def test_blockmax_pruning_equals_exhaustive(searcher, oracle):
    """The reference's own impacts contract (index/Impacts.java:43-45):
    pruning must not change results. Single-term top-k goes through
    score_term_topk_blockmax; compare against the oracle's exhaustive
    ranking for several k."""
    for term in ["license", "index", "apache", "zw0"]:
        for k in (1, 5, 10, 50):
            got = run_engine(searcher, term, k)
            want = run_oracle(searcher, oracle, term, k)
            assert [d for d, _ in got] == [d for d, _ in want], (term, k)


def test_hydrate_returns_keys(searcher):
    top = searcher.search("index AND writer", k=5)
    hyd = searcher.hydrate(top).collect()
    assert len(hyd) == 5
    for r in hyd:
        assert r["repo"] and r["path"] and r["doclen"] > 0


def test_postings_frame_matches_spark_read(reader, check_postings_frame):
    """The local path's driver-side pyarrow postings read returns the
    same rows and columns as the bucket-pruned Spark read."""
    assert check_postings_frame(reader, ["index", "writer", "license"]) > 0
    assert check_postings_frame(
        reader, [(reader.default_field, t) for t in ("merge", "scan")]) > 0
    # several terms hashed into one bucket
    terms = reader.termdict().select("term").limit(200).toPandas()["term"]
    by_bucket: dict[int, list[str]] = {}
    for t, b in reader.buckets_of(list(terms)).items():
        by_bucket.setdefault(b, []).append(t)
    shared = max(by_bucket.values(), key=len)[:4]
    assert len(shared) >= 2
    assert check_postings_frame(reader, shared) > 0
    assert check_postings_frame(reader, ["nonexistentterm12345"]) == 0
    assert check_postings_frame(reader, ["index", "nonexistentterm12345"]) > 0
    assert check_postings_frame(reader, []) == 0
    # one partition's rows (explain's read)
    part = int(reader.postings_frame(["index"])["part_id"].iloc[0])
    got = reader.postings_frame(["index", "writer"], part_id=part)
    want = reader.postings_frame(["index", "writer"])
    assert len(got) and (got["part_id"] == part).all()
    assert len(got) == int((want["part_id"] == part).sum())


def test_postings_frame_fieldless_postings(spark, reader, check_postings_frame,
                                           check_dict_arrays, tmp_path):
    """Postings and termdict written before the multi-field layout have
    no `field` column: both reads of each synthesize the default field."""
    import json

    import pyarrow.dataset as ds

    from lucene_spark.index import IndexReader
    from lucene_spark.index.layout import derived_path

    table = ds.dataset(derived_path(reader.index_dir, reader.manifest,
                                    "postings"), partitioning="hive").to_table()
    # without Spark's schema metadata, which still lists `field`
    table = table.drop_columns(["field"]).replace_schema_metadata(None)
    ds.write_dataset(table, str(tmp_path / "postings"),
                     format="parquet", partitioning=["bucket"],
                     partitioning_flavor="hive")
    table = ds.dataset(derived_path(reader.index_dir, reader.manifest,
                                    "termdict")).to_table()
    table = table.drop_columns(["field"]).replace_schema_metadata(None)
    ds.write_dataset(table, str(tmp_path / "termdict"), format="parquet")
    manifest = {k: v for k, v in reader.manifest.items() if k != "derived"}
    (tmp_path / "manifest.json").write_text(json.dumps(manifest))
    old = IndexReader(spark, str(tmp_path))
    assert check_postings_frame(old, ["index", "writer"]) > 0
    assert check_postings_frame(old, [("elsewhere", "index")]) == 0
    f = reader.default_field
    assert check_dict_arrays(old, f) > 0
    assert all(np.array_equal(a, b) for a, b in
               zip(old._dict_arrays(f), reader._dict_arrays(f)))
    assert check_dict_arrays(old, "elsewhere") == 0


def test_local_search_starts_no_spark_job(spark, searcher):
    """A fresh query under the local Σdf budget is read and scored on the
    driver: search(...).collect() starts no Spark job."""
    searcher.search("index", k=1).collect()   # loads the resident dictionary
    sc = spark.sparkContext
    group = "test-local-search-no-job"
    sc.setJobGroup(group, "fresh local search()")
    try:
        rows = searcher.search("apache AND licensed AND NOT zw1", k=5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert rows
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_fresh_reader_starts_no_spark_job(spark, index_dir, monkeypatch):
    """A freshly opened reader loads its resident dictionary with pyarrow:
    its first search() and its first small search_many() start no Spark
    job, and search_many's planning threads share one load per field."""
    import os
    import time

    import pyarrow.dataset as ds

    from lucene_spark.index import IndexReader
    from lucene_spark.search import IndexSearcher

    loads = []
    open_dataset = ds.dataset

    def counting_dataset(source, *args, **kwargs):
        if os.path.basename(str(source)).startswith("termdict"):
            loads.append(source)
            time.sleep(0.05)    # widen the window for concurrent loads
        return open_dataset(source, *args, **kwargs)

    monkeypatch.setattr(ds, "dataset", counting_dataset)
    # dictionary expansions run in the planning threads
    queries = {f"q{i}": q for i, q in enumerate([
        "ind*", "writer OR merg*", "apache AND licens*", "sc?n",
        "index~1 AND NOT writer", "licen*", "merge~1 OR scan",
        "(index OR wri*) AND merge"])}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for run in (lambda s: s.search("index OR writer", k=5),
                lambda s: s.search_many(queries, k=5)):
        loads.clear()
        searcher = IndexSearcher(IndexReader(spark, index_dir))
        ungrouped = set(tracker.getJobIdsForGroup(None))
        group = "test-fresh-reader-no-job"
        sc.setJobGroup(group, "first query of a fresh reader")
        try:
            rows = run(searcher).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert rows
        assert list(tracker.getJobIdsForGroup(group)) == []
        # planning threads carry no job group of their own
        assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
        assert len(loads) == 1


def test_blockmax_pruning_misaligned_tail_blocks():
    """Regression: block metadata has FULL 128-doc blocks plus a short
    tail (and concatenated slices repeat that pattern), so the pruning
    mask must use exact block offsets — a uniform ceil(n/nb) mapping
    misaligns bounds against postings and can prune competitive docs.
    Adversarial layout: low-score everywhere except a spike placed just
    past the uniform-math boundary of the final block."""
    import numpy as np

    from lucene_spark.codec.blocks import BLOCK_SIZE, build_block_meta
    from lucene_spark.search import plan as P
    from lucene_spark.search.kernel import (
        EvalContext, TermPostings, _eval_term, eval_node,
        score_term_topk_blockmax, topk_local)
    from lucene_spark.search.similarity import BM25Similarity

    rng = np.random.default_rng(17)
    sim = BM25Similarity()
    for n in (513, 641, 700, 1000, 1025):
        docs = np.arange(n, dtype=np.int64)
        tfs = np.ones(n, dtype=np.int64)
        dls = np.full(n, 500, dtype=np.int64)
        # spike in the LAST true block (short tail): high tf, tiny dl
        tail_start = (n - 1) // BLOCK_SIZE * BLOCK_SIZE
        tfs[tail_start:] = 1
        tfs[n - 1] = 50
        dls[n - 1] = 50
        # and random competitive docs sprinkled around block boundaries
        for b in range(1, n // BLOCK_SIZE + 1):
            i = min(b * BLOCK_SIZE - 1, n - 1)
            tfs[i] = int(rng.integers(5, 30))
        bl, bmt, bmd = build_block_meta(docs, tfs, dls, BLOCK_SIZE)
        tp = TermPostings(docs, tfs, dls, bl, bmt, bmd)
        node = P.TermNode(term="t")
        w = sim.weight(100, 10_000)
        ctx = EvalContext(postings={("", "t"): tp},
                          weights={(("", "t"), 1.0): w},
                          syn_weights={}, avgdl={"": np.float32(500.0)},
                          sim=sim, k=10, block_size=BLOCK_SIZE)
        pruned = topk_local(*score_term_topk_blockmax(node, ctx), 10)
        exact = topk_local(*_eval_term(node, ctx, True), 10)
        assert [list(x) for x in pruned] == [list(x) for x in exact], n

    # multi-slice layout: two slices, each with its own short tail —
    # explicit block_off path
    n1, n2 = 300, 413
    docs = np.arange(n1 + n2, dtype=np.int64)
    tfs = rng.integers(1, 4, size=n1 + n2).astype(np.int64)
    dls = np.full(n1 + n2, 400, dtype=np.int64)
    tfs[n1 - 1] = 80   # spike at slice-1 tail
    dls[n1 - 1] = 40
    b1 = build_block_meta(docs[:n1], tfs[:n1], dls[:n1], BLOCK_SIZE)
    b2 = build_block_meta(docs[n1:], tfs[n1:], dls[n1:], BLOCK_SIZE)
    bl = np.concatenate([b1[0], b2[0]])
    bmt = np.concatenate([b1[1], b2[1]])
    bmd = np.concatenate([b1[2], b2[2]])
    sizes = []
    for m in (n1, n2):
        nb = (m + BLOCK_SIZE - 1) // BLOCK_SIZE
        sizes.extend([BLOCK_SIZE] * (nb - 1) + [m - BLOCK_SIZE * (nb - 1)])
    off = np.append(np.int64(0), np.cumsum(np.asarray(sizes, dtype=np.int64)))
    tp = TermPostings(docs, tfs, dls, bl, bmt, bmd, block_off=off)
    node = P.TermNode(term="t")
    w = sim.weight(100, 10_000)
    ctx = EvalContext(postings={("", "t"): tp}, weights={(("", "t"), 1.0): w},
                      syn_weights={}, avgdl={"": np.float32(400.0)},
                      sim=sim, k=10, block_size=BLOCK_SIZE)
    a = topk_local(*score_term_topk_blockmax(node, ctx), 10)
    b = topk_local(*_eval_term(node, ctx, True), 10)
    assert [list(x) for x in a] == [list(x) for x in b]


# ---- every serving path against the oracle, float32-exact -------------
# The 25 query strings of test_topk_parity also run through search() on
# the distributed executor, through one search_many() call on each path,
# and through search_many() on a searcher with tombstones. Expected: the
# oracle's exhaustive scoring, minus deleted docs, ranked (score desc,
# doc_id asc); scores must be equal as float32, not merely close.

_QUERIES = make_query_set()
_BATCH_K = 10


def _fresh(reader, local: bool, deletes=None):
    from lucene_spark.search import IndexSearcher

    s = IndexSearcher(reader)
    if deletes is not None:
        s = s.with_deletes(deletes)
    if not local:
        s.local_topk_max_postings = 0
        s.local_batch_max_postings = 0
    return s


def _oracle_ranked(oracle, node, k, deleted=frozenset()):
    live = [(d, s) for d, s in oracle.eval(node).items() if d not in deleted]
    live.sort(key=lambda kv: (-float(kv[1]), kv[0]))
    return [(d, np.float32(s)) for d, s in live[:k]]


def _assert_float32_equal(label, got, want):
    assert [d for d, _ in got] == [d for d, _ in want], (
        f"{label}: docs {got} != {want}")
    for (d, s1), (_, s2) in zip(got, want):
        assert np.float32(s1) == np.float32(s2), (
            f"{label}: score {s1!r} != {s2!r} for doc {d}")


@pytest.fixture(scope="module")
def dist_searcher(reader):
    return _fresh(reader, local=False)


@pytest.mark.parametrize("qid,query,k", _QUERIES)
def test_topk_parity_distributed(dist_searcher, oracle, qid, query, k):
    _assert_float32_equal(f"search() distributed q{qid} {query!r}",
                          run_engine(dist_searcher, query, k),
                          run_oracle(dist_searcher, oracle, query, k))


def _batch_rows(s, queries, k):
    by_q: dict[str, list] = {}
    for r in s.search_many(queries, k=k).collect():
        by_q.setdefault(r["query_id"], []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    out = {}
    for qid, rows in by_q.items():
        rows.sort()
        assert [r for r, _, _ in rows] == list(range(1, len(rows) + 1)), qid
        out[qid] = [(d, sc) for _, d, sc in rows]
    return out


def _check_batch(s, oracle, plan_of, deleted=frozenset(), label=""):
    queries = {f"q{qid}": q for qid, q, _ in _QUERIES}
    got = _batch_rows(s, queries, _BATCH_K)
    for qid, q in queries.items():
        want = _oracle_ranked(oracle, plan_of(q), _BATCH_K, deleted)
        _assert_float32_equal(f"search_many {label} {qid} {q!r}",
                              got.get(qid, []), want)


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
def test_search_many_parity_float32(reader, searcher, oracle, local):
    _check_batch(_fresh(reader, local), oracle, searcher._plan,
                 label="local" if local else "distributed")


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
def test_search_many_parity_with_deletes(reader, searcher, oracle, local):
    # tombstone the top hit of three queries: their next-best docs move
    # up, and collection statistics still count the deleted docs
    victims = set()
    for q in ("index", "index OR writer", "license"):
        victims.add(_oracle_ranked(oracle, searcher._plan(q), 1)[0][0])
    s = _fresh(reader, local, deletes=sorted(victims))
    _check_batch(s, oracle, searcher._plan, deleted=frozenset(victims),
                 label="deletes " + ("local" if local else "distributed"))
