"""Driver-resident term dictionary (terms-index-in-RAM role,
reader._dict_arrays) — parity with the distributed expansion scans and
the zero-job contract (VERDICT r3 item 3 / round-4 serving work)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def dist_reader(spark, index_dir):
    """Same index, resident dictionary disabled → distributed scans."""
    from lucene_spark.index import IndexReader

    r = IndexReader(spark, index_dir)
    r.dict_cache_max_terms = 0
    return r


def test_expansions_match_distributed(reader, dist_reader):
    cases = [
        ("prefix", lambda r: r.expand_prefix("in", 1024)),
        ("prefix_cap", lambda r: r.expand_prefix("s", 5)),
        ("regexp", lambda r: r.expand_regexp("in.*x", 1024)),
        ("regexp_dotstar", lambda r: r.expand_regexp(".*dex", 1024)),
        ("range", lambda r: r.expand_range("index", "merge")),
        ("range_open", lambda r: r.expand_range(None, "bb")),
        ("range_excl", lambda r: r.expand_range("index", "merge",
                                                include_lower=False,
                                                include_upper=False)),
        ("fuzzy1", lambda r: r.expand_fuzzy("index", 1, 50)),
        ("fuzzy2", lambda r: r.expand_fuzzy("merge", 2, 50)),
        ("fuzzy_nt", lambda r: r.expand_fuzzy("index", 1, 50,
                                              transpositions=False)),
    ]
    assert reader._dict_arrays(None) is not None
    assert dist_reader._dict_arrays(None) is None
    for name, call in cases:
        assert call(reader) == call(dist_reader), name


def test_dict_arrays_match_spark_load(reader, check_dict_arrays):
    """The pyarrow-loaded resident dictionary equals the Spark read; an
    absent field loads as empty arrays."""
    assert check_dict_arrays(reader, reader.default_field) > 0
    assert check_dict_arrays(reader, "no_such_field") == 0


def test_term_stats_match_distributed(reader, dist_reader):
    terms = ["index", "merge", "zzz_absent", "the", "scan"]
    a = reader.term_stats(terms)
    b = dist_reader.term_stats(terms)
    assert a == b and ("content" if False else True)
    assert all(t[1] != "zzz_absent" for t in a)


def test_resident_stats_cost_zero_jobs(reader, spark):
    """After the dictionary is resident, term_stats must not launch
    Spark jobs (the whole point): assert via the status tracker."""
    reader._dict_arrays(None)                      # ensure loaded
    reader._stats_cache = {}                       # defeat the memo
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    reader.term_stats(["index", "merge", "nope_x"])
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_over_cap_term_stats_start_no_job(dist_reader, spark):
    """Over the cap, term_stats probes the termdict files with pyarrow:
    still no Spark job."""
    sc = spark.sparkContext
    group = "test-over-cap-term-stats"
    sc.setJobGroup(group, "over-cap term_stats")
    try:
        stats = dist_reader.term_stats(["index", "merge", "nope_x"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    f = dist_reader.default_field
    assert set(stats) == {(f, "index"), (f, "merge")}
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_regexp_alternation_matches_distributed(reader, dist_reader):
    # top-level alternation must not be narrowed to the left branch's
    # literal prefix (review finding): both branches' terms returned
    for pat in ["index|merge", "ind.*|mer.*", "in(d|x)ex"]:
        assert reader.expand_regexp(pat, 1024) == \
            dist_reader.expand_regexp(pat, 1024), pat


def test_prefix_successor_handles_max_codepoint():
    import numpy as np

    from lucene_spark.index.reader import IndexReader

    terms = np.array(sorted(["ab", "ab\U0010ffff", "ab\U0010ffffz",
                             "abc", "ac"]), dtype=object)
    sl = IndexReader._prefix_slice(terms, "ab")
    got = set(terms[sl])
    assert got == {"ab", "ab\U0010ffff", "ab\U0010ffffz", "abc"}


def test_regexp_class_escapes_ascii_parity(spark, tmp_path_factory,
                                          check_dict_arrays):
    """ADVICE r4 (medium): \\d/\\w/\\s/\\b are Unicode in Python re but
    ASCII in java.util.regex (rlike) — the resident fast path must agree
    with the distributed scan on non-ASCII terms."""
    from lucene_spark.index import IndexBuilder, IndexConfig, IndexReader

    rows = [
        (1, "café caf7 cafe"),
        (2, "naïve naive nai٣e"),     # ï word char; ٣ Arabic digit
        (3, "word wörd w0rd"),
    ]
    src = spark.createDataFrame(rows, "id long, text string")
    d = str(tmp_path_factory.mktemp("uidx") / "index")
    cfg = IndexConfig(key_cols=("id",), content_col="text",
                      analyzer="whitespace", partitions=1, num_groups=1,
                      num_buckets=2)
    IndexBuilder(spark, cfg).build(src, d, overwrite=True)
    res = IndexReader(spark, d)
    dist = IndexReader(spark, d)
    dist.dict_cache_max_terms = 0
    assert res._dict_arrays(None) is not None
    # non-ASCII terms: Arrow's sort agrees with Spark's orderBy
    assert check_dict_arrays(res, res.default_field) > 0
    assert dist._dict_arrays(None) is None
    for pat in [r"caf\w", r"caf\d", r"na\wve", r"nai\we", r"nai\de",
                r"w\wrd", r"\w+", r"caf."]:
        assert res.expand_regexp(pat, 1024) == \
            dist.expand_regexp(pat, 1024), pat
