from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from lucene_spark.session import get_spark

    s = get_spark("lucene_spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    from lucene_spark.corpus import make_corpus

    return make_corpus(400, seed=42)


@pytest.fixture(scope="session")
def index_dir(spark, corpus_pdf, tmp_path_factory):
    """Build the test index once per session (4 partitions, 2 groups)."""
    from lucene_spark.index import IndexBuilder, IndexConfig

    d = str(tmp_path_factory.mktemp("idx") / "index")
    cfg = IndexConfig(partitions=4, num_groups=2, num_buckets=8, analyzer="code")
    src = spark.createDataFrame(corpus_pdf)
    IndexBuilder(spark, cfg).build(src, d, overwrite=True)
    return d


@pytest.fixture(scope="session")
def reader(spark, index_dir):
    from lucene_spark.index import IndexReader

    return IndexReader(spark, index_dir)


@pytest.fixture(scope="session")
def searcher(reader):
    from lucene_spark.search import IndexSearcher

    return IndexSearcher(reader)


@pytest.fixture(scope="session")
def oracle(spark, reader, corpus_pdf):
    """Oracle indexing the same docs under the ENGINE's doc_ids (parity is
    then end-to-end over everything downstream of doc_id assignment, whose
    determinism is tested separately)."""
    from lucene_spark.oracle import OracleIndex

    ds = reader.docstats().select("repo", "path", "commit", "doc_id").toPandas()
    key = ds.set_index(["repo", "path", "commit"])["doc_id"]
    ora = OracleIndex(analyzer="code")
    for row in corpus_pdf.itertuples(index=False):
        ora.add(int(key.loc[(row.repo, row.path, row.commit)]), row.content)
    return ora


@pytest.fixture(scope="session")
def check_postings_frame():
    """Checker: the driver-side pyarrow read IndexReader.postings_frame
    returns exactly the rows and columns of the Spark read
    postings_for_terms(terms).toPandas(). Returns the row count."""
    import pandas as pd

    keys = ["field", "term", "part_id", "slice"]

    def check(reader, terms) -> int:
        want = (reader.postings_for_terms(terms).toPandas()
                .sort_values(keys, ignore_index=True))
        got = reader.postings_frame(terms).sort_values(keys, ignore_index=True)
        pd.testing.assert_frame_equal(got, want)
        return len(got)

    return check


@pytest.fixture(scope="session")
def check_dict_arrays():
    """Checker: the resident dictionary IndexReader._dict_arrays(field),
    loaded with pyarrow, holds exactly the arrays of the Spark read
    termdict().filter(field).orderBy("term").toPandas(), dtypes included.
    Returns the term count."""
    import numpy as np
    from pyspark.sql import functions as F

    def check(reader, field) -> int:
        pdf = (reader.termdict().filter(F.col("field") == field)
               .orderBy("term").toPandas())
        terms = pdf["term"].to_numpy()
        want = (terms, np.array([len(t) for t in terms], dtype=np.int64),
                pdf["df"].to_numpy(), pdf["cf"].to_numpy())
        got = reader._dict_arrays(field)
        assert [a.dtype for a in got] == [np.dtype(object)] + \
            [np.dtype(np.int64)] * 3
        for g, w in zip(got, want):
            assert np.array_equal(g, w)
        return len(terms)

    return check
