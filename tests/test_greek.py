"""Greek stemmer golden tests.

All checkOneTerm vectors are parsed straight out of the reference's
TestGreekStemmer.java (342 pairs: raw accented surface form → stem after
GreekLowerCaseFilter + GreekStemmer). Zero mismatches required.
"""
from __future__ import annotations

import re

import pandas as pd
import pytest

from lucene_spark.analysis.analyzers import get_analyzer
from lucene_spark.analysis.greek import greek_normalize, greek_stem

REF_TEST = ("/root/reference/lucene/analysis/common/src/test/org/apache/"
            "lucene/analysis/el/TestGreekStemmer.java")


def _vectors():
    try:
        src = open(REF_TEST, encoding="utf-8").read()
    except OSError:
        pytest.skip("reference golden data not available")
    return re.findall(r'checkOneTerm\(a,\s*"([^"]+)",\s*"([^"]+)"\)', src)


def test_greek_stemmer_golden():
    pairs = _vectors()
    assert len(pairs) > 300
    bad = [(w, greek_stem(greek_normalize(w)), e)
           for w, e in pairs if greek_stem(greek_normalize(w)) != e]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]}"


def test_greek_normalize():
    assert greek_normalize("Άνθρωπος") == "ανθρωποσ"   # tonos + final sigma
    assert greek_normalize("ΑΫΛΟΣ") == "αυλοσ"          # dialytika
    assert greek_normalize("ΐ") == "ι"                   # dialytika + tonos


@pytest.mark.parametrize("text,expected", [
    ("οι άνθρωποι και τα σπίτια", ["ανθρωπ", "σπιτ"]),
    ("Ο ΠΕΛΑΤΗΣ", ["πελατ"]),
])
def test_greek_analyzer_chain(text, expected):
    an = get_analyzer("greek")
    toks = list(an.tokenize_series(pd.Series([text])).iloc[0])
    assert toks == expected, toks
