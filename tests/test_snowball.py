"""Snowball stemmer golden tests.

Each stemmer is validated against the reference's golden vocabulary
(analysis/common/src/test/.../snowball/<lang>.zip: voc.txt line i stems to
output.txt line i) — the same data TestSnowballVocab.java uses. Zero
mismatches required over the full 2000-word vocabulary per language.
"""
from __future__ import annotations

import zipfile

import pandas as pd
import pytest

from lucene_spark.analysis.analyzers import get_analyzer
from lucene_spark.analysis.snowball import (
    danish_stem,
    dutch_stem,
    english_porter2_stem,
    irish_normalize,
    irish_stem,
    nepali_stem,
    romanian_stem,
    turkish_normalize,
    turkish_stem,
)

REF_SNOWBALL = ("/root/reference/lucene/analysis/common/src/test/org/"
                "apache/lucene/analysis/snowball")

from lucene_spark.analysis.snowball import (  # noqa: E402
    finnish_stem,
    hungarian_stem,
    norwegian_snowball_stem,
    russian_snowball_stem,
    swedish_snowball_stem,
)

from lucene_spark.analysis.snowball import (  # noqa: E402
    french_snowball_stem,
    german2_snowball_stem,
    german_snowball_stem,
    italian_snowball_stem,
    portuguese_snowball_stem,
    spanish_snowball_stem,
)

from lucene_spark.analysis.snowball import kp_stem, lovins_stem  # noqa: E402

GOLDEN = [
    ("danish", danish_stem),
    ("lovins", lovins_stem),
    ("kp", kp_stem),
    ("german", german_snowball_stem),
    ("german2", german2_snowball_stem),
    ("spanish", spanish_snowball_stem),
    ("italian", italian_snowball_stem),
    ("portuguese", portuguese_snowball_stem),
    ("swedish", swedish_snowball_stem),
    ("norwegian", norwegian_snowball_stem),
    ("russian", russian_snowball_stem),
    ("finnish", finnish_stem),
    ("hungarian", hungarian_stem),
    ("romanian", romanian_stem),
    ("irish", irish_stem),
    ("nepali", nepali_stem),
    ("turkish", turkish_stem),
    ("dutch", dutch_stem),
    ("english", english_porter2_stem),
]


@pytest.mark.parametrize("lang,fn", GOLDEN, ids=[g[0] for g in GOLDEN])
def test_snowball_golden_vocabulary(lang, fn):
    try:
        z = zipfile.ZipFile(f"{REF_SNOWBALL}/{lang}.zip")
    except OSError:
        pytest.skip("reference golden data not available")
    voc = z.read("voc.txt").decode("utf-8").split()
    out = z.read("output.txt").decode("utf-8").split()
    assert len(voc) == len(out)
    bad = [(v, fn(v), o) for v, o in zip(voc, out) if fn(v) != o]
    assert not bad, f"{lang}: {len(bad)} mismatches, first: {bad[:5]}"


def test_turkish_normalizer():
    # ApostropheFilter + TurkishLowerCaseFilter semantics
    assert turkish_normalize("Türkiye'de") == "türkiye"
    assert turkish_normalize("İSTANBUL") == "istanbul"
    assert turkish_normalize("DIŞ") == "dış"        # I → dotless ı
    assert turkish_normalize("İstanbul") == "istanbul"  # I+dot → i
    assert turkish_normalize("AĞRI") == "ağrı"


def test_irish_normalizer():
    assert irish_normalize("d'Fhoireann") == "fhoireann"   # elision
    assert irish_normalize("m'athair") == "athair"
    assert irish_normalize("nAthair") == "n-athair"        # eclipsis mark
    assert irish_normalize("tUISCE") == "t-uisce"
    assert irish_normalize("GEIMHREADH") == "geimhreadh"


def test_analyzer_chains():
    cases = [
        # (analyzer, text, expected tokens)
        ("danish", "de dejlige huse", ["dej", "hus"]),  # lig strips (step 3)
        # comma-form ș (U+0219) doesn't match the cedilla-form tables or
        # stop entries — same as the reference at this version (no folding)
        ("romanian", "copiii frumoși și mari",
         ["copii", "frumoș", "și", "mar"]),
        ("romanian", "copiii frumoşi şi mari",    # cedilla forms DO fold
         ["copii", "frumoş", "mar"]),
        ("irish", "na d'fhoireann nAthair", ["foireann", "athair"]),
        ("turkish", "Türkiye'deki kitapları ve İSTANBUL",
         ["türki", "kitap", "istanbul"]),
        ("serbian", "и лепих градова", ["lepih", "gradova"]),
        # Dutch now runs the Snowball stemmer (DutchAnalyzer parity);
        # the stem-override dict keeps fiets whole
        ("dutch", "de boeken en fietsen", ["boek", "fiets"]),
        ("english_snowball", "the generously conditional agreement",
         ["generous", "condit", "agreement"]),
    ]
    for name, text, expected in cases:
        an = get_analyzer(name)
        toks = list(an.tokenize_series(pd.Series([text])).iloc[0])
        assert toks == expected, (name, toks)


def test_nepali_whole_word_suffix_keeps_reference_semantics():
    # a word that IS a category-3 suffix stems to the empty string; the
    # reference's SnowballFilter keeps the empty term (buffer semantics),
    # and so does our chain — exact parity, documented.
    assert nepali_stem("छन्") == ""
    an = get_analyzer("nepali")
    toks = list(an.tokenize_series(pd.Series(["किताबहरु छन्"])).iloc[0])
    assert toks == ["किताब", ""]


# ---------------------------------------------------------------------------
# Languages with no voc.zip in the reference test data (Armenian, Basque,
# Catalan, Lithuanian, Estonian): golden TSVs in tests/data/ generated by
# scripts/gen_snowball_golden.py — the reference's own compiled
# ext/<Lang>Stemmer.java run over a deterministic synthetic word list
# (every Among-table suffix, stem+suffix and double-suffix combos, random
# syllable words). Zero mismatches required.
# ---------------------------------------------------------------------------

from pathlib import Path

from lucene_spark.analysis.snowball import (  # noqa: E402
    armenian_stem,
    basque_stem,
    catalan_elision,
    catalan_stem,
    estonian_stem,
    lithuanian_stem,
)

DATA = Path(__file__).parent / "data"

GOLDEN_TSV = [
    ("french", french_snowball_stem),
    ("armenian", armenian_stem),
    ("basque", basque_stem),
    ("catalan", catalan_stem),
    ("lithuanian", lithuanian_stem),
    ("estonian", estonian_stem),
]


@pytest.mark.parametrize("lang,fn", GOLDEN_TSV, ids=[g[0] for g in GOLDEN_TSV])
def test_snowball_golden_tsv(lang, fn):
    bad = []
    with open(DATA / f"snowball_{lang}.tsv", encoding="utf-8") as f:
        for line in f:
            w, expect = line.rstrip("\n").split("\t")
            got = fn(w)
            if got != expect:
                bad.append((w, got, expect))
    assert not bad, f"{lang}: {len(bad)} mismatches, first: {bad[:5]}"


def test_estonian_edges():
    # kk/pp/tt undoubling at minimum length (verified against the
    # compiled reference stemmer)
    assert estonian_stem("kka") == "ka"
    assert estonian_stem("tte") == "te"
    assert estonian_stem("akka") == "aka"
    # whole-word verb exceptions replace the word outright
    assert estonian_stem("joodakse") == "joo"
    assert estonian_stem("tegemata") == "tegi"


def test_catalan_elision_filter():
    assert catalan_elision("l'home") == "home"
    assert catalan_elision("d'una") == "una"
    assert catalan_elision("x'una") == "x'una"   # not an article
    assert catalan_elision("casa") == "casa"


def test_new_language_analyzer_chains():
    cases = [
        ("catalan", "L'home i les cases", ["hom", "case"]),
        ("basque", "etxeak eta mendiak", ["etxe", "mendi"]),
        ("lithuanian", "namai ir knygos", ["nam", "knyg"]),
        ("estonian", "raamatud ja raamatukogudes", ["raama", "raamatukogu"]),
        ("armenian", "գրքեր", ["գրքեր"]),
    ]
    for name, text, expected in cases:
        an = get_analyzer(name)
        toks = list(an.tokenize_series(pd.Series([text])).iloc[0])
        assert toks == expected, (name, toks)
