"""GreekLowerCaseFilter + GreekStemmer vs every golden in
``TestGreekStemmer.java`` (343 checkOneTerm pairs through the full
GreekAnalyzer) and the ``TestGreekAnalyzer`` chain rows."""

from __future__ import annotations

import re

from lucene_solr_spark.oracle.greek import (
    GREEK_STOP_WORDS,
    greek_lower,
    greek_stem,
)
from reference_files import RESOURCES_ROOT, TEST_ROOT, needs_reference

_REF = f"{TEST_ROOT}/el"
_STOP = f"{RESOURCES_ROOT}/el/stopwords.txt"


@needs_reference(f"{_REF}/TestGreekStemmer.java")
def test_greek_stemmer_goldens():
    txt = open(f"{_REF}/TestGreekStemmer.java", encoding="utf-8").read()
    pairs = re.findall(r'checkOneTerm\(\s*a\s*,\s*"([^"]*)"\s*,\s*"([^"]*)"\)', txt)
    assert len(pairs) >= 340
    for w, e in pairs:
        got = greek_stem(greek_lower(w))
        assert got == e, (w, e, got)


def test_greek_analyzer_goldens():
    # TestGreekAnalyzer chain rows through the real chain seam
    from lucene_solr_spark.oracle.light_stemmers import analyzer_config
    from lucene_solr_spark.oracle.tokenizer import analyze as _an

    cfg = analyzer_config("greek")

    def analyze(text):
        return [t.term for t in _an(text, **cfg)]

    assert analyze("Μία εξαιρετικά καλή και πλούσια σειρά χαρακτήρων") == [
        "μια", "εξαιρετ", "καλ", "πλουσ", "σειρ", "χαρακτηρ",
    ]
    assert analyze("ΠΡΟΫΠΟΘΕΣΕΙΣ Άψογος, ο μεστός και οι άλλοι") == [
        "προυποθεσ", "αψογ", "μεστ", "αλλ",
    ]


def test_greek_lower_table():
    # GreekLowerCaseFilter.java:54-113: sigma merge + diacritic strips
    assert greek_lower("ς") == "σ"
    assert greek_lower("ΆάΈέΉήΊΪίϊΐ") == "ααεεηηιιιιι"
    assert greek_lower("ΎΫύϋΰΌόΏώ") == "υυυυυοοωω"
    assert greek_lower("΢") == "ς"


@needs_reference(_STOP)
def test_greek_stop_set_matches_reference():
    want = set()
    for line in open(_STOP, encoding="utf-8"):
        line = line.split("#")[0].strip()
        if line:
            want.add(line)
    assert GREEK_STOP_WORDS == want
