"""BrazilianStemmer vs every TestBrazilianAnalyzer golden (the check()
pairs run the FULL analyzer: lowercase incl. diacritic folds → stop →
stem)."""

from __future__ import annotations

import re

from lucene_solr_spark.oracle.brazilian import (
    BRAZILIAN_STOP_WORDS,
    brazilian_chain_stem,
    brazilian_stem,
)
from reference_files import RESOURCES_ROOT, TEST_ROOT, needs_reference

_REF = f"{TEST_ROOT}/br"
_STOP = f"{RESOURCES_ROOT}/br/stopwords.txt"


@needs_reference(f"{_REF}/TestBrazilianAnalyzer.java")
def test_brazilian_goldens():
    txt = open(f"{_REF}/TestBrazilianAnalyzer.java", encoding="utf-8").read()
    pairs = re.findall(
        r'check(?:Reuse\(\s*a\s*,|\()\s*"([^"]*)"\s*,\s*"([^"]*)"\)', txt
    )
    assert len(pairs) >= 90
    for w, e in pairs:
        if w == e == "quintessência":
            continue  # the stem-EXCLUSION golden (:144-145), not a stem
        got = brazilian_chain_stem(w)
        assert got == e, (w, e, got)


def test_unindexable_keeps_original():
    # BrazilianStemFilter.java:58-62: null stem -> original token kept
    assert brazilian_stem("ab") is None
    assert brazilian_chain_stem("ab") == "ab"
    assert brazilian_chain_stem("x" * 30) == "x" * 30


@needs_reference(_STOP)
def test_stop_set_matches_reference():
    want = set()
    for line in open(_STOP, encoding="utf-8"):
        line = line.split("#")[0].strip()
        if line:
            want.add(line)
    assert BRAZILIAN_STOP_WORDS == want
