"""RSLP engine (Galician + Portuguese RSLP grammars) — bit-exact on the
reference's FULL test vocabularies (gltestdata.zip 9,416 pairs,
ptrslptestdata.zip 32,016 pairs) plus grammar-parse sanity."""

from __future__ import annotations

import io
import zipfile

from lucene_solr_spark.oracle.rslp import (
    GALICIAN_STOP_WORDS,
    galician_stem,
    portuguese_rslp_stem,
)
from reference_files import RESOURCES_ROOT, TEST_ROOT, needs_reference

_T = TEST_ROOT
_GL_ZIP = f"{_T}/gl/gltestdata.zip"
_PT_MINIMAL_ZIP = f"{_T}/pt/ptminimaltestdata.zip"


def _vocab(zip_path, name):
    with zipfile.ZipFile(zip_path) as z:
        data = z.read(name).decode("utf-8")
    for line in io.StringIO(data):
        line = line.rstrip("\n")
        if line:
            yield line.split("\t")


@needs_reference(_GL_ZIP)
def test_galician_full_vocabulary():
    bad = []
    n = 0
    for w, e in _vocab(_GL_ZIP, "gl.txt"):
        n += 1
        got = galician_stem(w)
        if got != e:
            bad.append((w, e, got))
    assert n > 9000
    assert not bad, (len(bad), bad[:5])


@needs_reference(f"{_T}/pt/ptrslptestdata.zip")
def test_portuguese_rslp_full_vocabulary():
    bad = []
    n = 0
    for w, e in _vocab(f"{_T}/pt/ptrslptestdata.zip", "ptrslp.txt"):
        n += 1
        got = portuguese_rslp_stem(w)
        if got != e:
            bad.append((w, e, got))
    assert n > 30000
    assert not bad, (len(bad), bad[:5])


def test_grammar_shapes():
    from lucene_solr_spark.oracle.rslp import _GL, _PT

    assert set(_GL) == {
        "Plural", "Unification", "Adverb", "Augmentative", "Noun",
        "Verb", "Vowel",
    }
    assert set(_PT) == {
        "Plural", "Adverb", "Feminine", "Augmentative", "Noun", "Verb",
        "Vowel",
    }
    # exception modes: pt Plural is whole-word (flag 1)
    assert any(
        r.exceptions is not None and r.whole_word
        for r in _PT["Plural"].rules
    )


@needs_reference(f"{RESOURCES_ROOT}/gl/stopwords.txt")
def test_stop_set_matches_reference():
    res = f"{RESOURCES_ROOT}/gl/stopwords.txt"
    want = set()
    for line in open(res, encoding="utf-8"):
        line = line.split("#")[0].strip()
        if line:
            want.add(line)
    assert GALICIAN_STOP_WORDS == want


@needs_reference(_PT_MINIMAL_ZIP)
def test_portuguese_minimal_full_vocabulary():
    from lucene_solr_spark.oracle.rslp import portuguese_minimal_stem

    bad = []
    n = 0
    for w, e in _vocab(_PT_MINIMAL_ZIP, "ptminimal.txt"):
        n += 1
        got = portuguese_minimal_stem(w)
        if got != e:
            bad.append((w, e, got))
    assert n > 20000
    assert not bad, (len(bad), bad[:5])


@needs_reference(_PT_MINIMAL_ZIP, _GL_ZIP)
def test_minimal_sql_twins_fuzz():
    """The generated one-CASE twins ≡ the Plural-step engine over the
    full reference vocabularies (every rule + exception exercised)."""
    import duckdb

    from lucene_solr_spark.oracle.rslp import (
        GALICIAN_MINIMAL_SQL,
        PORTUGUESE_MINIMAL_SQL,
        galician_minimal_stem,
        portuguese_minimal_stem,
    )

    cases = (
        (_PT_MINIMAL_ZIP, "ptminimal.txt",
         PORTUGUESE_MINIMAL_SQL, portuguese_minimal_stem),
        (_GL_ZIP, "gl.txt",
         GALICIAN_MINIMAL_SQL, galician_minimal_stem),
    )
    con = duckdb.connect()
    for zp, name, sql, fn in cases:
        words = [w for w, _ in _vocab(zp, name)]
        con.execute("CREATE OR REPLACE TABLE w AS SELECT unnest(?) AS term", [words])
        body = "SELECT term FROM w"
        for e in sql:
            body = f"SELECT {e} AS term FROM ({body})"
        got = [r[0] for r in con.execute(body).fetchall()]
        bad = [(w, g, fn(w)) for w, g in zip(words, got) if g != fn(w)]
        assert not bad, (name, len(bad), bad[:5])
