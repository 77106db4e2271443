"""IndicNormalizer / HindiNormalizer / HindiStemmer vs every reference
golden (``TestIndicNormalizer.java``, ``TestHindiNormalizer.java``,
``TestHindiStemmer.java``) plus SQL-twin parity for the stem cascade."""

from __future__ import annotations

import random
import re

from lucene_solr_spark.oracle.indic import (
    HINDI_STEM_SQL,
    HINDI_STOP_WORDS,
    hindi_fold,
    hindi_normalize,
    hindi_stem,
    indic_normalize,
)
from reference_files import RESOURCES_ROOT, TEST_ROOT, needs_reference

_REF = TEST_ROOT
_CHECK = re.compile(r'check\(\s*"([^"]*)"\s*,\s*"([^"]*)"\s*\)')


def _unesc(s):
    return re.sub(r"\\u([0-9a-fA-F]{4})", lambda m: chr(int(m.group(1), 16)), s)


def _pairs(path):
    txt = open(path, encoding="utf-8").read()
    return [(_unesc(a), _unesc(b)) for a, b in _CHECK.findall(txt)]


@needs_reference(f"{_REF}/in/TestIndicNormalizer.java")
def test_indic_normalizer_goldens():
    pairs = _pairs(f"{_REF}/in/TestIndicNormalizer.java")
    assert len(pairs) >= 7
    for w, e in pairs:
        assert indic_normalize(w) == e, (w.encode("unicode_escape"), e)


@needs_reference(f"{_REF}/hi/TestHindiNormalizer.java")
def test_hindi_normalizer_goldens():
    pairs = _pairs(f"{_REF}/hi/TestHindiNormalizer.java")
    assert len(pairs) >= 15
    for w, e in pairs:
        assert hindi_normalize(w) == e, (w.encode("unicode_escape"), e)


@needs_reference(f"{_REF}/hi/TestHindiStemmer.java")
def test_hindi_stemmer_goldens():
    pairs = _pairs(f"{_REF}/hi/TestHindiStemmer.java")
    assert len(pairs) >= 20
    for w, e in pairs:
        assert hindi_stem(w) == e, (w, e)


@needs_reference(f"{RESOURCES_ROOT}/hi/stopwords.txt")
def test_hindi_stop_set_matches_reference():
    res = f"{RESOURCES_ROOT}/hi/stopwords.txt"
    want = set()
    for line in open(res, encoding="utf-8"):
        line = line.split("#")[0].strip()
        if line:
            want.add(line)
    assert HINDI_STOP_WORDS == want


def test_hindi_stem_sql_parity_fuzz():
    import duckdb

    rng = random.Random(31)
    base = "बभचदफगहजलमनपरसतवडखयझक"
    sufs = [s for _, group, _ in (
        (6, ("ाएंगी", "ाइयों"), 5),
    ) for s in group]
    all_sufs = []
    from lucene_solr_spark.oracle.indic import _HI_STEPS

    for _, group, _ in _HI_STEPS:
        all_sufs.extend(group)
    words = []
    for _ in range(30_000):
        stem = "".join(rng.choice(base) for _ in range(rng.randrange(1, 6)))
        words.append(stem + rng.choice(all_sufs + [""] * 8))
    con = duckdb.connect()
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    body = "SELECT term FROM w"
    for e in HINDI_STEM_SQL:
        body = f"SELECT {e} AS term FROM ({body})"
    got = [r[0] for r in con.execute(body).fetchall()]
    bad = [
        (w, g, hindi_stem(w)) for w, g in zip(words, got) if g != hindi_stem(w)
    ]
    assert not bad, (len(bad), bad[:5])


def test_hindi_chain_and_batch_parity():
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize
    from lucene_solr_spark.oracle.light_stemmers import analyzer_config
    from lucene_solr_spark.oracle.tokenizer import analyze

    cfg = analyzer_config("hindi")
    # the TestHindiAnalyzer golden: "ह" is a stopword form? use basics
    assert [t.term for t in analyze("किताबें किताब", **cfg)] == [
        "किताब", "किताब",
    ]
    texts = ["किताबें अाैर लडकियों", "क़िताब", ""]
    doc_ids, terms, poss = batch_tokenize(texts, **cfg)
    scalar = []
    for i, t in enumerate(texts):
        for tok in analyze(t, **cfg):
            scalar.append((i, tok.term, tok.pos))
    assert list(zip(doc_ids.tolist(), terms.tolist(), poss.tolist())) == scalar


def test_hindi_gate_fold_sql_parity_fuzz():
    """The gate corpus's fold twin (the one Indic compose rule its
    alphabet can trigger + the Hindi char folds) ≡ hindi_fold over
    random gate-alphabet words."""
    import duckdb

    sql = "translate(replace(term, 'अॅ', 'ॲ'), 'क़ईऔॅीॲ', 'कइओेिअ')"
    rng = random.Random(41)
    alpha = "बभचदीफगहईजक़लमनऔपअरसतॅवडखयझ"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 9)))
        for _ in range(40_000)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    got = [
        r[0]
        for r in con.execute(f"SELECT {sql} FROM w").fetchall()
    ]
    bad = [
        (w, g, hindi_fold(w)) for w, g in zip(words, got) if g != hindi_fold(w)
    ]
    assert not bad, (len(bad), bad[:5])


# ------------------------------------------------------------- Bengali

from lucene_solr_spark.oracle.indic import (  # noqa: E402
    BENGALI_STEM_SQL,
    BENGALI_STOP_WORDS,
    bengali_fold,
    bengali_normalize,
    bengali_stem,
)


@needs_reference(f"{_REF}/bn/TestBengaliNormalizer.java")
def test_bengali_normalizer_goldens():
    pairs = _pairs(f"{_REF}/bn/TestBengaliNormalizer.java")
    assert len(pairs) >= 10
    for w, e in pairs:
        assert bengali_normalize(w) == e, (w.encode("unicode_escape"), e)


@needs_reference(f"{_REF}/bn/TestBengaliStemmer.java")
def test_bengali_stemmer_goldens():
    # the reference check() runs ONLY BengaliStemFilter (no normalizer)
    pairs = _pairs(f"{_REF}/bn/TestBengaliStemmer.java")
    assert len(pairs) >= 10
    for w, e in pairs:
        got = bengali_stem(w)
        assert got == e, (w, e, got)


@needs_reference(f"{RESOURCES_ROOT}/bn/stopwords.txt")
def test_bengali_stop_set_matches_reference():
    res = f"{RESOURCES_ROOT}/bn/stopwords.txt"
    want = set()
    for line in open(res, encoding="utf-8"):
        line = line.split("#")[0].strip()
        if line:
            want.add(line)
    assert BENGALI_STOP_WORDS == want


def test_bengali_stem_sql_parity_fuzz():
    import duckdb

    from lucene_solr_spark.oracle.indic import _BN_STEPS

    rng = random.Random(43)
    base = "বভচদফগহজকলমনপরসতথডখযঝ"
    all_sufs = []
    for _, group, _ in _BN_STEPS:
        all_sufs.extend(group)
    words = []
    for _ in range(30_000):
        stem = "".join(rng.choice(base) for _ in range(rng.randrange(1, 6)))
        words.append(stem + rng.choice(all_sufs + [""] * 8))
    con = duckdb.connect()
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    body = "SELECT term FROM w"
    for e in BENGALI_STEM_SQL:
        body = f"SELECT {e} AS term FROM ({body})"
    got = [r[0] for r in con.execute(body).fetchall()]
    bad = [
        (w, g, bengali_stem(w))
        for w, g in zip(words, got)
        if g != bengali_stem(w)
    ]
    assert not bad, (len(bad), bad[:5])


def test_bengali_gate_fold_sql_parity_fuzz():
    import duckdb

    sql = "translate(term, 'ীশষণ', 'িসসন')"
    rng = random.Random(47)
    alpha = "বভচদীফগহইজকলমণওপশরষতুথডখযঝ"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 9)))
        for _ in range(40_000)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    got = [r[0] for r in con.execute(f"SELECT {sql} FROM w").fetchall()]
    bad = [
        (w.encode("unicode_escape"), g, bengali_fold(w))
        for w, g in zip(words, got)
        if g != bengali_fold(w)
    ]
    assert not bad, (len(bad), bad[:5])
