"""Snowball stemmer parity (Danish, Norwegian, Swedish, Russian,
English Porter2, German, Dutch, Romanian, Irish, Hungarian, Finnish,
Spanish, Portuguese, Italian).

The reference ships the Snowball project's own full test vocabularies
(``analysis/snowball/*.zip``: voc.txt → output.txt, 2,000 words each) —
every word is diffed bit-exact, and the DuckDB SQL twins are
re-verified over the same vocabularies plus edge cases (short words,
suffix-crosses-region, undoubling, the Norwegian k-not-after-vowel
s-ending, Russian ё-fold + step-1 OR-chain markers, Porter2 exceptions
+ prefix-overridden regions + short-word e-restore).
"""

from __future__ import annotations

import zipfile

import pytest

from lucene_solr_spark.oracle.snowball import (
    DANISH_SNOWBALL_SQL,
    NORWEGIAN_SNOWBALL_SQL,
    DUTCH_SNOWBALL_SQL,
    GERMAN2_SNOWBALL_SQL,
    NEPALI_SNOWBALL_SQL,
    GERMAN_SNOWBALL_SQL,
    FINNISH_SNOWBALL_SQL,
    HUNGARIAN_SNOWBALL_SQL,
    IRISH_SNOWBALL_SQL,
    ITALIAN_SNOWBALL_SQL,
    PORTER2_SQL,
    PORTUGUESE_SNOWBALL_SQL,
    ROMANIAN_SNOWBALL_SQL,
    RUSSIAN_SNOWBALL_SQL,
    SPANISH_SNOWBALL_SQL,
    SWEDISH_SNOWBALL_SQL,
    danish_snowball_stem,
    norwegian_snowball_stem,
    dutch_snowball_stem,
    german2_snowball_stem,
    nepali_snowball_stem,
    turkish_snowball_stem,
    lovins_stem,
    kraaij_pohlmann_stem,
    german_snowball_stem,
    finnish_snowball_stem,
    hungarian_snowball_stem,
    irish_snowball_stem,
    italian_snowball_stem,
    porter2_stem,
    portuguese_snowball_stem,
    romanian_snowball_stem,
    russian_snowball_stem,
    spanish_snowball_stem,
    swedish_snowball_stem,
)
from reference_files import TEST_ROOT, needs_reference

_REF = f"{TEST_ROOT}/snowball"

_LANGS = [
    ("swedish", swedish_snowball_stem, SWEDISH_SNOWBALL_SQL),
    ("norwegian", norwegian_snowball_stem, NORWEGIAN_SNOWBALL_SQL),
    ("danish", danish_snowball_stem, DANISH_SNOWBALL_SQL),
    ("russian", russian_snowball_stem, RUSSIAN_SNOWBALL_SQL),
    ("english", porter2_stem, PORTER2_SQL),
    ("german", german_snowball_stem, GERMAN_SNOWBALL_SQL),
    ("dutch", dutch_snowball_stem, DUTCH_SNOWBALL_SQL),
    ("romanian", romanian_snowball_stem, ROMANIAN_SNOWBALL_SQL),
    ("irish", irish_snowball_stem, IRISH_SNOWBALL_SQL),
    ("hungarian", hungarian_snowball_stem, HUNGARIAN_SNOWBALL_SQL),
    ("finnish", finnish_snowball_stem, FINNISH_SNOWBALL_SQL),
    ("spanish", spanish_snowball_stem, SPANISH_SNOWBALL_SQL),
    ("portuguese", portuguese_snowball_stem, PORTUGUESE_SNOWBALL_SQL),
    ("italian", italian_snowball_stem, ITALIAN_SNOWBALL_SQL),
    ("german2", german2_snowball_stem, GERMAN2_SNOWBALL_SQL),
    ("nepali", nepali_snowball_stem, NEPALI_SNOWBALL_SQL),
]

#: Turkish has NO SQL twin (persistent-slice recursion) — vocabulary
#: parity only
_LANGS_NOSQL = [
    ("turkish", turkish_snowball_stem),
    ("lovins", lovins_stem),
    ("kp", kraaij_pohlmann_stem),
]

_EDGES = [
    "", "a", "ab", "abc", "bilens", "hallon", "ks", "fullt", "løst",
    "trygghetslov", "huggst", "bakkens", "ei", "hyggeligst", "løsst",
    "bakkekk", "aas", "kraas",
    # Russian: ё-fold, tidy-up ейш(е)+нн persistence, bare soft sign,
    # verb-precondition collisions (нно/но, ает/ет)
    "тёплый", "нно", "ейшенн", "воейше", "ь", "нн", "и", "бегает",
    "сильнейшенный",
    # Porter2: exceptions, prelude y/Y, prefix-overridden regions,
    # short-word e-restore, apostrophes
    "sky", "skies", "dying", "news", "ox", "'cos", "generous",
    "communism", "arsenic", "toy", "oed", "eyes", "'s", "agreed",
    "exceeding", "hopping", "hoping", "misdeed",
    # German: ß expansion, u/y-between-vowels chains, -niss tail,
    # ig-after-e gates, st big-word condition
    "größte", "ergebnisse", "auaua", "bauyuau", "eisch", "steig",
    "häuslich", "freundlichen", "wesentlichkeit",
    # Dutch: i/y marking interleavings, gem-guard, heid chains, bar
    # needing the e-found flag, VV collapse
    "aiya", "ayia", "lichamelijke", "gemeente", "mogelijkheden",
    "eetbaarheden", "groot", "vreselijkst", "eetbare", "eetbar",
    # Romanian: step-0 replacements, combo chains, ţiune, verb gates
    "aua", "abile", "masei", "sei", "ase", "casase", "icativitate",
    "reprezentantului", "aţia",
    # Irish: initial mutations (eclipsis/lenition), region-gated passes
    "bhfuil", "d'fhear", "h-uile", "tsagart", "the", "beannachta",
    # Hungarian: digraph-aware R1, doubled-consonant undouble gates
    "asszonnyal", "fákká", "aszok", "házakkal", "üveggé", "almát",
    # Finnish: tta needs 'e', case-7 long/ie extension, t-plural split,
    # tidy undouble
    "halpuutta", "tien", "kalaan", "takkaa", "poikineen", "taloineen",
    "tyttö", "tytöt", "edeltäjiinsä",
    # Spanish: attached pronouns with unaccenting, gu-verb endings,
    # residual e after gu
    "pegue", "mague", "dándoselas", "comiéndoselo", "guyendo",
    "lógicamente", "felicidad",
    # Portuguese: nasal-vowel encoding, eira→eir, residual gu/ci tails
    "coração", "corações", "seguem", "cação", "longe", "feliz",
    # Italian: attached pronouns (infinitive restore), qu marking, gh/ch
    "fughe", "mandarlo", "quieto", "dandogliela", "piovano",
]


def _vocab(lang: str):
    with zipfile.ZipFile(f"{_REF}/{lang}.zip") as z:
        voc = z.read("voc.txt").decode("utf-8").split()
        out = z.read("output.txt").decode("utf-8").split()
    assert len(voc) == len(out) and len(voc) >= 1999
    return list(zip(voc, out))


def _vocab_param(lang, *args):
    """One parametrization per language, gated on its vocabulary zip."""
    return pytest.param(
        lang, *args, id=lang, marks=needs_reference(f"{_REF}/{lang}.zip")
    )


@pytest.mark.parametrize(
    "lang, fn",
    [_vocab_param(l, f) for l, f, _ in _LANGS]
    + [_vocab_param(l, f) for l, f in _LANGS_NOSQL],
)
def test_full_vocabulary_parity(lang, fn):
    bad = [(w, fn(w), o) for w, o in _vocab(lang) if fn(w) != o]
    assert not bad, bad[:10]


@pytest.mark.parametrize("lang, fn, sql", [_vocab_param(*row) for row in _LANGS])
def test_sql_twin_parity(lang, fn, sql):
    import duckdb

    con = duckdb.connect()
    words = [w for w, _ in _vocab(lang)] + _EDGES
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    body = "SELECT term FROM w"
    for e in sql:
        body = f"SELECT {e} AS term FROM ({body})"
    got = [r[0] for r in con.execute(body).fetchall()]
    bad = [(w, g, fn(w)) for w, g in zip(words, got) if g != fn(w)]
    assert not bad, bad[:10]


def test_italian_snowball_pins():
    # attached pronoun restores the infinitive e, then the verb pass
    # strips 'are'
    assert italian_snowball_stem("mandarlo") == "mand"
    # final h survives when the c/g sits before RV
    assert italian_snowball_stem("fughe") == "fugh"


def test_portuguese_snowball_pins():
    # nasal vowels survive the a~/o~ internal encoding
    assert portuguese_snowball_stem("corações") == "coraçõ"
    # residual e then the gu tail
    assert portuguese_snowball_stem("longe") == "long"


def test_spanish_snowball_pins():
    # the pronoun pass is RV-gated (dándo starts before RV, so the
    # verb pass strips 'as' instead) and the postlude unaccents
    assert spanish_snowball_stem("dándoselas") == "dandosel"
    # residual e after gu keeps RV at the u position
    assert spanish_snowball_stem("pegue") == "peg"
    # amente chain + unaccenting postlude
    assert spanish_snowball_stem("lógicamente") == "logic"


def test_finnish_snowball_pins():
    # tta deletes only after 'e' — otherwise tidy does the work
    assert finnish_snowball_stem("halpuutta") == "halpuut"
    # case 7: n preceded by a long pair extends the deletion one char
    assert finnish_snowball_stem("kalaan") == "kala"
    # tidy chain: long-pair trim, AEI-after-consonant trim, undouble
    assert finnish_snowball_stem("takkaa") == "tak"


def test_hungarian_snowball_pins():
    # instrumental -val assimilates: asszonnyal = asszonny + al →
    # doubled ny undoubles
    assert hungarian_snowball_stem("asszonnyal") == "asszony"
    # factive -vá assimilates: fákká → doubled k undoubles, á→?
    assert hungarian_snowball_stem("fákká") == "fák"
    # digraph-aware R1: 'aszok' has R1 after the SZ digraph
    assert hungarian_snowball_stem("aszok") == "asz"
    # case ending, trailing á→a rewrite, then sing-owner 'a' drops
    assert hungarian_snowball_stem("almát") == "alm"


def test_irish_snowball_pins():
    # eclipsis/lenition prefix reversal
    assert irish_snowball_stem("bhfuil") == "fuil"
    assert irish_snowball_stem("d'fhear") == "fear"
    assert irish_snowball_stem("tsagart") == "sagart"
    # derivational eacht in R2
    assert irish_snowball_stem("seabhcóireacht") == "seabhcóir"
    assert irish_snowball_stem("beannachta") == "beannachta"  # before R2


def test_romanian_snowball_pins():
    # step-0 replacement family (R1-gated)
    assert romanian_snowball_stem("reprezentantului") == "reprezent"
    # combo loop: two rewrites chain (ivitate → iv, then icativ → ic...)
    assert romanian_snowball_stem("icativitate") == "icat"
    # verb 'ase' needs a preceding consonant-or-u and must NOT fall
    # back to the unconditional 'se'
    assert romanian_snowball_stem("casase") == "casas"


def test_dutch_snowball_pins():
    # en-ending needs a preceding non-vowel ('gemeen' keeps its en but
    # the final VV collapse still fires)
    assert dutch_snowball_stem("gemeen") == "gemen"
    assert dutch_snowball_stem("groenen") == "groen"
    # e-ending undoubles
    assert dutch_snowball_stem("witte") == "wit"
    # heden → heid, then heid-in-R2 strips
    assert dutch_snowball_stem("mogelijkheden") == "mogelijk"
    # VV collapse between consonants
    assert dutch_snowball_stem("groot") == "grot"
    # i between vowels is a consonant
    assert dutch_snowball_stem("draaien") == "draai"


def test_kp_pins():
    # deleted endings trigger vowel RE-LENGTHENING (tak → taak shapes)
    assert kraaij_pohlmann_stem("taken") == "taak"
    # insert() moves the cursor PAST the restored consonant, so the
    # lengthening sees it as the final consonant (gie → +g → oo)
    assert kraaij_pohlmann_stem("technologies") == "technoloog"
    # but an AIOU syllable two back blocks the e-doubling
    assert kraaij_pohlmann_stem("bunkeren") == "bunker"
    # undouble + lone v/z devoicing
    assert kraaij_pohlmann_stem("alles") == "al"


def test_lovins_pins():
    # longest ending wins when its condition passes ('ationally' B)
    assert lovins_stem("nationally") == "nat"
    assert lovins_stem("sensationally") == "sens"
    # respell: uct → uc
    assert lovins_stem("induction") == "induc"


def test_turkish_snowball_pins():
    # vowel harmony gates the plural: 'ler' after front vowels only
    assert turkish_snowball_stem("evlerinde") == "ev"
    assert turkish_snowball_stem("geliyorlar") == "geliyor"
    # plural verb endings stop stemming but keep their own deletion
    assert turkish_snowball_stem("katlettiler") == "katlet"
    # postlude: append the harmony vowel after d/g, devoice finals
    assert turkish_snowball_stem("kanald") == "kanaldı"
    # reserved words skip the postlude
    assert turkish_snowball_stem("adınadır") == "ad"
    # single-syllable words never stem
    assert turkish_snowball_stem("ev") == "ev"


def test_nepali_snowball_pins():
    # the postposition strip keeps का-family after ए/े
    assert nepali_snowball_stem("scanरत") == "scan"
    # the verb loop runs to a fixpoint (multiple suffix rounds)
    assert nepali_snowball_stem("बर्सेकाहरुलाई") == "बर्स"
    assert nepali_snowball_stem("खाछ्यौ") == "खा"


def test_german2_snowball_pins():
    # ae/oe/ue fold into umlauts, but qu and a marked U are protected
    assert german2_snowball_stem("groesse") == german_snowball_stem("größe")
    assert german2_snowball_stem("quelle") == german_snowball_stem("quelle")
    # 'aue': the marked U blocks the ue fold
    assert "ü" not in german2_snowball_stem("baue")


def test_german_snowball_pins():
    # ß→ss prelude, then 'e' drop in R1
    assert german_snowball_stem("größe") == "gross"
    # -nisse → -nis (the niss tail after the e/en/es deletion)
    assert german_snowball_stem("ergebnisse") == "ergebnis"
    # u between vowels is a consonant: 'bauen' keeps its u, R1 shifts
    assert german_snowball_stem("bauen") == "bau"
    # st needs an st-ending with three chars before it
    assert german_snowball_stem("angst") == "angst"  # len < 6
    assert german_snowball_stem("verstopfst") == "verstopf"
    # ig in R2 drops; not after e
    assert german_snowball_stem("ausfindig") == "ausfind"
    assert german_snowball_stem("wenig") == "wenig"  # ig not yet in R2


def test_porter2_semantics_pins():
    # whole-word exceptions run before everything
    assert porter2_stem("skies") == "sky"
    assert porter2_stem("news") == "news"
    # exception2 stops after step 1a
    assert porter2_stem("inning") == "inning"
    assert porter2_stem("exceeding") == "exceed"
    # step 1b restore-e on short stems vs doubling
    assert porter2_stem("hoping") == "hope"
    assert porter2_stem("hopping") == "hop"
    # y marking: y after vowel is a consonant
    assert porter2_stem("enjoying") == "enjoy"
    # step 4 tests R2 on the LONGEST match only (ement does not fall
    # back to ment)
    assert porter2_stem("cement") == "cement"
    # gener- prefix override: R1 starts after the prefix
    assert porter2_stem("generate") == "generat"
    assert porter2_stem("general") == "general"


def test_russian_semantics_pins():
    # RV gate: suffix must start at/after the first-vowel+1 position
    assert russian_snowball_stem("ь") == "ь"  # no vowel → RV empty
    # ё folds to е BEFORE region marking
    assert russian_snowball_stem("тёплый") == "тепл"
    # perfective gerund в needs preceding а/я
    assert russian_snowball_stem("сделав") == "сдела"
    # superlative ейш deletion persists even without a trailing нн
    assert russian_snowball_stem("сильнейш") == "сильн"
    # derivational ость requires R2
    assert russian_snowball_stem("тупость") == "тупост"  # ость before R2
    assert russian_snowball_stem("туманность") == "туман"  # in R2 + нн tidy


def test_semantics_pins():
    # R1 floor: at least 3 chars precede the region, so a suffix that
    # matches at position < 3 never fires
    assert swedish_snowball_stem("as") == "as"
    assert swedish_snowball_stem("inas") == "inas"  # 'as' starts at 2 < 3
    # Norwegian s after k requires a NON-vowel before the k
    assert norwegian_snowball_stem("verks") == "verk"  # r-k-s: drops
    assert norwegian_snowball_stem("vaaks") == "vaaks"  # vowel-k-s: keeps
    # Norwegian erte/ert → er
    assert norwegian_snowball_stem("lignende") == "lign"
    # Danish igst strip (unconditional) → 'elig' drop in R1 → undouble
    assert danish_snowball_stem("hyggeligst") == "hyg"
    # Danish undouble: final double consonant in R1
    assert danish_snowball_stem("bakk") == "bak"
    # fit falls back: a long suffix crossing R1 yields the shorter one
    assert swedish_snowball_stem("heten") == "het"  # 'heten' needs 3 before


def test_registry_and_chain():
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize
    from lucene_solr_spark.oracle.light_stemmers import (
        analyzer_config,
        resolve,
    )
    from lucene_solr_spark.oracle.tokenizer import analyze

    assert resolve("danish_snowball")("hedens") == "hed"
    for name in ("danish", "swedish", "norwegian"):
        cfg = analyzer_config(name)
        assert cfg["stemmer"] == f"{name}_snowball"
        assert cfg["stopwords"]
    text = "indtagelsens heder bilens"
    td, terms, _ = batch_tokenize([text], stemmer="danish_snowball")
    assert terms.to_pylist() == ["indtag", "hed", "bil"]
    assert [t.term for t in analyze(text, stemmer="danish_snowball")] == [
        "indtag", "hed", "bil",
    ]
