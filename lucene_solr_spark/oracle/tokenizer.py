"""StandardAnalyzer-equivalent tokenizer kernel (pure Python): the one
place that turns text into terms. ``analyze_with_offsets`` is the chain;
``analyze``, ``tokenize``, the highlighter and the batch tokenizer's
slow path all run it, and ``functions.fast_tokenizer`` is pinned to it.

Semantics parity (cited, not copied) with the reference:

- Pipeline = StandardTokenizer → LowerCaseFilter → StopFilter, default
  maxTokenLength=255, default stopword set EMPTY
  (``lucene/core/.../analysis/standard/StandardAnalyzer.java:84-96, :37,
  :51-53``).
- UAX#29 word-break rules from the jflex grammar
  (``analysis/standard/StandardTokenizerImpl.jflex:95-112`` char classes,
  ``:228-230`` numeric rule WB8/11/12/13, ``:239-265`` word rule WB5-13b):
  * AHLetter×AHLetter, AHLetter×Numeric, Numeric×AHLetter join directly
    (``utf8``, ``sha256`` are single tokens);
  * ``_`` is ExtendNumLet — joins everything (``foo_bar``);
  * MidLetterQ = ``:`` ``.``-as-MidNumLet ``'`` — joins only *between*
    letters (``obj.method``, ``can't``; trailing ``.`` splits);
  * MidNumericQ = ``,`` ``;`` ``.`` ``'`` — joins only between digits
    (``3.14``, ``1,000``);
  * all other punctuation always splits.
- Tokens longer than maxTokenLength are SKIPPED but still consume a
  position (``analysis/standard/StandardTokenizer.java:145-168``
  skippedPositions).
- LowerCaseFilter = per-codepoint toLowerCase
  (``analysis/LowerCaseFilter.java:46``) — :func:`lowercase`, which is
  ``str.lower()`` without its Final_Sigma context rule (``Σ`` → ``σ``
  everywhere, never ``ς``).
- StopFilter drops tokens *after* position assignment, so surviving tokens
  keep their original position gaps
  (``analysis/FilteringTokenFilter.java:49-63``).
- CJK ideographs are emitted as single-character tokens; Katakana/Hangul
  runs and emoji are single tokens (``StandardTokenizer.java:43-57`` types).

Positions are 0-based term positions (Lucene's positionIncrement chain
started at -1 + increments of 1 yields the same 0-based sequence).
"""

from __future__ import annotations

import re
from typing import NamedTuple

__all__ = [
    "Token",
    "fold_accents",
    "ENGLISH_STOP_WORDS",
    "MAX_TOKEN_LENGTH_DEFAULT",
    "tokenize",
    "lowercase",
    "analyze",
    "analyze_with_offsets",
]

MAX_TOKEN_LENGTH_DEFAULT = 255

#: Lucene's classic 33-word English stop set
#: (``analysis/common/.../en/EnglishAnalyzer.java:46-52``). The
#: StandardAnalyzer DEFAULT is the EMPTY set (StandardAnalyzer.java:51-53).
ENGLISH_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)


class Token(NamedTuple):
    term: str
    pos: int


# --- character classes (ASCII + common Unicode subset) ---------------------
# CJK ranges emitted as per-char (ideographic) or per-run (katakana) tokens.
_IDEO = "一-鿿㐀-䶿豈-﫿぀-ゟ가-힯"
_KATA = "゠-ヿㇰ-ㇿ"
_EMOJI = "\U0001f000-\U0001fbff☀-➿⬀-⯿️"

_MID_LETTER = ".:'’"  # MidLetter ∪ MidNumLet ∪ SingleQuote (letters ctx)
_MID_NUM = ".,;'’"  # MidNum ∪ MidNumLet ∪ SingleQuote (digits ctx)
_MID_ALL = ".:'’,;"


def _build_extend_class() -> str:
    """UAX#29 Extend subset: combining marks (Mn/Mc/Me) join the token
    of the character they follow (WB4: X × Extend) — the piece of the
    word-break spec Indic scripts need (Devanagari matras are Mn/Mc and
    not ``\\w``). Scope: BMP-and-below up to the batch kernel's LUT
    limit (0x1FC00); the katakana voiced marks U+3099/309A keep their
    pinned CJK handling and NFC-covered Latin marks change nothing on
    precomposed text. Returns a compressed regex range class."""
    import unicodedata

    cps = []
    for cp in range(0x1FC00):
        ch = chr(cp)
        if cp in (0x3099, 0x309A):
            continue
        if unicodedata.category(ch) in ("Mn", "Mc", "Me") and not ch.isalnum():
            cps.append(cp)
    # compress to ranges
    out = []
    i = 0
    while i < len(cps):
        j = i
        while j + 1 < len(cps) and cps[j + 1] == cps[j] + 1:
            j += 1
        if j > i:
            out.append(f"{chr(cps[i])}-{chr(cps[j])}")
        else:
            out.append(chr(cps[i]))
        i = j + 1
    return "".join(out)


_EXTEND = _build_extend_class()
_EXTEND_RE = re.compile(rf"[{_EXTEND}]+")  # a leading mark run (.match)

# A raw candidate: word chars (Extend marks may continue but never start
# a token), with single mid-chars only in the interior. Validation of
# mid-char context (letter vs digit) happens in _split_candidate.
_TOKEN_RE = re.compile(
    rf"[\w](?:[\w{_EXTEND}]|[{_MID_ALL}][\w{_EXTEND}])*"  # word-ish run
    rf"|[{_EMOJI}]",  # emoji single
    re.UNICODE,
)

_MID_SET = set(_MID_ALL)
_IDEO_RE = re.compile(rf"[{_IDEO}]")


_EXT_SET_RE = re.compile(rf"[{_EXTEND}]")


def _is_letter(ch: str) -> bool:
    # ALetter approximation: a Unicode letter that is not CJK/Katakana.
    # Extend marks count (WB4 attaches them to the preceding letter, so
    # a mid-char whose neighbour carries a mark still joins).
    return (
        ch.isalpha() or _EXT_SET_RE.match(ch) is not None
    ) and not _IDEO_RE.match(ch) and ch not in _MID_SET


def _split_candidate(cand: str) -> list[tuple[int, int]]:
    """Split a raw candidate at mid-chars whose context is invalid, and
    break CJK ideographs into single-char tokens. Returns the parts as
    ``(start, end)`` spans within ``cand``, in order."""
    spans: list[tuple[int, int]] = []
    start = 0
    for i, ch in enumerate(cand):
        if ch in _MID_SET:
            prev, nxt = cand[i - 1], cand[i + 1]
            ok = (
                (ch in _MID_LETTER and _is_letter(prev) and _is_letter(nxt))
                or (ch in _MID_NUM and prev.isdigit() and nxt.isdigit())
            )
            if not ok:
                spans.append((start, i))
                start = i + 1
        elif _IDEO_RE.match(ch):
            spans.append((start, i))
            spans.append((i, i + 1))  # one token per ideograph
            start = i + 1
    spans.append((start, len(cand)))
    return [(s, e) for s, e in spans if e > s]


def _spans(text: str):
    """StandardTokenizer's candidate loop: yields each raw token as
    ``(term, start, end)``, in order, before any length limit or filter."""
    for m in _TOKEN_RE.finditer(text):
        cand = m.group(0)
        base = m.start()
        if len(cand) == 1 or not (set(cand) & _MID_SET or _IDEO_RE.search(cand)):
            yield cand, base, m.end()
            continue
        for s, e in _split_candidate(cand):
            # a part may start with Extend marks (the char after an
            # invalid mid): marks never START a token — trim, drop empty
            lead = _EXTEND_RE.match(cand, s, e)
            if lead:
                s = lead.end()
            if s < e:
                yield cand[s:e], base + s, base + e


def tokenize(text: str, max_token_length: int = MAX_TOKEN_LENGTH_DEFAULT) -> list[Token]:
    """StandardTokenizer: raw (not lowercased, not stop-filtered) tokens with
    0-based positions; over-long tokens are skipped but consume a position."""
    return [
        Token(term, pos)
        for pos, (term, _s, _e) in enumerate(_spans(text))
        if len(term) <= max_token_length  # skippedPositions
    ]


def lowercase(term: str) -> str:
    """LowerCaseFilter: ``Character.toLowerCase`` per code point
    (``analysis/LowerCaseFilter.java:46``). ``str.lower()`` applies
    Unicode's Final_Sigma context and turns a word-final ``Σ`` into
    ``ς``; per code point ``Σ`` is always ``σ``, the term the batch
    tokenizer indexes. A ``ς`` in the text stays ``ς``. U+0130 keeps
    ``str.lower()``'s two code points: the batch tokenizer sends the
    documents that hold it to this chain."""
    if "Σ" in term:
        term = term.replace("Σ", "σ")
    return term.lower()


_lowercase = lowercase  # the chain's ``lowercase`` keyword shadows the name


def fold_accents(term: str) -> str:
    """Accent folding: NFD + combining-mark strip — the relational-
    oracle-reproducible core of ``ASCIIFoldingFilter.java`` (identical to
    utf8proc/DuckDB ``strip_accents``; ligature/ß expansions of the full
    Lucene table are deliberately NOT applied, documented divergence)."""
    import unicodedata

    if term.isascii():
        return term
    return "".join(
        c
        for c in unicodedata.normalize("NFD", term)
        if not unicodedata.combining(c)
    )


def analyze_with_offsets(
    text: str,
    *,
    lowercase: bool | str = True,
    stopwords: frozenset[str] = frozenset(),
    max_token_length: int = MAX_TOKEN_LENGTH_DEFAULT,
    strip_possessive: bool = False,
    fold_ascii: bool = False,
    stemmer: str | None = None,
    elide: frozenset[str] | None = None,
    stem_exclusions: frozenset[str] | None = None,
    pre_stop: frozenset[str] | None = None,
    apostrophe: bool = False,
    cjk_bigrams: bool = False,
    cjk_unigrams: bool = False,
    zwnj_to_space: bool = False,
) -> list[tuple[str, int, int, int]]:
    """Full analyzer chain → ``[(term, pos, start, end)]``, where
    ``text[start:end]`` is the source span of each surviving token (the
    highlighter's ANALYSIS offset source). Sub-tokens of a split
    candidate (``obj.2method`` → ``obj``, ``2method``) get their exact
    sub-spans; filters rewrite the term but keep the ORIGINAL span, like
    Lucene's token filters.

    Default = Lucene StandardAnalyzer (lowercase, NO stopwords). The
    EnglishAnalyzer chain
    (``analysis/common/.../en/EnglishAnalyzer.java:46-52``: possessive →
    lowercase → stop → PorterStem) = ``stopwords=ENGLISH_STOP_WORDS,
    strip_possessive=True, stemmer="porter"``. The FrenchAnalyzer chain
    (``fr/FrenchAnalyzer.java:130-136``: elision → lowercase → stop →
    FrenchLightStem) = ``elide=FRENCH_ARTICLES,
    stopwords=FRENCH_STOP_WORDS, stemmer="french_light"`` — elision runs
    BEFORE the stop filter (an elided article may expose a stopword).
    We lowercase before the possessive strip / elision — equivalent,
    since both are case-insensitive and lowercasing preserves
    apostrophes. Positions keep gaps across dropped tokens.

    ``pre_stop``: a case-insensitive position-preserving stop set applied
    to RAW tokens before any other filter — IrishAnalyzer's
    StopFilter(HYPHENATIONS) slot (``ga/IrishAnalyzer.java:121``).
    ``lowercase="irish"`` selects IrishLowerCaseFilter semantics: elision
    runs FIRST (on original casing, like the reference chain order
    ``ga/IrishAnalyzer.java:120-128``), then the Irish fold
    (:func:`oracle.light_stemmers.irish_lower`).

    ``apostrophe=True`` inserts ApostropheFilter
    (``tr/ApostropheFilter.java``) before the case fold, and
    ``lowercase="turkish"`` selects TurkishLowerCaseFilter's
    dotted/dotless-i semantics — together the TurkishAnalyzer chain
    (``tr/TurkishAnalyzer.java:109-118``).

    ``zwnj_to_space=True`` is PersianCharFilter: length-preserving, so
    spans stay valid against the original text.

    ``cjk_bigrams=True`` selects the CJKAnalyzer chain
    (``cjk/CJKAnalyzer.java:95-103``): width fold → lowercase → CJK
    bigrams (positions RENUMBER over the emitted stream) → stop;
    ``cjk_unigrams=True`` adds the unigram+bigram combined mode
    (bigrams stack at posInc 0). The width fold runs before
    tokenization, so spans index the folded text. See ``oracle/cjk.py``."""
    from lucene_solr_spark.oracle.light_stemmers import (
        apostrophe_strip,
        french_elide,
        irish_lower,
        resolve_fold,
        turkish_lower,
    )
    from lucene_solr_spark.oracle.light_stemmers import (
        resolve_with_exclusions as _resolve,
    )
    from lucene_solr_spark.oracle.porter import strip_possessive as _sp

    stem = _resolve(stemmer, stem_exclusions)
    if zwnj_to_space:
        # PersianCharFilter (fa/PersianCharFilter.java:24-41): ZWNJ →
        # space BEFORE tokenization, a length-preserving char filter
        text = text.replace("‌", " ")
    if cjk_bigrams:
        # CJKAnalyzer chain: width fold pre-tokenize (see oracle/cjk.py
        # docstring), lowercase raw tokens, bigram merge (positions
        # renumber over the emitted stream), THEN stop (gaps preserved)
        from lucene_solr_spark.oracle.cjk import cjk_bigram_stream, width_fold

        raw = [
            (t, s, e)
            for t, _p, s, e in analyze_with_offsets(
                width_fold(text),
                lowercase=lowercase,
                max_token_length=max_token_length,
            )
        ]
        out = []
        for term, pos, s, e in cjk_bigram_stream(
            raw, output_unigrams=cjk_unigrams
        ):
            if term in stopwords:
                continue
            if stem is not None:
                term = stem(term)
            out.append((term, pos, s, e))
        return out
    out = []
    for pos, (term, s, e) in enumerate(_spans(text)):
        if len(term) > max_token_length:
            continue  # skipped, but pos was consumed (skippedPositions)
        if pre_stop is not None and _lowercase(term) in pre_stop:
            continue  # consumed its position — gap preserved
        if apostrophe:
            term = apostrophe_strip(term)
        if lowercase == "irish":
            if elide:
                term = french_elide(term, elide)
            term = irish_lower(term)
        elif lowercase == "turkish":
            term = turkish_lower(term)
        elif isinstance(lowercase, str):
            # named fold from the FOLDS registry (arabic/persian/… —
            # the custom LowerCaseFilter(+normalization) chain slot)
            term = resolve_fold(lowercase)(term)
        else:
            if lowercase:
                term = _lowercase(term)
            if strip_possessive:
                term = _sp(term)
            if elide:
                term = french_elide(term, elide)
        if fold_ascii:
            term = fold_accents(term)
        if term in stopwords:
            continue
        if stem is not None:
            term = stem(term)
        out.append((term, pos, s, e))
    return out


def analyze(text: str, **chain) -> list[Token]:
    """:func:`analyze_with_offsets` without the spans: ``[Token(term,
    pos)]`` under the same keyword arguments."""
    return [Token(t, p) for t, p, _s, _e in analyze_with_offsets(text, **chain)]
