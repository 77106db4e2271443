"""ClassicTokenizer / ClassicFilter / ClassicAnalyzer — the pre-3.1
StandardAnalyzer (``analysis/common/src/java/org/apache/lucene/
analysis/classic/ClassicTokenizerImpl.jflex``, ``ClassicTokenizer
.java``, ``ClassicFilter.java``): acronyms, company names, emails,
hostnames, and digit-bearing serial/model numbers survive as single
tokens.

The jflex scanner is longest-match with rule order breaking ties; the
Python port tries every rule's anchored regex at each position and
takes (max length, min rule index). NUM's six union branches register
individually so the union's longest member wins like jflex. The
ACRONYM_DEP compatibility rule is retyped to HOST with its trailing
dot removed (``ClassicTokenizer.java:120-124``); overlong tokens are
skipped with a position gap (``:127-129``).

This is a parity component: the scan is a per-document Python loop
(a pre-tokenization scanner can't use the vocabulary trick), the same
cost class as the other char-level stages; the standard chain's
vectorized kernel remains the hot path.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa

from lucene_solr_spark.oracle.tokenizer import lowercase as _lowercase

__all__ = [
    "classic_tokenize",
    "classic_filter_term",
    "batch_classic_tokenize",
    "ALPHANUM", "APOSTROPHE", "ACRONYM", "COMPANY", "EMAIL", "HOST",
    "NUM", "CJ",
]

ALPHANUM, APOSTROPHE, ACRONYM, COMPANY, EMAIL, HOST, NUM, CJ = range(8)

# Chinese/Japanese (NOT Korean) — ClassicTokenizerImpl.jflex:113
_CJ = (
    "㄀-ㄯ぀-ゟ゠-ヿㇰ-ㇿ"
    "㌀-㍿㐀-䶿一-鿿豈-﫿･-ﾟ"
)
_L = rf"(?:(?![{_CJ}])[^\W\d_])"  # [:letter:] minus CJ
_THAI = "฀-๙"
_AN = rf"(?:{_L}|[{_THAI}]|\d)+"  # ALPHANUM
_A = rf"{_L}+"  # ALPHA
_HD = rf"(?:{_L}|\d)*\d(?:{_L}|\d)*"  # HAS_DIGIT
_P = r"[_\-/.,]"  # P

#: (compiled rule, emitted type) in jflex rule order — scanning takes
#: the longest match, ties to the earliest rule
_RULES: list[tuple[re.Pattern, int]] = [
    (re.compile(_AN), ALPHANUM),
    (re.compile(rf"{_A}(?:'{_A})+"), APOSTROPHE),
    (re.compile(rf"{_L}\.(?:{_L}\.)+"), ACRONYM),
    (re.compile(rf"{_A}[&@]{_A}"), COMPANY),
    (re.compile(rf"{_AN}(?:[.\-_]{_AN})*@{_AN}(?:[.\-]{_AN})+"), EMAIL),
    (re.compile(rf"{_AN}(?:\.{_AN})+"), HOST),
    # NUM: the six union branches individually, so the longest wins
    (re.compile(rf"{_AN}{_P}{_HD}"), NUM),
    (re.compile(rf"{_HD}{_P}{_AN}"), NUM),
    (re.compile(rf"{_AN}(?:{_P}{_HD}{_P}{_AN})+"), NUM),
    (re.compile(rf"{_HD}(?:{_P}{_AN}{_P}{_HD})+"), NUM),
    (re.compile(rf"{_AN}{_P}{_HD}(?:{_P}{_AN}{_P}{_HD})+"), NUM),
    (re.compile(rf"{_HD}{_P}{_AN}(?:{_P}{_HD}{_P}{_AN})+"), NUM),
    (re.compile(rf"[{_CJ}]"), CJ),
    # ACRONYM_DEP — retyped to HOST minus the trailing '.'
    (re.compile(rf"{_AN}\.(?:{_AN}\.)+"), -1),
]


def classic_tokenize(
    text: str, max_token_length: int = 255
) -> list[tuple[str, int, int]]:
    """→ [(term, type, position)]; overlong tokens leave gaps."""
    out: list[tuple[str, int, int]] = []
    i, n = 0, len(text)
    pos = 0
    while i < n:
        best_len, best_idx = 0, -1
        for idx, (rx, _typ) in enumerate(_RULES):
            m = rx.match(text, i)
            if m is not None and m.end() - i > best_len:
                best_len, best_idx = m.end() - i, idx
        if best_len == 0:
            i += 1  # '[^]  { ignore }'
            continue
        term = text[i : i + best_len]
        typ = _RULES[best_idx][1]
        if typ == -1:  # ACRONYM_DEP (ClassicTokenizer.java:120-124)
            term, typ = term[:-1], HOST
        if best_len <= max_token_length:
            out.append((term, typ, pos))
        # else: skippedPositions++ — the slot is consumed, gap stays
        pos += 1
        i += best_len
    return out


def classic_filter_term(term: str, typ: int) -> str:
    """ClassicFilter (``ClassicFilter.java:47-75``): strip trailing
    ``'s`` from APOSTROPHE tokens, strip dots from ACRONYM tokens."""
    if typ == APOSTROPHE and len(term) >= 2 and term[-2] == "'" and term[-1] in "sS":
        return term[:-2]
    if typ == ACRONYM:
        return term.replace(".", "")
    return term


def batch_classic_tokenize(
    texts,
    *,
    max_token_length: int = 255,
    lowercase: bool = True,
    stopwords: frozenset[str] = frozenset(),
):
    """ClassicAnalyzer chain (``ClassicAnalyzer.java``: ClassicTokenizer
    → ClassicFilter → LowerCase → Stop) over a batch → flat
    (doc_idx, terms, pos) arrays, gaps preserved."""
    d_out: list[int] = []
    t_out: list[str] = []
    p_out: list[int] = []
    for di, text in enumerate(texts):
        for term, typ, pos in classic_tokenize(
            "" if text is None else text, max_token_length
        ):
            term = classic_filter_term(term, typ)
            if lowercase:
                term = _lowercase(term)
            if term in stopwords:
                continue  # gap preserved — pos already assigned
            d_out.append(di)
            t_out.append(term)
            p_out.append(pos)
    return (
        np.array(d_out, np.int64),
        pa.array(t_out, pa.string()),
        np.array(p_out, np.int64),
    )
