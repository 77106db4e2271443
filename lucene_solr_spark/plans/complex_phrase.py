"""ComplexPhraseQueryParser (``queryparser/complexPhrase/
ComplexPhraseQueryParser.java``) — classic query syntax where QUOTED
PHRASES may embed wildcards, prefixes, fuzzy terms, and alternative
groups, rewritten onto the span algebra:

- ``"jo* smith"`` — a wildcard slot becomes a SpanMultiTermWrapper
  (dictionary-expanded by the executor), phrased by SpanNear.
- ``"(john jon*) smyth~"`` — a parenthesized group is the OR of its
  alternatives (ComplexPhraseQuery.rewrite builds SpanOr over the
  converted disjuncts, :260-310).
- ``"a b"~3`` — slop carries onto the SpanNear; in-order by default
  (``setInOrder(true)`` is the parser default, :82-90).

Outside phrases the classic syntax applies (handled by the same
word-level rules as plans/parser.py): bare words OR together, ``+``
requires, ``-`` excludes.  A phrase whose slots are all plain terms
stays an ordinary PhraseQuery — the span machinery only engages when a
slot genuinely needs expansion (matching the reference, which only
rewrites phrases containing embedded query types).
"""

from __future__ import annotations

import re

from ..oracle.tokenizer import lowercase
from . import ir
from .parser import _word_to_query

__all__ = ["ComplexPhraseParseError", "parse_complex_phrase"]


class ComplexPhraseParseError(ValueError):
    pass


_PHRASE_RX = re.compile(r"\"(?P<body>[^\"]*)\"(?:~(?P<slop>\d+))?")
_CLAUSE_RX = re.compile(
    r"\s*(?P<prefix>[+-]?)\s*(?:"
    r"\"(?P<body>[^\"]*)\"(?:~(?P<slop>\d+))?"
    r"|\((?P<group>[^()]*)\)"
    r"|(?P<word>[^\s()\"]+)"
    r")"
)


_RANGE_RX = re.compile(r"^\[(\S+)\s+TO\s+(\S+)\]$", re.IGNORECASE)


def _phrase_slot(tok: str, fuzzy_prefix_length: int = 0) -> ir.Query:
    """One slot inside a phrase: a word (possibly wildcarded/fuzzy), a
    [lo TO hi] range, or handled upstream as a group."""
    rm = _RANGE_RX.match(tok)
    if rm:
        return ir.TermRangeQuery(lowercase(rm.group(1)), lowercase(rm.group(2)))
    q = _word_to_query(tok)
    if isinstance(q, ir.BoostQuery):
        q = q.query  # boosts inside phrases are dropped (reference :221)
    if getattr(q, "field", None) is not None:
        raise ComplexPhraseParseError(
            "field-qualified terms cannot appear inside a complex phrase"
        )
    if isinstance(q, ir.FuzzyQuery) and fuzzy_prefix_length:
        q = ir.FuzzyQuery(
            q.term,
            max_edits=q.max_edits,
            prefix_length=fuzzy_prefix_length,
            constant_score=q.constant_score,
            max_expansions=q.max_expansions,
        )
    return q


def _to_span_clause(q: ir.Query) -> ir.Query:
    if isinstance(q, ir.TermQuery):
        if q.field is not None:
            raise ComplexPhraseParseError(
                "field-qualified terms cannot appear inside a complex phrase"
            )
        return ir.SpanTermQuery(q.term)
    if isinstance(q, (ir.PrefixQuery, ir.WildcardQuery, ir.FuzzyQuery,
                      ir.TermRangeQuery)):
        return ir.SpanMultiTermWrapper(q)
    if isinstance(q, (ir.SpanOrQuery, ir.SpanTermQuery, ir.SpanNotQuery)):
        return q
    raise ComplexPhraseParseError(
        f"{type(q).__name__} cannot appear inside a complex phrase"
    )


def _parse_phrase(body: str, slop: int, fuzzy_prefix_length: int = 0) -> ir.Query:
    """Build the phrase query from its body text."""
    slots: list[ir.Query] = []
    pos = 0
    while pos < len(body):
        m = re.match(
            r"\s*(?:\((?P<group>[^()]*)\)"
            r"|(?P<word>\[[^\]]*\]|[^\s()]+))",
            body[pos:],
        )
        if not m or m.end() == 0:
            break
        pos += m.end()
        if m.group("group") is not None:
            pos_alts: list[ir.Query] = []
            neg_alts: list[ir.Query] = []
            for w in m.group("group").split():
                if w.upper() == "OR":
                    continue
                if w.startswith("-") and len(w) > 1:
                    neg_alts.append(_phrase_slot(w[1:], fuzzy_prefix_length))
                else:
                    pos_alts.append(_phrase_slot(w, fuzzy_prefix_length))
            if not pos_alts:
                raise ComplexPhraseParseError(
                    "group in phrase needs a positive alternative"
                )
            inc = (
                ir.SpanOrQuery(tuple(_to_span_clause(a) for a in pos_alts))
                if len(pos_alts) > 1
                else _to_span_clause(pos_alts[0])
            )
            if neg_alts:
                exc = (
                    ir.SpanOrQuery(
                        tuple(_to_span_clause(a) for a in neg_alts)
                    )
                    if len(neg_alts) > 1
                    else _to_span_clause(neg_alts[0])
                )
                # "(jo* -john)" — the group's negatives carve out of the
                # positives' spans (SpanNot, reference rewrite :279-299)
                slots.append(ir.SpanNotQuery(inc, exc))
            else:
                slots.append(
                    inc
                    if not isinstance(inc, (ir.SpanTermQuery,))
                    or len(pos_alts) > 1
                    else pos_alts[0]
                )
        else:
            slots.append(_phrase_slot(m.group("word"), fuzzy_prefix_length))
    if not slots:
        return ir.MatchNoDocsQuery("empty phrase")
    if len(slots) == 1:
        q = slots[0]
        if isinstance(q, (ir.SpanOrQuery, ir.SpanNotQuery, ir.SpanTermQuery)):
            return ir.SpanNearClauseQuery((_to_span_clause(q),), 0, True)
        return q
    if all(isinstance(s, ir.TermQuery) for s in slots):
        return ir.PhraseQuery(tuple(s.term for s in slots), slop=slop)
    return ir.SpanNearClauseQuery(
        tuple(_to_span_clause(s) for s in slots), slop=slop, in_order=True
    )


def parse_complex_phrase(text: str, *, fuzzy_prefix_length: int = 0) -> ir.Query:
    clauses: list[ir.BooleanClause] = []
    pos = 0
    while pos < len(text):
        m = _CLAUSE_RX.match(text, pos)
        if not m or m.end() == pos:
            break
        pos = m.end()
        prefix = m.group("prefix")
        if m.group("body") is not None:
            if '"' in m.group("body"):
                raise ComplexPhraseParseError("phrase inside phrase")
            q = _parse_phrase(
                m.group("body"),
                int(m.group("slop") or 0),
                fuzzy_prefix_length,
            )
        elif m.group("group") is not None:
            q = parse_complex_phrase(
                m.group("group"), fuzzy_prefix_length=fuzzy_prefix_length
            )
        else:
            q = _word_to_query(m.group("word"))
        occur = (
            ir.Occur.MUST
            if prefix == "+"
            else ir.Occur.MUST_NOT
            if prefix == "-"
            else ir.Occur.SHOULD
        )
        clauses.append(ir.BooleanClause(occur, q))
    if not clauses:
        return ir.MatchNoDocsQuery("empty query")
    if len(clauses) == 1 and clauses[0].occur == ir.Occur.SHOULD:
        return clauses[0].query
    if all(c.occur == ir.Occur.MUST_NOT for c in clauses):
        raise ComplexPhraseParseError("pure negative query")
    return ir.BooleanQuery(tuple(clauses))
