"""Query-string parser → query IR.

Covers the classic Lucene QueryParser subset the luceneutil/wikimedium
benchmark sets exercise (term / +term conjunction / OR lines / "phrase" /
prefix* / fuzzy~ / field-free), matching the reference grammar shape
(``queryparser/.../classic/QueryParserBase.java:112-116`` parse →
``QueryParser.java:222`` TopLevelQuery → getFieldQuery at
``QueryParserBase.java:437``): the analyzer runs on each bare token, one
surviving token → TermQuery, many → PhraseQuery for quoted strings.

Grammar (hand-rolled recursive descent; a JavaCC port is non-idiomatic):

  query     := clause+                      # default operator OR
  clause    := [modifier] atom [boost]
  modifier  := '+' (MUST) | '-' (MUST_NOT)
  boolean   := atom ('AND'|'OR'|'NOT') atom # textual operators
  atom      := '(' query ')' | '"' words '"' [~slop] | word
  word      := prefix* | wild*card? | fuzzy~[n] | [a TO b] | bare term
  boost     := '^' float

Bare terms run through the analyzer (oracle.tokenizer.analyze), so
``Can't`` parses to the token ``can't`` exactly as the reference analyzes
it (``QueryParserBase.java:437`` newFieldQuery → analyzer.tokenStream).
"""

from __future__ import annotations

import re

from lucene_solr_spark.oracle.tokenizer import analyze, lowercase
from lucene_solr_spark.plans import ir

__all__ = ["parse_query", "parse_query_file_line"]

_TOKEN_RX = re.compile(
    r"""
    \s*(?:
      (?P<lparen>\() |
      (?P<rparen>\)) |
      (?P<quoted>(?:(?P<qfield>[A-Za-z_][A-Za-z0-9_]*):)?
                 "(?P<phrase>[^"]*)"(?:~(?P<slop>\d+))?) |
      (?P<and>AND\b) | (?P<or>OR\b) | (?P<not>NOT\b) |
      (?P<plus>\+) | (?P<minus>-) |
      (?P<range>(?:(?P<rfield>[A-Za-z_][A-Za-z0-9_]*):)?
                \[(?P<lo>\S+)\s+TO\s+(?P<hi>\S+)\]) |
      (?P<word>[^\s()+\-][^\s()]*)
    )
    """,
    re.VERBOSE,
)


class _Tok:
    def __init__(self, kind: str, val, extra=None):
        self.kind = kind
        self.val = val
        self.extra = extra

    def __repr__(self):  # pragma: no cover
        return f"_Tok({self.kind},{self.val!r})"


def _lex(s: str) -> list[_Tok]:
    out = []
    pos = 0
    while pos < len(s):
        m = _TOKEN_RX.match(s, pos)
        if not m or m.end() == pos:
            break
        pos = m.end()
        if m.group("lparen"):
            out.append(_Tok("(", "("))
        elif m.group("rparen"):
            out.append(_Tok(")", ")"))
        elif m.group("quoted") is not None:
            out.append(
                _Tok(
                    "phrase",
                    m.group("phrase"),
                    (int(m.group("slop") or 0), m.group("qfield")),
                )
            )
        elif m.group("and"):
            out.append(_Tok("AND", "AND"))
        elif m.group("or"):
            out.append(_Tok("OR", "OR"))
        elif m.group("not"):
            out.append(_Tok("NOT", "NOT"))
        elif m.group("plus"):
            out.append(_Tok("+", "+"))
        elif m.group("minus"):
            out.append(_Tok("-", "-"))
        elif m.group("range"):
            out.append(
                _Tok(
                    "range",
                    (m.group("lo"), m.group("hi")),
                    m.group("rfield"),
                )
            )
        elif m.group("word"):
            out.append(_Tok("word", m.group("word")))
    return out


def _word_to_query(w: str) -> ir.Query:
    boost = None
    bm = re.search(r"\^(\d+(?:\.\d+)?)$", w)
    if bm:
        boost = float(bm.group(1))
        w = w[: bm.start()]
    # field-qualified word: `field:term` (QueryParser.java grammar —
    # getFieldQuery(field, …) at QueryParserBase.java:437)
    fld = None
    fm_field = re.match(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$", w)
    if fm_field:
        fld = fm_field.group(1)
        w = fm_field.group(2)
    q: ir.Query
    fm = re.search(r"~(\d*)$", w)
    if w.endswith("*") and "*" not in w[:-1] and "?" not in w:
        q = ir.PrefixQuery(lowercase(w[:-1]), field=fld)
    elif "*" in w or "?" in w:
        q = ir.WildcardQuery(lowercase(w), field=fld)
    elif fm:
        base = lowercase(w[: fm.start()])
        q = ir.FuzzyQuery(base, max_edits=int(fm.group(1) or 2), field=fld)
    else:
        toks = analyze(w)
        if not toks:
            q = ir.MatchNoDocsQuery()
        elif len(toks) == 1:
            q = ir.TermQuery(toks[0].term, field=fld)
        else:  # analyzer split the word → phrase (QueryParserBase.java:437)
            q = ir.PhraseQuery(tuple(t.term for t in toks), field=fld)
    if boost is not None:
        q = ir.BoostQuery(q, boost)
    return q


class _Parser:
    def __init__(self, toks: list[_Tok], default_and: bool = False):
        self.toks = toks
        self.i = 0
        self.default_occur = ir.Occur.MUST if default_and else ir.Occur.SHOULD

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse(self) -> ir.Query:
        clauses: list[ir.BooleanClause] = []
        pending_op: str | None = None
        while self.peek() is not None and self.peek().kind != ")":
            t = self.peek()
            if t.kind in ("AND", "OR"):
                pending_op = self.next().kind
                continue
            if t.kind == "NOT":
                self.next()
                sub = self.atom()
                clauses.append(ir.BooleanClause(ir.Occur.MUST_NOT, sub))
                pending_op = None
                continue
            occur = self.default_occur
            if t.kind == "+":
                self.next()
                occur = ir.Occur.MUST
            elif t.kind == "-":
                self.next()
                occur = ir.Occur.MUST_NOT
            elif pending_op == "AND":
                # retroactive: a AND b → both MUST (QueryParser conjunction)
                if clauses and clauses[-1].occur == ir.Occur.SHOULD:
                    clauses[-1] = ir.BooleanClause(
                        ir.Occur.MUST, clauses[-1].query
                    )
                occur = ir.Occur.MUST
            elif pending_op == "OR":
                occur = ir.Occur.SHOULD
            sub = self.atom()
            clauses.append(ir.BooleanClause(occur, sub))
            pending_op = None
        if len(clauses) == 1 and clauses[0].occur in (
            ir.Occur.SHOULD,
            ir.Occur.MUST,
        ):
            return clauses[0].query
        return ir.BooleanQuery(tuple(clauses), 0)

    def atom(self) -> ir.Query:
        t = self.next()
        if t.kind == "(":
            q = self.parse()
            if self.peek() is not None and self.peek().kind == ")":
                self.next()
            # trailing boost on the group
            nxt = self.peek()
            if nxt is not None and nxt.kind == "word" and nxt.val.startswith("^"):
                self.next()
                q = ir.BoostQuery(q, float(nxt.val[1:]))
            return q
        if t.kind == "phrase":
            slop, fld = t.extra if t.extra else (0, None)
            toks = analyze(t.val)
            if not toks:
                return ir.MatchNoDocsQuery()
            if len(toks) == 1:
                return ir.TermQuery(toks[0].term, field=fld)
            return ir.PhraseQuery(
                tuple(tk.term for tk in toks), slop=slop, field=fld
            )
        if t.kind == "range":
            lo, hi = t.val
            return ir.TermRangeQuery(
                lowercase(lo), lowercase(hi), True, True, field=t.extra
            )
        if t.kind == "word":
            return _word_to_query(t.val)
        return ir.MatchNoDocsQuery()


def parse_query(s: str, default_and: bool = False) -> ir.Query:
    toks = _lex(s)
    if not toks:
        return ir.MatchNoDocsQuery()
    return _Parser(toks, default_and).parse()


def parse_query_file_line(line: str) -> ir.Query | None:
    """One line of a luceneutil-style query file (``benchmark/conf/
    query-terms.txt`` / ``query-phrases.txt`` pattern); '#' comments and
    blank lines → None."""
    line = line.strip()
    if not line or line.startswith("#"):
        return None
    return parse_query(line)
