"""Surround query parser (``queryparser/surround``) — span-oriented
human syntax: infix/prefix ``AND``/``OR``/``NOT`` plus the distance
operators ``W`` (ordered) and ``N`` (unordered) with an optional 2-99
distance prefix (``word1 3W word2``), truncation wildcards ``*``/``?``
in terms, and parentheses.

Re-expression of the JavaCC grammar's precedence chain
(``surround/parser/QueryParser.jj:186-234`` tokens, the OrQuery →
AndQuery → NotQuery → NQuery → WQuery → Primary production ladder) onto
the local IR:

- ``a AND b`` → Boolean MUST; ``a OR b`` → SHOULD; ``a NOT b`` → MUST +
  MUST_NOT (surround NotQuery doc semantics).
- ``a dW b`` / ``a dN b`` → the span algebra with ``slop = d − 1``
  (DistanceQuery.getSpansNearQuery builds SpanNearQuery(d − 1,
  ordered) — ``surround/query/DistanceQuery.java:87-110``); operands
  lift to SpanTermQuery / SpanMultiTermWrapper / SpanOr.
- ``wor*`` → PrefixQuery; ``w?rd?`` → WildcardQuery (SUFFIXTERM /
  TRUNCTERM tokens, the SrndPrefix/SrndTruncQuery pair).
- repeated identical operators compose n-ary (ComposedQuery); two terms
  with NO operator between them are a parse error (the reference's
  Test01Exceptions contract).

Out of scope (documented): quoted terms, ``^boost`` suffixes, and
``field:`` prefixes (single default field here — FieldsQuery's role is
the engine's multi-field executor).
"""

from __future__ import annotations

import re

from ..oracle.tokenizer import lowercase
from . import ir

__all__ = ["SurroundParseError", "parse_surround"]


class SurroundParseError(ValueError):
    pass


_LEX_RE = re.compile(r"\(|\)|,|[^\s(),:^]+")
_DIST_RE = re.compile(r"^(\d{1,2})?([wn])$", re.IGNORECASE)


def _lex(text: str) -> list[str]:
    return _LEX_RE.findall(text)


def _dist_op(tok: str):
    m = _DIST_RE.match(tok)
    if not m:
        return None
    d = int(m.group(1)) if m.group(1) else 1
    if d < 1 or d > 99:
        return None
    return (d, m.group(2).lower() == "w")


class _Parser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def pop(self) -> str:
        tok = self.peek()
        if tok is None:
            raise SurroundParseError("unexpected end of query")
        self.i += 1
        return tok

    # ---- precedence ladder (QueryParser.jj productions) ------------------

    def parse(self) -> ir.Query:
        q = self.or_query()
        if self.peek() is not None:
            raise SurroundParseError(f"unexpected token {self.peek()!r}")
        return q

    def _infix(self, sub, is_op, combine):
        first = sub()
        ops: list = []
        operands = [first]
        while True:
            tok = self.peek()
            op = is_op(tok) if tok is not None else None
            if op is None:
                break
            self.pop()
            operands.append(sub())
            ops.append(op)
        if not ops:
            return first
        return combine(operands, ops)

    def or_query(self) -> ir.Query:
        return self._infix(
            self.and_query,
            lambda t: True if t.lower() == "or" else None,
            lambda qs, _o: ir.BooleanQuery(
                tuple(ir.BooleanClause(ir.Occur.SHOULD, q) for q in qs)
            ),
        )

    def and_query(self) -> ir.Query:
        return self._infix(
            self.not_query,
            lambda t: True if t.lower() == "and" else None,
            lambda qs, _o: ir.BooleanQuery(
                tuple(ir.BooleanClause(ir.Occur.MUST, q) for q in qs)
            ),
        )

    def not_query(self) -> ir.Query:
        return self._infix(
            self.n_query,
            lambda t: True if t.lower() == "not" else None,
            lambda qs, _o: ir.BooleanQuery(
                (ir.BooleanClause(ir.Occur.MUST, qs[0]),)
                + tuple(
                    ir.BooleanClause(ir.Occur.MUST_NOT, q) for q in qs[1:]
                )
            ),
        )

    def n_query(self) -> ir.Query:
        return self._distance(self.w_query, want_ordered=False)

    def w_query(self) -> ir.Query:
        return self._distance(self.primary, want_ordered=True)

    def _distance(self, sub, want_ordered: bool) -> ir.Query:
        # each operator token builds a BINARY DistanceQuery, nesting
        # left-associatively (the W/N productions re-wrap per token —
        # QueryParser.jj:320-350): "a 3w b 3w c" is ((a 3w b) 3w c),
        # each PAIR within distance 3, not one 3-span window
        q = sub()
        while True:
            tok = self.peek()
            op = _dist_op(tok) if tok is not None else None
            if op is None or op[1] != want_ordered:
                break
            d, _ordered = op
            self.pop()
            rhs = sub()
            q = self._make_distance([q, rhs], d, want_ordered)
        return q

    def _make_distance(self, operands, dist: int, ordered: bool) -> ir.Query:
        clauses = tuple(_to_span(q) for q in operands)
        return ir.SpanNearClauseQuery(
            clauses, slop=dist - 1, in_order=ordered
        )

    # ---- primaries -------------------------------------------------------

    def primary(self) -> ir.Query:
        tok = self.peek()
        if tok is None:
            raise SurroundParseError("unexpected end of query")
        if tok == "(":
            self.pop()
            q = self.or_query_inside()
            if self.pop() != ")":
                raise SurroundParseError("expected ')'")
            return q
        if tok == ")" or tok == ",":
            raise SurroundParseError(f"unexpected {tok!r}")
        low = tok.lower()
        if low in ("and", "or", "not") or _dist_op(tok):
            # prefix operator form: OP ( q , q , ... )
            self.pop()
            if self.peek() != "(":
                raise SurroundParseError(f"operator {tok!r} without operands")
            self.pop()
            args = [self.or_query_inside()]
            while self.peek() == ",":
                self.pop()
                args.append(self.or_query_inside())
            if self.pop() != ")":
                raise SurroundParseError("expected ')'")
            if len(args) < 2:
                raise SurroundParseError(
                    f"prefix {tok!r} needs at least two operands"
                )
            if low == "and":
                return ir.BooleanQuery(
                    tuple(ir.BooleanClause(ir.Occur.MUST, q) for q in args)
                )
            if low == "or":
                return ir.BooleanQuery(
                    tuple(ir.BooleanClause(ir.Occur.SHOULD, q) for q in args)
                )
            if low == "not":
                return ir.BooleanQuery(
                    (ir.BooleanClause(ir.Occur.MUST, args[0]),)
                    + tuple(
                        ir.BooleanClause(ir.Occur.MUST_NOT, q)
                        for q in args[1:]
                    )
                )
            # prefix distance form IS n-ary: dW(a, b, c) puts all
            # operands in ONE DistanceQuery (ComposedQuery list)
            d, ordered = _dist_op(tok)
            return self._make_distance(args, d, ordered)
        self.pop()
        return _term_query(tok)

    def or_query_inside(self) -> ir.Query:
        # inside parens / operand lists the full ladder restarts
        return self.or_query()


def _term_query(tok: str) -> ir.Query:
    if tok in ("*", "?") or set(tok) <= {"*", "?"}:
        raise SurroundParseError(f"pure wildcard term {tok!r}")
    term = lowercase(tok)
    if term.endswith("*") and "*" not in term[:-1] and "?" not in term:
        return ir.PrefixQuery(term[:-1])
    if "*" in term or "?" in term:
        return ir.WildcardQuery(term)
    return ir.TermQuery(term)


def _to_span(q: ir.Query) -> ir.Query:
    """Lift a distance operand into the span algebra
    (DistanceSubQuery contract: terms, truncations, OR lists, or nested
    distances)."""
    if isinstance(q, ir.TermQuery):
        return ir.SpanTermQuery(q.term)
    if isinstance(q, (ir.PrefixQuery, ir.WildcardQuery)):
        return ir.SpanMultiTermWrapper(q)
    if isinstance(q, ir.SpanNearClauseQuery):
        return q
    if isinstance(q, ir.BooleanQuery) and all(
        c.occur == ir.Occur.SHOULD for c in q.clauses
    ):
        return ir.SpanOrQuery(tuple(_to_span(c.query) for c in q.clauses))
    raise SurroundParseError(
        f"{type(q).__name__} cannot be a distance operand"
    )


def parse_surround(text: str) -> ir.Query:
    toks = _lex(text)
    if not toks:
        raise SurroundParseError("empty query")
    return _Parser(toks).parse()
