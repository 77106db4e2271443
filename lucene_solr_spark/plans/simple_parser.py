"""SimpleQueryParser (``queryparser/simple/SimpleQueryParser.java``) —
the error-tolerant human query syntax: ``+`` AND, ``|`` OR, ``-`` NOT,
``"..."`` phrases (``~N`` slop), trailing ``*`` prefix, ``~N`` fuzzy,
``( )`` precedence, ``\\`` escapes.  Direct re-expression of the
reference's state machine (:150-541) over the local IR; any syntax
garbage degrades instead of erroring.

Left-fold tree building: the running top query absorbs each new branch;
an operator CHANGE wraps the current top as a single clause of a new
parent (:439-474 buildQueryTree), so ``a | b + c`` evaluates the OR
first.  NOT wraps as ``MUST_NOT(branch) SHOULD(MatchAll)`` (:443-448),
double negation cancels (:203-205).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import ir
from ..oracle.tokenizer import analyze, lowercase

__all__ = ["SimpleQueryParser", "parse_simple"]

#: feature flags (SimpleQueryParser.java:109-129); -1 = all
AND_OPERATOR = 1 << 0
NOT_OPERATOR = 1 << 1
OR_OPERATOR = 1 << 2
PREFIX_OPERATOR = 1 << 3
PHRASE_OPERATOR = 1 << 4
PRECEDENCE_OPERATORS = 1 << 5
ESCAPE_OPERATOR = 1 << 6
WHITESPACE_OPERATOR = 1 << 7
FUZZY_OPERATOR = 1 << 8
NEAR_OPERATOR = 1 << 9

#: LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE
_MAX_EDITS = 2

_WS = " \t\n\r"


@dataclass
class _State:
    data: str
    index: int
    length: int
    top: ir.Query | None = None
    current_op: ir.Occur | None = None
    previous_op: ir.Occur | None = None
    not_count: int = 0


class SimpleQueryParser:
    def __init__(
        self,
        *,
        default_operator: ir.Occur = ir.Occur.SHOULD,
        flags: int = -1,
        analyzer_kwargs: dict | None = None,
    ) -> None:
        self.default_operator = default_operator
        self.flags = flags
        self.analyzer_kwargs = dict(analyzer_kwargs or {})

    # ---- public ----------------------------------------------------------

    def parse(self, text: str) -> ir.Query:
        if text.strip() == "*":
            return ir.MatchAllDocsQuery()
        state = _State(text, 0, len(text))
        self._parse_sub(state)
        if state.top is None:
            return ir.MatchNoDocsQuery("empty string passed to query parser")
        return state.top

    # ---- state machine ---------------------------------------------------

    def _has(self, flag: int) -> bool:
        return (self.flags & flag) != 0

    def _parse_sub(self, state: _State) -> None:
        while state.index < state.length:
            ch = state.data[state.index]
            if ch == "(" and self._has(PRECEDENCE_OPERATORS):
                self._consume_subquery(state)
            elif ch == ")" and self._has(PRECEDENCE_OPERATORS):
                state.index += 1
            elif ch == '"' and self._has(PHRASE_OPERATOR):
                self._consume_phrase(state)
            elif ch == "+" and self._has(AND_OPERATOR):
                if state.current_op is None and state.top is not None:
                    state.current_op = ir.Occur.MUST
                state.index += 1
            elif ch == "|" and self._has(OR_OPERATOR):
                if state.current_op is None and state.top is not None:
                    state.current_op = ir.Occur.SHOULD
                state.index += 1
            elif ch == "-" and self._has(NOT_OPERATOR):
                state.not_count += 1
                state.index += 1
                continue  # keep the NOT pending across the loop reset
            elif ch in _WS and self._has(WHITESPACE_OPERATOR):
                state.index += 1
            else:
                self._consume_token(state)
            state.not_count = 0

    def _consume_subquery(self, state: _State) -> None:
        start = state.index = state.index + 1
        precedence = 1
        escaped = False
        while state.index < state.length:
            ch = state.data[state.index]
            if not escaped:
                if ch == "\\" and self._has(ESCAPE_OPERATOR):
                    escaped = True
                    state.index += 1
                    continue
                if ch == "(":
                    precedence += 1
                elif ch == ")":
                    precedence -= 1
                    if precedence == 0:
                        break
            escaped = False
            state.index += 1
        if state.index == state.length:
            state.index = start  # unbalanced: '(' is extraneous
        elif state.index == start:
            state.current_op = None  # "()"
            state.index += 1
        else:
            sub = _State(state.data, start, state.index)
            self._parse_sub(sub)
            self._build_tree(state, sub.top)
            state.index += 1

    def _consume_phrase(self, state: _State) -> None:
        start = state.index = state.index + 1
        copied: list[str] = []
        escaped = False
        has_slop = False
        while state.index < state.length:
            ch = state.data[state.index]
            if not escaped:
                if ch == "\\" and self._has(ESCAPE_OPERATOR):
                    escaped = True
                    state.index += 1
                    continue
                if ch == '"':
                    if (
                        state.length > state.index + 1
                        and state.data[state.index + 1] == "~"
                        and self._has(NEAR_OPERATOR)
                    ):
                        state.index += 1
                        if state.length > state.index + 1:
                            has_slop = True
                        break
                    break
            escaped = False
            copied.append(ch)
            state.index += 1
        if state.index == state.length:
            state.index = start  # unbalanced quote
        elif state.index == start:
            state.current_op = None  # ""
            state.index += 1
        else:
            phrase = "".join(copied)
            slop = self._parse_fuzziness(state) if has_slop else 0
            self._build_tree(state, self._new_phrase_query(phrase, slop))
            state.index += 1

    def _token_finished(self, state: _State) -> bool:
        ch = state.data[state.index]
        return (
            (ch == '"' and self._has(PHRASE_OPERATOR))
            or (ch == "|" and self._has(OR_OPERATOR))
            or (ch == "+" and self._has(AND_OPERATOR))
            or (ch in "()" and self._has(PRECEDENCE_OPERATORS))
            or (ch in _WS and self._has(WHITESPACE_OPERATOR))
        )

    def _consume_token(self, state: _State) -> None:
        copied: list[str] = []
        escaped = False
        prefix = False
        fuzzy = False
        while state.index < state.length:
            ch = state.data[state.index]
            if not escaped:
                if ch == "\\" and self._has(ESCAPE_OPERATOR):
                    escaped = True
                    prefix = False
                    state.index += 1
                    continue
                if self._token_finished(state):
                    break
                if copied and ch == "~" and self._has(FUZZY_OPERATOR):
                    fuzzy = True
                    break
                prefix = bool(copied) and ch == "*" and self._has(PREFIX_OPERATOR)
            escaped = False
            copied.append(ch)
            state.index += 1
        if not copied:
            return
        token = "".join(copied)
        if fuzzy:
            fuzziness = min(self._parse_fuzziness(state), _MAX_EDITS)
            if fuzziness == 0:
                branch = self._new_default_query(token)
            else:
                branch = self._new_fuzzy_query(token, fuzziness)
        elif prefix:
            branch = self._new_prefix_query(token[:-1])
        else:
            branch = self._new_default_query(token)
        self._build_tree(state, branch)

    def _parse_fuzziness(self, state: _State) -> int:
        # SimpleQueryParser.java:487-523: digits after '~'; "" → 2,
        # non-numeric → 0, negative → 0
        slop: list[str] = []
        if state.data[state.index] == "~":
            while state.index < state.length:
                state.index += 1
                if state.index < state.length:
                    if self._token_finished(state):
                        break
                    slop.append(state.data[state.index])
        text = "".join(slop)
        if text == "":
            return 2
        try:
            return max(0, int(text))
        except ValueError:
            return 0

    # ---- tree building ---------------------------------------------------

    def _build_tree(self, state: _State, branch: ir.Query | None) -> None:
        if branch is None:
            return
        if state.not_count % 2 == 1:
            branch = ir.BooleanQuery(
                (
                    ir.BooleanClause(ir.Occur.MUST_NOT, branch),
                    ir.BooleanClause(ir.Occur.SHOULD, ir.MatchAllDocsQuery()),
                )
            )
        if state.top is None:
            state.top = branch
        else:
            if state.current_op is None:
                state.current_op = self.default_operator
            if state.previous_op != state.current_op:
                state.top = ir.BooleanQuery(
                    (ir.BooleanClause(state.current_op, state.top),)
                )
            assert isinstance(state.top, ir.BooleanQuery)
            state.top = ir.BooleanQuery(
                state.top.clauses
                + (ir.BooleanClause(state.current_op, branch),),
                state.top.min_should_match,
            )
            state.previous_op = state.current_op
        state.current_op = None

    # ---- leaf factories (QueryBuilder role, single default field) --------

    def _terms(self, text: str) -> list[str]:
        return [t.term for t in analyze(text, **self.analyzer_kwargs)]

    def _new_default_query(self, text: str) -> ir.Query | None:
        terms = self._terms(text)
        if not terms:
            return None
        if len(terms) == 1:
            return ir.TermQuery(terms[0])
        return ir.BooleanQuery(
            tuple(
                ir.BooleanClause(self.default_operator, ir.TermQuery(t))
                for t in terms
            )
        )

    def _new_phrase_query(self, text: str, slop: int) -> ir.Query | None:
        terms = self._terms(text)
        if not terms:
            return None
        if len(terms) == 1:
            return ir.TermQuery(terms[0])
        return ir.PhraseQuery(tuple(terms), slop=slop)

    def _new_prefix_query(self, text: str) -> ir.Query:
        # analyzer.normalize role: lowercase only (:563)
        return ir.PrefixQuery(lowercase(text))

    def _new_fuzzy_query(self, text: str, fuzziness: int) -> ir.Query:
        # reference FuzzyQuery defaults: scored blended rewrite,
        # transpositions, maxExpansions 50 (:558-567)
        return ir.FuzzyQuery(
            lowercase(text), max_edits=fuzziness, constant_score=False
        )


def parse_simple(text: str, **kw) -> ir.Query:
    return SimpleQueryParser(**kw).parse(text)
