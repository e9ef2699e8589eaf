"""ClauseFilter — keep rows matching a boolean s-expression over field
equality atoms.

Reference semantics (/root/reference/filter/clausefilter.go:143-282):
  grammar    : clause := '(' ('and'|'or'|'not') clause* ')' | '(' field value ')'
  empty text : keep everything (true)
  '(and)'    : matches nothing (false)     [sic — see parseClauseSexp]
  '(or)'     : matches everything (true)
  '(and X)'  : X         (single-arg collapses to the argument)
  atom       : byte-equality of field value against the literal

The s-expression compiles to a single Catalyst ``Column`` expression, so
short-circuiting, CNF conversion and predicate pushdown come from the
optimizer instead of the reference's hand-rolled tree walk.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, functions as F

from baker_spark.functions import sql_ident, sql_str
from baker_spark.operators.base import Operator, register


def tokenize(text: str) -> list[str]:
    return text.replace("(", " ( ").replace(")", " ) ").split()


def _parse(tokens: list[str], pos: int):
    """Recursive-descent parse -> (node, next_pos); node is a nested list."""
    if tokens[pos] != "(":
        return tokens[pos], pos + 1
    pos += 1
    children = []
    while pos < len(tokens) and tokens[pos] != ")":
        node, pos = _parse(tokens, pos)
        children.append(node)
    if pos >= len(tokens):
        raise ValueError("unbalanced s-expression")
    return children, pos + 1


def parse_sexpr(text: str):
    tokens = tokenize(text)
    if not tokens:
        return None
    node, pos = _parse(tokens, 0)
    if pos != len(tokens):
        raise ValueError(f"trailing tokens in s-expression: {tokens[pos:]}")
    return node


def compile_clause_sql(node, columns: list[str] | None = None) -> str:
    """Compile a parsed s-expression node to a Spark-SQL predicate
    string (round 14): one expr parse instead of ~5 py4j Column round
    trips per atom. Identical expression — names backtick-escaped,
    values single-quote/backslash-escaped, every combinator
    parenthesized like the Column operators were."""
    if node is None:
        return "true"
    if not isinstance(node, list) or not node:
        raise ValueError(f"bad clause node: {node!r}")
    head = node[0]
    args = node[1:]
    if head == "and":
        if not args:
            return "false"  # clausefilter.go:151-156 — '(and)' is false
        return "(" + " AND ".join(compile_clause_sql(a, columns) for a in args) + ")"
    if head == "or":
        if not args:
            return "true"  # clausefilter.go:151-156 — '(or)' is true
        return "(" + " OR ".join(compile_clause_sql(a, columns) for a in args) + ")"
    if head == "not":
        if len(args) != 1:
            raise ValueError("'not' takes exactly one clause")
        return f"(NOT {compile_clause_sql(args[0], columns)})"
    # atom: (field value) — byte equality; empty field == null (baker
    # fidelity). The string cast makes the atom evaluate identically on a
    # natively-typed frame and the all-string record frame.
    if len(node) != 2 or isinstance(node[1], list) or isinstance(head, list):
        raise ValueError(f"cannot interpret clause {node!r}")
    field, value = head, node[1]
    if columns is not None and field not in columns:
        raise KeyError(f"no such field: {field}")
    col = f"cast({sql_ident(field)} as string)"
    if value == "":
        return f"({col} IS NULL OR {col} = '')"
    return f"(coalesce({col}, '') = {sql_str(value)})"


@register
class ClauseFilter(Operator):
    """Keep rows matching a boolean s-expression over field equality
    atoms: (and ...) (or ...) (not ...) (field value); empty clause keeps
    everything (/root/reference/filter/clausefilter.go:14-77)."""

    name = "ClauseFilter"

    def __init__(self, clause: str = ""):
        self.clause = clause.strip()
        self._ast = parse_sexpr(self.clause) if self.clause else None

    def apply(self, df: DataFrame) -> DataFrame:
        if self._ast is None:
            return df
        return df.filter(F.expr(compile_clause_sql(self._ast, df.columns)))
