"""KQL front-end for the JSON engine.

Covers the reference's grammar
(/root/reference/components/core/src/clp_s/search/kql/Kql.g4:1-80) and
visitor semantics (kql.cpp:150-330):

    query    := col ':' '{' query '}'          — nested-object subquery:
                col is PREPENDED to every column inside (kql.cpp:211-218)
             | '(' query ')' | NOT query
             | query (AND|OR) query
             | expression
    expr     := col RANGE_OP (timestamp(...) | literal)
             | col ':' ( list_of_values | timestamp(...) | literal )
             | literal                          — bare value: matches ANY
                column ('*' descriptor, kql.cpp:289-296)
    list     := '(' (AND|OR|NOT)? literal* ')'  — default OR of EQ; NOT =
                AND of inverted EQ (kql.cpp:298-328)
    timestamp(...) := 'timestamp(' "ts" [, "pattern"] ')' — parsed with
                the 36-pattern table (functions/timestamps.py) into epoch
                millis; compares against Integer nodes.

Column descriptors may contain '*' / '?' wildcards; a bare '*' matches
every column, otherwise tokens match level-by-level ('a.*.c'). De
Morgan / normalization passes (OrOfAndForm.*, ConstantProp.*) are
unnecessary here: conditions compile to Catalyst boolean Columns and
Catalyst's BooleanSimplification does the rest (SURVEY §2.6).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from clp_spark.clps.encoder import JsonArchive
from clp_spark.clps.search import json_predicate, schema_candidates
from clp_spark.search.wildcard import has_wildcard

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lpar>\()|(?P<rpar>\))
      | (?P<lbrace>\{)|(?P<rbrace>\})
      | (?P<comma>,)
      | (?P<op>>=|<=|>|<|:)
      | (?P<quoted>"(?:[^"\\]|\\.)*")
      | (?P<word>[^\s(),:<>"{}]+)
    )""",
    re.X,
)

_KINDS = ("lpar", "rpar", "lbrace", "rbrace", "comma", "op", "quoted", "word")


def _tokenize(q: str) -> list[tuple[str, str]]:
    out = []
    i = 0
    while i < len(q):
        m = _TOKEN_RE.match(q, i)
        if m is None:
            if q[i:].strip() == "":
                break
            raise ValueError(f"KQL tokenize error at: {q[i:]!r}")
        i = m.end()
        for kind in _KINDS:
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    return out


def _parse_value(tok_kind: str, tok: str):
    if tok_kind == "quoted":
        return tok[1:-1].replace('\\"', '"').replace("\\\\", "\\")
    low = tok.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    if low == "null":
        return None
    try:
        return int(tok)
    except ValueError:
        pass
    try:
        return float(tok)
    except ValueError:
        pass
    return tok


def parse_kql_timestamp(ts_str: str) -> int:
    """timestamp("...") literal → epoch millis, via the same 36-pattern
    table ingestion uses (the reference calls its TimestampPattern
    parser here: kql.cpp:82-145)."""
    from clp_spark.functions.timestamps import match_leading_timestamp

    pid, ts_ms, prefix, _tz, rest = match_leading_timestamp(ts_str)
    if pid is None or prefix != "" or rest.strip() != "":
        raise ValueError(f"unparseable timestamp literal: {ts_str!r}")
    return ts_ms


def _is_kw(tok, *kws) -> bool:
    return tok[0] == "word" and tok[1].lower() in kws


class _Parser:
    def __init__(self, tokens, archive: JsonArchive, ignore_case: bool = False):
        self.toks = tokens
        self.i = 0
        self.archive = archive
        self.ignore_case = ignore_case
        self.prefix: list[str] = []  # nested-query column prefix stack
        self.prune_nodes: list[int] = []
        self.prunable = True  # only pure positive AND/atom trees prune

    def _false(self) -> Column:
        """Never-matching predicate — a hook so grammar subclasses with a
        non-Column predicate algebra (ir/search.py's per-event closures)
        can reuse this parser unchanged."""
        return F.lit(False)

    def peek(self, ahead: int = 0):
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self) -> Column:
        c = self.or_expr()
        if self.i != len(self.toks):
            raise ValueError(f"trailing tokens: {self.toks[self.i:]}")
        return c

    def or_expr(self) -> Column:
        c = self.and_expr()
        while _is_kw(self.peek(), "or"):
            self.next()
            self.prunable = False
            c = c | self.and_expr()
        return c

    def and_expr(self) -> Column:
        c = self.unary()
        while _is_kw(self.peek(), "and"):
            self.next()
            c = c & self.unary()
        return c

    def unary(self) -> Column:
        kind, tok = self.peek()
        if _is_kw((kind, tok), "not"):
            self.next()
            self.prunable = False
            return ~self.unary()
        if kind == "lpar":
            self.next()
            c = self.or_expr()
            k, _ = self.next()
            if k != "rpar":
                raise ValueError("expected ')'")
            return c
        return self.condition()

    # ---- conditions -------------------------------------------------

    def _full_path(self, path: str) -> str:
        return ".".join(self.prefix + [path]) if self.prefix else path

    def _pred(self, path: str, op: str, value) -> Column:
        full = self._full_path(path)
        if full.startswith("$"):
            return self._range_index_pred(full[1:], op, value)
        pred, nodes = json_predicate(
            self.archive, full, op, value, self.ignore_case
        )
        self.prune_nodes += nodes
        return pred

    def _range_index_pred(self, field: str, op: str, value) -> Column:
        """'$'-namespace metadata filter → row-index range predicate
        (EvaluateRangeIndexFilters.{hpp,cpp}: filters on range-index
        fields like _filename rewrite into log_event_idx ranges; no
        matching range → EmptyExpr). The rewritten predicate is a plain
        comparison on the archive's idx column, so parquet min/max
        pushdown prunes row groups — metadata is never stored per row."""
        from clp_spark.search.wildcard import wildcard_match

        ri = self.archive.range_index
        if ri is None:
            raise ValueError(
                f"query references ${field} but the archive has no "
                "range index (encode with range_index_fields=...)"
            )

        def _matches(v) -> bool:
            if op == "exists":
                return v is not None
            if v is None:
                return False
            if op == "eq":
                if isinstance(value, str) and isinstance(v, str):
                    val, vv = (
                        (value.lower(), v.lower())
                        if self.ignore_case
                        else (value, v)
                    )
                    if has_wildcard(val):
                        return wildcard_match(val, vv)
                    return vv == val
                return v == value
            if not isinstance(v, (int, float)) or isinstance(v, bool):
                return False
            if not isinstance(value, (int, float)) or isinstance(value, bool):
                return False
            if op == "gt":
                return v > value
            if op == "gte":
                return v >= value
            if op == "lt":
                return v < value
            return v <= value

        idx = F.col(self.archive.range_index_idx_col)
        pred = None
        for entry in ri:
            if _matches(entry["fields"].get(field)):
                p = (idx >= entry["idx_min"]) & (idx <= entry["idx_max"])
                pred = p if pred is None else (pred | p)
        return self._false() if pred is None else pred

    def _timestamp_value(self) -> int:
        """Consume 'timestamp' '(' "ts" [',' "pattern"] ')' (the word
        'timestamp' was already consumed by the caller)."""
        k, _ = self.next()
        if k != "lpar":
            raise ValueError("expected '(' after timestamp")
        vk, vt = self.next()
        if vk != "quoted":
            raise ValueError("timestamp() needs a quoted string")
        ts_str = _parse_value(vk, vt)
        k, tok = self.next()
        if k == "comma":
            pk, _pt = self.next()
            if pk != "quoted":
                raise ValueError("timestamp() pattern must be quoted")
            # explicit pattern: the 36-pattern table is tried in order
            # anyway; the pattern arg is accepted for grammar parity
            k, tok = self.next()
        if k != "rpar":
            raise ValueError("expected ')' closing timestamp()")
        return parse_kql_timestamp(ts_str)

    def condition(self) -> Column:
        kind, path = self.next()
        if kind not in ("word", "quoted"):
            raise ValueError(f"expected a field name or value, got {path!r}")
        if kind == "quoted":
            raw = path
            path = path[1:-1]
        else:
            raw = path
        okind, op = self.peek()
        if okind != "op":
            # bare value_expression: matches ANY column (kql.cpp:289-296)
            self.prunable = False  # '*' column gives no schema pruning
            return self._any_column_eq(_parse_value(kind, raw))
        self.next()
        if op == ":":
            vkind, vtok = self.peek()
            if vkind == "lbrace":
                return self._nested_query(path)
            if vkind == "lpar":
                return self._list_of_values(path)
            if vkind == "word" and vtok.lower() == "timestamp" and self.peek(1)[0] == "lpar":
                self.next()
                return self._pred(path, "eq", self._timestamp_value())
            vkind, vtok = self.next()
            if vkind not in ("word", "quoted"):
                raise ValueError(f"expected a value for {path!r}")
            if vkind == "word" and vtok == "*":
                return self._pred(path, "exists", None)
            return self._pred(path, "eq", _parse_value(vkind, vtok))
        # range operator
        cmp_op = {">": "gt", ">=": "gte", "<": "lt", "<=": "lte"}[op]
        vkind, vtok = self.next()
        if vkind == "word" and vtok.lower() == "timestamp" and self.peek()[0] == "lpar":
            return self._pred(path, cmp_op, self._timestamp_value())
        if vkind not in ("word", "quoted"):
            raise ValueError(f"expected a value for {path!r}")
        val = _parse_value(vkind, vtok)
        if not isinstance(val, (int, float)) or isinstance(val, bool):
            raise ValueError("range comparison needs a numeric literal")
        return self._pred(path, cmp_op, val)

    def _nested_query(self, col: str) -> Column:
        """col: { q } — every column inside q resolves under col
        (prepend_column, kql.cpp:211-218)."""
        self.next()  # consume '{'
        self.prefix.append(col)
        try:
            c = self.or_expr()
        finally:
            self.prefix.pop()
        k, _ = self.next()
        if k != "rbrace":
            raise ValueError("expected '}' closing nested query")
        return c

    def _list_of_values(self, path: str) -> Column:
        """col: (v1 v2 ...) — default OR of EQ; (and ...) AND; (not ...)
        AND of inverted EQ (kql.cpp:298-328). An OR list keeps schema
        prunability: every branch references the same column, so a match
        must contain one of that path's nodes."""
        self.next()  # consume '('
        mode = "or"
        if _is_kw(self.peek(), "and", "or", "not") and self.peek(1) != (None, None):
            mode = self.next()[1].lower()
        preds: list[Column] = []
        while self.peek()[0] in ("word", "quoted"):
            vk, vt = self.next()
            if vk == "word" and vt.lower() == "timestamp" and self.peek()[0] == "lpar":
                val = self._timestamp_value()
            else:
                val = _parse_value(vk, vt)
            preds.append(self._pred(path, "eq", val))
        k, _ = self.next()
        if k != "rpar":
            raise ValueError("expected ')' closing value list")
        if not preds:
            return self._false()
        if mode == "not":
            self.prunable = False
            out = ~preds[0]
            for p in preds[1:]:
                out = out & ~p
            return out
        out = preds[0]
        for p in preds[1:]:
            out = (out & p) if mode == "and" else (out | p)
        return out

    def _any_column_eq(self, value) -> Column:
        pred, _ = json_predicate(
            self.archive, "*", "eq", value, self.ignore_case
        )
        return pred


def kql_query(
    archive: JsonArchive, query: str, ignore_case: bool = False
) -> DataFrame:
    """Filter the archive's encoded rows with a KQL expression
    (ignore_case = the clp_s CLI's -i flag)."""
    p = _Parser(_tokenize(query), archive, ignore_case)
    pred = p.parse()
    df = archive.encoded
    if p.prunable and p.prune_nodes:
        # SchemaMatch: a pure AND-of-positive-conditions query can only
        # match records whose schema contains the referenced nodes
        sids = schema_candidates(archive, p.prune_nodes)
        if sids is not None:
            df = df.filter(F.col("schema_id").isin(sids))
    return df.filter(pred)


def kql_count(
    archive: JsonArchive, query: str, ignore_case: bool = False
) -> DataFrame:
    """clp_s `--count`: one row (n) — partial+final hash aggregate over
    the kql-filtered rows (no decode, no collect)."""
    return kql_query(archive, query, ignore_case).agg(F.count("*").alias("n"))


def kql_count_by_time(
    archive: JsonArchive,
    query: str,
    bucket_ms: int,
    ts_col: str,
    ignore_case: bool = False,
) -> DataFrame:
    """clp_s `--count-by-time B`: bucket = floor(ts_ms / B) * B over a
    timestamp passthrough column (the archive's configured
    timestamp_key analog; clo/OutputHandler.hpp:271-273 bucketing)."""
    from clp_spark.search.executor import count_by_time

    return count_by_time(kql_query(archive, query, ignore_case), bucket_ms, ts_col)
