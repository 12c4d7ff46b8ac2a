"""In-stream KQL evaluation for KV IR streams (kv_ir_search analog).

The reference searches kv-pair IR streams directly — no archive build —
by deserializing events one-by-one and evaluating the parsed KQL
expression against each (clp_s/kv_ir_search.{hpp,cpp}:26-36,
deserialize_and_search_kv_ir_stream). This module compiles a KQL query
into a per-event Python predicate with the SAME grammar and value
semantics as the archive path:

  - grammar: `clps/kql.py:_Parser` is reused verbatim via subclassing —
    only the leaf-predicate constructors are overridden, so nested
    queries, value lists, timestamp() literals, quoted paths, NOT/AND/OR
    and bare value expressions all behave identically;
  - scalar matching mirrors `clps/search.py:json_predicate`'s typed-node
    semantics (bool/null match on EQ only, int and float literals cross
    numeric types, strings match on EQ only with wildcard +
    case-insensitive support);
  - a path that dead-ends at an array is evaluated INSIDE the array with
    the exact same `_eval_array_value` the archive uses
    (QueryRunner.cpp:541-693 semantics, shared code — not a re-impl).

Namespaces: the default namespace resolves against user-generated keys;
an `@`-prefixed path resolves against the auto-generated schema tree
(clp_s/archive_constants.hpp cAutogenNamespace). `$`-prefixed
range-index filters are archive-only and raise here.
"""

from __future__ import annotations

from clp_spark.clps.kql import _Parser, _tokenize
from clp_spark.clps.search import _eval_array_value
from clp_spark.search.wildcard import has_wildcard, wildcard_match, wildcard_to_regex

_MISSING = object()


class IrPred:
    """Boolean predicate over a deserialized KV event — a closure with
    Column-like `& | ~` algebra so `_Parser` can combine leaves."""

    __slots__ = ("fn",)

    def __init__(self, fn):
        self.fn = fn

    def __call__(self, event) -> bool:
        return self.fn(event)

    def __and__(self, other: "IrPred") -> "IrPred":
        a, b = self.fn, other.fn
        return IrPred(lambda ev: a(ev) and b(ev))

    def __or__(self, other: "IrPred") -> "IrPred":
        a, b = self.fn, other.fn
        return IrPred(lambda ev: a(ev) or b(ev))

    def __invert__(self) -> "IrPred":
        a = self.fn
        return IrPred(lambda ev: not a(ev))


def _cmp(v, value, op: str) -> bool:
    if op == "eq":
        return v == value
    if op == "gt":
        return v > value
    if op == "gte":
        return v >= value
    if op == "lt":
        return v < value
    return v <= value


def _match_scalar(v, op: str, value, ignore_case: bool) -> bool:
    """Leaf-value match with json_predicate's typed-node semantics."""
    if isinstance(v, bool):
        return op == "eq" and isinstance(value, bool) and v == value
    if isinstance(v, (int, float)):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            return False
        return _cmp(v, value, op)
    if v is None:
        return op == "eq" and value is None
    if isinstance(v, str):
        if op != "eq" or not isinstance(value, str):
            return False
        a, b = (value.lower(), v.lower()) if ignore_case else (value, v)
        return wildcard_match(a, b) if has_wildcard(a) else a == b
    return False  # dict (empty-object leaf) matches nothing but exists


def _iter_leaves(v):
    """Every scalar leaf at any depth (for the '*' descriptor — matches
    _path_matcher's bare-'*' any-depth behavior; arrays are opaque to
    '*' exactly as _array_preds skips wildcard paths)."""
    if isinstance(v, dict):
        for sv in v.values():
            yield from _iter_leaves(sv)
    elif not isinstance(v, list):
        yield v


def compile_condition(path: str, op: str, value, ignore_case: bool):
    """One (path, op, value) condition → callable over a record dict."""
    if path == "*":

        def star(root) -> bool:
            return any(
                _match_scalar(lv, op, value, ignore_case) for lv in _iter_leaves(root)
            )

        return star

    toks = path.split(".")
    wild = has_wildcard(path)
    # path tokens match case-SENSITIVELY even under -i, like the
    # archive's _path_matcher (only value comparisons fold case)
    rxs = [wildcard_to_regex(t) for t in toks] if wild else None
    n = len(toks)

    def walk(v, i: int) -> bool:
        if i == n:
            if op == "exists":
                # Object (interior / empty-object) nodes are not a
                # matchable column type in the reference — its
                # node_to_literal_type has no ObjectT (SchemaTree.cpp:
                # 12-14 TODO), so `obj: *` resolves to nothing. Match
                # that: EXISTS needs a non-object terminal.
                return not isinstance(v, dict)
            if isinstance(v, list) and not wild:
                # full path lands on an array: leaf elements match
                # (QueryRunner.cpp evaluate_array_filter with no tokens)
                return _eval_array_value(v, toks, n, op, value, ignore_case)
            return _match_scalar(v, op, value, ignore_case)
        if isinstance(v, dict):
            if wild:
                rx = rxs[i]
                return any(
                    walk(sv, i + 1) for k, sv in v.items() if rx.fullmatch(k)
                )
            sv = v.get(toks[i], _MISSING)
            if sv is _MISSING:
                return False
            return walk(sv, i + 1)
        if isinstance(v, list) and not wild:
            # dead-end at an unstructured array: remaining tokens are
            # evaluated inside it — the SAME code path the archive uses
            return _eval_array_value(v, toks, i, op, value, ignore_case)
        return False

    return lambda root: walk(root, 0)


class _IrKqlParser(_Parser):
    """The archive KQL grammar with per-event leaf predicates."""

    def __init__(self, tokens, ignore_case: bool = False):
        super().__init__(tokens, archive=None, ignore_case=ignore_case)

    def _false(self):
        return IrPred(lambda ev: False)

    def _pred(self, path: str, op: str, value) -> IrPred:
        full = self._full_path(path)
        if full.startswith("$"):
            raise ValueError(
                "range-index ('$') filters are archive metadata; "
                "KV IR streams carry no range index"
            )
        if full.startswith("@"):
            ns, p = "auto", full[1:]
        else:
            ns, p = "user", full
        cond = compile_condition(p, op, value, self.ignore_case)
        return IrPred(lambda ev: cond(ev.get(ns) or {}))

    def _any_column_eq(self, value) -> IrPred:
        cond = compile_condition("*", "eq", value, self.ignore_case)
        return IrPred(lambda ev: cond(ev.get("user") or {}))


def parse_kql_ir(query: str, ignore_case: bool = False) -> IrPred:
    """Compile a KQL query string to a predicate over deserialized KV
    events (dicts with "user"/"auto" sub-dicts, as produced by
    kv.deserialize_kv_ir_stream)."""
    return _IrKqlParser(_tokenize(query), ignore_case).parse()
