"""KQL-style filters over an encoded JSON archive.

The reference parses KQL → AST → normalization → schema match → typed
per-column evaluation (clp_s/search/: kql.cpp, OrOfAndForm, SchemaMatch,
QueryRunner.cpp:321-460 with FilterOperation.hpp:8-17 ops). Spark-first:
the AST/normalization layer IS Catalyst — `json_predicate` compiles one
(path, op, value) condition into an `exists()` predicate Column over the
typed jvals array; conditions compose with `&`/`|`/`~` (or via the
small KQL front-end in clps.kql). `json_filter` additionally applies
the SchemaMatch analog: only schema ids containing the condition's
nodes are scanned.

Ops: EQ NEQ LT GT LTE GTE EXISTS NEXISTS (FilterOperation.hpp:8-17).
Numeric comparisons apply to Integer nodes (and exact-EQ to Boolean);
Float EQ *and* ranges run as long compares on the order-preserving key
(encoder.float_order_key), covering Float and FormattedFloat nodes.
String EQ resolves VarStrings through the var dictionary and ClpStrings
through logtype+vars equality — encoding is injective, so no
decode-confirm stage is needed for exact matches. A wildcard string
value scans the dictionaries (imprecise-var analog) for VarStrings; for
ClpStrings it compiles like a text query and goes through the same
branch algebra (CompiledQuery.fold via executor.id_condition), spelled
as SQL over one jvals element.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

from clp_spark.clps.encoder import (
    NODE_ARRAY,
    NODE_BOOL,
    NODE_CLPSTR,
    NODE_FLOAT,
    NODE_FMTFLOAT,
    NODE_INT,
    NODE_NULL,
    NODE_VARSTR,
    JsonArchive,
    float_order_key,
)
from clp_spark.config import VT_DICT
from clp_spark.parse.tokenizer import parse_one
from clp_spark.search.executor import IdConds, id_condition
from clp_spark.search.wildcard import has_wildcard, wildcard_to_regex

_CMP = {"lt": "<", "gt": ">", "lte": "<=", "gte": ">=", "eq": "="}


# a wildcard column that matches more tree nodes than this cannot build
# a bounded membership predicate — fail loudly rather than truncate
_MAX_WILDCARD_NODES = 100_000


def _path_matcher(pattern: str):
    """Column-descriptor wildcard matcher: '*' alone matches every
    column; otherwise tokens match level-by-level ('a.*.c' — a '*' or
    '?' never crosses a '.', mirroring the reference's per-descriptor
    token matching)."""
    if pattern == "*":
        return lambda p: True
    toks = pattern.split(".")
    rxs = [wildcard_to_regex(t) for t in toks]
    n = len(toks)

    def match(p: str) -> bool:
        pp = p.split(".")
        return len(pp) == n and all(
            r.fullmatch(x) is not None for r, x in zip(rxs, pp)
        )

    return match


def _nodes_for_path(archive: JsonArchive, path: str, tags=None) -> list[int]:
    wild = path == "*" or has_wildcard(path)
    if archive.node_map is not None:
        if not wild:
            return sorted(
                nid
                for (p, t), nid in archive.node_map.items()
                if p == path and (tags is None or t in tags)
            )
        match = _path_matcher(path)
        return sorted(
            nid
            for (p, t), nid in archive.node_map.items()
            if match(p) and (tags is None or t in tags)
        )
    # huge-tree fallback (distributed archive build left node_map=None):
    # the match runs INSIDE the scan (exact equality or a level-bounded
    # Java regex), so only matching nodes are collected
    if not wild:
        cond = F.col("path") == path
    elif path == "*":
        cond = F.lit(True)
    else:
        cond = F.col("path").rlike(_path_java_regex(path))
    if tags is not None:
        cond = cond & F.col("tag").isin(sorted(tags))
    rows = (
        archive.tree.filter(cond)
        .select("node_id")
        .limit(_MAX_WILDCARD_NODES + 1)
        .collect()
    )
    if len(rows) > _MAX_WILDCARD_NODES:
        raise ValueError(
            f"wildcard column {path!r} matches more than "
            f"{_MAX_WILDCARD_NODES} tree nodes"
        )
    return sorted(r["node_id"] for r in rows)


def _path_java_regex(pattern: str) -> str:
    """Anchored Java regex for a column-descriptor wildcard: '*'→[^.]*
    and '?'→[^.] (never crossing a level), other chars escaped."""
    import re as _re

    parts = []
    for tok in pattern.split("."):
        buf = []
        i = 0
        while i < len(tok):
            ch = tok[i]
            if ch == "\\" and i + 1 < len(tok):
                buf.append(_re.escape(tok[i + 1]))
                i += 2
                continue
            if ch == "*":
                buf.append("[^.]*")
            elif ch == "?":
                buf.append("[^.]")
            else:
                buf.append(_re.escape(ch))
            i += 1
        parts.append("".join(buf))
    return "\\A" + "\\.".join(parts) + "\\z"


# above this many candidate schema ids, skip schema pruning (the isin
# filter would be bigger than the benefit; row predicates stay exact)
_MAX_SCHEMA_CANDIDATES = 100_000


def schema_candidates(
    archive: JsonArchive, node_ids: list[int]
) -> list[int] | None:
    """Schema ids whose node set intersects node_ids (SchemaMatch
    analog — archives/tables for other schemas are skipped entirely:
    Output.cpp:66-72). None = don't prune (degraded, still exact)."""
    nodes = set(node_ids)
    if archive.schema_ids is not None:
        return sorted(
            sid for ids, sid in archive.schema_ids.items() if nodes & set(ids)
        )
    # huge-schema-set fallback: DataFrame-side intersect with a cap
    arr = ",".join(str(int(n)) for n in sorted(nodes)) or "-1"
    rows = (
        archive.schema_map.filter(
            F.expr(f"arrays_overlap(node_ids, array({arr}))")
        )
        .select("schema_id")
        .limit(_MAX_SCHEMA_CANDIDATES + 1)
        .collect()
    )
    if len(rows) > _MAX_SCHEMA_CANDIDATES:
        return None
    return sorted(r["schema_id"] for r in rows)


_INT64_MIN = -(2**63)
_INT64_MAX = 2**63 - 1


def _float_key_pred(op: str, value) -> str | None:
    """x.enc predicate string over FLOAT/FMTFLOAT order-keys for
    `stored OP value` with an arbitrary numeric literal (int or float).

    Handles the two places a naive key compare is wrong:
      - ±0.0 share no key (key(-0.0) = -1, key(0.0) = 0) yet compare
        equal as doubles, so predicates touching 0.0 expand to cover
        both keys;
      - an int literal that is not exactly representable as a double
        (> 2^53) sits strictly between two adjacent doubles, so the
        comparison operator shifts to the nearest double's key.
    Returns None when no stored double can satisfy the predicate.
    """
    try:
        d = float(value)
    except OverflowError:
        # |value| beyond the double range: every finite double is on one
        # side of it
        big = value > 0
        if op in ("lt", "lte"):
            return "true" if big else None
        if op in ("gt", "gte"):
            return None if big else "true"
        return None  # eq
    if value == d:
        if d == 0.0:
            return {
                "eq": "x.enc >= -1 AND x.enc <= 0",
                "gt": "x.enc > 0",
                "gte": "x.enc >= -1",
                "lt": "x.enc < -1",
                "lte": "x.enc <= 0",
            }[op]
        k = float_order_key(d)
        return f"x.enc {_CMP[op]} {k}L"
    # value is an int strictly between adjacent doubles; d is nearest
    k = float_order_key(d)
    if op == "eq":
        return None
    if op in ("gt", "gte"):  # stored > value (no double equals value)
        return f"x.enc >= {k}L" if d > value else f"x.enc > {k}L"
    # lt / lte
    return f"x.enc <= {k}L" if d < value else f"x.enc < {k}L"


def _int_cmp_pred(op: str, value: float) -> str | None:
    """x.enc predicate string over INT nodes for `stored OP value` with a
    float literal: bounds round to the enclosing integers (ceil/floor are
    exact on doubles) and clamp to int64. None = no int64 can satisfy."""
    import math

    if op == "eq":
        if value.is_integer() and _INT64_MIN <= value <= _INT64_MAX:
            return f"x.enc = {int(value)}L"
        return None
    if op in ("gt", "gte"):
        bound = math.ceil(value) if op == "gte" else math.floor(value) + 1
        if bound > _INT64_MAX:
            return None
        if bound <= _INT64_MIN:
            return "true"
        return f"x.enc >= {bound}L"
    bound = math.floor(value) if op == "lte" else math.ceil(value) - 1
    if bound < _INT64_MIN:
        return None
    if bound >= _INT64_MAX:
        return "true"
    return f"x.enc <= {bound}L"


def _int_lit_pred(op: str, value: int) -> str | None:
    """x.enc predicate string over INT nodes for an int literal, clamped
    to int64 (a stored NODE_INT is always int64, so an out-of-range
    literal resolves to all-true / impossible, never a raw literal the
    SQL parser would reject). None = no int64 can satisfy."""
    if _INT64_MIN <= value <= _INT64_MAX:
        return f"x.enc {_CMP[op]} {int(value)}L"
    big = value > _INT64_MAX
    if op == "eq":
        return None
    if op in ("gt", "gte"):
        return None if big else "true"
    return "true" if big else None


def _exists_pred(nodes: list[int], value_pred: str | None) -> Column:
    ns = ",".join(map(str, nodes)) or "-1"
    cond = f"array_contains(array({ns}), x.node)"
    if value_pred is not None:
        cond += f" AND ({value_pred})"
    return F.expr(f"exists(jvals, x -> {cond})")


def _has_path_pred(archive: JsonArchive, path: str) -> Column:
    nodes = _nodes_for_path(archive, path)
    return F.arrays_overlap(
        "node_ids", F.array(*[F.lit(int(n)) for n in nodes] or [F.lit(-1)])
    )


# above this many '['-prefixed dictionary values, the array dictionary
# is not collected to the driver: evaluation distributes over the dict
# frame instead (slow-but-exact, never silent misses — the var dict is
# CLP-small by design so this trips only on degenerate corpora)
_MAX_ARRAY_DICT_VALUES = 2_000_000


def _eval_array_value(v, toks, i, op, value, ignore_case) -> bool:
    """Reference-exact filter evaluation INSIDE an unstructured array
    (QueryRunner.cpp evaluate_array_filter_{value,array,object}:567-693):
    objects consume one path token by exact key; nested arrays recurse
    without consuming; leaves match when all tokens are consumed —
    strings wildcard-match on EQ only, numbers compare under every op
    (cross int/float), bool/null on EQ/NEQ."""
    from clp_spark.search.wildcard import wildcard_match

    if isinstance(v, dict):
        if i >= len(toks):
            return False
        sub = v.get(toks[i])
        if sub is None and toks[i] not in v:
            return False
        if i + 1 == len(toks) and op in ("exists", "nexists"):
            return op == "exists"
        return _eval_array_value(sub, toks, i + 1, op, value, ignore_case)
    if isinstance(v, list):
        return any(
            _eval_array_value(el, toks, i, op, value, ignore_case) for el in v
        )
    if i != len(toks) or op in ("exists", "nexists"):
        return False
    if isinstance(v, bool):
        if not isinstance(value, bool) or op not in ("eq", "neq"):
            return False
        return (v == value) if op == "eq" else (v != value)
    if isinstance(v, (int, float)):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            return False
        if op == "eq":
            return v == value
        if op == "neq":
            return v != value
        if op == "gt":
            return v > value
        if op == "gte":
            return v >= value
        if op == "lt":
            return v < value
        return v <= value
    if isinstance(v, str):
        # strings match only under EQ (QueryRunner.cpp:596-606)
        if op != "eq" or not isinstance(value, str):
            return False
        a, b = (value.lower(), v.lower()) if ignore_case else (value, v)
        return wildcard_match(a, b) if has_wildcard(a) else a == b
    if v is None:
        return op == "eq" and value is None
    return False


def _array_candidate_vals(archive: JsonArchive):
    """(var_id, parsed array) for every '['-prefixed dictionary value —
    collected once per archive (the reference keeps a per-archive array
    dictionary and re-parses entries at query time,
    QueryRunner.hpp:137,151). None above the driver cap."""
    cached = getattr(archive, "_arr_vals_cache", None)
    if cached is not None:
        return cached if cached != "over" else None
    rows = (
        archive.var_dict.filter(F.col("value").startswith("["))
        .limit(_MAX_ARRAY_DICT_VALUES + 1)
        .collect()
    )
    if len(rows) > _MAX_ARRAY_DICT_VALUES:
        archive._arr_vals_cache = "over"
        return None
    import json as _json

    vals = []
    for r in rows:
        try:
            obj = _json.loads(r["value"])
        except ValueError:
            continue
        if isinstance(obj, list):
            vals.append((r["var_id"], obj))
    archive._arr_vals_cache = vals
    return vals


def _array_match_ids_distributed(
    archive: JsonArchive, toks, op: str, value, ignore_case: bool
) -> list:
    """Exact fallback above _MAX_ARRAY_DICT_VALUES: evaluate the filter
    inside every '['-prefixed dictionary value as an Arrow-batched
    pandas pass over the var-dict FRAME, returning only the matching
    var_ids (result-sized, not dict-sized). Same per-value semantics as
    the driver path (_eval_array_value — QueryRunner.cpp:541-693); the
    degrade direction is slow-but-exact, never silent misses."""
    import pandas as pd

    df = archive.var_dict.filter(F.col("value").startswith("["))
    b = df.sparkSession.sparkContext.broadcast(
        (list(toks), op, value, ignore_case)
    )

    def run(batches):
        import json as _json

        toks_, op_, value_, ic_ = b.value
        for pdf in batches:
            keep = []
            for vid, text in zip(pdf["var_id"], pdf["value"]):
                try:
                    obj = _json.loads(text)
                except ValueError:
                    continue
                if isinstance(obj, list) and any(
                    _eval_array_value(el, toks_, 0, op_, value_, ic_)
                    for el in obj
                ):
                    keep.append(int(vid))
            yield pd.DataFrame({"var_id": pd.Series(keep, dtype="int64")})

    return [
        r["var_id"]
        for r in df.mapInPandas(run, schema="var_id long").collect()
    ]


def _array_matching_ids(
    archive: JsonArchive, toks, op: str, value, ignore_case: bool
) -> list:
    """var_ids whose stored array text satisfies the condition: the
    driver-collected candidate list under the cap, a distributed
    evaluation (memoized per archive + predicate) above it."""
    vals = _array_candidate_vals(archive)
    if vals is not None:
        return [
            vid
            for vid, arr in vals
            if any(
                _eval_array_value(el, toks, 0, op, value, ignore_case)
                for el in arr
            )
        ]
    cache = getattr(archive, "_arr_match_cache", None)
    if cache is None:
        cache = archive._arr_match_cache = {}
    key = (tuple(toks), op, repr(value), ignore_case)
    if key not in cache:
        cache[key] = _array_match_ids_distributed(
            archive, toks, op, value, ignore_case
        )
    return cache[key]


def _array_preds(
    archive: JsonArchive, path: str, op: str, value, ignore_case: bool
) -> tuple[list[Column], list[int]]:
    """Predicates matching the condition INSIDE unstructured-array nodes
    along every prefix of `path` (the reference resolves a query path
    that dead-ends at an UnstructuredArray node by evaluating the
    remaining tokens inside the stored array text —
    QueryRunner.cpp:541-565). Only exact (non-wildcard) paths."""
    preds: list[Column] = []
    all_nodes: list[int] = []
    if path == "*" or has_wildcard(path):
        return preds, all_nodes
    parts = path.split(".")
    for cut in range(1, len(parts) + 1):
        prefix = ".".join(parts[:cut])
        anodes = _nodes_for_path(archive, prefix, {NODE_ARRAY})
        if not anodes:
            continue
        toks = parts[cut:]
        ids = _array_matching_ids(archive, toks, op, value, ignore_case)
        if ids:
            body = ",".join(f"{int(i)}L" for i in ids)
            preds.append(_exists_pred(anodes, f"x.enc in ({body})"))
            all_nodes += anodes
    return preds, all_nodes


# the ClpString filter's spelling of the compiled query: SQL over one
# jvals element `x` (x.enc = logtype id, x.vars = per-slot dict var ids /
# encoded values). Slot positions are not pinned (arrays_overlap /
# array_contains) — a sound superset; the decode-confirm stage restores
# exactness.
_JVAL_CONDS = IdConds(
    enc=lambda v: f"array_contains(x.vars, {int(v)}L)",
    var_in=lambda ids: "arrays_overlap(x.vars, array({}))".format(
        ",".join(f"{int(i)}L" for i in sorted(ids))
    ),
    lt_in=lambda ids: "x.enc IN ({})".format(
        ",".join(str(int(i)) for i in sorted(ids))
    ),
    any_of=lambda cs: " OR ".join(f"({c})" for c in cs),
    all_of=lambda cs: " AND ".join(f"({c})" for c in cs),
)


def _clpstr_wildcard_pred(
    archive: JsonArchive, cnodes: list[int], pattern: str, ignore_case: bool
) -> Column:
    """EQ with a wildcard value against ClpString nodes
    (QueryRunner.cpp:463-516 evaluate_clp_string_filter): prefilter
    candidates with the same interpretation engine the unstructured
    path uses (search/compiler.py — logtype-dict wildcard scan + var
    conditions, compiled as an AND-of-ORs superset over the jvals
    element), then decode + full-wildcard-confirm survivors (the
    reference's wildcard_match on extract_value). Catalyst evaluates
    the non-UDF prefilter first, so the Arrow confirm only sees
    candidate rows."""
    from clp_spark.clps.encoder import _collect_map
    from clp_spark.search.compiler import compile_query
    from clp_spark.search.decode import _fill_template, parse_template
    from clp_spark.search.wildcard import wildcard_match

    cq = compile_query(pattern, ignore_case, substring=False)
    if cq.match_all:
        return _exists_pred(cnodes, None)

    value_pred = id_condition(cq, archive.dict_index, _JVAL_CONDS)
    if value_pred is False:
        return F.lit(False)  # some token has no feasible encoding

    # decode-confirm: per-archive dictionaries are CLP-small by design;
    # above the cap, per-archive federation bounds each dict (the same
    # loud-degrade rule as _nodes_for_path's wildcard-node cap)
    lt_map = _collect_map(
        archive.logtype_dict,
        _MAX_ARRAY_DICT_VALUES,
        lambda r: (r["logtype_id"], r["logtype"]),
    )
    var_map = _collect_map(
        archive.var_dict, _MAX_ARRAY_DICT_VALUES, lambda r: (r["var_id"], r["value"])
    )
    if lt_map is None or var_map is None:
        raise ValueError(
            "wildcard ClpString match needs the archive dictionaries on "
            f"the driver (> {_MAX_ARRAY_DICT_VALUES} entries); split the "
            "corpus into per-archive dictionaries (federation)"
        )
    spark = archive.encoded.sparkSession
    b_lt = spark.sparkContext.broadcast(lt_map)
    b_v = spark.sparkContext.broadcast(var_map)
    nodeset = set(int(n) for n in cnodes)

    def _confirm_fn(jvals):
        import pandas as pd

        lts = b_lt.value
        vs = b_v.value
        tcache: dict = {}
        out = []
        for jv in jvals:
            ok = False
            for x in jv:
                if int(x["node"]) in nodeset:
                    enc = int(x["enc"])
                    tpl = tcache.get(enc)
                    if tpl is None:
                        tpl = tcache[enc] = parse_template(lts[enc])
                    val = _fill_template(tpl[0], tpl[1], list(x["vars"]), vs)
                    if wildcard_match(pattern, val, ignore_case):
                        ok = True
                        break
            out.append(ok)
        return pd.Series(out)

    _confirm_fn.__annotations__ = {}
    confirm = F.pandas_udf(_confirm_fn, "boolean")
    return _exists_pred(cnodes, value_pred) & confirm(F.col("jvals"))


def json_predicate(
    archive: JsonArchive, path: str, op: str, value=None,
    ignore_case: bool = False,
) -> tuple[Column, list[int]]:
    """One condition → (boolean Column over the encoded frame,
    candidate node ids for schema pruning; empty = not prunable).

    ignore_case (the clp_s CLI's -i flag) affects string comparisons
    only: tokenization is case-insensitive in STRUCTURE (delimiters,
    digit/hex/'='-rules don't depend on letter case), so a lowercased
    template/value comparison is exact."""
    op = op.lower()
    if op == "exists":
        nodes = _nodes_for_path(archive, path)
        pred = _has_path_pred(archive, path)
        ap, an = _array_preds(archive, path, "exists", None, ignore_case)
        for p in ap:
            pred = pred | p
        return pred, nodes + an
    if op == "nexists":
        ex_pred, _ = json_predicate(archive, path, "exists", None, ignore_case)
        return ~ex_pred, []
    if op == "neq":
        eq_pred, _ = json_predicate(archive, path, "eq", value, ignore_case)
        pred = _has_path_pred(archive, path) & ~eq_pred
        ap, an = _array_preds(archive, path, "neq", value, ignore_case)
        for p in ap:
            pred = pred | p
        return pred, _nodes_for_path(archive, path) + an
    if op not in _CMP:
        raise ValueError(f"unknown op: {op}")

    preds: list[Column] = []
    all_nodes: list[int] = []
    if isinstance(value, bool):
        nodes = _nodes_for_path(archive, path, {NODE_BOOL})
        if nodes and op == "eq":
            preds.append(_exists_pred(nodes, f"x.enc = {1 if value else 0}"))
            all_nodes += nodes
    elif isinstance(value, int):
        nodes = _nodes_for_path(archive, path, {NODE_INT})
        if nodes:
            ip = _int_lit_pred(op, value)
            if ip is not None:
                preds.append(_exists_pred(nodes, ip))
                all_nodes += nodes
        # an integral literal also constrains float-typed nodes — the
        # reference's Integral literal matches both column types
        # (clp_s/search/ast/Integral.hpp matches_type &
        # cIntegralLiteralTypes; NarrowTypes.cpp), so 'a > 10' must see
        # {"a": 10.5} stored under a FLOAT node
        fnodes = _nodes_for_path(archive, path, {NODE_FLOAT, NODE_FMTFLOAT})
        if fnodes:
            fp = _float_key_pred(op, value)
            if fp is not None:
                preds.append(_exists_pred(fnodes, fp))
                all_nodes += fnodes
    elif isinstance(value, float):
        # floats are stored as order-preserving int64 keys (encoder.py
        # float_order_key), so EQ *and* ranges are plain long compares;
        # FormattedFloat nodes carry the same key in enc. ±0.0 and
        # huge literals take the expanded predicate (_float_key_pred).
        nodes = _nodes_for_path(archive, path, {NODE_FLOAT, NODE_FMTFLOAT})
        if nodes:
            fp = _float_key_pred(op, value)
            if fp is not None:
                preds.append(_exists_pred(nodes, fp))
                all_nodes += nodes
        # ...and a float literal constrains int-typed nodes ('a < 2.5'
        # must see {"a": 2}) — bounds round to enclosing integers
        inodes = _nodes_for_path(archive, path, {NODE_INT})
        if inodes:
            ip = _int_cmp_pred(op, value)
            if ip is not None:
                preds.append(_exists_pred(inodes, ip))
                all_nodes += inodes
    elif value is None:
        nodes = _nodes_for_path(archive, path, {NODE_NULL})
        if nodes and op == "eq":
            preds.append(_exists_pred(nodes, None))
            all_nodes += nodes
    elif isinstance(value, str):
        if op != "eq":
            raise NotImplementedError("string range comparisons: v1 scope")
        if has_wildcard(value):
            # imprecise var: wildcard scan of the var dictionary
            # (DictionaryReader.hpp:274-290 analog for VarStrings)
            rx = wildcard_to_regex(value, ignore_case)
            ids = [
                r["var_id"]
                for r in archive.var_dict.collect()
                if rx.fullmatch(r["value"]) is not None
            ]
            nodes = _nodes_for_path(archive, path, {NODE_VARSTR})
            if nodes and ids:
                arr = ",".join(f"{int(i)}L" for i in ids)
                preds.append(
                    _exists_pred(nodes, f"array_contains(array({arr}), x.enc)")
                )
                all_nodes += nodes
            # ...and ClpString nodes: the wildcard may match inside a
            # CLP-encoded string (QueryRunner.cpp:463-516) — candidate
            # prefilter from the compiled interpretations, then
            # decode + wildcard-confirm
            cnodes = _nodes_for_path(archive, path, {NODE_CLPSTR})
            if cnodes:
                preds.append(
                    _clpstr_wildcard_pred(archive, cnodes, value, ignore_case)
                )
                all_nodes += cnodes
        elif " " in value:
            lt, vs, vt, ev = parse_one(value)
            if ignore_case:
                lt_ids = [
                    r["logtype_id"]
                    for r in archive.logtype_dict.filter(
                        F.lower(F.col("logtype")) == lt.lower()
                    ).collect()
                ]
            else:
                lt_ids = [
                    r["logtype_id"]
                    for r in archive.logtype_dict.filter(
                        F.col("logtype") == lt
                    ).collect()
                ]
            if lt_ids:
                # per-slot var conditions; dict slots may match several
                # ids under ignore_case (case variants of the value)
                dict_vals = [s for s, t in zip(vs, vt) if t == VT_DICT]
                if ignore_case:
                    rows = archive.var_dict.filter(
                        F.lower(F.col("value")).isin(
                            [v.lower() for v in dict_vals]
                        )
                    ).collect()
                    v_ids = {}
                    for r in rows:
                        v_ids.setdefault(r["value"].lower(), []).append(
                            r["var_id"]
                        )
                    slot_ids = [
                        (v_ids.get(vs[j].lower(), []) if t == VT_DICT else None)
                        for j, t in enumerate(vt)
                    ]
                else:
                    rows = archive.var_dict.filter(
                        F.col("value").isin(dict_vals)
                    ).collect()
                    v_map = {r["value"]: r["var_id"] for r in rows}
                    slot_ids = [
                        ([v_map[vs[j]]] if vs[j] in v_map else [])
                        if t == VT_DICT
                        else None
                        for j, t in enumerate(vt)
                    ]
                ok = all(ids is None or ids for ids in slot_ids)
                if ok:
                    conds = [
                        "x.enc in ("
                        + ",".join(f"{int(i)}L" for i in lt_ids)
                        + ")",
                        f"size(x.vars) = {len(vt)}",
                    ]
                    for j, ids in enumerate(slot_ids):
                        if ids is None:
                            conds.append(f"x.vars[{j}] = {int(ev[j])}L")
                        else:
                            arr = ",".join(f"{int(i)}L" for i in ids)
                            conds.append(f"x.vars[{j}] in ({arr})")
                    nodes = _nodes_for_path(archive, path, {NODE_CLPSTR})
                    preds.append(_exists_pred(nodes, " AND ".join(conds)))
                    all_nodes += nodes
        else:
            if ignore_case:
                vrows = archive.var_dict.filter(
                    F.lower(F.col("value")) == value.lower()
                ).collect()
            else:
                vrows = archive.var_dict.filter(F.col("value") == value).collect()
            if vrows:
                nodes = _nodes_for_path(archive, path, {NODE_VARSTR})
                arr = ",".join(f"{int(r['var_id'])}L" for r in vrows)
                preds.append(_exists_pred(nodes, f"x.enc in ({arr})"))
                all_nodes += nodes

    # unstructured arrays along the path: a query that dead-ends at an
    # UnstructuredArray node evaluates its remaining tokens INSIDE the
    # stored array text (QueryRunner.cpp:541-565) — 'arr.b > 1000'
    # matches {"arr": [{"b": 1001}]} without structurize_arrays
    ap, an = _array_preds(archive, path, op, value, ignore_case)
    preds += ap
    all_nodes += an

    if not preds:
        return F.lit(False), []  # dictionary/tree miss ⇒ provably empty
    pred = preds[0]
    for p in preds[1:]:
        pred = pred | p
    return pred, all_nodes


def json_filter(
    archive: JsonArchive,
    path: str,
    op: str,
    value=None,
    prune_schemas: bool = True,
    ignore_case: bool = False,
):
    """encoded-rows filter for one condition; returns the filtered DF."""
    pred, nodes = json_predicate(archive, path, op, value, ignore_case)
    df = archive.encoded
    if prune_schemas and nodes and op.lower() != "nexists":
        sids = schema_candidates(archive, nodes)
        if sids is not None:
            df = df.filter(F.col("schema_id").isin(sids))
    return df.filter(pred)
