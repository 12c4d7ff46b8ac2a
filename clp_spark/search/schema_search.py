"""Schema-defined (DFA) parse + search — the non-heuristic query path.

Re-expression of the reference's schema-search engine
(/root/reference/components/core/src/clp/SchemaSearcher.{hpp,cpp},
GrepCore.hpp:150-153 get_matching_schema_types, log-surgeon lexer;
design doc docs/src/dev-docs/design-parsing-wildcard-queries.md): a
user schema file declares delimiters and prioritized named variable
rules (regexes). Compression tokenizes by the schema's delimiters and
classifies each token by the FIRST rule that fullmatches (log-surgeon
priority). Search parses a wildcard query the same way — but a token
containing wildcards is ambiguous, so instead of the default engine's
heuristic character checks, each "could this token be rule k / static
text" question is answered EXACTLY as a regular-language emptiness
test on automata:

    could-be-rule-k  ⇔  L(token) ∩ L(rule_k) ∩ ¬(L(r_1) ∪ … ∪ L(r_{k-1})) ≠ ∅
    could-be-static  ⇔  L(token) ∩ ¬(L(r_1) ∪ … ∪ L(r_n)) ≠ ∅

where L(token) is the wildcard piece's language restricted to
non-delimiter strings. The compiled result is the SAME
CompiledQuery/Branch structure as the heuristic compiler, so the whole
staged executor (dictionary pushdown → row prefilter → decode →
wildcard confirm) runs unchanged; exactness still comes from the
confirm stage, the automata only make the *pruning* non-heuristic.

Spark shape: schema parse is an Arrow-batched mapInPandas with the same
output schema as the default tokenizer. schema_compress_df hands that
frame to the compress dataflow's own tail (pipeline._compress_parsed:
dictionary build, encode, sink id), and search reuses the shared
executor, so the schema path has no dictionary or encode code of its
own.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from clp_spark.config import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    VT_DICT,
    VT_FLOAT,
    VT_INT,
    PipelineConfig,
)
from clp_spark.parse.tokenizer import (
    _ESC_TRANS,
    _INT64_MAX,
    _INT64_MIN,
    _encode_float_packed,
    PARSED_FIELDS,
)
from clp_spark.pipeline import _compress_parsed
from clp_spark.search.automata import (
    _ALL,
    Dfa,
    Nfa,
    determinize,
    dfa_intersect_nfa_nonempty,
    product_nfa,
    regex_nfa,
    union_nfa,
    wildcard_nfa,
)
from clp_spark.search.compiler import (
    _BOUND,
    _MAX_QMARK_SPLITS,
    _MAX_SPLIT_DEPTH,
    _QMARK,
    _STAR,
    Branch,
    CompiledQuery,
    TokenPred,
    _static_pattern,
    _var_pattern,
    _wc_escape,
)

# log-surgeon's default delimiter set (schema-file `delimiters:` line;
# reference-unstructured-schema-file.md)
DEFAULT_DELIMITERS = " \t\r\n:,!;%"


@dataclass(frozen=True)
class SchemaRule:
    """One prioritized variable rule: name, regex pattern (the automata
    subset), and its encoding class ('int' | 'float' | 'dict')."""

    name: str
    pattern: str
    vtype: str = "dict"


@dataclass
class Schema:
    """Ordered rules (first fullmatch wins) + delimiter set."""

    rules: list
    delimiters: str = DEFAULT_DELIMITERS

    # -- lazy compiled artifacts (driver-side; tiny) --
    _res: list = field(default_factory=list, repr=False)
    _nfas: list = field(default_factory=list, repr=False)
    _prio_compl: list = field(default_factory=list, repr=False)
    _all_compl: Dfa | None = field(default=None, repr=False)

    def compiled_res(self) -> list:
        if not self._res:
            import re

            self._res = [re.compile(r.pattern) for r in self.rules]
        return self._res

    def nfas(self) -> list:
        if not self._nfas:
            self._nfas = [regex_nfa(r.pattern) for r in self.rules]
        return self._nfas

    def prio_complement(self, k: int) -> Dfa | None:
        """DFA of ¬(L(r_0) ∪ … ∪ L(r_{k-1})); None for k=0 (no
        higher-priority rules — everything allowed)."""
        if k == 0:
            return None
        while len(self._prio_compl) < k:
            j = len(self._prio_compl) + 1
            self._prio_compl.append(
                determinize(union_nfa(self.nfas()[:j])).complement()
            )
        return self._prio_compl[k - 1]

    def all_complement(self) -> Dfa:
        if self._all_compl is None:
            self._all_compl = determinize(union_nfa(self.nfas())).complement()
        return self._all_compl

    def nondelim(self) -> frozenset:
        return _ALL - frozenset(self.delimiters)


# ---------------------------------------------------------------- parse

def schema_parse_one(msg: str, schema: Schema):
    """Tokenize one message by the schema's delimiters and classify each
    token by its first-fullmatching rule (log-surgeon semantics) →
    (logtype, var_strs, var_types, enc_prelim) — the same row shape the
    default tokenizer produces, so everything downstream is shared."""
    delims = set(schema.delimiters)
    res = schema.compiled_res()
    rules = schema.rules
    lt: list = []
    vs: list = []
    vt: list = []
    ev: list = []
    i, n = 0, len(msg)
    while i < n:
        if msg[i] in delims:
            j = i
            while j < n and msg[j] in delims:
                j += 1
            lt.append(msg[i:j].translate(_ESC_TRANS))
            i = j
            continue
        j = i
        while j < n and msg[j] not in delims:
            j += 1
        tok = msg[i:j]
        i = j
        hit = None
        for k, rx in enumerate(res):
            if rx.fullmatch(tok) is not None:
                hit = k
                break
        if hit is None:
            lt.append(tok.translate(_ESC_TRANS))
            continue
        vtype = rules[hit].vtype
        if vtype == "int":
            try:
                v = int(tok)
            except ValueError:
                v = None
            if v is not None and _INT64_MIN <= v <= _INT64_MAX:
                lt.append(PLACEHOLDER_INT)
                vs.append(tok)
                vt.append(VT_INT)
                ev.append(v)
                continue
        elif vtype == "float":
            try:
                f = _encode_float_packed(tok)
            except ValueError:
                f = None
            if f is not None:
                lt.append(PLACEHOLDER_FLOAT)
                vs.append(tok)
                vt.append(VT_FLOAT)
                ev.append(f)
                continue
        # dict rule, or int/float value the packed encodings can't hold
        lt.append(PLACEHOLDER_DICT)
        vs.append(tok)
        vt.append(VT_DICT)
        ev.append(0)
    return "".join(lt), vs, vt, ev


def schema_parse_df(
    df: DataFrame,
    schema: Schema,
    text_col: str = "text",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Arrow-batched schema parse (tokenize_df mirror — narrow map, no
    shuffle); output columns = passthrough + PARSED_FIELDS."""
    if passthrough is None:
        passthrough = [c for c in ("url", "warc_ts", "lang") if c in df.columns]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema
        if f.name in passthrough
    )
    out_schema = (out_schema + ", " if out_schema else "") + PARSED_FIELDS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lts, vss, vts, evs, nv, nb = [], [], [], [], [], []
            for msg in pdf[text_col]:
                m = msg if msg is not None else ""
                l, s, t, e = schema_parse_one(m, schema)
                lts.append(l)
                vss.append(s)
                vts.append(t)
                evs.append(e)
                nv.append(len(s))
                nb.append(len(m.encode("utf-8")))
            out = pdf[passthrough].copy()
            out["logtype"] = lts
            out["var_strs"] = vss
            out["var_types"] = vts
            out["enc_prelim"] = evs
            out["n_vars"] = nv
            out["raw_bytes"] = nb
            yield out

    from clp_spark.util import spread

    return spread(df.select(*dict.fromkeys(passthrough + [text_col]))).mapInPandas(
        run, schema=out_schema
    )


def schema_compress_df(
    df: DataFrame,
    schema: Schema,
    text_col: str = "text",
    passthrough: list[str] | None = None,
    cfg=None,
):
    """compress_df twin for schema-defined parsing: schema parse, then
    the compress dataflow's own dictionary build, encode and sink id
    (pipeline._compress_parsed). Returns (encoded, logtype_dict,
    var_dict)."""
    cfg = cfg or PipelineConfig()
    return _compress_parsed(schema_parse_df(df, schema, text_col, passthrough), cfg)


# ---------------------------------------------------------------- compile

def _scan_schema(query: str, delims: set):
    """compiler._scan twin with the schema's delimiter set."""
    chars: list = []
    i, n = 0, len(query)
    while i < n:
        c = query[i]
        if c == "\\" and i + 1 < n and query[i + 1] in ("*", "?", "\\"):
            chars.append((query[i + 1], False))
            i += 2
        elif c in ("*", "?"):
            chars.append((c, True))
            i += 1
        else:
            chars.append((c, False))
            i += 1
    runs: list = []
    for c, is_meta in chars:
        kind = "tok" if (is_meta or c not in delims) else "delim"
        if runs and runs[-1][0] == kind:
            runs[-1][1].append((c, is_meta))
        else:
            runs.append((kind, [(c, is_meta)]))
    return runs


def _token_language(piece, lctx, rctx, nondelim: frozenset) -> Nfa:
    """NFA of the strings this token piece could be, as a single
    delimiter-free token (wildcards range over non-delimiters only;
    the '?'-matches-a-delimiter case is handled by split branches)."""
    pat = ["*"] if lctx[0] == _STAR else []
    for c, m in piece:
        pat.append("?" if m else _wc_escape(c))
    if rctx[0] == _STAR:
        pat.append("*")
    return wildcard_nfa("".join(pat), any_set=nondelim)


def _exact_branches(text: str, schema: Schema):
    """No wildcards: classification is exact — mirror schema_parse_one."""
    for k, rx in enumerate(schema.compiled_res()):
        if rx.fullmatch(text) is not None:
            vtype = schema.rules[k].vtype
            if vtype == "int":
                try:
                    v = int(text)
                except ValueError:
                    v = None
                if v is not None and _INT64_MIN <= v <= _INT64_MAX:
                    return [Branch("enc", value=v)]
            elif vtype == "float":
                try:
                    f = _encode_float_packed(text)
                except ValueError:
                    f = None
                if f is not None:
                    return [Branch("enc", value=f)]
            return [Branch("dictvar", pattern=_wc_escape(text))]
    return None  # static text


def _piece_pred_schema(piece, lctx, rctx, schema: Schema, depth: int):
    text = "".join(c for c, _ in piece)
    qmark_idx = [i for i, (c, m) in enumerate(piece) if m and c == "?"]
    star_l = lctx[0] == _STAR
    star_r = rctx[0] == _STAR
    is_exact = not qmark_idx and not star_l and not star_r

    branches: list = []
    if is_exact:
        b = _exact_branches(text, schema)
        if b is not None:
            branches.extend(b)
        else:
            branches.append(
                Branch("logtype", pattern=_static_pattern(piece, lctx, rctx))
            )
    else:
        tok_nfa = _token_language(piece, lctx, rctx, schema.nondelim())
        vp = _var_pattern(piece, lctx, rctx)
        for k, rule_nfa in enumerate(schema.nfas()):
            inter = product_nfa(tok_nfa, rule_nfa)
            compl = schema.prio_complement(k)
            feasible = (
                dfa_intersect_nfa_nonempty(compl, inter)
                if compl is not None
                else _nfa_nonempty(inter)
            )
            if not feasible:
                continue
            vtype = schema.rules[k].vtype
            if vtype == "int":
                branches.append(Branch("enc_int"))
                branches.append(Branch("dictvar", pattern=vp))
            elif vtype == "float":
                branches.append(Branch("enc_float"))
                branches.append(Branch("dictvar", pattern=vp))
            else:
                branches.append(Branch("dictvar", pattern=vp))
        if dfa_intersect_nfa_nonempty(schema.all_complement(), tok_nfa):
            branches.append(
                Branch("logtype", pattern=_static_pattern(piece, lctx, rctx))
            )

    # '?'-as-delimiter splits (bounded, same scheme as the heuristic
    # compiler — the piece's token language above excluded delimiters)
    if qmark_idx:
        if len(qmark_idx) > _MAX_QMARK_SPLITS or depth >= _MAX_SPLIT_DEPTH:
            branches.append(Branch("any"))
        else:
            for qi in qmark_idx:
                left, right = piece[:qi], piece[qi + 1 :]
                parts = []
                if left:
                    parts.append(
                        _piece_pred_schema(left, lctx, (_QMARK,), schema, depth + 1)
                    )
                if right:
                    parts.append(
                        _piece_pred_schema(right, (_QMARK,), rctx, schema, depth + 1)
                    )
                if parts:
                    branches.append(Branch("split", parts=tuple(parts)))
                else:
                    branches.append(Branch("any"))
    if not branches:
        # the token can match NOTHING (e.g. exact text that is neither a
        # rule match nor... unreachable for exact; wildcard pieces whose
        # language is empty). Leave unconstrained — executor treats an
        # empty-branch TokenPred as match-nothing, which is the truth.
        pass
    return TokenPred(branches=tuple(dict.fromkeys(branches)))


def _nfa_nonempty(nfa: Nfa) -> bool:
    """Emptiness by reachability of the accept state over any edges."""
    seen = {nfa.start}
    stack = [nfa.start]
    adj: list = [[] for _ in range(nfa.n)]
    for s, _lab, d in nfa.edges:
        adj[s].append(d)
    while stack:
        s = stack.pop()
        if s == nfa.accept:
            return True
        for d in adj[s]:
            if d not in seen:
                seen.add(d)
                stack.append(d)
    return False


def compile_schema_query(
    query: str, schema: Schema, substring: bool = True
) -> CompiledQuery:
    """Compile a wildcard query against a schema (SchemaSearcher
    analog). Case-sensitive only (the reference's schema path is too —
    lexer DFAs are built over the literal rule alphabets)."""
    q = ("*" + query + "*") if substring else query
    delims = set(schema.delimiters)
    runs = _scan_schema(q, delims)
    match_all = (
        all(k == "tok" and all(m and c == "*" for c, m in cs) for k, cs in runs)
        or not runs
    )
    if match_all:
        return CompiledQuery(
            raw=query, ignore_case=False, match_all=True, confirm_pattern=q
        )
    tokens: list = []
    for ri, (kind, cs) in enumerate(runs):
        if kind == "delim":
            continue
        lctx = ("delim", "".join(c for c, _ in runs[ri - 1][1])) if ri > 0 else (_BOUND,)
        rctx = (
            ("delim", "".join(c for c, _ in runs[ri + 1][1]))
            if ri < len(runs) - 1
            else (_BOUND,)
        )
        pieces: list = [[]]
        for c, m in cs:
            if m and c == "*":
                pieces.append([])
            else:
                pieces[-1].append((c, m))
        last = len(pieces) - 1
        for pi, piece in enumerate(pieces):
            if not piece:
                continue
            pl = lctx if pi == 0 else (_STAR,)
            pr = rctx if pi == last else (_STAR,)
            tokens.append(_piece_pred_schema(piece, pl, pr, schema, depth=0))
    return CompiledQuery(
        raw=query,
        ignore_case=False,
        match_all=False,
        tokens=tokens,
        ordered_vars=[],
        confirm_pattern=q,
    )


def schema_search(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    query: str,
    schema: Schema,
    **kwargs,
) -> DataFrame:
    """Staged search over a schema-compressed table: the automata-
    compiled query drives the shared executor (dict pushdown → row
    prefilter → decode → wildcard confirm)."""
    from clp_spark.search.executor import search

    cq = compile_schema_query(query, schema, kwargs.pop("substring", True))
    return search(
        encoded, logtype_dict, var_dict, query, precompiled=cq, **kwargs
    )
