"""Driver-side wildcard-query compiler: ambiguous-token interpretations.

Re-expression of the reference's query compilation
(/root/reference/components/core/src/clp/GrepCore.hpp:139-246
process_raw_query, :251-305 process_var_token, :314-403
generate_logtypes_and_vars_for_subquery). CLP splits the wildcard query
into tokens (a `*` acts as a boundary shared by both neighbors), gives
each ambiguous token a set of *interpretations* — static logtype text,
dictionary variable (wildcard var-dict scan: DictionaryReader.hpp:274-290),
encoded integer, encoded float — and unions the bounded cross-product of
interpretations as subqueries.

Spark-first difference: instead of enumerating the cross-product, we
compile an AND-of-ORs — one OR of interpretation-branches per query
token, ANDed across tokens. By distributivity this is a superset of
CLP's OR-of-ANDs (it forgets cross-token template structure, never rows),
it compiles to ONE Catalyst filter over the encoded columns, and it
cannot blow up combinatorially. Exactness is restored by the mandatory
decode+wildcard-confirm stage on surviving rows (Grep.cpp:115-132).

Soundness invariant (every branch set is a superset of the true rows):
  - a token region in a matching message is a maximal run of token
    chars, so it is either entirely static text or exactly one variable
    (int / float / dict) — each gets a branch when feasible;
  - a `?` may also stand for a *delimiter*, splitting the region in two;
    a dedicated 'split' branch recurses on both halves (bounded);
  - feasibility rules only ever *drop* impossible branches (e.g. a token
    with a literal digit can never be static text: ir/parsing.cpp:74-85),
    never possible ones;
  - anything uncertain degrades to an 'any' (unconstrained) branch.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from clp_spark.oracle.tokenizer import encode_float, encode_int, is_delim
from clp_spark.parse.tokenizer import _ESC_TRANS  # same escaping as compression

# left/right context markers for a token piece
_STAR = "star"      # a `*` wildcard: unanchored side
_QMARK = "qmark"    # a `?` assumed to be a delimiter (split recursion)
_BOUND = "bound"    # query start/end: anchored at message boundary
# ('delim', text): anchored, the adjacent delimiter run is `text`

_MAX_QMARK_SPLITS = 2   # bound the `?`-as-delimiter expansion
_MAX_SPLIT_DEPTH = 3    # (GrepCore.hpp:194-233 bounds its combinations too)


@dataclass(frozen=True)
class Branch:
    """One interpretation of a query token.

    kind:
      'logtype'   — the region is static text: logtype template must
                    wildcard-match `pattern`
      'dictvar'   — the region is a dictionary variable matching
                    `pattern` (no wildcards in pattern ⇒ exact lookup)
      'enc'       — the region is an int/float variable with exact
                    encoding `value` (must appear in encoded_vars)
      'enc_int'   — imprecise integer var: logtype has an int slot
      'enc_float' — imprecise float var: logtype has a float slot
      'split'     — a `?` is a delimiter: AND of `parts` token-preds
      'any'       — unconstrained
    """

    kind: str
    pattern: str | None = None
    value: int | None = None
    parts: tuple = ()


@dataclass(frozen=True)
class TokenPred:
    """OR of interpretation branches for one query token piece."""

    branches: tuple


@dataclass
class CompiledQuery:
    raw: str
    ignore_case: bool
    match_all: bool
    # one TokenPred per token piece; row predicate = AND over tokens of
    # (OR over branches). None ⇒ no prefilterable tokens.
    tokens: list[TokenPred] = field(default_factory=list)
    # exact-token conditions in query order — ("int"|"float", encoding) or
    # ("dict", token) — for the opt-in subsequence refinement
    # (Query.hpp:245-270). Only tokens that are *certainly* variables.
    ordered_vars: list[tuple] = field(default_factory=list)
    # full wildcard pattern for the final confirm on decoded text
    confirm_pattern: str = "*"

    def fold(self, leaf, any_of, all_of):
        """Evaluate the AND-of-ORs: the one reading of the compiled tree
        that the row prefilter, segment pruning, archive planning and
        the clp_s ClpString filter share.

        `leaf(branch)` maps a branch that is neither 'any' nor 'split'
        to a value, None (unconstrained) or False (infeasible).
        `any_of(values)` combines a token's live branches, `all_of(values)`
        a split's parts or the query's tokens; each gets a non-empty
        list in query order and may itself return None. The rules:
          - an 'any' or None branch makes its token None;
          - False branches drop out; a token with nothing left is False;
          - a False part or token makes its AND False;
          - None parts drop out; an AND with nothing left is None.
        A token stops at its first None branch and an AND at its first
        False part, so no leaf is asked what the result cannot use.
        Returns None for a match-all query (no tokens)."""

        def token(tp: TokenPred):
            live = []
            for br in tp.branches:
                if br.kind == "any":
                    return None
                v = conj(br.parts) if br.kind == "split" else leaf(br)
                if v is None:
                    return None
                if v is not False:
                    live.append(v)
            return any_of(live) if live else False

        def conj(tps):
            vals = []
            for tp in tps:
                v = token(tp)
                if v is False:
                    return False
                if v is not None:
                    vals.append(v)
            return all_of(vals) if vals else None

        return conj(self.tokens)


def _scan(query: str):
    """Split a query into runs: ('tok'|'delim', [(char, is_meta)]).

    Escapes (`\\*`, `\\?`, `\\\\`) are resolved here; an escaped wildcard
    is a literal char (and `*`/`?` literals are delimiters). `\\` itself
    is a token char (same delimiter set as compression:
    ir/parsing.cpp:20-24). Meta `*`/`?` belong to token runs — a
    wildcard may stand for token chars.
    """
    chars: list[tuple[str, bool]] = []
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

    runs: list[tuple[str, list]] = []
    for c, is_meta in chars:
        kind = "tok" if (is_meta or not is_delim(c)) else "delim"
        if runs and runs[-1][0] == kind:
            runs[-1][1].append((c, is_meta))
        else:
            runs.append((kind, [(c, is_meta)]))
    return runs


def compile_query(
    query: str, ignore_case: bool = False, substring: bool = True
) -> CompiledQuery:
    """Compile a wildcard query into a prefilter + confirm plan.

    substring=True wraps the query in `*...*` (the reference's CLI
    semantics: a search string is a substring match).
    """
    q = query
    if substring:
        q = "*" + q + "*"

    runs = _scan(q)
    match_all = all(
        k == "tok" and all(m and c == "*" for c, m in cs) for k, cs in runs
    ) or not runs
    if match_all:
        return CompiledQuery(
            raw=query, ignore_case=ignore_case, match_all=True,
            confirm_pattern=q,
        )

    tokens: list[TokenPred] = []
    ordered: list[tuple] = []
    for ri, (kind, cs) in enumerate(runs):
        if kind == "delim":
            continue
        # neighbor context for the run's outermost pieces
        if ri > 0:
            lctx = ("delim", "".join(c for c, _ in runs[ri - 1][1]))
        else:
            lctx = (_BOUND,)
        if ri < len(runs) - 1:
            rctx = ("delim", "".join(c for c, _ in runs[ri + 1][1]))
        else:
            rctx = (_BOUND,)

        # split the run at meta '*' into pieces; each piece keeps a star
        # context on the cut sides (CLP shares the '*' between neighbors)
        pieces: list[list] = [[]]
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
            tp, ov = _piece_pred(piece, pl, pr, depth=0)
            tokens.append(tp)
            if ov is not None:
                ordered.append(ov)

    return CompiledQuery(
        raw=query,
        ignore_case=ignore_case,
        match_all=False,
        tokens=tokens,
        ordered_vars=ordered,
        confirm_pattern=q,
    )


def _piece_pred(piece, lctx, rctx, depth):
    """Branches for one token piece → (TokenPred, ordered_var | None)."""
    text = "".join(c for c, _ in piece)
    qmark_idx = [i for i, (c, m) in enumerate(piece) if m and c == "?"]
    lits = [c for c, m in piece if not m]
    lit_digit = any("0" <= c <= "9" for c in lits)
    lit_alpha = any(c.isalpha() for c in lits)
    star_l = lctx[0] == _STAR
    star_r = rctx[0] == _STAR
    has_wild = bool(qmark_idx) or star_l or star_r
    is_exact = not qmark_idx and not star_l and not star_r
    eq_certain = lctx[0] == "delim" and lctx[1].endswith("=")
    eq_possible = eq_certain or lctx[0] in (_STAR, _QMARK)

    branches: list[Branch] = []
    ordered_var = None

    if is_exact:
        # classification is exact — replicate the compression tokenizer
        # (digit ⇒ int/float/dict by encodability; hex ⇒ dict;
        #  '='-preceded alpha ⇒ dict; else static)
        if lit_digit:
            iv = encode_int(text)
            if iv is not None:
                branches.append(Branch("enc", value=iv))
                ordered_var = ("int", iv)
            else:
                fv = encode_float(text)
                if fv is not None:
                    branches.append(Branch("enc", value=fv))
                    ordered_var = ("float", fv)
                else:
                    branches.append(Branch("dictvar", pattern=text))
                    ordered_var = ("dict", text)
        elif _is_hex(text):
            branches.append(Branch("dictvar", pattern=text))
            ordered_var = ("dict", text)
        elif lit_alpha and eq_certain:
            branches.append(Branch("dictvar", pattern=text))
            ordered_var = ("dict", text)
        elif lit_alpha and eq_possible:
            branches.append(Branch("dictvar", pattern=text))
            branches.append(Branch("logtype", pattern=_static_pattern(piece, lctx, rctx)))
        else:
            branches.append(Branch("logtype", pattern=_static_pattern(piece, lctx, rctx)))
    else:
        # wildcard-touched piece: every feasible interpretation ORs in
        if all(c in "0123456789-" for c in lits):
            branches.append(Branch("enc_int"))
        if all(c in "0123456789-." for c in lits):
            branches.append(Branch("enc_float"))
        # a wildcard can always produce a digit/letter mix ⇒ dict feasible
        branches.append(Branch("dictvar", pattern=_var_pattern(piece, lctx, rctx)))
        # static text feasible unless a literal forces variable-hood
        if not lit_digit and not (eq_certain and lit_alpha) and not (
            not qmark_idx and not star_l and not star_r and _is_hex(text)
        ):
            branches.append(Branch("logtype", pattern=_static_pattern(piece, lctx, rctx)))

    # `?`-as-delimiter splits (a '?' matches delimiters too:
    # string_utils.hpp:119-154) — bounded recursion
    if qmark_idx:
        if len(qmark_idx) > _MAX_QMARK_SPLITS or depth >= _MAX_SPLIT_DEPTH:
            branches.append(Branch("any"))
        else:
            for qi in qmark_idx:
                left, right = piece[:qi], piece[qi + 1 :]
                parts = []
                if left:
                    parts.append(_piece_pred(left, lctx, (_QMARK,), depth + 1)[0])
                if right:
                    parts.append(_piece_pred(right, (_QMARK,), rctx, depth + 1)[0])
                if parts:
                    branches.append(Branch("split", parts=tuple(parts)))
                else:
                    branches.append(Branch("any"))

    return TokenPred(branches=tuple(dict.fromkeys(branches))), ordered_var


def _var_pattern(piece, lctx, rctx) -> str:
    """Wildcard pattern the candidate dictionary variable must fullmatch.

    Anchored on sides bounded by a known delimiter / boundary / assumed
    `?`-delimiter; open (`*`) on wildcard sides.
    """
    out = ["*"] if lctx[0] == _STAR else []
    for c, m in piece:
        out.append("?" if m else _wc_escape(c))
    if rctx[0] == _STAR:
        out.append("*")
    return "".join(out)


def _static_pattern(piece, lctx, rctx) -> str:
    """Wildcard pattern the logtype template must fullmatch when the
    piece is static text. Adjacent delimiter runs anchor the pattern
    (delimiters stay verbatim in the template); unknown contexts open
    with `*`. A `?`-context uses `*` (not `?`) because a placeholder
    byte in static text is stored escaped as two chars."""
    if lctx[0] == "delim":
        out = ["*", _escape_for_pattern(lctx[1])]
    elif lctx[0] == _BOUND:
        out = []
    else:
        out = ["*"]
    for c, m in piece:
        out.append("?" if m else _escape_for_pattern(c))
    if rctx[0] == "delim":
        out.append(_escape_for_pattern(rctx[1]))
        out.append("*")
    elif rctx[0] != _BOUND:
        out.append("*")
    return "".join(out)


def _is_hex(s: str) -> bool:
    return len(s) >= 2 and all(
        "0" <= c <= "9" or "a" <= c <= "f" or "A" <= c <= "F" for c in s
    )


def _wc_escape(s: str) -> str:
    """Escape wildcard metachars so s is literal in a wildcard pattern."""
    return s.replace("\\", "\\\\").replace("*", "\\*").replace("?", "\\?")


def _escape_for_pattern(text: str) -> str:
    """Static query text → how it appears in a logtype template, made
    literal for the wildcard-pattern language (compression escapes
    placeholder bytes and backslashes: ir/parsing.inc)."""
    return _wc_escape(text.translate(_ESC_TRANS))

