"""Search execution: staged pruning, then decode+confirm survivors.

Mirrors the reference's staged search
(/root/reference/components/core/src/clp/Grep.cpp:81-139 and
Query.hpp:103-121,168-241):
  (1) timestamp-range predicate → parquet/Iceberg scan pruning (free);
  (2+3) the compiled per-token interpretation branches
      (compiler.py, GrepCore.hpp:139-403) become ONE Catalyst filter over
      the encoded columns: logtype-ID sets from wildcard matches against
      the logtype dictionary (DictionaryReader.hpp:274-290), var-ID sets
      from exact/wildcard var-dict scans → arrays_overlap, exact int/float
      encodings → array_contains. An infeasible token (dictionary miss)
      ⇒ empty result with no data scan. The branch algebra (what
      'any', 'split' and an infeasible branch mean) lives once, in
      CompiledQuery.fold; `id_condition` supplies its leaves and
      combiners, and the clp_s ClpString filter reuses it;
  (4) decode only surviving rows and wildcard-confirm them in the same
      Arrow pass (Grep.cpp:115-132): the decode kernel runs the confirm
      as an RE2 regex (wildcard.wildcard_to_re2) and returns only hits.

All prefilters are supersets; the confirm is exact ⇒ results are exact.
Dictionary matching runs driver-side on the collected dicts (CLP loads
dictionaries in memory too — DictionaryReader.hpp:241-290); above
`_MAX_DRIVER_DICT_ROWS` the same candidate-ID questions become
distributed dict-frame filters (_SparkDictIndex). Any ID set larger
than `_MAX_ISIN_IDS` degrades that branch to *unconstrained* (never
truncated) so pruning weakens gracefully while staying a superset.

The collected index and the decode broadcasts (parsed templates, dense
var values) live on an `ArchiveDicts`, both built from one collect of
each dictionary: search_sinks passes the one its opened Archive handle
keeps across queries, while search() over bare frames prepares a fresh
one per call.
"""

from __future__ import annotations

import operator
from functools import cached_property, reduce
from typing import Callable, NamedTuple

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from clp_spark.config import PLACEHOLDER_FLOAT, PLACEHOLDER_INT
from clp_spark.search.compiler import CompiledQuery, compile_query
from clp_spark.search.decode import decode_prepared, decode_tables
from clp_spark.search.wildcard import (
    has_wildcard,
    wildcard_to_java_regex,
    wildcard_to_re2,
    wildcard_to_regex,
)
from clp_spark.util import forget_zip_importers

# above this many candidate IDs a branch stops constraining (supersets
# only — never a truncated ID list, which would drop matching rows)
_MAX_ISIN_IDS = 4096
# above this many dict rows, don't collect to the driver: candidate IDs
# come from distributed dict-frame filters (_SparkDictIndex), and decode
# takes its join-based path
_MAX_DRIVER_DICT_ROWS = 2_000_000


class _DictIndex:
    """Driver-side dictionaries with memoized pattern matching."""

    def __init__(self, lt_rows, var_rows):
        self.lt_rows = lt_rows      # list[(logtype_id, logtype)]
        self.var_rows = var_rows    # list[(var_id, value)]
        self._cache: dict = {}

    def logtype_ids(self, pattern: str, ignore_case: bool):
        """IDs of templates fullmatching the wildcard pattern; None ⇒
        too many (degrade to unconstrained)."""
        key = ("lt", pattern, ignore_case)
        if key not in self._cache:
            rx = wildcard_to_regex(pattern, ignore_case)
            ids = {i for i, t in self.lt_rows if rx.fullmatch(t) is not None}
            self._cache[key] = None if len(ids) > _MAX_ISIN_IDS else ids
        return self._cache[key]

    def var_ids_exact(self, text: str, ignore_case: bool):
        key = ("vx", text, ignore_case)
        if key not in self._cache:
            if ignore_case:
                t = text.lower()
                ids = {i for i, v in self.var_rows if v.lower() == t}
            else:
                ids = {i for i, v in self.var_rows if v == text}
            self._cache[key] = None if len(ids) > _MAX_ISIN_IDS else ids
        return self._cache[key]

    def var_ids(self, pattern: str, ignore_case: bool):
        key = ("vw", pattern, ignore_case)
        if key not in self._cache:
            rx = wildcard_to_regex(pattern, ignore_case)
            ids = {i for i, v in self.var_rows if rx.fullmatch(v) is not None}
            self._cache[key] = None if len(ids) > _MAX_ISIN_IDS else ids
        return self._cache[key]

    def lt_with_placeholder(self, ph: str):
        """IDs of templates containing the placeholder byte (superset:
        escaped occurrences included — they are vanishingly rare)."""
        key = ("ph", ph)
        if key not in self._cache:
            self._cache[key] = {i for i, t in self.lt_rows if ph in t}
        return self._cache[key]


class _SparkDictIndex:
    """Distributed candidate-ID discovery for dictionaries too large to
    collect to the driver.

    The reference streams its dictionaries rather than requiring one
    process to hold them (DictionaryReader.hpp:241-290), and SURVEY
    §2.3 prescribes the fallback shape: filter the dict FRAME
    (`var_dict.filter(value rlike ...)`) and prune on the surviving
    IDs. Each question here becomes exactly that (`_dict_cond`) — a
    column-pruned scan over the dict parquet executed once and
    memoized; the bounded matching-ID set (≤ _MAX_ISIN_IDS, else
    unconstrained — the same degrade rule as the driver index) then
    feeds the same IN/arrays_overlap predicates, so stages 2–3 keep
    pruning above _MAX_DRIVER_DICT_ROWS instead of silently falling
    back to decode-everything + confirm. Duck-type-compatible with
    _DictIndex. lt_with_placeholder is capped too: a truncated set
    would let the segment pruner drop units that match via an
    uncollected template."""

    def __init__(self, lt_df: DataFrame, var_df: DataFrame):
        self.frames = {"logtype_id": lt_df, "var_id": var_df}
        self._cache: dict = {}

    def _ids(self, key):
        if key not in self._cache:
            id_col, cond = _dict_cond(key)
            rows = (
                self.frames[id_col].filter(cond).select(id_col)
                .limit(_MAX_ISIN_IDS + 1).collect()
            )
            ids = {r[id_col] for r in rows}
            self._cache[key] = None if len(ids) > _MAX_ISIN_IDS else ids
        return self._cache[key]

    def logtype_ids(self, pattern: str, ignore_case: bool):
        return self._ids(("lt", pattern, ignore_case))

    def var_ids_exact(self, text: str, ignore_case: bool):
        return self._ids(("vx", text, ignore_case))

    def var_ids(self, pattern: str, ignore_case: bool):
        return self._ids(("vw", pattern, ignore_case))

    def lt_with_placeholder(self, ph: str):
        return self._ids(("ph", ph))


class _DictProbes(_SparkDictIndex):
    """A dictionary index that records each question instead of
    answering it: the key stands in for the ID set, and `probes` maps
    every key asked, in order, to its (ID column, condition). The
    archive planner (sinks.plan_archives) scans all archives'
    dictionaries once with one hit column per probe."""

    def __init__(self):
        self.probes: dict = {}

    def _ids(self, key):
        if key not in self.probes:
            self.probes[key] = _dict_cond(key)
        return key


def _dict_cond(key) -> tuple[str, Column]:
    """(ID column, Column over that dictionary frame's rows) for one
    dictionary question, keyed as _SparkDictIndex asks it."""
    kind = key[0]
    if kind == "ph":
        return "logtype_id", F.col("logtype").contains(key[1])
    text, ignore_case = key[1], key[2]
    if kind == "vx":
        if ignore_case:
            return "var_id", F.lower(F.col("value")) == F.lit(text.lower())
        return "var_id", F.col("value") == F.lit(text)
    id_col, col = ("logtype_id", "logtype") if kind == "lt" else ("var_id", "value")
    jrx = wildcard_to_java_regex(text, ignore_case)
    return id_col, F.col(col).rlike("\\A(?:" + jrx + ")\\z")


def _collect_capped(df: DataFrame, id_col: str, text_col: str, cap: int):
    """[(id, text), ...] of a dictionary frame in one collect; None when
    it holds more than `cap` rows."""
    rows = df.select(id_col, text_col).limit(cap + 1).collect()
    return None if len(rows) > cap else [(r[0], r[1]) for r in rows]


class ArchiveDicts:
    """An archive's two dictionary frames plus what search derives from
    them: the candidate-ID index (stages 2-3) and the decode broadcasts
    (stage 4). Both come from ONE collect of each dictionary, taken on
    first use under one cap (`driver_dict_cap`, default
    _MAX_DRIVER_DICT_ROWS). Above the cap the index is a
    _SparkDictIndex and decode takes the join path, broadcasting the
    logtype dictionary when only the var dictionary is over. An opened
    Archive handle (search/sinks.py) keeps one for its lifetime;
    search() and decode_messages() over bare frames build a fresh one
    per call."""

    def __init__(
        self,
        logtype_dict: DataFrame,
        var_dict: DataFrame,
        driver_dict_cap: int | None = None,
    ):
        self.logtype_dict = logtype_dict
        self.var_dict = var_dict
        self.driver_dict_cap = driver_dict_cap

    @cached_property
    def _rows(self) -> tuple:
        """(lt_rows, var_rows, lt_small): both dictionaries' driver rows,
        or (None, None, lt_small) when either is over the cap (the var
        dictionary is not collected when the logtype one is over)."""
        cap = self.driver_dict_cap
        if cap is None:
            cap = _MAX_DRIVER_DICT_ROWS
        lt = _collect_capped(self.logtype_dict, "logtype_id", "logtype", cap)
        v = None if lt is None else _collect_capped(self.var_dict, "var_id", "value", cap)
        if v is None:
            return None, None, lt is not None
        return lt, v, True

    @cached_property
    def index(self):
        lt, v, _ = self._rows
        if v is None:
            return _SparkDictIndex(self.logtype_dict, self.var_dict)
        return _DictIndex(lt, v)

    @cached_property
    def decoder(self) -> tuple:
        """(b_tpl, b_var, lt_small) for decode_prepared: the parsed
        templates and the dense var values, broadcast once, or
        (None, None, lt_small) for the join path."""
        lt, v, lt_small = self._rows
        if v is None:
            return None, None, lt_small
        sc = self.logtype_dict.sparkSession.sparkContext
        templates, var_text = decode_tables(lt, v)
        return sc.broadcast(templates), sc.broadcast(var_text), True

    def decode(
        self,
        df: DataFrame,
        out_col: str,
        confirm: str | None = None,
        ignore_case: bool = False,
    ) -> DataFrame:
        """`df` with the decoded text as `out_col`. With a `confirm`
        wildcard, only the rows whose text matches it, confirmed in the
        decode pass itself."""
        rx = None if confirm is None else wildcard_to_re2(confirm, ignore_case)
        return decode_prepared(
            df, self.logtype_dict, self.var_dict, self.decoder, out_col, rx
        )


def _id_set_pred(col: str, ids, overlap: bool) -> Column:
    """Membership predicate for an int ID set, built as ONE SQL string.

    Column.isin(ids) / F.array(*lits) marshal one py4j Literal per ID —
    ~1 ms each, so a 4000-ID set costs seconds of driver time per query.
    A single F.expr string is one py4j call and one parse (measured
    ~10× faster at 4k IDs); execution plans are identical (In/InSet).
    """
    body = ",".join(str(int(i)) for i in sorted(ids))
    if overlap:
        return F.expr(f"arrays_overlap({col}, array({body}))")
    return F.expr(f"{col} IN ({body})")


def _branch_ids(br, idx: _DictIndex, ignore_case: bool) -> tuple[str, set] | None:
    """(ID column, candidate IDs) of a dictionary-indexable branch —
    ("logtype_id", templates) for logtype / enc_int / enc_float,
    ("var_id", values) for dictvar; None when the branch is not
    indexable or its ID set is over the cap (unconstrained)."""
    k = br.kind
    if k == "logtype":
        return _ids_or_none("logtype_id", idx.logtype_ids(br.pattern, ignore_case))
    if k in ("enc_int", "enc_float"):
        ph = PLACEHOLDER_INT if k == "enc_int" else PLACEHOLDER_FLOAT
        return _ids_or_none("logtype_id", idx.lt_with_placeholder(ph))
    if k == "dictvar":
        match = idx.var_ids if has_wildcard(br.pattern) else idx.var_ids_exact
        return _ids_or_none("var_id", match(br.pattern, ignore_case))
    return None


def _ids_or_none(col: str, ids) -> tuple[str, set] | None:
    return None if ids is None else (col, ids)


class IdConds(NamedTuple):
    """How a condition over a message's encoded IDs is spelled: the row
    prefilter builds Columns over the sink table (_ROW_CONDS), the clp_s
    ClpString filter SQL strings over one jvals element."""

    enc: Callable      # exact int/float encoding → "vars hold it"
    var_in: Callable   # var-ID set → "vars overlap it"
    lt_in: Callable    # logtype-ID set → "template is one of them"
    any_of: Callable   # [cond, ...] → OR
    all_of: Callable   # [cond, ...] → AND


_ROW_CONDS = IdConds(
    enc=lambda v: F.array_contains("encoded_vars", F.lit(int(v))),
    var_in=lambda ids: _id_set_pred("dict_var_ids", ids, overlap=True),
    lt_in=lambda ids: _id_set_pred("logtype_id", ids, overlap=False),
    any_of=lambda cs: reduce(operator.or_, cs),
    all_of=lambda cs: reduce(operator.and_, cs),
)


def id_condition(cq: CompiledQuery, idx: _DictIndex, conds: IdConds):
    """The compiled query as one condition over encoded IDs (stages
    2+3), or None (unconstrained) or False (infeasible ⇒ no row can
    match). Leaves: an exact encoding must be in the vars, a dictvar's
    candidate var IDs must overlap them; a token's candidate logtype
    IDs merge into one membership test after its other conditions, and
    a merged set over _MAX_ISIN_IDS leaves the token unconstrained."""

    def leaf(br):
        if br.kind == "enc":
            return conds.enc(br.value)
        r = _branch_ids(br, idx, cq.ignore_case)
        if r is None:
            return None
        col, ids = r
        if not ids:
            return False
        return ids if col == "logtype_id" else conds.var_in(ids)

    def any_of(vals):
        lt = set().union(*(v for v in vals if isinstance(v, set)))
        out = [v for v in vals if not isinstance(v, set)]
        if lt:
            if len(lt) > _MAX_ISIN_IDS:
                return None
            out.append(conds.lt_in(lt))
        return conds.any_of(out)

    return cq.fold(leaf, any_of, conds.all_of)


def search(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    query: str,
    ignore_case: bool = False,
    substring: bool = True,
    ts_range: tuple | None = None,
    ts_col: str = "warc_ts",
    path_filter: str | None = None,
    path_col: str = "url",
    decode: bool = True,
    text_col: str = "text",
    require_var_order: bool = False,
    precompiled=None,
) -> DataFrame:
    """Run a wildcard search over an encoded table. Returns matched rows
    (decoded text appended unless decode=False, in which case the caller
    gets the superset prefilter — useful for count-only pipelines that
    still confirm later). `precompiled` lets an alternate front-end (the
    schema/DFA compiler, schema_search.py) supply the CompiledQuery
    while the staged execution stays shared. The dictionaries are
    prepared per call; search_sinks reuses an opened archive's."""
    cq = precompiled or compile_query(
        query, ignore_case=ignore_case, substring=substring
    )
    return run_search(
        encoded, ArchiveDicts(logtype_dict, var_dict), cq,
        ts_range=ts_range, ts_col=ts_col, path_filter=path_filter,
        path_col=path_col, decode=decode, text_col=text_col,
        require_var_order=require_var_order,
    )


def run_search(
    encoded: DataFrame,
    dicts: ArchiveDicts,
    cq: CompiledQuery,
    ts_range: tuple | None = None,
    ts_col: str = "warc_ts",
    path_filter: str | None = None,
    path_col: str = "url",
    decode: bool = True,
    text_col: str = "text",
    require_var_order: bool = False,
) -> DataFrame:
    """The staged search of `search`, over prepared dictionaries."""
    df = encoded

    # (1) timestamp range — inclusive bounds, pushed to the scan
    if ts_range is not None:
        lo, hi = ts_range
        if lo is not None:
            df = df.filter(F.col(ts_col) >= lo)
        if hi is not None:
            df = df.filter(F.col(ts_col) <= hi)
    if path_filter is not None:
        df = df.filter(F.col(path_col) == path_filter)

    if cq.match_all:
        return dicts.decode(df, text_col) if decode else df

    # (2+3) dictionary pushdown: the token predicates ANDed into one
    # filter (one plan analysis per query, not one per token)
    idx = dicts.index
    pred = id_condition(cq, idx, _ROW_CONDS)
    if pred is False:
        return _empty_like(df, dicts, decode, text_col)
    if pred is not None:
        df = df.filter(pred)

    # (3b) optional refinement: query vars must appear IN ORDER as a
    # subsequence of the message's encoded vars (Query.hpp:245-270).
    # Pure pruning — the confirm stage stays exact either way.
    if require_var_order and cq.ordered_vars:
        df = _filter_var_subsequence(df, cq, idx)
        if df is None:
            return _empty_like(encoded.limit(0), dicts, decode, text_col)

    if not decode:
        return df

    # (4) decode only survivors and confirm them in the same Arrow pass:
    # the JVM receives only the hits
    return dicts.decode(df, text_col, cq.confirm_pattern, cq.ignore_case)


def _filter_var_subsequence(df, cq: CompiledQuery, idx: _DictIndex):
    """Keep rows whose encoded_vars contain the query's variable
    encodings in query order (non-contiguous subsequence). Each query
    var is a set of acceptable int64s (dict vars may map to several IDs
    under ignore-case). One mapInArrow kernel (`_var_order_mask`).
    Returns None when a dictionary miss makes the query unsatisfiable."""
    needles: list[np.ndarray] = []
    for kind, v in cq.ordered_vars:
        if kind in ("int", "float"):
            needles.append(np.array([int(v)], np.int64))
        else:
            ids = idx.var_ids_exact(v, cq.ignore_case)
            if ids is None:
                continue  # oversized set: skip this needle (stay superset)
            if not ids:
                return None
            needles.append(np.fromiter(ids, np.int64))
    if not needles:
        return df

    b_needles = df.sparkSession.sparkContext.broadcast(needles)

    def run(batches):
        import pyarrow as pa

        forget_zip_importers()
        nd = b_needles.value
        for rb in batches:
            ev = rb.column("encoded_vars")
            mask = _var_order_mask(
                ev.offsets.to_numpy(zero_copy_only=False),
                ev.values.to_numpy(zero_copy_only=False),
                nd,
            )
            if mask.any():
                yield rb.filter(pa.array(mask))

    return df.mapInArrow(run, schema=df.schema)


def _var_order_mask(offsets, flat, needles) -> np.ndarray:
    """Per row of a list column (`offsets` into `flat`): does the row
    hold one value of each needle, in needle order? Greedy like a
    scalar scan: each row's cursor jumps to the first value at or after
    it that the next needle accepts, and the row keeps iff every jump
    lands inside the row."""
    m = len(flat)
    cur = np.asarray(offsets[:-1], np.int64)
    end = np.asarray(offsets[1:], np.int64)
    keep = np.ones(len(cur), bool)
    pos = np.arange(m + 1, dtype=np.int64)
    for nd in needles:
        hit = np.append(np.isin(flat, nd), True)
        # first accepted index at or after i; m when there is none
        nxt = np.minimum.accumulate(np.where(hit, pos, m)[::-1])[::-1]
        found = nxt[cur]
        keep &= found < end
        cur = np.minimum(found + 1, m)
    return keep


def _empty_like(df, dicts: ArchiveDicts, decode, text_col):
    empty = df.limit(0)
    return dicts.decode(empty, text_col) if decode else empty


# ---- output modes (reference: clo/OutputHandler.hpp) ----


def count_matches(matches: DataFrame) -> DataFrame:
    """--count: single-row total (CountOperator.hpp:14-31 — partial+final
    merge is Catalyst's HashAggregate)."""
    return matches.agg(F.count("*").alias("n"))


def count_by_time(
    matches: DataFrame, bucket_ms: int, ts_col: str = "warc_ts"
) -> DataFrame:
    """--count-by-time B: bucket = floor(ts_ms / B) * B
    (clo/OutputHandler.hpp:271-273)."""
    ts_ms = (F.unix_timestamp(F.col(ts_col)) * 1000 +
             (F.date_format(F.col(ts_col), "SSS")).cast("long"))
    bucket = (F.floor(ts_ms / F.lit(bucket_ms)) * F.lit(bucket_ms)).alias("bucket")
    return matches.groupBy(bucket).agg(F.count("*").alias("n")).orderBy("bucket")


def topk_latest(
    matches: DataFrame, k: int, ts_col: str = "warc_ts", tiebreak: str | None = None
) -> DataFrame:
    """Bounded top-k latest results (clo/OutputHandler.hpp:190-223's
    min-heap → Catalyst TakeOrderedAndProject, no full sort)."""
    order = [F.col(ts_col).desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).desc())
    return matches.orderBy(*order).limit(k)
