"""Decode encoded messages back to original text (the decompressor).

Re-expression of the reference's decode loop
(/root/reference/components/core/src/clp/EncodedVariableInterpreter.hpp:505-579):
walk the logtype template; placeholder 0x11 → int64 as decimal text,
0x13 → 54-bit-packed float unpacked byte-identically, 0x12 → variable
dictionary lookup, '\\' → escaped literal.

Spark shape: dictionaries ship as broadcast variables (CLP itself keeps
both dicts in memory per archive). search.executor.ArchiveDicts
collects each dictionary once and builds both the search index and
these broadcasts from that collect; an opened Archive handle
(search/sinks.py) keeps the result for its lifetime, while
decode_messages over bare frames prepares them per call. Decoding is an
Arrow-batched mapInPandas over only the rows that need text (search
survivors or a full extract). Dictionaries too large to broadcast take
the explode → shuffle-join → regroup path instead, so stage-4 decode
never requires a dictionary to fit on the driver.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from clp_spark.config import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_ESCAPE,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
)
from clp_spark.oracle.tokenizer import decode_float


def parse_template(logtype: str):
    """Template → (static_parts, kinds): len(parts) == len(kinds) + 1,
    kinds[i] sits between parts[i] and parts[i+1]. Parsed once per
    distinct logtype (decode caches per logtype_id — the whole point of
    logtype dictionaries is that they repeat)."""
    parts: list[str] = []
    kinds: list[str] = []
    buf: list[str] = []
    i, n = 0, len(logtype)
    while i < n:
        ch = logtype[i]
        if ch == PLACEHOLDER_ESCAPE and i + 1 < n:
            buf.append(logtype[i + 1])
            i += 2
        elif ch in (PLACEHOLDER_INT, PLACEHOLDER_FLOAT, PLACEHOLDER_DICT):
            parts.append("".join(buf))
            buf.clear()
            kinds.append(ch)
            i += 1
        else:
            buf.append(ch)
            i += 1
    parts.append("".join(buf))
    return parts, kinds


def decode_one(logtype: str, encoded_vars, var_map) -> str:
    return _fill_template(*parse_template(logtype), encoded_vars, var_map)


def _fill_template(parts, kinds, encoded_vars, var_map) -> str:
    if not kinds:
        return parts[0]
    out = [parts[0]]
    for i, k in enumerate(kinds):
        v = encoded_vars[i]
        if k == PLACEHOLDER_INT:
            out.append(str(int(v)))
        elif k == PLACEHOLDER_FLOAT:
            out.append(decode_float(int(v)))
        else:
            out.append(var_map[v])
        out.append(parts[i + 1])
    return "".join(out)


def decode_messages(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    out_col: str = "text",
    driver_dict_cap: int | None = None,
) -> DataFrame:
    """Append the reconstructed original message text.

    Fast path (dictionaries ≤ driver_dict_cap rows each, CLP's own
    model; default search.executor._MAX_DRIVER_DICT_ROWS): broadcast
    both as driver maps, one narrow Arrow pass. Fallback (either
    dictionary too large): dictionary lookups become joins — dict-var
    strings are gathered per row via posexplode → join(var_dict) →
    regroup, the template via a join on logtype_id — so nothing ever
    requires a dictionary to fit on the driver. Both paths produce
    byte-identical text.
    """
    from clp_spark.search.executor import ArchiveDicts

    return ArchiveDicts(logtype_dict, var_dict, driver_dict_cap).decode(
        encoded, out_col
    )


def decode_prepared(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    prepared: tuple,
    out_col: str = "text",
) -> DataFrame:
    """decode_messages with the dictionaries already prepared
    (search.executor.ArchiveDicts.decoder): `prepared` is
    (b_lt, b_v, lt_small), the two broadcast driver maps, or
    (None, None, lt_small) for the join path, which broadcasts the
    logtype dictionary only when lt_small."""
    b_lt, b_v, lt_small = prepared
    if b_lt is None:
        return _decode_messages_joined(
            encoded, logtype_dict, var_dict, out_col, lt_small
        )

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in encoded.schema
    ) + f", {out_col} string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lts = b_lt.value
        vs = b_v.value
        tcache: dict = {}
        for pdf in batches:
            pdf = pdf.copy()
            texts = []
            for lt_id, ev in zip(pdf["logtype_id"], pdf["encoded_vars"]):
                tpl = tcache.get(lt_id)
                if tpl is None:
                    tpl = tcache[lt_id] = parse_template(lts[lt_id])
                texts.append(_fill_template(tpl[0], tpl[1], ev, vs))
            pdf[out_col] = texts
            yield pdf

    return encoded.mapInPandas(run, schema=out_schema)


def _decode_messages_joined(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    out_col: str,
    lt_small: bool,
) -> DataFrame:
    """Join-based decode for dictionaries too large for the driver.

    The row key is synthesized (monotonically_increasing_id) and the
    keyed frame is pinned with localCheckpoint so both sides of the
    regroup see the same ids (the id is partition-dependent). Unlike
    .persist(), checkpoint storage is reclaimed when the plan is GC'd —
    no unpersist bookkeeping leak."""
    import pyspark.sql.functions as F

    cols = encoded.columns
    keyed = encoded.withColumn(
        "_rid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=False)

    # per-row dict-var strings, in slot order
    ex = keyed.select(
        "_rid", F.posexplode("dict_var_ids").alias("pos", "var_id")
    )
    vjoin = var_dict.select("var_id", F.col("value").alias("_vval"))
    joined = ex.join(vjoin, "var_id", "left")
    grouped = (
        joined.groupBy("_rid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "_vval"))).alias("_a"))
        .select("_rid", F.expr("transform(_a, x -> x._vval)").alias("_dstrs"))
    )
    with_strs = keyed.join(grouped, "_rid", "left").withColumn(
        "_dstrs",
        F.coalesce("_dstrs", F.expr("array()").cast("array<string>")),
    )

    # template string per row
    lt_sel = logtype_dict.select("logtype_id", F.col("logtype").alias("_tpl"))
    if lt_small:
        lt_sel = F.broadcast(lt_sel)
    with_tpl = with_strs.join(lt_sel, "logtype_id", "left")

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in encoded.schema
    ) + f", {out_col} string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tcache: dict = {}
        for pdf in batches:
            texts = []
            for tpl_s, ev, dstrs in zip(
                pdf["_tpl"], pdf["encoded_vars"], pdf["_dstrs"]
            ):
                tpl = tcache.get(tpl_s)
                if tpl is None:
                    tpl = tcache[tpl_s] = parse_template(tpl_s)
                parts, kinds = tpl
                di = 0
                out = [parts[0]]
                for i, k in enumerate(kinds):
                    if k == PLACEHOLDER_INT:
                        out.append(str(int(ev[i])))
                    elif k == PLACEHOLDER_FLOAT:
                        out.append(decode_float(int(ev[i])))
                    else:
                        out.append(dstrs[di])
                        di += 1
                    out.append(parts[i + 1])
                texts.append("".join(out))
            res = pdf[cols].copy()
            res[out_col] = texts
            yield res

    return with_tpl.mapInPandas(run, schema=out_schema)
