"""Decode encoded messages back to original text (the decompressor).

Re-expression of the reference's decode loop
(/root/reference/components/core/src/clp/EncodedVariableInterpreter.hpp:505-579):
walk the logtype template; placeholder 0x11 → int64 as decimal text,
0x13 → 54-bit-packed float unpacked byte-identically, 0x12 → variable
dictionary lookup, '\\' → escaped literal. `decode_one` is that walk
for one row; the Spark path below is its vectorised form.

Spark shape: dictionaries ship as broadcast variables (CLP itself keeps
both dicts in memory per archive). search.executor.ArchiveDicts
collects each dictionary once and broadcasts, from that collect, the
parsed templates and a dense var-value StringArray indexed by var_id;
an opened Archive handle (search/sinks.py) keeps them for its
lifetime, while decode_messages over bare frames prepares them per
call. Decoding is one mapInArrow kernel over only the rows that need
text (search survivors or a full extract). Per Arrow batch it sorts
rows by logtype_id and builds each logtype run's text column-wise:
int slots are an int64 → string cast, float slots decode each distinct
value once, dict slots are a `take` on the var StringArray (var IDs
are dense value-sorted ranks), and the template's static parts join
them as scalars. Input columns pass through as Arrow arrays.

With a confirm regex (RE2, search.wildcard.wildcard_to_re2) the same
pass keeps only the rows whose text matches, so the JVM receives only
hits (Grep.cpp:115-132 decodes and confirms in one loop too).
The kernel first drops the worker's zip importer cache
(clp_spark.util.forget_zip_importers), which PySpark's worker would
otherwise re-read before every task.
Dictionaries too large to broadcast take the explode → shuffle-join →
regroup path instead, which hands the same kernel each row's template
and gathered dict strings, so stage-4 decode never requires a
dictionary to fit on the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from clp_spark.config import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_ESCAPE,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
)
from clp_spark.oracle.tokenizer import decode_float
from clp_spark.util import forget_zip_importers


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
    the parsed templates and the var values, one narrow Arrow pass.
    Fallback (either dictionary too large): dictionary lookups become
    joins — dict-var strings are gathered per row via posexplode →
    join(var_dict) → regroup, the template via a join on logtype_id —
    so nothing ever requires a dictionary to fit on the driver. Both
    paths run the same kernel and produce byte-identical text.
    """
    from clp_spark.search.executor import ArchiveDicts

    return ArchiveDicts(logtype_dict, var_dict, driver_dict_cap).decode(
        encoded, out_col
    )


def decode_tables(lt_rows, var_rows) -> tuple:
    """(templates, var_text) for the decode kernel, from the collected
    dictionary rows (in any order): the parsed templates
    {logtype_id: (parts, kinds)} and a pa.StringArray whose slot i
    holds var i's value (null where no var has that ID)."""
    import pyarrow as pa

    templates = {i: parse_template(t) for i, t in lt_rows}
    ids = np.fromiter((i for i, _ in var_rows), np.int64, len(var_rows))
    slot = np.full(int(ids.max(initial=-1)) + 1, len(ids), np.int64)
    slot[ids] = np.arange(len(ids))
    values = pa.array([v for _, v in var_rows] + [None], pa.string())
    return templates, values.take(slot)


def decode_prepared(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    prepared: tuple,
    out_col: str = "text",
    confirm_rx: str | None = None,
) -> DataFrame:
    """decode_messages with the dictionaries already prepared
    (search.executor.ArchiveDicts.decoder): `prepared` is
    (b_tpl, b_var, lt_small), the broadcasts of `decode_tables`, or
    (None, None, lt_small) for the join path, which broadcasts the
    logtype dictionary only when lt_small. With `confirm_rx` (an RE2
    pattern) only the rows whose text matches it are returned."""
    b_tpl, b_var, lt_small = prepared
    if b_tpl is None:
        return _decode_messages_joined(
            encoded, logtype_dict, var_dict, out_col, lt_small, confirm_rx
        )
    cols = encoded.columns

    def run(batches):
        yield from _decode_batches(
            batches, cols, out_col, confirm_rx, b_tpl.value, b_var.value
        )

    return encoded.mapInArrow(run, schema=_out_schema(encoded, out_col))


def _out_schema(encoded: DataFrame, out_col: str) -> StructType:
    return StructType(
        list(encoded.schema.fields) + [StructField(out_col, StringType())]
    )


def _decode_batches(
    batches, cols, out_col, confirm_rx, templates=None, var_text=None
):
    """The decode kernel: each batch's `cols` plus the decoded text as
    `out_col`; with `confirm_rx`, only the rows whose text matches it
    (a batch without one yields nothing). `templates`/`var_text` are
    the tables of `decode_tables`; None means each row carries
    its template in `_tpl` and its dict-var strings in `_dstrs`."""
    import pyarrow.compute as pc

    forget_zip_importers()
    tcache: dict = {}
    for batch in batches:
        text = _decode_text(batch, templates, var_text, tcache)
        out = batch.select(cols)
        if confirm_rx is not None:
            mask = pc.match_substring_regex(text, confirm_rx)
            if not pc.any(mask).as_py():
                continue
            out, text = out.filter(mask), text.filter(mask)
        yield out.append_column(out_col, text)


def _decode_text(batch, templates, var_text, tcache: dict):
    """The batch's decoded text, in row order. Rows are handled one
    logtype run at a time: each slot of the run becomes one string
    column, and the template's static parts join them."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    if n == 0:
        return pa.array([], pa.string())
    lt = batch.column("logtype_id").to_numpy(zero_copy_only=False)
    ev = batch.column("encoded_vars")
    ev_off = ev.offsets.to_numpy(zero_copy_only=False)
    ev_flat = ev.values.to_numpy(zero_copy_only=False)
    if templates is None:
        tpl_col = batch.column("_tpl")
        ds = batch.column("_dstrs")
        ds_off = ds.offsets.to_numpy(zero_copy_only=False)
        ds_flat = ds.values

    order = np.argsort(lt, kind="stable")
    lt_sorted = lt[order]
    starts = np.flatnonzero(np.r_[True, lt_sorted[1:] != lt_sorted[:-1]])
    ends = np.r_[starts[1:], n]
    runs = []
    for r in range(len(starts)):
        rows = order[starts[r] : ends[r]]
        lt_id = int(lt_sorted[starts[r]])
        if templates is not None:
            parts, kinds = templates[lt_id]
        else:
            if lt_id not in tcache:
                tcache[lt_id] = parse_template(tpl_col[int(rows[0])].as_py())
            parts, kinds = tcache[lt_id]
        if not kinds:
            runs.append(pa.repeat(parts[0], len(rows)))
            continue
        base = ev_off[rows]
        args: list = [parts[0]]
        d = 0
        for j, k in enumerate(kinds):
            vals = ev_flat[base + j]
            if k == PLACEHOLDER_INT:
                col = pc.cast(pa.array(vals, pa.int64()), pa.string())
            elif k == PLACEHOLDER_FLOAT:
                uniq, inv = np.unique(vals, return_inverse=True)
                col = pa.array(
                    [decode_float(int(x)) for x in uniq], pa.string()
                ).take(inv)
            elif templates is None:
                col = ds_flat.take(ds_off[rows] + d)
                d += 1
            else:
                col = var_text.take(vals)
            args += [col, parts[j + 1]]
        runs.append(pc.binary_join_element_wise(*args, ""))
    text = pa.concat_arrays(runs)
    if text.null_count:
        raise KeyError("encoded row refers to a variable missing from the dictionary")
    back = np.empty(n, np.int64)
    back[order] = np.arange(n)
    return text.take(back)


def _decode_messages_joined(
    encoded: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    out_col: str,
    lt_small: bool,
    confirm_rx: str | None = None,
) -> DataFrame:
    """Join-based decode for dictionaries too large for the driver: each
    row gets its template (`_tpl`) and its dict-var strings in slot
    order (`_dstrs`) from joins, then runs the same kernel.

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

    def run(batches):
        yield from _decode_batches(batches, cols, out_col, confirm_rx)

    return with_tpl.mapInArrow(run, schema=_out_schema(encoded, out_col))
