"""Dictionary build + enrich — the "joins" of this system.

The reference deduplicates variables/logtypes into dictionaries with
sequential insertion-order IDs (clp/VariableDictionaryWriter.cpp:11-41,
clp/LogTypeDictionaryWriter.*). Insertion order is nondeterministic under
parallelism, so our contract is instead *value-sorted rank IDs*: the ID of
an entry is its rank in the globally sorted distinct value set. That is
deterministic at any cluster size (the two-cluster-size parity rule).

Scale design: IDs are assigned with a two-pass range-partitioned rank
(repartitionByRange → per-partition counts → offset + local index), not a
single-partition row_number() window — the dictionary build stays fully
distributed even at 10^8+ distinct values. The distinct itself is a
map-side-combined hash aggregate (Catalyst partial+final).

Enrich (string → ID) is a broadcast hash join when the dictionary is
small (the common case — that's CLP's entire premise), with an automatic
fallback to a shuffle join + regroup when it isn't.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from clp_spark.config import VT_DICT
from clp_spark.util import forget_zip_importers


def assign_stable_ids(
    distinct_df: DataFrame,
    value_col: str,
    id_col: str,
    num_partitions: int = 8,
) -> DataFrame:
    """Assign rank-in-sorted-order IDs to a distinct value set, distributed.

    Pass 1 computes per-range-partition counts; pass 2 adds
    (range offset + local index). The result only depends on the global
    value order, never on partitioning, sampling, or cluster size.
    """
    spark = distinct_df.sparkSession
    # localCheckpoint, not persist: (a) the blocks are reclaimed when
    # the plan is GC'd instead of staying pinned in the cache manager
    # for the session (this frame is dict-sized — huge on exactly the
    # above-cap path this code exists for), and (b) a persist-evicted
    # partition would RECOMPUTE repartitionByRange, whose sampled range
    # boundaries can differ run-to-run — the _pid offsets collected
    # below would then be stale and the assigned ids silently wrong.
    # Checkpointed blocks are materialized once and never recomputed.
    d = (
        distinct_df.repartitionByRange(num_partitions, F.col(value_col))
        .sortWithinPartitions(value_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    # per-partition (count, min-value); order offsets by min value so ids
    # follow the global sort order even if pid numbering were arbitrary
    stats = d.groupBy("_pid").agg(
        F.count("*").alias("c"), F.min(value_col).alias("lo")
    ).collect()
    stats.sort(key=lambda r: r["lo"])
    offsets = {}
    acc = 0
    for r in stats:
        offsets[r["_pid"]] = acc
        acc += r["c"]
    b_offsets = spark.sparkContext.broadcast(offsets)

    in_schema = next(f for f in d.schema if f.name == value_col)
    out_schema = f"{id_col} long, {value_col} {in_schema.dataType.simpleString()}"

    def add_ids(batches):
        idx = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = b_offsets.value[int(pdf["_pid"].iloc[0])]
            out = pd.DataFrame(
                {
                    id_col: range(base + idx, base + idx + len(pdf)),
                    value_col: pdf[value_col].to_numpy(),
                }
            )
            idx += len(pdf)
            yield out

    return d.mapInPandas(add_ids, schema=out_schema)


def build_logtype_dict(parsed: DataFrame, num_partitions: int = 8) -> DataFrame:
    """(logtype_id, logtype, num_vars, n_rows) — distinct templates with
    stable IDs. One groupBy yields the distinct set AND per-template row
    counts (num_vars is a function of the template, so min() is exact);
    the counts ride into the dictionary table at no extra scan."""
    # materialize the aggregate ONCE: both assign_stable_ids and the
    # join below consume it, and without the checkpoint the join side
    # re-runs the whole input scan + groupBy a second time
    distinct = parsed.groupBy("logtype").agg(
        F.min("n_vars").alias("num_vars"), F.count("*").alias("n_rows")
    ).localCheckpoint(eager=False)
    with_ids = assign_stable_ids(
        distinct.select("logtype"), "logtype", "logtype_id", num_partitions
    )
    return with_ids.join(distinct, "logtype", "inner").select(
        "logtype_id", "logtype", "num_vars", "n_rows"
    )


def build_var_dict(parsed: DataFrame, num_partitions: int = 8) -> DataFrame:
    """(var_id, value) — distinct dictionary-variable strings, stable IDs."""
    dict_vars = (
        parsed.select(
            F.explode(F.arrays_zip("var_strs", "var_types")).alias("z")
        )
        .filter(F.col("z.var_types") == VT_DICT)
        .select(F.col("z.var_strs").alias("value"))
        .distinct()
    )
    return assign_stable_ids(dict_vars, "value", "var_id", num_partitions)


def build_dicts_small_pandas(
    parsed: DataFrame,
    sample_cap: int = 300_000,
    route_count_cols: list | None = None,
) -> tuple | None:
    """Fast path: both dictionaries collected, sorted, and ID'd on the
    driver (CLP's own model — dictionaries fit in memory:
    DictionaryReader.hpp loads them wholesale). Returns
    (logtype_pdf, var_pdf, logtype_map, var_map, cells), or None when a
    dictionary exceeds sample_cap (caller falls back to the fully
    distributed rank assignment). IDs are value-sorted ranks either way
    (pandas sorts str by code point, which is Spark's UTF-8 byte
    order), so the two paths produce identical dictionaries.

    Each dictionary is ONE aggregation and ONE capped collect
    (limit(cap + 1)); the sort and the IDs are driver work.

    route_count_cols: optional [(name, Column), ...] extra grouping
    keys (lang + the segment window). With them the two aggregates are
    the archive's exact cells, returned as cells = (cell_pdf, var_pdf):
      - cell_pdf: per (logtype_id, *extras): n_rows, sum(n_vars),
        sum(raw_bytes) and the zone-map ts bounds
        (route.fanout.zone_map_aggs);
      - var_pdf: the distinct (var_id, logtype_id, *extras) of the
        dictionary variables. Spark groups them by xxhash64(logtype),
        resolved against the cells' own hashes, so no template string
        is held per var cell; None if two templates share a hash.
    cells is None without extras or past the cap (the dictionaries then
    come from a plain aggregation).
    """
    from concurrent.futures import ThreadPoolExecutor

    from clp_spark.route.fanout import zone_map_aggs
    from clp_spark.util import collect_capped

    extras = route_count_cols or []
    extra_names = [n for n, _ in extras]
    # NO input-level persist: the logtype and var aggregations read
    # mostly DISJOINT column sets, and `parsed` is parquet-backed
    # (checkpoint bucket), so two column-pruned scans move fewer bytes
    # than building a deserialized JVM cache of the union and reading
    # all of it twice.
    lt_aggs = F.min("n_vars").alias("num_vars"), F.count("*").alias("n_rows")

    def _lt() -> tuple[pd.DataFrame | None, pd.DataFrame | None]:
        if extras:
            cells = collect_capped(
                parsed.groupBy("logtype", *[c.alias(n) for n, c in extras])
                .agg(
                    *lt_aggs,
                    F.sum("n_vars").alias("n_vars"),
                    F.sum("raw_bytes").alias("raw_bytes"),
                    *zone_map_aggs(parsed),
                )
                .withColumn("_lt_hash", F.xxhash64("logtype")),
                sample_cap,
            )
            if cells is not None:
                # len(lt_pdf) <= len(cells) <= sample_cap: the rollup
                # only merges rows
                lt_pdf = (
                    cells.groupby("logtype", sort=True)
                    .agg(num_vars=("num_vars", "min"), n_rows=("n_rows", "sum"))
                    .reset_index()
                )
                return lt_pdf, cells
        lt_pdf = collect_capped(parsed.groupBy("logtype").agg(*lt_aggs), sample_cap)
        if lt_pdf is not None:
            lt_pdf = lt_pdf.sort_values("logtype", ignore_index=True)
        return lt_pdf, None

    def _v() -> pd.DataFrame | None:
        values = (
            parsed.select(
                F.explode(F.arrays_zip("var_strs", "var_types")).alias("z"),
                *([F.xxhash64("logtype").alias("_lt_hash")] if extras else []),
                *[c.alias(n) for n, c in extras],
            )
            .filter(F.col("z.var_types") == VT_DICT)
            .select(
                F.col("z.var_strs").alias("value"),
                *(["_lt_hash", *extra_names] if extras else []),
            )
        )
        if extras:
            var_cells = collect_capped(values.distinct(), sample_cap)
            if var_cells is not None:
                return var_cells
        return collect_capped(values.select("value").distinct(), sample_cap)

    # the two dictionary builds are independent Spark jobs — run them
    # from two driver threads so each one's driver-serial tail (Arrow
    # collect, pandas work) overlaps the other's executor work
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_lt, f_v = pool.submit(_lt), pool.submit(_v)
        (lt_pdf, cells), v_rows = f_lt.result(), f_v.result()
    if lt_pdf is None or v_rows is None:
        return None
    lt_pdf.insert(0, "logtype_id", range(len(lt_pdf)))
    lt_map = dict(zip(lt_pdf["logtype"], lt_pdf["logtype_id"]))
    var_ids, values = pd.factorize(v_rows["value"], sort=True)
    v_pdf = pd.DataFrame({"var_id": range(len(values)), "value": values})
    v_map = dict(zip(values, range(len(values))))
    if cells is None:
        return lt_pdf, v_pdf, lt_map, v_map, None

    lt_ids = pd.Index(lt_pdf["logtype"]).get_indexer(cells["logtype"])
    hashes = pd.Series(lt_ids, index=cells["_lt_hash"].to_numpy()).groupby(level=0)
    var_pdf = None
    if "_lt_hash" in v_rows.columns and (hashes.nunique() == 1).all():
        lt_of_hash = hashes.first()
        var_pdf = pd.DataFrame(
            {
                "var_id": var_ids,
                "logtype_id": lt_of_hash.reindex(v_rows["_lt_hash"]).to_numpy(),
                **{n: v_rows[n] for n in extra_names},
            }
        )
    cells = cells.drop(columns=["logtype", "_lt_hash", "num_vars"])
    cells.insert(0, "logtype_id", lt_ids)
    return lt_pdf, v_pdf, lt_map, v_map, (cells, var_pdf)


LOGTYPE_DICT_ARROW_SCHEMA = [
    ("logtype_id", "int64"),
    ("logtype", "string"),
    ("num_vars", "int32"),
    ("n_rows", "int64"),
]
VAR_DICT_ARROW_SCHEMA = [("var_id", "int64"), ("value", "string")]


def write_dict_parquet(
    pdf: pd.DataFrame, dirpath: str, schema: list, compression: str = "zstd"
) -> None:
    """Driver-side parquet write of a collected dictionary.

    The dictionary already lives on the driver as a pandas frame; going
    back through createDataFrame → Spark write costs a full serial
    round-trip (re-Arrow-ify, ship to an executor, single-task write,
    job commit) that Amdahl charges to every cluster size. A direct
    pyarrow write is the same bytes at a fraction of the wall time.
    Spark reads the directory back exactly like its own output. (On an
    object store, pass a pyarrow filesystem here; the format is
    identical.)
    """
    import pyarrow as pa

    from clp_spark.util import write_driver_table

    arrow_schema = pa.schema([(n, getattr(pa, t)()) for n, t in schema])
    tbl = pa.Table.from_pandas(
        pdf[[n for n, _ in schema]], schema=arrow_schema, preserve_index=False
    )
    write_driver_table(tbl, dirpath, compression)


# per-worker-process cache of (pd.Index, id ndarray) hashtables for
# broadcast {str: id} maps, keyed by broadcast id — the index build
# (one hash insert per dictionary entry) is paid once per worker, then
# every Arrow batch's lookups are C-speed get_indexer probes
_ENC_IDX_CACHE: dict = {}


def _map_index(bvar):
    import numpy as np

    # worker-side Broadcast objects carry _path (unique spill file per
    # broadcast), driver-side ones _bid; never key by id(value) — Python
    # ids are reused after GC (same trap as search/decode's LRU fix)
    k = getattr(bvar, "_path", None) or getattr(bvar, "_bid", None)
    ent = _ENC_IDX_CACHE.get(k) if k is not None else None
    if ent is None:
        m = bvar.value
        keys = pd.Index(list(m.keys()), dtype=object)
        vals = np.fromiter(m.values(), dtype=np.int64, count=len(m))
        if k is not None:
            if len(_ENC_IDX_CACHE) >= 4:
                _ENC_IDX_CACHE.clear()
            _ENC_IDX_CACHE[k] = (keys, vals)
        ent = (keys, vals)
    return ent


def _lookup_ids(keys, vals, arr):
    """int64 ids for a pa.StringArray via the (keys, vals) hashtable.
    dictionary_encode first: only UNIQUE strings are hashed in pandas
    (logtypes are Zipf-heavy — a 64k-row batch has few distinct ones),
    then the codes gather the per-unique ids back to row order."""
    import numpy as np

    enc = arr.dictionary_encode()
    uniq = enc.dictionary.to_pandas()
    idx = keys.get_indexer(uniq)
    if (idx < 0).any():
        raise KeyError(uniq[idx < 0].iloc[0])
    codes = enc.indices.to_numpy(zero_copy_only=False)
    return vals[idx][codes]


def _encode_batches_arrow(
    batches, b_lt, b_v, keep_idx, lt_idx, vs_idx, vt_idx, ev_idx, out_names
):
    """Vectorized dictionary-encode kernel over Arrow record batches:
    list columns are flattened zero-copy through their offset buffers,
    the VT_DICT positions are patched with var IDs in one gather, and
    the output list columns are rebuilt from the same offsets — no
    per-row or per-token Python (the former row loop here was the route
    phase's cost ceiling)."""
    import numpy as np
    import pyarrow as pa

    forget_zip_importers()
    lt_ent = _map_index(b_lt) if b_lt is not None else None
    v_ent = _map_index(b_v)
    for rb in batches:
        vt = rb.column(vt_idx)
        vs = rb.column(vs_idx)
        ev = rb.column(ev_idx)
        offs = vt.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        offs0 = offs - offs[0]
        types_flat = vt.flatten().to_numpy(zero_copy_only=False)
        enc_flat = ev.flatten().to_numpy(zero_copy_only=False).astype(
            np.int64, copy=True
        )
        mask = types_flat == VT_DICT
        pos = np.nonzero(mask)[0]
        if pos.size:
            dstr = vs.flatten().take(pa.array(pos, pa.int64()))
            vids = _lookup_ids(*v_ent, dstr)
            enc_flat[pos] = vids
        else:
            vids = np.empty(0, np.int64)
        cum = np.concatenate(([0], np.cumsum(mask, dtype=np.int64)))
        dict_offs = cum[offs0]
        enc_arr = pa.ListArray.from_arrays(
            pa.array(offs0.astype(np.int32)), pa.array(enc_flat, pa.int64())
        )
        did_arr = pa.ListArray.from_arrays(
            pa.array(dict_offs.astype(np.int32)), pa.array(vids, pa.int64())
        )
        cols = [rb.column(i) for i in keep_idx]
        if lt_ent is not None:
            cols.append(
                pa.array(_lookup_ids(*lt_ent, rb.column(lt_idx)), pa.int64())
            )
        cols += [enc_arr, did_arr]
        yield pa.RecordBatch.from_arrays(cols, names=out_names)


def encode_with_maps(
    parsed: DataFrame, logtype_map: dict, var_map: dict
) -> DataFrame:
    """Enrich with logtype_id + var IDs in one Arrow pass using broadcast
    maps — no joins, no extra jobs (pairs with build_dicts_small_pandas).
    Vectorized: see _encode_batches_arrow."""
    spark = parsed.sparkSession
    b_lt = spark.sparkContext.broadcast(logtype_map)
    b_v = spark.sparkContext.broadcast(var_map)

    drop = ("logtype", "var_strs", "var_types", "enc_prelim")
    keep = [c for c in parsed.columns if c not in drop]
    src = parsed.select(*keep, "logtype", "var_strs", "var_types", "enc_prelim")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in parsed.schema
        if f.name in keep
    )
    out_schema += (
        ", logtype_id long, encoded_vars array<long>, dict_var_ids array<long>"
    )
    n = len(keep)
    out_names = keep + ["logtype_id", "encoded_vars", "dict_var_ids"]

    def run(batches):
        yield from _encode_batches_arrow(
            batches, b_lt, b_v, list(range(n)), n, n + 1, n + 2, n + 3, out_names
        )

    return src.mapInArrow(run, schema=out_schema)


def encode_with_maps_pandas(
    parsed: DataFrame, logtype_map: dict, var_map: dict
) -> DataFrame:
    """Row-at-a-time reference engine for encode_with_maps — kept for
    the parity/fuzz tests that pin the vectorized kernel's semantics."""
    spark = parsed.sparkSession
    b_lt = spark.sparkContext.broadcast(logtype_map)
    b_v = spark.sparkContext.broadcast(var_map)

    drop = ("logtype", "var_strs", "var_types", "enc_prelim")
    keep = [c for c in parsed.columns if c not in drop]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in parsed.schema
        if f.name in keep
    )
    out_schema += (
        ", logtype_id long, encoded_vars array<long>, dict_var_ids array<long>"
    )

    def patch(batches):
        lt_m = b_lt.value
        v_m = b_v.value
        for pdf in batches:
            lt_ids = [lt_m[lt] for lt in pdf["logtype"]]
            enc_out = []
            dict_ids_out = []
            for strs, types, enc in zip(
                pdf["var_strs"], pdf["var_types"], pdf["enc_prelim"]
            ):
                enc = list(enc)
                dict_ids = []
                for j, t in enumerate(types):
                    if t == VT_DICT:
                        vid = v_m[strs[j]]
                        enc[j] = vid
                        dict_ids.append(vid)
                enc_out.append(enc)
                dict_ids_out.append(dict_ids)
            out = pdf[keep].copy()
            out["logtype_id"] = lt_ids
            out["encoded_vars"] = enc_out
            out["dict_var_ids"] = dict_ids_out
            yield out

    return parsed.mapInPandas(patch, schema=out_schema)


def encode_with_dicts(
    parsed: DataFrame,
    logtype_dict: DataFrame,
    var_dict: DataFrame,
    broadcast_threshold: int = 300_000,
) -> DataFrame:
    """Enrich parsed rows with logtype_id and dictionary-var IDs.

    logtype enrich: broadcast hash join on the template string.
    var enrich: dictionary value→id map shipped as a broadcast variable and
    applied inside one Arrow batch pass (zero shuffles); falls back to an
    explode/join/regroup (2 shuffles) if the dictionary is too large to
    broadcast. The regroup key is a synthesized unique row id (pinned by
    persisting the keyed frame) — never a caller column, which may not
    be unique. Output schema matches FIXTURES.md §3 `encoded`.
    """
    spark = parsed.sparkSession
    with_lt = parsed.join(
        F.broadcast(logtype_dict.select("logtype_id", "logtype")), "logtype", "inner"
    )

    n_vars_dict = var_dict.count()
    if n_vars_dict <= broadcast_threshold:
        mapping = {r["value"]: r["var_id"] for r in var_dict.collect()}
        b_map = spark.sparkContext.broadcast(mapping)

        keep = [
            c
            for c in with_lt.columns
            if c not in ("logtype", "var_strs", "var_types", "enc_prelim")
        ]
        src = with_lt.select(*keep, "var_strs", "var_types", "enc_prelim")
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in with_lt.schema
            if f.name in keep
        )
        out_schema += ", encoded_vars array<long>, dict_var_ids array<long>"
        n = len(keep)
        out_names = keep + ["encoded_vars", "dict_var_ids"]

        def run(batches):
            yield from _encode_batches_arrow(
                batches, None, b_map, list(range(n)), -1, n, n + 1, n + 2,
                out_names,
            )

        return src.mapInArrow(run, schema=out_schema)

    # Large-dictionary fallback: synthesize a unique row key
    # (localCheckpoint pins the partition-dependent ids so both regroup
    # sides agree, and its storage is GC-reclaimed — no unpersist leak),
    # normalize (posexplode), shuffle-join on the variable string,
    # regroup by the synthesized key.
    keyed = with_lt.withColumn(
        "_rid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=False)
    exploded = (
        keyed.select(
            "_rid",
            F.posexplode(F.arrays_zip("var_strs", "var_types", "enc_prelim")).alias(
                "pos", "v"
            ),
        )
        .select(
            "_rid",
            "pos",
            F.col("v.var_strs").alias("value"),
            F.col("v.var_types").alias("vt"),
            F.col("v.enc_prelim").alias("enc"),
        )
    )
    joined = exploded.join(var_dict, "value", "left").withColumn(
        "enc2", F.when(F.col("vt") == VT_DICT, F.col("var_id")).otherwise(F.col("enc"))
    )
    regrouped = (
        joined.groupBy("_rid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "enc2", "vt"))).alias("a"))
        .select(
            "_rid",
            F.expr("transform(a, x -> x.enc2)").alias("encoded_vars"),
            F.expr(
                f"transform(filter(a, x -> x.vt = {VT_DICT}), x -> x.enc2)"
            ).alias("dict_var_ids"),
        )
    )
    base = keyed.drop("var_strs", "var_types", "enc_prelim", "logtype")
    return (
        base.join(regrouped, "_rid", "left")
        .withColumn(
            "encoded_vars", F.coalesce("encoded_vars", F.expr("array()").cast("array<long>"))
        )
        .withColumn(
            "dict_var_ids", F.coalesce("dict_var_ids", F.expr("array()").cast("array<long>"))
        )
        .drop("_rid")
    )
