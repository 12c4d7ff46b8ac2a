"""Fan-out routing: encoded rows → per-(logtype, lang)-hash sink tables.

This is the Spark re-expression of GLT's group-by-logtype storage
(reference: glt/streaming_archive/writer/LogtypeTable.hpp:13-17 — all
messages of one logtype stored together, small tables merged into
combined tables). Here: sink_id = pmod(xxhash64(logtype_id, lang), K),
one parquet (stand-in for Iceberg) partition per sink, written in a
single job via partitionBy.

Skew (north_rule requires explicit handling): template frequencies are
Zipf-like, so a plain repartition("sink_id") would send the hot
logtype's sink to one task. The route shuffle is instead an analytic
range partition over exact per-(sink, seg, logtype) row counts: every
task gets an equal share of ROWS, and a hot cell is split across
contiguous tasks by a row hash (_route_with_bounds).

Per-sink metrics (FIXTURES.md §3 sink_metrics: rows, logtype/var
cardinalities, encoded byte sizes) and the manifests are not aggregated
here: compress() derives them on the driver from the dictionary pass's
exact cells (pipeline._write_bookkeeping). cell_stats and var_pairs are
the same two tables taken from a frame, for the runs that have no such
cells (resume after the dictionaries, above the driver cap, the GC
metrics refresh).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from clp_spark.config import PipelineConfig


def add_sink_id(
    encoded: DataFrame, num_sinks: int, cols: tuple = ("logtype_id", "lang")
) -> DataFrame:
    cols = tuple(c for c in cols if c in encoded.columns) or ("logtype_id",)
    return encoded.withColumn(
        "sink_id", F.pmod(F.xxhash64(*cols), F.lit(num_sinks))
    )


def segment_expr(
    df: DataFrame,
    num_segments: int,
    window_days: float = 7.0,
    ts_cols: tuple = ("warc_ts", "ts_ms"),
    key_cols: tuple = ("url", "doc_id", "event_id"),
):
    """The seg_id Column for `df` (shared by add_seg_id and the
    dict-phase routing-count aggregation, so both compute IDENTICAL
    window ids — the analytic route boundaries depend on it)."""
    ts = next((c for c in ts_cols if c in df.columns), None)
    if ts is not None:
        dt = dict(df.dtypes)[ts]
        epoch_s = (
            F.unix_timestamp(F.col(ts)).cast("double")
            if dt.startswith("timestamp") or dt == "date"
            else F.col(ts).cast("double") / F.lit(1000.0)
        )
        seg = F.floor(
            F.coalesce(epoch_s, F.lit(0.0)) / F.lit(86400.0 * window_days)
        )
    else:
        key = next((c for c in key_cols if c in df.columns), "logtype_id")
        seg = F.pmod(F.xxhash64(key), F.lit(num_segments))
    return seg.cast("long"), ts


def add_seg_id(
    encoded: DataFrame,
    num_segments: int,
    window_days: float = 7.0,
    ts_cols: tuple = ("warc_ts", "ts_ms"),
    key_cols: tuple = ("url", "doc_id", "event_id"),
) -> DataFrame:
    """Split each sink into segments (the CLP segment analog —
    reference segments are ingest-order-contiguous, so dictionary IDs
    and timestamps CLUSTER per segment; that clustering is what makes
    the per-segment index prune below archive level).

    Time-windowed when a timestamp column exists: seg_id =
    floor(epoch / window). Contiguous time ranges per segment mean the
    zone map [ts_min, ts_max] aligns exactly with the window and rare
    ids (which cluster in time in real logs) hit few segments. Null
    timestamps land in window 0 — sound, because a NULL ts never
    matches a ts-range predicate anyway, and token pruning still sees
    the row's ids in segment 0's manifest. Falls back to a
    row-identity hash mod num_segments when no ts column is present.
    Either way seg_id is row-deterministic at any parallelism, so
    per-sink aggregates stay exact across cluster sizes."""
    seg, _ = segment_expr(encoded, num_segments, window_days, ts_cols, key_cols)
    return encoded.withColumn("seg_id", seg)


def zone_map_field(schema):
    """The zone map's source column (StructField) in `schema`: warc_ts,
    else ts_ms, else None."""
    return next((schema[c] for c in ("warc_ts", "ts_ms") if c in schema.names), None)


def zone_map_aggs(df: DataFrame) -> list:
    """[ts_min, ts_max] aggregate Columns over the zone map's source
    column ([] without one). TimestampType bounds come out as epoch
    MICROS: toPandas renders timestamps as naive wall times in the
    session time zone, which the driver writer's timestamp("us",
    tz="UTC") type would re-read as UTC — shifting the zone map by the
    UTC offset on a non-UTC session. Integer micros are the instant
    Spark stores, whatever the session zone."""
    field = zone_map_field(df.schema)
    if field is None:
        return []
    lo, hi = F.min(field.name), F.max(field.name)
    if isinstance(field.dataType, T.TimestampType):
        lo, hi = F.unix_micros(lo), F.unix_micros(hi)
    return [lo.alias("ts_min"), hi.alias("ts_max")]


def cell_stats(df: DataFrame):
    """Exact per-(sink_id, seg_id, logtype_id) cells of a sinked frame,
    collected: rows, n_encoded_vars, raw_bytes [, ts_min, ts_max] — one
    aggregation that feeds both the analytic route bounds and the
    driver-side bookkeeping writer."""
    return (
        df.groupBy("sink_id", "seg_id", "logtype_id")
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.size("encoded_vars")).alias("n_encoded_vars"),
            F.sum("raw_bytes").alias("raw_bytes"),
            *zone_map_aggs(df),
        )
        .toPandas()
    )


def var_pairs(df: DataFrame) -> DataFrame:
    """The distinct (sink_id, seg_id, var_id) pairs of a sinked frame —
    the var manifest's rows."""
    return df.select(
        "sink_id", "seg_id", F.explode("dict_var_ids").alias("var_id")
    ).distinct()


def murmur3_long(value: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash (Murmur3_x86_32.hashLong, public MurmurHash3
    spec) of a LongType value — the hash behind `repartition(n, col)`
    placement (HashPartitioning = pmod(murmur3(col), n)). Implemented
    driver-side so the analytic route can pick 'magic' key values that
    land rows in exact partition indexes. Parity-tested against F.hash
    in tests/test_route_bounds.py."""
    m = 0xFFFFFFFF
    h1 = seed & m
    v = value & 0xFFFFFFFFFFFFFFFF
    for half in (v & m, (v >> 32) & m):
        k1 = (half * 0xCC9E2D51) & m
        k1 = ((k1 << 15) | (k1 >> 17)) & m
        k1 = (k1 * 0x1B873593) & m
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & m
        h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 8  # length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def magic_partition_keys(num_partitions: int) -> list[int]:
    """Small ints m_p with pmod(murmur3(m_p), P) == p for every p, so
    `repartition(P, lit-array[pid])` places each row in exactly the
    partition index the analytic boundaries computed. The search is a
    driver-side loop over a few hundred ints (coupon-collector)."""
    keys: dict[int, int] = {}
    i = 0
    while len(keys) < num_partitions:
        p = murmur3_long(i) % num_partitions
        if p not in keys:
            keys[p] = i
        i += 1
    return [keys[p] for p in range(num_partitions)]


def _route_with_bounds(
    df: DataFrame,
    out_path: str,
    cfg: PipelineConfig,
    part_cols: list,
    sort_cols: list,
    tiebreak,
    bounds_pdf,
    total: int,
) -> None:
    """Analytic range route: partition boundaries computed from EXACT
    per-(sink, seg, logtype) row counts (see route_to_sinks for where
    they come from).

    Why not repartitionByRange: its RangePartitioner runs a SAMPLE job
    that recomputes the mapInArrow encode of every input partition just
    to draw ~100 keys each, which forces the encode output to be
    persisted full-width so the write doesn't compute it twice — a
    second full pass plus cache traffic that erodes N→4N scaling (the
    bandwidth-bound phases are the ones that don't scale on a busy
    host). Here rows go straight from the encode pass into the shuffle:

        pid = floor((cum_before(sink,seg,logtype)
                     + u01(row_hash) * cell_rows) / rows_per_partition)

    Each partition receives a contiguous (sink,seg,logtype) range (the
    same GLT clustering the range sort gave) and hot cells split
    uniformly by the row hash (the sampler's tiebreaker, minus the
    sampler). Placement uses magic key values with
    pmod(murmur3(m_pid), P) == pid. Which (sink, seg) directory a row
    lands in is identical at any width; the file splits are
    deterministic for a given width (the sampler's are not).
    Counts as float64 are exact to 2^53 rows (>> the 10^12-doc target).

    Width: one wave of write tasks, P = min(cfg.shuffle_partitions, the
    cluster's default parallelism). The bounds already give every task
    an equal share of rows, so tasks past one wave only add per-task
    and per-file cost (a parquet footer per extra file). The route
    layout therefore follows the core count.
    """
    spark = df.sparkSession
    p_n = min(int(cfg.shuffle_partitions), spark.sparkContext.defaultParallelism)
    rpp = max(1, -(-total // p_n))
    b_sdf = spark.createDataFrame(
        bounds_pdf,
        "sink_id long, seg_id long, logtype_id long, "
        "_cum_before double, _cell_rows double",
    )
    magic = magic_partition_keys(p_n)
    u01 = (tiebreak.cast("double") / F.lit(float(2**64))) + F.lit(0.5)
    joined = df.join(
        F.broadcast(b_sdf), ["sink_id", "seg_id", "logtype_id"], "left"
    )
    # rows whose cell is missing from the counts cannot occur (the counts
    # come from the same frame) — the coalesce is a pure safety net that
    # spreads such rows uniformly instead of failing
    pos = F.coalesce(
        F.col("_cum_before") + u01 * F.col("_cell_rows"),
        u01 * F.lit(float(total)),
    )
    pid = F.least(F.lit(p_n - 1), F.floor(pos / F.lit(float(rpp)))).cast("int")
    magic_col = F.element_at(
        F.array(*[F.lit(mk) for mk in magic]).cast("array<long>"), pid + F.lit(1)
    )
    writer = (
        joined.withColumn("_magic", magic_col)
        .repartition(p_n, F.col("_magic"))
        .sortWithinPartitions(*sort_cols)
        .drop("_magic", "_cum_before", "_cell_rows")
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .option("compression", cfg.compression_codec)
        .option("parquet.bloom.filter.enabled#logtype_id", "true")
    )
    if cfg.parquet_block_size is not None:
        writer = writer.option("parquet.block.size", str(cfg.parquet_block_size))
    writer.parquet(out_path)


def bounds_from_cells(cells) -> tuple:
    """(bounds_pdf, total_rows) from per-(sink_id, seg_id, logtype_id)
    row counts `rows` (duplicate cells are summed; other columns are
    ignored): each cell's cumulative start position in the
    (sink, seg, logtype)-sorted global row order — what RangePartitioner
    would derive from a sample, but exact."""
    cells = (
        cells.groupby(["sink_id", "seg_id", "logtype_id"], sort=True)["rows"]
        .sum()
        .reset_index()
    )
    total = int(cells["rows"].sum())
    cells["_cum_before"] = (
        cells["rows"].cumsum().shift(1, fill_value=0).astype("float64")
    )
    cells["_cell_rows"] = cells["rows"].astype("float64")
    return cells.drop(columns=["rows"]), total


def route_to_sinks(
    encoded: DataFrame,
    out_path: str,
    cfg: PipelineConfig,
    presinked: bool = False,
    bounds: tuple | None = None,
) -> None:
    """Write encoded rows into per-sink parquet partitions through the
    analytic range route (_route_with_bounds).

    presinked=True: `encoded` already carries sink_id and seg_id.

    bounds=(bounds_pdf, total_rows) from bounds_from_cells: the caller's
    exact per-(sink, seg, logtype) counts (compress takes them from the
    dictionary pass's cells, or from cell_stats over the sinked frame).
    When None — direct callers — the cells come from one
    groupBy(...).count() over the sinked frame."""
    df = (
        encoded
        if presinked
        else add_seg_id(
            add_sink_id(encoded, cfg.num_sinks),
            cfg.num_segments,
            window_days=cfg.segment_window_days,
        )
    )

    part_cols = ["sink_id", "seg_id"]
    # GLT layout: cluster rows by logtype (then ts) WITHIN each task so
    # parquet row-group min/max stats + the logtype bloom actually bite —
    # the reference's group-by-logtype tables get 7.8× search speedup
    # from exactly this clustering (docs/core-unstructured/glt.md:6-7,
    # glt/streaming_archive/writer/LogtypeTable.hpp:13-17). Sorting by
    # the partition columns first also satisfies the file writer's
    # required dynamic-partition sort, so this adds no extra sort pass.
    sort_cols = part_cols + ["logtype_id"]
    for ts in ("warc_ts", "ts_ms"):
        if ts in df.columns:
            sort_cols.append(ts)
            break
    # Range-partition the shuffle on the cell order + a row-hash
    # tiebreaker. Hashing on the raw (sink_id, seg_id) tuple was a
    # balls-in-bins skew trap: with ~num_sinks × num_segments distinct
    # keys into shuffle_partitions buckets, some tasks drew 3 key-groups
    # and others none — invisible at low parallelism (stragglers hide
    # behind the queue) but the wall-setter at high parallelism. Equal
    # ROWS per task instead: heavy (sink, seg) groups and hot logtypes
    # split across contiguous partitions via the tiebreaker, directory
    # layout still comes from partitionBy, and each output file covers a
    # NARROW logtype range — strictly better row-group min/max pruning
    # than per-task-global sorting.
    tiebreak = F.xxhash64(
        *[c for c in ("url", "doc_id", "event_id") if c in df.columns][:1]
        or ["logtype_id"]
    )
    if bounds is None:
        cells = df.groupBy("sink_id", "seg_id", "logtype_id").agg(
            F.count("*").alias("rows")
        )
        bounds = bounds_from_cells(cells.toPandas())
    bounds_pdf, total = bounds
    _route_with_bounds(
        df, out_path, cfg, part_cols, sort_cols, tiebreak, bounds_pdf, total
    )

