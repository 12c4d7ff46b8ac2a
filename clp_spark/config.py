"""Pipeline configuration.

Mirrors the knobs of the reference's compression/search jobs
(/root/reference/components/job-orchestration/job_orchestration/scheduler/job_config.py)
but expressed for a Spark job: sink fan-out width, segmenting, checkpoint
buckets, shuffle sizing, dictionary placement.
"""

from __future__ import annotations

from dataclasses import dataclass


# Placeholder bytes — same values as the reference so logtypes are
# byte-comparable (reference: clp/ir/types.hpp:17-22).
PLACEHOLDER_INT = "\x11"
PLACEHOLDER_DICT = "\x12"
PLACEHOLDER_FLOAT = "\x13"
PLACEHOLDER_ESCAPE = "\\"

# Variable type tags used in the `var_types` array column.
VT_INT = 0
VT_FLOAT = 1
VT_DICT = 2


@dataclass
class PipelineConfig:
    """Config for one compress (parse → encode → route) run."""

    # fan-out: number of sink tables; sink_id = pmod(xxhash64(logtype_id, lang), num_sinks)
    num_sinks: int = 8

    # segments per sink (CLP's segment granularity: Query.hpp:103-121
    # prunes per SEGMENT, not per archive). Segments are TIME-WINDOWED
    # when a timestamp column exists (seg_id = floor(epoch / window) —
    # CLP segments are ingest-contiguous, so ids/timestamps cluster per
    # segment; that clustering is what makes the index prune), falling
    # back to a row-identity hash mod num_segments otherwise. The
    # inverted indexes and the timestamp zone map are per (sink_id,
    # seg_id).
    num_segments: int = 4
    segment_window_days: float = 7.0

    # resume granularity: input rows are split into this many url-hash
    # buckets; each bucket commits atomically and is skipped on resume
    num_checkpoint_buckets: int = 4

    # cap on the route's write tasks: the route shuffle runs
    # min(shuffle_partitions, default parallelism) tasks — one wave.
    # Its analytic bounds give every task an equal row share, so more
    # tasks would only add per-task and per-file cost.
    shuffle_partitions: int = 32

    # parquet codec for all sinks (reference uses zstd segments:
    # clp/streaming_compression/Zstd*)
    compression_codec: str = "zstd"

    # dictionary ID assignment range-partition width
    dict_id_partitions: int = 8

    # dictionaries up to this many entries are built/applied driver-side
    # (one job, broadcast map); above it the fully distributed path runs
    # (range-ranked IDs + explode/join/regroup encode) — the configuration
    # where no dictionary fits a driver. CLP itself holds dictionaries in
    # memory per archive (DictionaryReader.hpp loads them wholesale), and
    # the broadcast path keeps encode a NARROW map (route scales ~4x at
    # 4x cores vs ~1.4x on the explode/join path), so the cap is set as
    # high as a 2M-entry broadcast comfortably allows. At 10^12-doc scale
    # the CLP-faithful answer is per-archive (per-sink) dictionaries,
    # each far below this cap — not one global dictionary.
    driver_dict_cap: int = 2_000_000

    # parquet row-group target size for sink files; None = parquet
    # default (128 MB). Tests set it small to force multiple row groups
    # so row-group pruning is observable at fixture scale.
    parquet_block_size: int | None = None

    # parse a leading timestamp out of every message before tokenizing
    # (the reference does this on every message: TimestampPattern.cpp,
    # MessageParser.cpp:95+). The matched pattern id + epoch-ms + prefix
    # ride with the encoded row; decode regenerates the original text
    # byte-exactly, and ts-range search pushes down on the ts_ms column.
    parse_timestamps: bool = False
