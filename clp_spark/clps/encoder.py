"""clp_s-style semi-structured JSON encoding, Spark-first.

Re-expression of the reference's second engine
(/root/reference/components/core/src/clp_s/):
  - Merged Parse Tree: every distinct (key-path, type) is a node
    (SchemaTree.hpp:33-50); per-record type inference at
    JsonParser.cpp:253-311 — a JSON string containing a space is a
    ClpString (tokenized into logtype + vars exactly like the
    unstructured engine), otherwise a VarString (whole-string dictionary
    entry); numbers split into Integer / Float.
  - Schema: the set of node IDs present in a record; identical schemas
    share a schema id (SchemaMap.cpp) — our analog of the per-schema
    tables, used for schema pruning at query time (SchemaMatch.hpp).
  - Typed columns (ColumnWriter.hpp:57-225) become per-record typed
    arrays: jvals = array<struct<node, enc, vars>> in document order,
    where `enc` is the int64 value (Integer), the bit-cast double
    (Float), 0/1 (Boolean), the var-dict ID (VarString / Array), or the
    logtype-dict ID with `vars` holding the encoded variables
    (ClpString — ClpString packs (logtype id, offset into a shared var
    stream) in the reference: ColumnWriter.hpp:185-194).

Spark shape: one Arrow pass parses + tokenizes, distinct aggregations
build the node / logtype / var dictionaries with deterministic
value-sorted IDs (shared machinery with dicts.build), and a second pass
encodes. Fast path: dictionaries driver-collected (CLP's own model;
MPTs are small) and applied as broadcast maps in one Arrow pass.
Above `driver_dict_cap` the build switches to the FULLY DISTRIBUTED
path (the reference builds incrementally at any cardinality:
clp_s/ArchiveWriter.cpp:370-440, SchemaMap.cpp): IDs come from the same
two-pass range-partitioned rank as the unstructured engine
(dicts/build.py assign_stable_ids — value-sorted ranks, identical to
the driver path's IDs at any cluster size), and the encode becomes
dictionary joins + a per-record regroup. Both paths produce
byte-identical archives.

Key paths join nested keys with '.' — records whose keys contain '.'
would alias (documented v1 limitation; the reference uses structured
path vectors).
"""

from __future__ import annotations

import json
import struct as _struct
import uuid
from functools import cached_property
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from clp_spark.config import VT_DICT
from clp_spark.parse.tokenizer import parse_one

NODE_INT = 0
NODE_FLOAT = 1
NODE_BOOL = 2
NODE_NULL = 3
NODE_VARSTR = 4
NODE_CLPSTR = 5
NODE_ARRAY = 6
NODE_BIGNUM = 7  # integer outside int64 — value kept as decimal string
# structurize_arrays=True (SchemaTree.hpp:43 StructuredArray,
# JsonParser.cpp:336-476 parse_array): array elements become typed
# leaves at the ARRAY'S OWN PATH (object elements' fields at path.key),
# bracketed by marker leaves so document order reconstructs exactly.
# KQL filters then reach inside arrays: `a: 3` matches [1, 3] at a.
NODE_ARRSTART = 8
NODE_ARREND = 9
NODE_OBJSTART = 10
NODE_OBJEND = 11
_MARKER_TAGS = (NODE_ARRSTART, NODE_ARREND, NODE_OBJSTART, NODE_OBJEND)
# float whose source text is NOT the canonical shortest round-trip form
# ("1.50", "1e5") — the numeric order key lives in enc (ranges work) and
# the exact source text in the var dictionary via vars[0] (the
# reference's FormattedFloat/DictionaryFloat split: ColumnWriter.hpp:
# 69-125, FloatFormatEncoding.*)
NODE_FMTFLOAT = 12
# an explicitly-empty object value ({"a": {}}): the reference records
# it as an Object node (SchemaTree.hpp:24-43); without a leaf the key
# would silently vanish on reconstruction (and '{"a":{}}' would share
# a schema with '{}')
NODE_EMPTYOBJ = 13

_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1

_LEAF_SCHEMA = (
    "key string, tag int, ival long, sval string, logtype string, "
    "var_strs array<string>, var_types array<int>, enc_prelim array<long>"
)

JVALS_TYPE = "array<struct<node:long,enc:long,vars:array<long>>>"


def _f2bits(v: float) -> int:
    return _struct.unpack("<q", _struct.pack("<d", v))[0]


def _bits2f(b: int) -> float:
    return _struct.unpack("<d", _struct.pack("<q", b))[0]


_F_MASK = 0x7FFFFFFFFFFFFFFF


def float_order_key(v: float) -> int:
    """Order-preserving int64 key for a double: identity for b ≥ 0,
    b ^ 0x7fff.. for negatives (reverses their bit order). int64
    comparisons on the key equal double comparisons, so float range
    predicates run as plain long compares inside codegen. NOTE: ±0.0
    compare equal as doubles but key to -1 vs 0 — the encoder (_walk)
    normalizes -0.0's comparison key to 0 and keeps the sign in the
    FMTFLOAT raw text; this function stays a pure bijection so decode
    (_unkey_float) remains its exact inverse."""
    b = _f2bits(v)
    return b ^ _F_MASK if b < 0 else b


def _unkey_float(k: int) -> float:
    return _bits2f(k ^ _F_MASK if k < 0 else k)


class _RawFloat(float):
    """float that remembers its exact source text (json.loads
    parse_float hook) so non-canonical forms round-trip byte-exactly."""

    __slots__ = ("raw",)

    def __new__(cls, s: str):
        r = super().__new__(cls, s)
        r.raw = s
        return r


class _Raw(str):
    """Pre-serialized JSON text spliced verbatim by _dumps."""


def _dumps(o) -> str:
    """Canonical compact JSON serializer (== json.dumps(separators=
    (',', ':'), ensure_ascii=False)) that additionally splices _Raw
    values verbatim — how a FormattedFloat's exact source text survives
    re-serialization. ensure_ascii=False: machine serializers (Spark
    to_json, orjson, serde_json) emit raw UTF-8, so raw UTF-8 sources
    reconstruct byte-exactly; \\uXXXX-escaped sources round-trip
    semantically, not byte-wise (documented v1 limitation)."""
    if isinstance(o, _Raw):
        return str(o)
    if isinstance(o, dict):
        return (
            "{"
            + ",".join(
                f"{json.dumps(k, ensure_ascii=False)}:{_dumps(v)}"
                for k, v in o.items()
            )
            + "}"
        )
    if isinstance(o, list):
        return "[" + ",".join(_dumps(v) for v in o) + "]"
    return json.dumps(o, ensure_ascii=False)


try:  # fast parse path; every use falls back to stdlib json when absent
    import orjson as _orjson
except ImportError:  # pragma: no cover
    _orjson = None


def _loads(s: str) -> tuple:
    """(parsed record, fast) — the parse hot path.

    Fast path (the reference uses simdjson for the same reason —
    JsonParser.cpp): orjson parses ~6× faster than json.loads but has
    no parse_float hook, so non-canonical float source text ("1.50",
    "1e5") would be lost. Soundness check: if orjson's canonical
    re-serialization equals the source bytes, every float's source
    text IS orjson's rendering of its value (serialization is
    compositional), so nothing was lost — _walk recovers each float's
    source text as orjson.dumps(value). Any mismatch (or parse error:
    >64-bit ints, NaN literals) falls back to json.loads with the
    _RawFloat hook. Both paths yield byte-identical archives."""
    if _orjson is not None:
        try:
            obj = _orjson.loads(s)
        except Exception:
            return json.loads(s, parse_float=_RawFloat), False
        if _orjson.dumps(obj) == s.encode():
            return obj, True
    return json.loads(s, parse_float=_RawFloat), False


def _walk(
    obj, path: str, out: list, structurize: bool = False, fast: bool = False
) -> None:
    """Flatten one parsed JSON record into typed leaves, document order.

    Type split per JsonParser.cpp:253-311. Arrays: kept whole
    (UnstructuredArray) as canonical JSON text by default, or — with
    structurize=True — element-typed leaves between ARRSTART/ARREND
    markers (OBJSTART/OBJEND bracket object elements), mirroring the
    reference's --structurize-arrays schema-tree expansion."""
    if isinstance(obj, dict):
        if not obj and path:
            # root {} is the canonical zero-leaf record; a NESTED empty
            # object needs a leaf or its key is lost on reconstruction
            out.append((path, NODE_EMPTYOBJ, 0, None, None))
            return
        for k, v in obj.items():
            _walk(v, f"{path}.{k}" if path else k, out, structurize, fast)
        return
    if isinstance(obj, bool):
        out.append((path, NODE_BOOL, 1 if obj else 0, None, None))
    elif isinstance(obj, int):
        if _INT64_MIN <= obj <= _INT64_MAX:
            out.append((path, NODE_INT, obj, None, None))
        else:
            out.append((path, NODE_BIGNUM, 0, str(obj), None))
    elif isinstance(obj, float):
        okey = float_order_key(obj)
        raw = getattr(obj, "raw", None)
        if okey == -1:
            # -0.0: the doubles compare equal to 0.0, so the comparison
            # key normalizes to 0; the sign survives via the FMTFLOAT
            # raw-text column (ADVICE: ±0.0 key split broke 'a: 0.0').
            out.append(
                (path, NODE_FMTFLOAT, 0, raw if raw is not None else "-0.0", None)
            )
            return
        if raw is None and fast:
            # orjson fast path: the record-level canonical check proved
            # this float's source text equals orjson's rendering of it.
            # orjson and json.dumps produce IDENTICAL shortest-digit
            # fixed notation for 0 and magnitudes in [1e-4, 1e16), so
            # in-range values need no serialization at all; outside it
            # the styles diverge (orjson "1e16"/"0.00001" vs json
            # "1e+16"/"1e-05") — recover the source text and compare.
            av = obj if obj >= 0.0 else -obj
            if not (av == 0.0 or 1e-4 <= av < 1e16):
                raw = _orjson.dumps(obj).decode()
        if raw is not None and raw != json.dumps(float(obj)):
            # source text ≠ our decoder's canonical form ("1.50", "1e5",
            # or orjson's exponent style) → DictionaryFloat analog
            out.append((path, NODE_FMTFLOAT, okey, raw, None))
        else:
            out.append((path, NODE_FLOAT, okey, None, None))
    elif isinstance(obj, str):
        if " " in obj:
            lt, vs, vt, ev = parse_one(obj)
            out.append((path, NODE_CLPSTR, 0, None, (lt, vs, vt, ev)))
        else:
            out.append((path, NODE_VARSTR, 0, obj, None))
    elif obj is None:
        out.append((path, NODE_NULL, 0, None, None))
    elif isinstance(obj, list):
        if not structurize:
            out.append(
                (
                    path,
                    NODE_ARRAY,
                    0,
                    json.dumps(obj, separators=(",", ":"), ensure_ascii=False),
                    None,
                )
            )
            return
        out.append((path, NODE_ARRSTART, 0, None, None))
        for el in obj:
            if isinstance(el, dict):
                out.append((path, NODE_OBJSTART, 0, None, None))
                for k, v in el.items():
                    _walk(v, f"{path}.{k}" if path else k, out, structurize, fast)
                out.append((path, NODE_OBJEND, 0, None, None))
            else:
                _walk(el, path, out, structurize, fast)
        out.append((path, NODE_ARREND, 0, None, None))
    else:  # pragma: no cover
        raise TypeError(f"unsupported JSON value: {type(obj)}")


def _parse_records(
    df: DataFrame,
    json_col: str,
    passthrough: list[str],
    structurize: bool = False,
) -> DataFrame:
    """Arrow pass 1: JSON text → typed leaves (+ ClpString tokenization)."""
    fields = []
    for part in _LEAF_SCHEMA.split(", "):
        name, typ = part.split(" ", 1)
        fields.append(f"{name}:{typ}")
    # join the passthrough fields AND the leaves column in one list —
    # with zero passthrough columns (a single-column JSON-lines frame)
    # a naive prefix-join would emit a leading-comma DDL string that
    # mapInPandas' schema parser rejects
    out_schema = ", ".join(
        [
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema
            if f.name in passthrough
        ]
        + [f"leaves array<struct<{','.join(fields)}>>"]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            leaves_col = []
            for s in pdf[json_col]:
                rec: list = []
                obj, fast = _loads(s)
                if not isinstance(obj, dict):
                    # a top-level array/scalar would flatten to a leaf
                    # with path "" and reconstruct as {"": value} —
                    # silent corruption. The reference ingests records
                    # (objects); reject loudly at parse time instead.
                    raise ValueError(
                        "clp_s encoding requires top-level JSON objects; "
                        f"got {type(obj).__name__}: {str(s)[:80]!r}"
                    )
                _walk(obj, "", rec, structurize, fast)
                rows = []
                for path, tag, ival, sval, clp in rec:
                    if clp is None:
                        rows.append((path, tag, ival, sval, None, None, None, None))
                    else:
                        lt, vs, vt, ev = clp
                        rows.append((path, tag, 0, None, lt, vs, vt, ev))
                leaves_col.append(rows)
            out = pdf[passthrough].copy()
            out["leaves"] = leaves_col
            yield out

    from clp_spark.util import spread

    return spread(df.select(*dict.fromkeys(passthrough + [json_col]))).mapInPandas(
        run, schema=out_schema
    )


# written by JsonArchive.save as its last step: a fresh id per save
SAVE_ID_FILE = "_save_id"


class JsonArchive:
    """Encoded JSON table + its dictionaries (the clp_s archive analog:
    archive_constants.hpp:12-25 — schema tree, schema map, var/log
    dicts, typed tables)."""

    def __init__(self, encoded, tree, schema_map, logtype_dict, var_dict,
                 node_map, schema_ids, range_index=None,
                 range_index_idx_col=None):
        self.encoded = encoded            # DF: passthrough + schema_id + node_ids + jvals
        self.tree = tree                  # DF: node_id, path, tag
        self.schema_map = schema_map      # DF: schema_id, node_ids
        self.logtype_dict = logtype_dict  # DF: logtype_id, logtype
        self.var_dict = var_dict          # DF: var_id, value
        self.node_map = node_map          # {(path, tag): node_id}
        self.schema_ids = schema_ids      # {tuple(node_ids): schema_id}
        # metadata range index (RangeIndexEntry analog,
        # archive_constants.hpp:40-45): per source file, the metadata
        # fields + the contiguous [idx_min, idx_max] row-index range it
        # occupies. '$'-namespace KQL filters rewrite against it.
        self.range_index = range_index    # list[{"fields", "idx_min", "idx_max"}] | None
        self.range_index_idx_col = range_index_idx_col

    @cached_property
    def dict_index(self):
        """Candidate-ID index over this archive's dictionaries, built on
        first use and kept for the archive's lifetime."""
        from clp_spark.search.executor import ArchiveDicts

        return ArchiveDicts(self.logtype_dict, self.var_dict).index

    def save(self, out_dir: str) -> None:
        """Persist the archive (ArchiveWriter analog: schema_tree,
        schema_ids map, dicts, encoded tables — archive_constants.hpp:
        12-25). Encoded rows partition by schema_id — the per-schema
        table layout, so schema pruning becomes partition pruning.

        A fresh save id (SAVE_ID_FILE) is removed first and written as
        the last step: loaders cache on it, so a directory that is being
        or has been re-saved is never served from a stale load."""
        import os

        save_id = os.path.join(out_dir, SAVE_ID_FILE)
        if os.path.exists(save_id):
            os.remove(save_id)
        (
            self.encoded.write.mode("overwrite")
            .partitionBy("schema_id")
            .parquet(os.path.join(out_dir, "tables"))
        )
        self.tree.write.mode("overwrite").parquet(os.path.join(out_dir, "schema_tree"))
        self.schema_map.write.mode("overwrite").parquet(
            os.path.join(out_dir, "schema_map")
        )
        self.logtype_dict.write.mode("overwrite").parquet(
            os.path.join(out_dir, "log_dict")
        )
        self.var_dict.write.mode("overwrite").parquet(os.path.join(out_dir, "var_dict"))
        # the column index is DERIVED from the schema tree just written:
        # rebuild it now so re-saving into an existing directory can
        # never leave a stale index that would let search_archives_kql
        # prune an archive which now hosts the queried field (the
        # unsound-pruning class test_column_index's fuzz forbids)
        from clp_spark.clps.index import write_column_index

        write_column_index(out_dir)
        if self.range_index is not None:
            with open(os.path.join(out_dir, "range_index.json"), "w") as f:
                json.dump(
                    {
                        "idx_col": self.range_index_idx_col,
                        "entries": self.range_index,
                    },
                    f,
                )
        with open(save_id, "w") as f:
            f.write(uuid.uuid4().hex)

    @classmethod
    def load(
        cls, spark, out_dir: str, driver_dict_cap: int = 300_000
    ) -> "JsonArchive":
        import os

        range_index = range_idx_col = None
        ri_path = os.path.join(out_dir, "range_index.json")
        if os.path.exists(ri_path):
            with open(ri_path) as f:
                ri = json.load(f)
            range_index, range_idx_col = ri["entries"], ri["idx_col"]

        tree = spark.read.parquet(os.path.join(out_dir, "schema_tree"))
        schema_map = spark.read.parquet(os.path.join(out_dir, "schema_map"))
        node_map = _collect_map(
            tree, driver_dict_cap, lambda r: ((r["path"], r["tag"]), r["node_id"])
        )
        schema_ids = _collect_map(
            schema_map,
            driver_dict_cap,
            lambda r: (tuple(r["node_ids"]), r["schema_id"]),
        )
        return cls(
            spark.read.parquet(os.path.join(out_dir, "tables")),
            tree,
            schema_map,
            spark.read.parquet(os.path.join(out_dir, "log_dict")),
            spark.read.parquet(os.path.join(out_dir, "var_dict")),
            node_map,
            schema_ids,
            range_index=range_index,
            range_index_idx_col=range_idx_col,
        )


def build_range_index(
    df: DataFrame, fields: list[str], idx_col: str, cap: int = 100_000
) -> list[dict]:
    """Metadata range index (RangeIndexEntry analog): one entry per
    distinct metadata tuple = per ingested file, carrying the
    [idx_min, idx_max] row-index range it occupies. Exactness of the
    '$'-filter rewrite requires the ranges be pairwise DISJOINT (each
    file a contiguous idx run — the reference's log_event_idx is
    assigned in ingest order, which guarantees it); validated here.

    One distributed groupBy over (fields); the collected result is one
    row per source file — driver-small by construction."""
    rows = (
        df.groupBy(*fields)
        .agg(F.min(idx_col).alias("_lo"), F.max(idx_col).alias("_hi"))
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        raise ValueError(f"range index exceeds {cap} entries")
    entries = [
        {
            "fields": {f: r[f] for f in fields},
            "idx_min": r["_lo"],
            "idx_max": r["_hi"],
        }
        for r in rows
    ]
    entries.sort(key=lambda e: e["idx_min"])
    for a, b in zip(entries, entries[1:]):
        if b["idx_min"] <= a["idx_max"]:
            raise ValueError(
                "range-index intervals interleave "
                f"({a['fields']} [{a['idx_min']},{a['idx_max']}] vs "
                f"{b['fields']} [{b['idx_min']},{b['idx_max']}]): "
                f"'{idx_col}' must be contiguous per metadata tuple "
                "(ingest-order row index)"
            )
    return entries


def encode_json_df(
    df: DataFrame,
    json_col: str = "json",
    passthrough: list[str] | None = None,
    driver_dict_cap: int = 300_000,
    structurize_arrays: bool = False,
    range_index_fields: list[str] | None = None,
    range_index_idx_col: str | None = None,
) -> JsonArchive:
    """Compress a JSON-string column clp_s-style. Returns a JsonArchive.

    Dispatch: driver-map fast path while every dictionary fits
    `driver_dict_cap`; any overflow (tree, logtype dict, var dict, or
    schema set) switches to the fully distributed build — same IDs, no
    hard stop at any cardinality.

    structurize_arrays mirrors the reference option (JsonParser.cpp:476,
    e2e-parameterized in test-clp_s-search.cpp): array elements get
    typed nodes at the array's path, so KQL filters reach inside
    arrays; reconstruction stays exact via document-order markers."""
    spark = df.sparkSession
    if passthrough is None:
        passthrough = [c for c in df.columns if c != json_col]

    # metadata range index (built from the INPUT frame — metadata fields
    # are deliberately NOT stored per encoded row, that's the point)
    _ri = None
    if range_index_fields:
        if range_index_idx_col is None:
            raise ValueError("range_index_fields needs range_index_idx_col")
        _ri = build_range_index(df, range_index_fields, range_index_idx_col)

    def _finish(a: JsonArchive) -> JsonArchive:
        a.range_index = _ri
        a.range_index_idx_col = range_index_idx_col if _ri else None
        return a

    # localCheckpoint: materialized once for the (up to 5) passes below;
    # storage reclaimed when the archive's plans are GC'd (no persist pin)
    parsed = _parse_records(
        df, json_col, passthrough, structurize_arrays
    ).localCheckpoint(eager=False)

    ex = parsed.select(F.explode("leaves").alias("l"))

    # ---- merged parse tree: distinct (path, tag) → value-sorted node ids
    node_rows = (
        ex.select("l.key", "l.tag").distinct().limit(driver_dict_cap + 1).collect()
    )
    if len(node_rows) > driver_dict_cap:
        return _finish(
            _encode_json_distributed(parsed, passthrough, driver_dict_cap)
        )
    node_map = {
        (r["key"], r["tag"]): i
        for i, r in enumerate(
            sorted(node_rows, key=lambda r: (r["key"], r["tag"]))
        )
    }
    tree = spark.createDataFrame(
        [(v, k[0], k[1]) for k, v in node_map.items()],
        "node_id long, path string, tag int",
    )

    # ---- logtype dict (ClpString templates) + var dict (VarString/Array
    # whole values ∪ ClpString dictionary variables)
    lt_rows = (
        ex.filter(F.col("l.tag") == NODE_CLPSTR)
        .select(F.col("l.logtype").alias("logtype"))
        .distinct()
        .limit(driver_dict_cap + 1)
        .collect()
    )
    var_whole = ex.filter(
        F.col("l.tag").isin([NODE_VARSTR, NODE_ARRAY, NODE_BIGNUM, NODE_FMTFLOAT])
    ).select(F.col("l.sval").alias("value"))
    var_clp = (
        ex.filter(F.col("l.tag") == NODE_CLPSTR)
        .select(F.explode(F.arrays_zip("l.var_strs", "l.var_types")).alias("z"))
        .filter(F.col("z.var_types") == VT_DICT)
        .select(F.col("z.var_strs").alias("value"))
    )
    var_rows = (
        var_whole.union(var_clp).distinct().limit(driver_dict_cap + 1).collect()
    )
    if len(lt_rows) > driver_dict_cap or len(var_rows) > driver_dict_cap:
        return _finish(
            _encode_json_distributed(parsed, passthrough, driver_dict_cap)
        )
    lt_map = {v: i for i, v in enumerate(sorted(r["logtype"] for r in lt_rows))}
    v_map = {v: i for i, v in enumerate(sorted(r["value"] for r in var_rows))}
    logtype_dict = spark.createDataFrame(
        [(v, k) for k, v in lt_map.items()], "logtype_id long, logtype string"
    )
    var_dict = spark.createDataFrame(
        [(v, k) for k, v in v_map.items()], "var_id long, value string"
    )

    # ---- schema map: distinct present-node sets → stable schema ids
    b_nodes = spark.sparkContext.broadcast(node_map)

    def keysets(batches):
        nm = b_nodes.value
        for pdf in batches:
            out = []
            for leaves in pdf["leaves"]:
                ids = sorted({nm[(lf["key"], lf["tag"])] for lf in leaves})
                out.append(",".join(map(str, ids)))
            yield pd.DataFrame({"sk": out})

    sk_rows = (
        parsed.mapInPandas(keysets, schema="sk string")
        .distinct()
        .limit(driver_dict_cap + 1)
        .collect()
    )
    if len(sk_rows) > driver_dict_cap:
        return _finish(
            _encode_json_distributed(parsed, passthrough, driver_dict_cap)
        )
    schema_ids = {
        tuple(int(x) for x in sk.split(",") if x): i
        for i, sk in enumerate(sorted(r["sk"] for r in sk_rows))
    }
    schema_map = spark.createDataFrame(
        [(v, list(k)) for k, v in schema_ids.items()],
        "schema_id long, node_ids array<long>",
    )

    # ---- encode pass: leaves → jvals, schema_id
    b_lt = spark.sparkContext.broadcast(lt_map)
    b_v = spark.sparkContext.broadcast(v_map)
    b_sch = spark.sparkContext.broadcast(schema_ids)

    out_schema = ", ".join(
        [
            f"{f.name} {f.dataType.simpleString()}"
            for f in parsed.schema
            if f.name != "leaves"
        ]
        + [f"schema_id long", "node_ids array<long>", f"jvals {JVALS_TYPE}"]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nm = b_nodes.value
        ltm = b_lt.value
        vm = b_v.value
        sm = b_sch.value
        for pdf in batches:
            nid_col, jv_col, sid_col = [], [], []
            for leaves in pdf["leaves"]:
                jv = []
                present = set()
                for lf in leaves:
                    node = nm[(lf["key"], lf["tag"])]
                    present.add(node)
                    tag = lf["tag"]
                    if tag == NODE_CLPSTR:
                        enc_vars = []
                        for j, t in enumerate(lf["var_types"]):
                            if t == VT_DICT:
                                enc_vars.append(vm[lf["var_strs"][j]])
                            else:
                                enc_vars.append(int(lf["enc_prelim"][j]))
                        jv.append((node, ltm[lf["logtype"]], enc_vars))
                    elif tag in (NODE_VARSTR, NODE_ARRAY, NODE_BIGNUM):
                        jv.append((node, vm[lf["sval"]], None))
                    elif tag == NODE_FMTFLOAT:
                        # numeric order key in enc, source text via vars[0]
                        jv.append((node, int(lf["ival"]), [vm[lf["sval"]]]))
                    else:
                        jv.append((node, int(lf["ival"]), None))
                ids = tuple(sorted(present))
                nid_col.append(list(ids))
                jv_col.append(jv)
                sid_col.append(sm[ids])
            out = pdf.drop(columns=["leaves"])
            out["schema_id"] = sid_col
            out["node_ids"] = nid_col
            out["jvals"] = jv_col
            yield out

    encoded = parsed.mapInPandas(encode, schema=out_schema)
    return _finish(
        JsonArchive(
            encoded, tree, schema_map, logtype_dict, var_dict, node_map, schema_ids
        )
    )


def _encode_json_distributed(
    parsed: DataFrame, passthrough: list[str], driver_dict_cap: int
) -> JsonArchive:
    """Fully distributed clp_s archive build — no dictionary, tree, or
    schema set ever touches the driver (the reference builds these
    incrementally at any cardinality: ArchiveWriter.cpp:370-440,
    SchemaMap.cpp; round 2 hard-stopped here with NotImplementedError).

    IDs are value-sorted ranks via the same two-pass range-partitioned
    rank as the unstructured engine (dicts/build.py assign_stable_ids),
    so the output archive is IDENTICAL to the driver-map fast path's —
    tested by forcing a tiny cap on the same input. The encode becomes:
    leaves join tree (node ids) / logtype dict / var dict, a two-level
    regroup (vars per ClpString leaf, then leaves per record), and a
    schema-key join. node_map / schema_ids are still collected for
    query-time pruning WHEN they fit the cap; otherwise they are None
    and clps.search degrades to DataFrame-side lookups (still exact).
    """
    from clp_spark.dicts.build import assign_stable_ids

    spark = parsed.sparkSession
    keyed = parsed.withColumn(
        "_rid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=False)
    leaves = (
        keyed.select("_rid", F.posexplode("leaves").alias("pos", "l"))
        .select(
            "_rid",
            "pos",
            F.col("l.key").alias("key"),
            F.col("l.tag").alias("tag"),
            F.col("l.ival").alias("ival"),
            F.col("l.sval").alias("sval"),
            F.col("l.logtype").alias("logtype"),
            F.col("l.var_strs").alias("var_strs"),
            F.col("l.var_types").alias("var_types"),
            F.col("l.enc_prelim").alias("enc_prelim"),
        )
        .localCheckpoint(eager=False)
    )

    # ---- merged parse tree: (key, tag) sorts as key||'\0'||tag — tag is
    # zero-padded to 2 digits (tags 0..11) so the trailing 3 chars decode
    # unambiguously even if a key contained '\0' AND string order equals
    # numeric tag order; the sort equals the driver path's
    # sorted((key, tag)) because UTF-8 byte order == code-point order
    nk = F.expr("concat(key, chr(0), lpad(cast(tag as string), 2, '0'))").alias(
        "_nk"
    )
    tree = assign_stable_ids(
        leaves.select(nk).distinct(), "_nk", "node_id"
    ).select(
        "node_id",
        F.expr("substring(_nk, 1, length(_nk)-3)").alias("path"),
        F.expr("cast(substring(_nk, length(_nk)-1, 2) as int)").alias("tag"),
    )

    # ---- dictionaries (value-sorted rank IDs, fully distributed)
    logtype_dict = assign_stable_ids(
        leaves.filter(F.col("tag") == NODE_CLPSTR).select("logtype").distinct(),
        "logtype",
        "logtype_id",
    )
    var_whole = leaves.filter(
        F.col("tag").isin([NODE_VARSTR, NODE_ARRAY, NODE_BIGNUM, NODE_FMTFLOAT])
    ).select(F.col("sval").alias("value"))
    var_clp = (
        leaves.filter(F.col("tag") == NODE_CLPSTR)
        .select(F.explode(F.arrays_zip("var_strs", "var_types")).alias("z"))
        .filter(F.col("z.var_types") == VT_DICT)
        .select(F.col("z.var_strs").alias("value"))
    )
    var_dict = assign_stable_ids(
        var_whole.union(var_clp).distinct(), "value", "var_id"
    )

    # ---- per-leaf encode: four branch frames (no null-keyed joins)
    tree_kv = tree.select(F.col("path").alias("key"), "tag", "node_id")
    wnode = leaves.join(tree_kv, ["key", "tag"])
    simple = wnode.filter(
        ~F.col("tag").isin(
            [NODE_CLPSTR, NODE_VARSTR, NODE_ARRAY, NODE_BIGNUM, NODE_FMTFLOAT]
        )
    ).select(
        "_rid",
        "pos",
        F.col("node_id").alias("node"),
        F.col("ival").alias("enc"),
        F.lit(None).cast("array<long>").alias("vars"),
    )
    vstr = (
        wnode.filter(F.col("tag").isin([NODE_VARSTR, NODE_ARRAY, NODE_BIGNUM]))
        .join(var_dict.select(F.col("value").alias("sval"), "var_id"), "sval")
        .select(
            "_rid",
            "pos",
            F.col("node_id").alias("node"),
            F.col("var_id").alias("enc"),
            F.lit(None).cast("array<long>").alias("vars"),
        )
    )
    fmtf = (
        wnode.filter(F.col("tag") == NODE_FMTFLOAT)
        .join(var_dict.select(F.col("value").alias("sval"), "var_id"), "sval")
        .select(
            "_rid",
            "pos",
            F.col("node_id").alias("node"),
            F.col("ival").alias("enc"),
            F.array(F.col("var_id")).alias("vars"),
        )
    )
    clp_leaves = wnode.filter(F.col("tag") == NODE_CLPSTR)
    vex = clp_leaves.select(
        "_rid",
        "pos",
        F.posexplode(F.arrays_zip("var_strs", "var_types", "enc_prelim")).alias(
            "vpos", "v"
        ),
    ).select(
        "_rid",
        "pos",
        "vpos",
        F.col("v.var_strs").alias("value"),
        F.col("v.var_types").alias("vt"),
        F.col("v.enc_prelim").alias("ep"),
    )
    venc = vex.join(var_dict, "value", "left").withColumn(
        "enc2",
        F.when(F.col("vt") == VT_DICT, F.col("var_id")).otherwise(F.col("ep")),
    )
    vars_grouped = (
        venc.groupBy("_rid", "pos")
        .agg(F.array_sort(F.collect_list(F.struct("vpos", "enc2"))).alias("_a"))
        .select(
            "_rid", "pos", F.expr("transform(_a, x -> x.enc2)").alias("vars")
        )
    )
    clp = (
        # NOT F.broadcast: this path exists precisely because the
        # dictionaries can exceed the driver cap — a forced broadcast
        # would collect the over-cap logtype dict to the driver (8 GB
        # BroadcastExchange limit / OOM) in exactly the workload the
        # distributed build serves. Catalyst/AQE still broadcasts it
        # automatically whenever it is actually small (the var_dict
        # join above is unforced for the same reason).
        clp_leaves.join(logtype_dict, "logtype")
        .join(vars_grouped, ["_rid", "pos"], "left")
        .select(
            "_rid",
            "pos",
            F.col("node_id").alias("node"),
            F.col("logtype_id").alias("enc"),
            F.coalesce("vars", F.expr("array()").cast("array<long>")).alias(
                "vars"
            ),
        )
    )
    lv = simple.unionByName(vstr).unionByName(fmtf).unionByName(clp)

    # ---- regroup: document-order jvals + present-node set per record
    rows = (
        lv.groupBy("_rid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "node", "enc", "vars"))
            ).alias("_a")
        )
        .select(
            "_rid",
            F.expr(
                "transform(_a, x -> named_struct("
                "'node', x.node, 'enc', x.enc, 'vars', x.vars))"
            ).alias("jvals"),
            F.expr("array_sort(array_distinct(transform(_a, x -> x.node)))").alias(
                "node_ids"
            ),
        )
    )
    full = (
        keyed.select("_rid", *passthrough)
        .join(rows, "_rid", "left")
        .withColumn("jvals", F.coalesce("jvals", F.expr(f"cast(array() as {JVALS_TYPE})")))
        .withColumn(
            "node_ids", F.coalesce("node_ids", F.expr("array()").cast("array<long>"))
        )
        .withColumn("sk", F.concat_ws(",", "node_ids"))
    )

    # ---- schema map: distinct present-node sets → stable schema ids
    schema_map_sk = assign_stable_ids(
        full.select("sk").distinct(), "sk", "schema_id"
    )
    encoded = (
        full.join(schema_map_sk, "sk")
        .select(*passthrough, "schema_id", "node_ids", "jvals")
    )
    schema_map = schema_map_sk.select(
        "schema_id",
        F.expr(
            "transform(filter(split(sk, ','), x -> x != ''), "
            "x -> cast(x as bigint))"
        ).alias("node_ids"),
    )

    node_map = _collect_map(
        tree, driver_dict_cap, lambda r: ((r["path"], r["tag"]), r["node_id"])
    )
    schema_ids = _collect_map(
        schema_map,
        driver_dict_cap,
        lambda r: (tuple(r["node_ids"]), r["schema_id"]),
    )
    return JsonArchive(
        encoded, tree, schema_map, logtype_dict, var_dict, node_map, schema_ids
    )


def _collect_map(df: DataFrame, cap: int, kv) -> dict | None:
    """Driver map of a dictionary DF when it fits `cap`, else None (the
    search layer degrades to DataFrame-side lookups)."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return dict(kv(r) for r in rows)


def reconstruct_json_df(
    archive: JsonArchive, out_col: str = "json", driver_dict_cap: int = 300_000
) -> DataFrame:
    """Rebuild each record's JSON text (ordered extract analog:
    JsonConstructor.hpp:28-34). Output is canonical serialization —
    structurally equal to the input (the reference's integration tests
    compare JSON structurally too).

    Fast path broadcasts the dictionaries (CLP's model); when the tree
    or either dictionary exceeds `driver_dict_cap` the extract switches
    to the join-based path — dictionary lookups become joins, nothing
    touches the driver, byte-identical output."""
    spark = archive.encoded.sparkSession
    lt_rows = v_rows = None
    if archive.node_map is not None:
        rows = archive.logtype_dict.limit(driver_dict_cap + 1).collect()
        if len(rows) <= driver_dict_cap:
            lt_rows = {r["logtype_id"]: r["logtype"] for r in rows}
            rows = archive.var_dict.limit(driver_dict_cap + 1).collect()
            if len(rows) <= driver_dict_cap:
                v_rows = {r["var_id"]: r["value"] for r in rows}
    if v_rows is None:
        return _reconstruct_joined(archive, out_col)
    inv_nodes = {v: k for k, v in archive.node_map.items()}
    b_nodes = spark.sparkContext.broadcast(inv_nodes)
    b_lt = spark.sparkContext.broadcast(lt_rows)
    b_v = spark.sparkContext.broadcast(v_rows)

    from clp_spark.search.decode import _fill_template, parse_template

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in archive.encoded.schema
    ) + f", {out_col} string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nodes = b_nodes.value
        lts = b_lt.value
        vs = b_v.value
        tcache: dict = {}
        for pdf in batches:
            texts = []
            for jv in pdf["jvals"]:
                leaves = []
                for x in jv:
                    path, tag = nodes[x["node"]]
                    enc = int(x["enc"])
                    if tag == NODE_INT:
                        val = enc
                    elif tag == NODE_FLOAT:
                        val = _unkey_float(enc)
                    elif tag == NODE_FMTFLOAT:
                        val = _Raw(vs[x["vars"][0]])
                    elif tag == NODE_BOOL:
                        val = bool(enc)
                    elif tag == NODE_NULL:
                        val = None
                    elif tag == NODE_VARSTR:
                        val = vs[enc]
                    elif tag == NODE_BIGNUM:
                        val = int(vs[enc])
                    elif tag == NODE_ARRAY:
                        val = _Raw(vs[enc])  # canonical JSON text, verbatim
                    elif tag == NODE_EMPTYOBJ:
                        val = {}
                    elif tag in _MARKER_TAGS:
                        val = None
                    else:  # CLPSTR
                        tpl = tcache.get(enc)
                        if tpl is None:
                            tpl = tcache[enc] = parse_template(lts[enc])
                        val = _fill_template(tpl[0], tpl[1], list(x["vars"]), vs)
                    leaves.append((path, tag, val))
                texts.append(_dumps(_assemble_record(leaves)))
            pdf = pdf.copy()
            pdf[out_col] = texts
            yield pdf

    return archive.encoded.mapInPandas(run, schema=out_schema)


def _assemble_record(leaves) -> dict:
    """Document-ordered (path, tag, value) leaves → nested record.

    A tiny stack machine: ARRSTART/ARREND open/close a list attached at
    the marker's path, OBJSTART/OBJEND bracket an object element inside
    the enclosing list; scalar leaves attach to the top container at
    their path relative to the container's base path. With no markers
    (structurize_arrays=False) this degenerates to plain nested-dict
    assembly."""
    root: dict = {}
    stack: list = [(root, "")]

    def attach(val, path):
        top, base = stack[-1]
        if isinstance(top, list):
            return top.append(val)  # array element at the array's path
        rel = path[len(base):].lstrip(".") if base else path
        parts = rel.split(".")
        cur = top
        for p in parts[:-1]:
            cur = cur.setdefault(p, {})
        cur[parts[-1]] = val

    for path, tag, val in leaves:
        if tag == NODE_ARRSTART:
            lst: list = []
            attach(lst, path)
            stack.append((lst, path))
        elif tag == NODE_OBJSTART:
            d: dict = {}
            stack[-1][0].append(d)
            stack.append((d, path))
        elif tag in (NODE_ARREND, NODE_OBJEND):
            stack.pop()
        else:
            attach(val, path)
    return root


def _reconstruct_joined(archive: JsonArchive, out_col: str) -> DataFrame:
    """Join-based ordered extract for archives whose tree/dictionaries
    exceed the driver cap (pairs with _encode_json_distributed). Node
    paths, templates, and dictionary variables arrive via joins; the
    final Arrow pass assembles each record's JSON from its own rows
    only — nothing is ever collected to the driver. Byte-identical to
    the broadcast fast path (tested by forcing a tiny cap)."""
    from clp_spark.config import (
        PLACEHOLDER_DICT,
        PLACEHOLDER_FLOAT,
        PLACEHOLDER_INT,
    )
    from clp_spark.oracle.tokenizer import decode_float
    from clp_spark.search.decode import parse_template

    enc = archive.encoded
    keyed = enc.withColumn(
        "_rid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=False)
    lx = (
        keyed.select("_rid", F.posexplode("jvals").alias("pos", "v"))
        .select(
            "_rid",
            "pos",
            F.col("v.node").alias("node"),
            F.col("v.enc").alias("enc"),
            F.col("v.vars").alias("vars"),
        )
        .join(
            archive.tree.select(F.col("node_id").alias("node"), "path", "tag"),
            "node",
        )
        .localCheckpoint(eager=False)
    )
    null_s = F.lit(None).cast("string")
    null_arr = F.lit(None).cast("array<string>")
    simple = lx.filter(
        ~F.col("tag").isin(
            [NODE_VARSTR, NODE_CLPSTR, NODE_ARRAY, NODE_BIGNUM, NODE_FMTFLOAT]
        )
    ).select(
        "_rid", "pos", "path", "tag", "enc",
        null_s.alias("sval"), null_s.alias("tpl"), null_arr.alias("dvals"),
        "vars",
    )
    vstr = (
        lx.filter(F.col("tag").isin([NODE_VARSTR, NODE_ARRAY, NODE_BIGNUM]))
        .join(
            archive.var_dict.select(
                F.col("var_id").alias("enc"), F.col("value").alias("sval")
            ),
            "enc",
        )
        .select(
            "_rid", "pos", "path", "tag", "enc",
            "sval", null_s.alias("tpl"), null_arr.alias("dvals"), "vars",
        )
    )
    fmtf = (
        lx.filter(F.col("tag") == NODE_FMTFLOAT)
        .withColumn("_vid", F.expr("vars[0]"))
        .join(
            archive.var_dict.select(
                F.col("var_id").alias("_vid"), F.col("value").alias("sval")
            ),
            "_vid",
        )
        .select(
            "_rid", "pos", "path", "tag", "enc",
            "sval", null_s.alias("tpl"), null_arr.alias("dvals"), "vars",
        )
    )
    clp_leaves = lx.filter(F.col("tag") == NODE_CLPSTR)

    # dict-slot positions per template — a distributed pass over the
    # logtype dict itself, so var-id joins touch only true dict slots
    # (a non-dict encoding could numerically collide with a var_id)
    def kinds(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dp = []
            for lt in pdf["logtype"]:
                _, ks = parse_template(lt)
                dp.append([i for i, k in enumerate(ks) if k == PLACEHOLDER_DICT])
            out = pdf[["logtype_id", "logtype"]].copy()
            out["dict_pos"] = dp
            yield out

    lt_kinds = archive.logtype_dict.select("logtype_id", "logtype").mapInPandas(
        kinds, "logtype_id long, logtype string, dict_pos array<int>"
    )
    wlt = clp_leaves.join(
        lt_kinds.select(
            F.col("logtype_id").alias("enc"),
            F.col("logtype").alias("tpl"),
            "dict_pos",
        ),
        "enc",
    )
    vex = wlt.select(
        "_rid", "pos", "dict_pos", F.posexplode_outer("vars").alias("vpos", "venc")
    ).withColumn("is_dict", F.expr("array_contains(dict_pos, vpos)"))
    dictv = vex.filter("is_dict").join(
        archive.var_dict.select(
            F.col("var_id").alias("venc"), F.col("value").alias("dval")
        ),
        "venc",
    )
    nond = vex.filter(
        (~F.col("is_dict")) & F.col("vpos").isNotNull()
    ).withColumn("dval", null_s)
    dgrp = (
        dictv.select("_rid", "pos", "vpos", "dval")
        .unionByName(nond.select("_rid", "pos", "vpos", "dval"))
        .groupBy("_rid", "pos")
        .agg(F.array_sort(F.collect_list(F.struct("vpos", "dval"))).alias("_a"))
        .select("_rid", "pos", F.expr("transform(_a, x -> x.dval)").alias("dvals"))
    )
    clp = (
        wlt.join(dgrp, ["_rid", "pos"], "left")
        .select(
            "_rid", "pos", "path",
            F.lit(NODE_CLPSTR).cast("int").alias("tag"),
            "enc", null_s.alias("sval"), "tpl",
            F.coalesce("dvals", F.expr("array()").cast("array<string>")).alias(
                "dvals"
            ),
            "vars",
        )
    )
    all_leaves = simple.unionByName(vstr).unionByName(fmtf).unionByName(clp)
    rows = all_leaves.groupBy("_rid").agg(
        F.array_sort(
            F.collect_list(
                F.struct("pos", "path", "tag", "enc", "sval", "tpl", "dvals", "vars")
            )
        ).alias("_leaves")
    )
    joined = keyed.join(rows, "_rid", "left")

    cols = enc.columns
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in enc.schema
    ) + f", {out_col} string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tcache: dict = {}
        for pdf in batches:
            texts = []
            for leaves in pdf["_leaves"]:
                decoded = []
                for lf in leaves if leaves is not None else ():
                    tag = lf["tag"]
                    e = int(lf["enc"])
                    if tag == NODE_INT:
                        val = e
                    elif tag == NODE_FLOAT:
                        val = _unkey_float(e)
                    elif tag == NODE_FMTFLOAT:
                        val = _Raw(lf["sval"])
                    elif tag == NODE_BOOL:
                        val = bool(e)
                    elif tag == NODE_NULL:
                        val = None
                    elif tag == NODE_VARSTR:
                        val = lf["sval"]
                    elif tag == NODE_BIGNUM:
                        val = int(lf["sval"])
                    elif tag == NODE_ARRAY:
                        val = _Raw(lf["sval"])
                    elif tag == NODE_EMPTYOBJ:
                        val = {}
                    elif tag in _MARKER_TAGS:
                        val = None
                    else:  # CLPSTR
                        tpl_s = lf["tpl"]
                        tpl = tcache.get(tpl_s)
                        if tpl is None:
                            tpl = tcache[tpl_s] = parse_template(tpl_s)
                        parts, ks = tpl
                        outp = [parts[0]]
                        for i, k in enumerate(ks):
                            if k == PLACEHOLDER_INT:
                                outp.append(str(int(lf["vars"][i])))
                            elif k == PLACEHOLDER_FLOAT:
                                outp.append(decode_float(int(lf["vars"][i])))
                            else:
                                outp.append(lf["dvals"][i])
                            outp.append(parts[i + 1])
                        val = "".join(outp)
                    decoded.append((lf["path"], tag, val))
                texts.append(_dumps(_assemble_record(decoded)))
            res = pdf[cols].copy()
            res[out_col] = texts
            yield res

    return joined.mapInPandas(run, schema=out_schema)
