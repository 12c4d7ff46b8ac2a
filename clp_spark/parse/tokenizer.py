"""Distributed CLP-style tokenizer/encoder: Arrow-batched mapInArrow.

Independent (vectorized) implementation of the semantics in
clp_spark.oracle.tokenizer — the pytest suite asserts exact agreement
between the two. Rules from the reference:
  - delimiters / var schemas: clp/ir/parsing.cpp:20-88
  - int encodability:         clp/EncodedVariableInterpreter.cpp:25-62
  - float bit-packing:        clp/EncodedVariableInterpreter.cpp:64-143
  - logtype escaping:         clp/ir/parsing.inc

Design notes (scale):
  - ONE engine: the byte-level numpy scan (parse/npscan.py) over
    mapInArrow — the whole Arrow batch is one uint8 array and the output
    list columns are assembled from offset/value buffers, with no
    per-row or per-token Python (the per-row loop, not the Arrow
    transfer, is what a Python UDF costs). Batches whose text holds the
    control bytes 0x00-0x03 fall back to `parse_one`, the scalar
    C-regex tokenizer below.
  - encoded int/float values are computed here; dictionary-variable IDs
    are enriched later (clp_spark.dicts) so this stage needs no global
    state and is embarrassingly parallel at any cluster size.
"""

from __future__ import annotations

import re

from clp_spark.config import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_ESCAPE,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    VT_DICT,
    VT_FLOAT,
    VT_INT,
)

# Single classifying regex that matches ONLY variable tokens — static
# text is never visited by the Python loop (the hot-path optimization:
# most log text is static). Boundary lookarounds pin matches to maximal
# token-char runs; alternation order resolves the type:
#   i — integer var (no zero-pad, no '+', no '-0'; range-checked after)
#   f — float var (digit-count-checked after)
#   d — any digit-bearing token (dictionary var)
#   e — '='-preceded token containing a letter (dictionary var)
#   h — 2+-char hex token (dictionary var)
# A failed boundary backtracks into the next alternative (e.g. '1.2.3':
# i fails at '.', f fails at the 2nd '.', d takes the whole token), so
# classification matches the per-token rules of ir/parsing.cpp:74-85 +
# EncodedVariableInterpreter.cpp:25-143 exactly (fuzz-verified against
# the oracle).
_TC = r"+\-.0-9A-Za-z\\_"
_VAR_RE = re.compile(
    rf"(?<![{_TC}])"
    rf"(?:(?P<i>0|-?[1-9][0-9]*)"
    rf"|(?P<f>-?[0-9]*\.[0-9]+)"
    rf"|(?P<d>[{_TC}]*[0-9][{_TC}]*)"
    rf"|(?P<e>(?<==)[{_TC}]*[A-Za-z][{_TC}]*)"
    rf"|(?P<h>[0-9a-fA-F]{{2,}}))"
    rf"(?![{_TC}])"
)

_INT64_MIN = -(2**63)
_INT64_MAX = 2**63 - 1
_ESC_TRANS = {
    ord(PLACEHOLDER_INT): PLACEHOLDER_ESCAPE + PLACEHOLDER_INT,
    ord(PLACEHOLDER_DICT): PLACEHOLDER_ESCAPE + PLACEHOLDER_DICT,
    ord(PLACEHOLDER_FLOAT): PLACEHOLDER_ESCAPE + PLACEHOLDER_FLOAT,
    ord(PLACEHOLDER_ESCAPE): PLACEHOLDER_ESCAPE + PLACEHOLDER_ESCAPE,
}

PARSED_FIELDS = (
    "logtype string, var_strs array<string>, var_types array<int>, "
    "enc_prelim array<long>, n_vars int, raw_bytes long"
)


def _encode_float_packed(tok: str) -> int:
    """54-bit float packing (EncodedVariableInterpreter.cpp:113-140)."""
    neg = tok[0] == "-"
    body = tok[1:] if neg else tok
    dot = body.index(".")
    digits_str = body[:dot] + body[dot + 1 :]
    num_digits = len(digits_str)
    if num_digits > 16:
        return None  # type: ignore[return-value]
    decimal_pos = len(body) - 1 - dot
    enc = (1 << 55) if neg else 0
    enc |= int(digits_str) & ((1 << 54) - 1)
    enc <<= 4
    enc |= (num_digits - 1) & 0x0F
    enc <<= 4
    enc |= (decimal_pos - 1) & 0x0F
    return enc - (1 << 64) if enc >= (1 << 63) else enc


def parse_one(msg: str):
    """Tokenize one message → (logtype, var_strs, var_types, enc_prelim).

    enc_prelim holds the int64 encoding for INT/FLOAT vars; DICT slots get
    0 (patched with the dictionary ID by the enrich stage).

    Hot-loop shape: ONE re.split call does the regex scan AND all the
    string slicing in C (capture groups interleave statics with the five
    classification alternatives at stride 6); the Python loop only
    classifies via group-slot None-ness — measured ~1.3x faster than the
    equivalent finditer loop, byte-identical output (fuzz-asserted).
    Placeholder escaping is gated on ONE C-level scan of the whole
    message (the four escape-needing bytes are absent from almost every
    real message), skipping the per-static translate calls — measured a
    further ~1.4x, byte-identical (asserted over the fixture corpus +
    adversarial escape strings).
    """
    parts = _VAR_RE.split(msg)
    n = (len(parts) - 1) // 6
    esc = (
        "\\" in msg or "\x11" in msg or "\x12" in msg or "\x13" in msg
    )
    if n == 0:
        return (msg.translate(_ESC_TRANS) if esc else msg), [], [], []
    lt: list[str] = []
    vs: list[str] = []
    vt: list[int] = []
    ev: list[int] = []
    k = 0
    for _ in range(n):
        s = parts[k]
        lt.append(s.translate(_ESC_TRANS) if esc else s)
        gi = parts[k + 1]
        gf = parts[k + 2]
        if gi is not None:
            tok = gi
            v = int(tok)
            if _INT64_MIN <= v <= _INT64_MAX:
                lt.append(PLACEHOLDER_INT)
                vt.append(VT_INT)
                ev.append(v)
            else:  # out-of-range integer text → dictionary var
                lt.append(PLACEHOLDER_DICT)
                vt.append(VT_DICT)
                ev.append(0)
        elif gf is not None:
            tok = gf
            f = _encode_float_packed(tok)
            if f is not None:
                lt.append(PLACEHOLDER_FLOAT)
                vt.append(VT_FLOAT)
                ev.append(f)
            else:  # >16 digits → dictionary var
                lt.append(PLACEHOLDER_DICT)
                vt.append(VT_DICT)
                ev.append(0)
        else:  # d / e / h → dictionary var (none can match empty, so
            # the or-chain picks exactly the participating group)
            tok = parts[k + 3] or parts[k + 4] or parts[k + 5]
            lt.append(PLACEHOLDER_DICT)
            vt.append(VT_DICT)
            ev.append(0)
        vs.append(tok)
        k += 6
    s = parts[k]
    lt.append(s.translate(_ESC_TRANS) if esc else s)
    return "".join(lt), vs, vt, ev


def tokenize_df(
    df,
    text_col: str = "text",
    passthrough: list[str] | None = None,
):
    """pages → parsed messages. Narrow map, no shuffle.

    Keeps `passthrough` columns (default: url, warc_ts, lang) and appends
    the parsed fields. mapInArrow over the byte-level vectorized scan
    (clp_spark.parse.npscan): the whole batch is one uint8 array; output
    list columns are built straight from Arrow offset/value buffers — no
    pandas, no per-row or per-token Python. Batches whose text contains
    control bytes 0x00-0x03 fall back to `parse_one` (never present in
    real corpora; fuzz covers them)."""
    if passthrough is None:
        passthrough = [c for c in ("url", "warc_ts", "lang") if c in df.columns]
    src = df.select(*passthrough, text_col)
    head = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema
        if f.name in passthrough
    )
    out_schema = (head + ", " if head else "") + PARSED_FIELDS
    n_pass = len(passthrough)
    out_names = list(passthrough) + [
        "logtype", "var_strs", "var_types", "enc_prelim", "n_vars", "raw_bytes",
    ]

    def run(batches):
        import numpy as np
        import pyarrow as pa

        from clp_spark.parse.npscan import parse_block_buf
        from clp_spark.util import forget_zip_importers

        forget_zip_importers()

        def _str_buffers(col):
            """(values uint8, offsets int64) views of an Arrow string
            column — no Python strings, no copies. None when the column
            isn't plain utf8 (then the caller takes the list path)."""
            if col.null_count:
                import pyarrow.compute as pc

                col = pc.fill_null(col, "")
            if not pa.types.is_string(col.type):
                return None
            offs = np.frombuffer(col.buffers()[1], dtype=np.int32)[
                col.offset : col.offset + len(col) + 1
            ].astype(np.int64)
            vals = np.frombuffer(col.buffers()[2], dtype=np.uint8)
            return vals, offs

        for rb in batches:
            col = rb.column(n_pass)
            bufs = _str_buffers(col)
            if bufs is not None:
                r = parse_block_buf(*bufs)
            else:
                from clp_spark.parse.npscan import parse_block

                msgs = [m if m is not None else "" for m in col.to_pylist()]
                r = parse_block(msgs)
                if r is not None:
                    r["lt_offsets"] = np.cumsum(
                        [0] + [len(s.encode()) for s in r["logtypes"]]
                    )
                    r["lt_values"] = np.frombuffer(
                        "".join(r["logtypes"]).encode(), dtype=np.uint8
                    )
            if r is None:
                msgs = [m if m is not None else "" for m in col.to_pylist()]
                rows = [parse_one(m) for m in msgs]
                lt = pa.array([x[0] for x in rows], pa.string())
                vs = pa.array([x[1] for x in rows], pa.list_(pa.string()))
                vt = pa.array([x[2] for x in rows], pa.list_(pa.int32()))
                evs = pa.array([x[3] for x in rows], pa.list_(pa.int64()))
                nv = pa.array([len(x[1]) for x in rows], pa.int32())
                nb = pa.array(
                    [len(m.encode("utf-8")) for m in msgs], pa.int64()
                )
            else:
                n_tok = len(r["var_types"])
                # logtype + token strings straight from (offsets, bytes)
                # buffers — the whole output side is buffer assembly
                lt = pa.Array.from_buffers(
                    pa.utf8(),
                    len(rb),
                    [
                        None,
                        pa.py_buffer(r["lt_offsets"].astype(np.int32)),
                        pa.py_buffer(np.ascontiguousarray(r["lt_values"])),
                    ],
                )
                vals = pa.Array.from_buffers(
                    pa.utf8(),
                    n_tok,
                    [
                        None,
                        pa.py_buffer(r["tok_val_offsets"].astype(np.int32)),
                        pa.py_buffer(np.ascontiguousarray(r["tok_bytes"])),
                    ],
                )
                offs = pa.array(r["tok_offsets"].astype(np.int32))
                vs = pa.ListArray.from_arrays(offs, vals)
                vt = pa.ListArray.from_arrays(offs, pa.array(r["var_types"]))
                evs = pa.ListArray.from_arrays(offs, pa.array(r["enc"]))
                nv = pa.array(r["n_toks"].astype(np.int32))
                nb = pa.array(r["raw_bytes"])
            arrays = [rb.column(i) for i in range(n_pass)] + [
                lt, vs, vt, evs, nv, nb,
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return src.mapInArrow(run, schema=out_schema)
