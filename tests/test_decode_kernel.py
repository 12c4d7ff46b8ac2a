"""The Arrow decode kernel (search/decode.py) and its fused RE2 confirm.

Decode parity: the kernel's text equals `decode_one` row by row on
generated templates and values, on both of its input forms (broadcast
tables, and the join path's per-row `_tpl`/`_dstrs`). Confirm parity:
`wildcard_to_re2` under `pyarrow.compute.match_substring_regex` keeps
exactly the strings that `wildcard_to_java_regex` keeps under Spark's
`rlike`, which the confirm used before it moved into the kernel."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from clp_spark.config import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_ESCAPE,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
)
from clp_spark.oracle.tokenizer import encode_float
from clp_spark.search.decode import (
    _decode_batches,
    decode_messages,
    decode_one,
    decode_tables,
    parse_template,
)
from clp_spark.search.wildcard import wildcard_to_java_regex, wildcard_to_re2

INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1
STATIC_CHARS = list("ab z=:/.-_") + [
    PLACEHOLDER_ESCAPE, PLACEHOLDER_INT, PLACEHOLDER_DICT, PLACEHOLDER_FLOAT,
    "\n", "é", "€",
]
FLOATS = [
    "0.050", "-0.050", "0.5", "-1.25", "3.0", "1234567890.123456",
    "-123456789012345.6", "0.000000000000001", "10.0",
]
DICT_VALUES = ["alice", "deadbeef", "naïve", "日本語", "multi\nline", "a\\b", "", "x\x11y"]


def _escape(static: str) -> str:
    esc = {PLACEHOLDER_ESCAPE, PLACEHOLDER_INT, PLACEHOLDER_DICT, PLACEHOLDER_FLOAT}
    return "".join(PLACEHOLDER_ESCAPE + c if c in esc else c for c in static)


def _template(rng: random.Random, n_vars: int) -> str:
    kinds = [rng.choice((PLACEHOLDER_INT, PLACEHOLDER_FLOAT, PLACEHOLDER_DICT))
             for _ in range(n_vars)]
    statics = [
        "".join(rng.choice(STATIC_CHARS) for _ in range(rng.randint(0, 6)))
        for _ in range(n_vars + 1)
    ]
    out = [_escape(statics[0])]
    for k, s in zip(kinds, statics[1:]):
        out += [k, _escape(s)]
    return "".join(out)


def _value(rng: random.Random, kind: str, n_dict: int) -> int:
    if kind == PLACEHOLDER_INT:
        return rng.choice(
            [INT64_MIN, INT64_MAX, 0, -1, 7, -42, rng.randint(INT64_MIN, INT64_MAX)]
        )
    if kind == PLACEHOLDER_FLOAT:
        return encode_float(rng.choice(FLOATS))
    return rng.randrange(n_dict)


def _rows(rng, lt_rows, n_dict, n, lt_ids):
    rows = []
    tpl = dict(lt_rows)
    for r in range(n):
        lt_id = rng.choice(lt_ids)
        kinds = parse_template(tpl[lt_id])[1]
        ev = [_value(rng, k, n_dict) for k in kinds]
        dv = [v for k, v in zip(kinds, ev) if k == PLACEHOLDER_DICT]
        rows.append((f"u{r}", lt_id, ev, dv))
    return rows


def _batch(rows, extra: dict | None = None) -> pa.RecordBatch:
    cols = {
        "url": pa.array([r[0] for r in rows], pa.string()),
        "logtype_id": pa.array([r[1] for r in rows], pa.int64()),
        "encoded_vars": pa.array([r[2] for r in rows], pa.list_(pa.int64())),
        "dict_var_ids": pa.array([r[3] for r in rows], pa.list_(pa.int64())),
    }
    cols.update(extra or {})
    return pa.RecordBatch.from_pydict(cols)


@pytest.fixture(scope="module")
def generated():
    rng = random.Random(20261019)
    lt_rows = [(0, "")] + [
        (i, _template(rng, rng.randint(0, 5))) for i in range(1, 40)
    ]
    lt_rows.append((40, _escape("no vars \\ here")))
    var_rows = list(enumerate(DICT_VALUES))
    batches = {
        "one_logtype": _rows(rng, lt_rows, len(var_rows), 50, [7]),
        "many_logtypes": _rows(rng, lt_rows, len(var_rows), 400, [i for i, _ in lt_rows]),
        "empty": [],
    }
    return lt_rows, var_rows, batches


def _expected(rows, lt_rows, var_rows):
    lts, vs = dict(lt_rows), dict(var_rows)
    return [decode_one(lts[r[1]], r[2], vs) for r in rows]


@pytest.mark.parametrize("name", ["one_logtype", "many_logtypes", "empty"])
def test_kernel_matches_decode_one(generated, name):
    lt_rows, var_rows, batches = generated
    rows = batches[name]
    templates, var_text = decode_tables(lt_rows, var_rows)
    out = list(
        _decode_batches(
            [_batch(rows)], ["url", "logtype_id"], "text", None, templates, var_text
        )
    )
    assert len(out) == 1 and out[0].schema.names == ["url", "logtype_id", "text"]
    assert out[0].column("url").to_pylist() == [r[0] for r in rows]
    assert out[0].column("text").to_pylist() == _expected(rows, lt_rows, var_rows)


@pytest.mark.parametrize("name", ["one_logtype", "many_logtypes", "empty"])
def test_joined_input_matches_decode_one(generated, name):
    """The join path's input form: templates and dict strings per row."""
    lt_rows, var_rows, batches = generated
    rows = batches[name]
    lts, vs = dict(lt_rows), dict(var_rows)
    extra = {
        "_tpl": pa.array([lts[r[1]] for r in rows], pa.string()),
        "_dstrs": pa.array([[vs[v] for v in r[3]] for r in rows], pa.list_(pa.string())),
    }
    out = list(_decode_batches([_batch(rows, extra)], ["url"], "text", None))
    assert out[0].column("text").to_pylist() == _expected(rows, lt_rows, var_rows)


def test_sparse_var_ids_and_confirm(generated):
    """Var IDs with gaps, collected out of order, still gather the right
    value; the fused confirm keeps only matching rows and drops a batch
    without one."""
    lt_rows, var_rows, batches = generated
    rows = batches["many_logtypes"]
    sparse = [(3 * i + 1, v) for i, v in reversed(var_rows)]
    remap = {i: 3 * i + 1 for i, _ in var_rows}
    moved = []
    for url, lt_id, ev, dv in rows:
        kinds = parse_template(dict(lt_rows)[lt_id])[1]
        ev2 = [remap[v] if k == PLACEHOLDER_DICT else v for k, v in zip(kinds, ev)]
        moved.append((url, lt_id, ev2, [remap[v] for v in dv]))
    templates, var_text = decode_tables(lt_rows, sparse)
    want = _expected(moved, lt_rows, sparse)
    assert want == _expected(rows, lt_rows, var_rows)

    rx = wildcard_to_re2("*é*")
    out = list(_decode_batches([_batch(moved)], ["url"], "text", rx, templates, var_text))
    hits = [(u, t) for (u, *_), t in zip(moved, want) if "é" in t]
    assert hits
    assert list(zip(out[0].column("url").to_pylist(), out[0].column("text").to_pylist())) == hits
    none = _decode_batches([_batch(moved)], ["url"], "text", wildcard_to_re2("qqq*"),
                           templates, var_text)
    assert list(none) == []


def test_spark_decode_both_paths(spark, generated):
    """Through Spark's mapInArrow, broadcast and join paths alike."""
    lt_rows, var_rows, batches = generated
    rows = batches["many_logtypes"][:120]
    enc = spark.createDataFrame(
        rows, "url string, logtype_id long, encoded_vars array<long>, dict_var_ids array<long>"
    )
    lt = spark.createDataFrame(lt_rows, "logtype_id long, logtype string")
    vd = spark.createDataFrame(var_rows, "var_id long, value string")
    want = dict(zip((r[0] for r in rows), _expected(rows, lt_rows, var_rows)))
    for cap in (None, 1):
        got = decode_messages(enc, lt, vd, "text", driver_dict_cap=cap)
        assert got.columns == enc.columns + ["text"]
        assert {r["url"]: r["text"] for r in got.collect()} == want


# ---- confirm parity: RE2 in the kernel vs Java under rlike ----

SUBJECTS = [
    "", "a", "ab", "abc", "K", "k", "K", "s", "S", "ſ", "é", "É",
    "Kelvin", "kelvin", "KELVIN", "ſtatus", "status=200", "STATUS=200",
    "a*b", "a?b", "a\\b", "a\\\\b", "a\\Eb", "\\E", "x\ny", "line1\nline2\n",
    "日本語", "日x語", "😀", "a😀b", "(a+b)|[c]{2}^$.", "price $5.00?",
    "10.0.3.7", "10x0x3x7", "café", "CAFÉ", "Café\n",
]
PATTERN_ATOMS = [
    "*", "?", "\\*", "\\?", "\\\\", "\\E", "\\Q", "\n", "a", "b", "k", "K", "s",
    "S", "é", "É", "K", "ſ", "日", "😀", ".", "(", ")", "[", "]", "{", "}",
    "+", "|", "^", "$", "=", "200", "status", "x", "\\", "E",
]


def _patterns(n: int = 60, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    out = ["", "*", "?", "\\E", "*\\E*", "\\\\E", "a?b", "*k*", "*s*", "*é*", "?\n?",
           "status=200", "*10.0.3.*", "*(a+b)*", "日?語", "?", "a\\*b", "a\\?b",
           "a\\\\b", "trailing\\"]
    while len(out) < n:
        out.append("".join(rng.choice(PATTERN_ATOMS) for _ in range(rng.randint(1, 5))))
    return out


@pytest.fixture(scope="module")
def subjects(spark):
    return spark.createDataFrame([(i, s) for i, s in enumerate(SUBJECTS)], "i int, s string")


@pytest.mark.parametrize("ignore_case", [False, True])
def test_re2_confirm_equals_java_rlike(subjects, ignore_case):
    pats = _patterns()
    java = subjects.select(
        "i",
        *[
            F.col("s").rlike("\\A(?:" + wildcard_to_java_regex(p, ignore_case) + ")\\z")
            .alias(f"p{k}")
            for k, p in enumerate(pats)
        ],
    ).orderBy("i").collect()
    arr = pa.array(SUBJECTS, pa.string())
    bad = []
    for k, p in enumerate(pats):
        re2 = pc.match_substring_regex(arr, wildcard_to_re2(p, ignore_case)).to_pylist()
        jv = [r[f"p{k}"] for r in java]
        bad += [(p, s) for s, a, b in zip(SUBJECTS, re2, jv) if a != b]
    assert not bad, bad[:10]
