"""forget_zip_importers: the hot Arrow kernels leave no zipimporter in
sys.path_importer_cache, and imports from a zip keep working after the
drop. In-process only: the per-task saving itself is measured by
scripts/worker_probe.py, not asserted through Spark timing."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pyarrow as pa
import pytest

from clp_spark.config import (
    PLACEHOLDER_DICT,
    PLACEHOLDER_FLOAT,
    PLACEHOLDER_INT,
    VT_DICT,
    VT_INT,
)
from clp_spark.dicts.build import _encode_batches_arrow
from clp_spark.oracle.tokenizer import encode_float
from clp_spark.search.decode import (
    _decode_batches,
    decode_one,
    decode_tables,
)
from clp_spark.util import forget_zip_importers

PKG = "_clp_zip_probe_pkg"


def _zip_importers():
    return [
        p
        for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


@pytest.fixture
def zip_pkg(tmp_path):
    """A zip holding package PKG with modules a and b, on sys.path for
    the test; sys.path, the importer cache and sys.modules are restored
    afterwards."""
    zpath = tmp_path / "probe.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/a.py", "VALUE = 'a'\n")
        z.writestr(f"{PKG}/b.py", "VALUE = 'b'\n")
    saved_path = list(sys.path)
    sys.path.insert(0, str(zpath))
    try:
        yield str(zpath)
    finally:
        sys.path[:] = saved_path
        for p in [p for p in sys.path_importer_cache if p.startswith(str(zpath))]:
            del sys.path_importer_cache[p]
        for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[m]
        importlib.invalidate_caches()


def test_forget_drops_zip_importers_and_zip_imports_still_work(zip_pkg):
    a = importlib.import_module(f"{PKG}.a")
    assert a.VALUE == "a"
    assert isinstance(a.__loader__, zipimport.zipimporter)
    assert _zip_importers(), "importing from the zip caches a zipimporter"

    forget_zip_importers()
    assert _zip_importers() == []

    # a dropped entry is rebuilt through sys.path_hooks on the next import
    b = importlib.import_module(f"{PKG}.b")
    assert b.VALUE == "b"
    assert isinstance(b.__loader__, zipimport.zipimporter)
    assert b.__loader__.archive == zip_pkg
    # a module loaded before the drop keeps its loader
    assert a.__loader__.get_source(f"{PKG}.a") == "VALUE = 'a'\n"
    importlib.invalidate_caches()

    forget_zip_importers()
    assert _zip_importers() == []
    importlib.invalidate_caches()


def test_forget_is_a_noop_without_zip_importers():
    before = dict(sys.path_importer_cache)
    forget_zip_importers()
    forget_zip_importers()
    kept = {p: f for p, f in before.items() if not isinstance(f, zipimport.zipimporter)}
    assert {p: sys.path_importer_cache.get(p) for p in kept} == kept


def _plant(zip_pkg):
    sys.path_importer_cache[zip_pkg] = zipimport.zipimporter(zip_pkg)
    assert _zip_importers()


def test_decode_kernel_drops_zip_importers(zip_pkg):
    tpl_a = f"user {PLACEHOLDER_DICT} took {PLACEHOLDER_INT} ms"
    tpl_b = f"load {PLACEHOLDER_FLOAT} done"
    lt_rows = [(0, tpl_a), (1, tpl_b)]
    var_rows = [(0, "alice"), (1, "bob")]
    templates, var_text = decode_tables(lt_rows, var_rows)
    rows = [(7, 0, [1, 42]), (8, 1, [encode_float("0.500")]), (9, 0, [0, -3])]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.int64()),
            pa.array([r[1] for r in rows], pa.int64()),
            pa.array([r[2] for r in rows], pa.list_(pa.int64())),
        ],
        names=["doc_id", "logtype_id", "encoded_vars"],
    )
    cols = batch.schema.names
    var_map = dict(var_rows)
    want = [decode_one(dict(lt_rows)[lt], ev, var_map) for _, lt, ev in rows]
    assert want == ["user bob took 42 ms", "load 0.500 done", "user alice took -3 ms"]

    _plant(zip_pkg)
    out = list(_decode_batches([batch], cols, "text", None, templates, var_text))
    assert _zip_importers() == []
    assert out[0].column("text").to_pylist() == want
    assert out[0].column("doc_id").to_pylist() == [7, 8, 9]

    # the confirm path, and the join path's per-row template columns
    _plant(zip_pkg)
    rx = r"(?s)\Auser .*\z"
    hits = list(_decode_batches([batch], cols, "text", rx, templates, var_text))
    assert _zip_importers() == []
    assert hits[0].column("doc_id").to_pylist() == [7, 9]

    joined = batch.append_column(
        "_tpl", pa.array([dict(lt_rows)[r[1]] for r in rows])
    ).append_column(
        "_dstrs",
        pa.array([["bob"], [], ["alice"]], pa.list_(pa.string())),
    )
    _plant(zip_pkg)
    out = list(_decode_batches([joined], cols, "text", None))
    assert _zip_importers() == []
    assert out[0].column("text").to_pylist() == want


def test_encode_kernel_drops_zip_importers(zip_pkg):
    lt = f"user {PLACEHOLDER_DICT} took {PLACEHOLDER_INT} ms"
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2], pa.int64()),
            pa.array([lt, lt]),
            pa.array([["bob", "42"], ["alice", "7"]], pa.list_(pa.string())),
            pa.array([[VT_DICT, VT_INT], [VT_DICT, VT_INT]], pa.list_(pa.int32())),
            pa.array([[0, 42], [0, 7]], pa.list_(pa.int64())),
        ],
        names=["doc_id", "logtype", "var_strs", "var_types", "enc_prelim"],
    )
    b_lt = SimpleNamespace(value={lt: 5})
    b_v = SimpleNamespace(value={"alice": 0, "bob": 1})
    names = ["doc_id", "logtype_id", "encoded_vars", "dict_var_ids"]

    _plant(zip_pkg)
    out = list(_encode_batches_arrow([batch], b_lt, b_v, [0], 1, 2, 3, 4, names))
    assert _zip_importers() == []
    assert out[0].to_pydict() == {
        "doc_id": [1, 2],
        "logtype_id": [5, 5],
        "encoded_vars": [[1, 42], [0, 7]],
        "dict_var_ids": [[1], [0]],
    }
