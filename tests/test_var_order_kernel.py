"""The vectorised var-order kernel (executor._var_order_mask and the
mapInArrow pass of _filter_var_subsequence) against a plain-Python
reference: the per-row greedy scan the kernel replaced."""

from __future__ import annotations

import random
from types import SimpleNamespace

import numpy as np
import pytest

from clp_spark.search.executor import _filter_var_subsequence, _var_order_mask


def _ref_keep(rows, needles):
    """Greedy in-order scan, one row at a time."""
    out = []
    for ev in rows:
        j = 0
        for x in ev:
            if j < len(needles) and int(x) in needles[j]:
                j += 1
        out.append(j == len(needles))
    return out


def _ref_needles(ordered_vars, ignore_case, var_ids_exact):
    needles = []
    for kind, v in ordered_vars:
        if kind in ("int", "float"):
            needles.append({int(v)})
        else:
            ids = var_ids_exact(v, ignore_case)
            if ids is None:
                continue
            if not ids:
                return None
            needles.append(set(ids))
    return needles


def _mask(rows, needles):
    offsets = np.cumsum([0] + [len(r) for r in rows])
    flat = np.array([x for r in rows for x in r], np.int64)
    nd = [np.array(sorted(n), np.int64) for n in needles]
    return _var_order_mask(offsets, flat, nd).tolist()


def test_mask_matches_reference_on_random_lists():
    rng = random.Random(7)
    for _ in range(400):
        rows = [
            [rng.randrange(6) for _ in range(rng.randrange(9))]
            for _ in range(rng.randrange(1, 30))
        ]
        needles = [
            set(rng.sample(range(7), rng.randrange(1, 3)))
            for _ in range(rng.randrange(1, 5))
        ]
        assert _mask(rows, needles) == _ref_keep(rows, needles), (rows, needles)


@pytest.mark.parametrize(
    "rows, needles",
    [
        ([[], [1], [1, 1]], [{1}, {1}]),  # empty rows, repeated values
        ([[1, 2, 1, 2], [2, 1], [1, 1, 2]], [{1}, {2}, {1}]),
        ([[3, 5], [5, 3], [4, 3], [9]], [{3, 4}, {3, 5}]),  # several IDs
        ([[-1, 0], [0, -1], [2**62, 7]], [{-1}, {0}]),
        ([[5], [], [5, 5, 5]], [{5}, {5}, {5}]),
        ([[1, 2, 3]], [{9}]),  # needle absent from the batch
        ([[]], [{1}]),
    ],
)
def test_mask_edge_cases(rows, needles):
    assert _mask(rows, needles) == _ref_keep(rows, needles)


def test_mask_on_a_sliced_list_column():
    """Offsets of a sliced Arrow list column do not start at 0."""
    import pyarrow as pa

    rows = [[1, 2], [2, 1], [1, 9, 2], [], [1, 2]]
    arr = pa.array(rows, pa.list_(pa.int64())).slice(1, 3)
    got = _var_order_mask(
        arr.offsets.to_numpy(), arr.values.to_numpy(), [np.array([1]), np.array([2])]
    )
    assert got.tolist() == _ref_keep(rows[1:4], [{1}, {2}])


class _FakeIndex:
    """var_ids_exact over a fixed table: None = oversized ID set."""

    def __init__(self, table):
        self.table = table

    def var_ids_exact(self, text, ignore_case):
        key = text.lower() if ignore_case else text
        return self.table.get(key, set())


ROWS = [
    (1, [11, 100, 22]),
    (2, [22, 100, 11]),
    (3, [11, 101, 22]),
    (4, []),
    (5, [11, 11, 102, 22, 22]),
    (6, [100, 11, 22]),
    (7, [11, 103, 22]),
]


@pytest.fixture(scope="module")
def ev_df(spark):
    return spark.createDataFrame(ROWS, "doc_id long, encoded_vars array<long>")


@pytest.mark.parametrize(
    "ordered_vars, ignore_case",
    [
        ([("int", 11), ("dict", "Host"), ("int", 22)], False),
        ([("int", 11), ("dict", "Host"), ("int", 22)], True),  # several IDs
        ([("int", 11), ("dict", "huge"), ("int", 22)], False),  # skipped
        ([("dict", "host"), ("int", 11)], True),
        ([("float", 22), ("int", 11)], False),
    ],
)
def test_filter_matches_reference(ev_df, ordered_vars, ignore_case):
    idx = _FakeIndex({"Host": {100}, "host": {100, 101, 102}, "huge": None})
    cq = SimpleNamespace(ordered_vars=ordered_vars, ignore_case=ignore_case)
    needles = _ref_needles(ordered_vars, ignore_case, idx.var_ids_exact)
    want = [d for (d, ev), k in zip(ROWS, _ref_keep([ev for _, ev in ROWS], needles)) if k]
    got = _filter_var_subsequence(ev_df, cq, idx)
    assert sorted(r["doc_id"] for r in got.collect()) == want
    assert got.schema == ev_df.schema


def test_filter_dictionary_miss_and_all_skipped(ev_df):
    idx = _FakeIndex({"huge": None})
    miss = SimpleNamespace(ordered_vars=[("dict", "absent")], ignore_case=False)
    assert _filter_var_subsequence(ev_df, miss, idx) is None
    skipped = SimpleNamespace(ordered_vars=[("dict", "huge")], ignore_case=False)
    assert _filter_var_subsequence(ev_df, skipped, idx) is ev_df
