"""The grouped-batch kernel path of NN-Descent (nnd/descent.py
``_iter_groups`` / ``_run_groups``) on hand-made pyarrow batches — no
Spark: groups cut at key boundaries, held across batch boundaries, and
handed to the kernels whole, once, in key order."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from spark_nnd_spark.nnd.descent import (
    _init_kernel,
    _iter_groups,
    _local_join_kernel,
    _run_groups,
)
from spark_nnd_spark.schemas import InvalidPointsError

_SCHEMA = pa.schema(
    [("key", pa.int64()), ("id", pa.int64()), ("features", pa.list_(pa.float32())), ("flag", pa.bool_())]
)


def _table(keys, dim=3, seed=0):
    """Rows sorted by (key, id), as the Spark side delivers them."""
    rng = np.random.default_rng(seed)
    keys = np.sort(np.asarray(keys, dtype=np.int64))
    n = len(keys)
    feats = rng.normal(size=(n, dim)).astype(np.float32)
    return pa.table(
        {
            "key": keys,
            "id": np.arange(n, dtype=np.int64) * 3 + 1,
            "features": pa.array(list(feats), type=pa.list_(pa.float32())),
            "flag": rng.random(n) < 0.5,
        },
        schema=_SCHEMA,
    )


def _batches(table, sizes):
    """Cut ``table`` into consecutive batches of the given row counts
    (0 makes an empty batch)."""
    out, at = [], 0
    for size in sizes:
        out.append(table.slice(at, size).combine_chunks().to_batches()[0] if size else
                   pa.RecordBatch.from_pylist([], schema=_SCHEMA))
        at += size
    assert at == table.num_rows
    return out


def _expected(table):
    d = table.to_pydict()
    groups = {}
    for key, i, f, flag in zip(d["key"], d["id"], d["features"], d["flag"]):
        groups.setdefault(key, []).append((i, f, flag))
    return groups


def _check_groups(table, sizes):
    got = list(_iter_groups(_batches(table, sizes), "key", ["id", "features", "flag"]))
    want = _expected(table)
    assert [key for key, _ in got] == sorted(want)  # each group once, in key order
    for key, (ids, feats, flags) in got:
        rows = want[key]
        assert ids.tolist() == [r[0] for r in rows]
        assert flags.tolist() == [r[2] for r in rows]
        assert feats.dtype == np.float64 and feats.shape == (len(rows), 3)
        np.testing.assert_array_equal(feats, np.array([r[1] for r in rows], dtype=np.float32))


@pytest.mark.parametrize(
    "keys,sizes",
    [
        # key 2 straddles the first boundary
        ([1, 1, 2, 2, 2, 3], [3, 3]),
        # key 5 straddles two boundaries (three batches)
        ([4, 5, 5, 5, 5, 5, 6], [2, 3, 2]),
        # single-row groups, cut everywhere
        ([1, 2, 3, 4, 5], [1, 1, 2, 1]),
        # empty batches between, before and after
        ([1, 1, 2, 3, 3], [0, 2, 0, 0, 1, 2, 0]),
        # one group over the whole partition
        ([9] * 7, [2, 2, 3]),
        # boundary exactly at a key change
        ([1, 1, 2, 2], [2, 2]),
    ],
)
def test_groups_whole_once_in_key_order(keys, sizes):
    _check_groups(_table(keys), sizes)


def test_groups_random_cuts():
    rng = np.random.default_rng(7)
    table = _table(rng.integers(0, 40, size=300), seed=1)
    for _ in range(20):
        cuts = np.sort(rng.choice(np.arange(1, 300), size=rng.integers(1, 30), replace=False))
        _check_groups(table, np.diff(np.r_[0, cuts, 300]).tolist())


def test_no_batches_no_groups():
    assert list(_iter_groups(iter([]), "key", ["id"])) == []
    assert list(_iter_groups(_batches(_table([]), [0, 0]), "key", ["id"])) == []


def test_ragged_features_raise():
    """Lengths [3, 1] hold 4 values, which a bare reshape(2, -1) would
    silently read as two 2-d rows."""
    batch = pa.RecordBatch.from_pydict(
        {"key": [1, 1], "id": [0, 1], "features": [[1.0, 2.0, 3.0], [4.0]]}
    )
    with pytest.raises(InvalidPointsError, match="dimensionality"):
        list(_iter_groups([batch], "key", ["id", "features"]))
    # also when the ragged rows sit in different batches of one group
    a, b = batch.slice(0, 1), batch.slice(1, 1)
    with pytest.raises(InvalidPointsError, match="dimensionality"):
        list(_iter_groups([a, b], "key", ["id", "features"]))


def test_null_features_raise():
    batch = pa.RecordBatch.from_pydict(
        {"key": [1, 1], "id": [0, 1], "features": [[1.0, 2.0], None]}
    )
    with pytest.raises(InvalidPointsError, match="null"):
        list(_iter_groups([batch], "key", ["id", "features"]))


_CANDS = pa.schema([("id", pa.int64()), ("nb_id", pa.int64()), ("sim", pa.float64())])


def _run(kernel, batches, columns):
    out = list(_run_groups(batches, "key", columns, kernel))
    assert all(b.schema == _CANDS for b in out)  # mapInArrow's declared schema
    return pa.Table.from_batches(out, schema=_CANDS)


def test_init_kernel_over_batches_matches_per_group():
    """Batch cutting does not change the kernel output: same rows as
    one call per whole group, single-row groups (m < 2) emit nothing."""
    table = _table([1, 2, 2, 2, 3, 4, 4, 4, 4, 4, 5], seed=3)
    kernel = _init_kernel(seed=11, k=3)
    want, singles = [], set()
    for key, rows in sorted(_expected(table).items()):
        out = kernel(key, np.array([r[0] for r in rows]), np.array([r[1] for r in rows], dtype=np.float64))
        if out is not None:
            want.extend(zip(*(c.tolist() for c in out)))
        if len(rows) == 1:
            assert out is None
            singles.add(rows[0][0])
    assert len(singles) == 3 and singles.isdisjoint({i for i, _, _ in want} | {j for _, j, _ in want})
    for sizes in ([11], [1, 3, 4, 3], [2, 0, 5, 4]):
        got = _run(kernel, _batches(table, sizes), ["id", "features"]).to_pydict()
        assert list(zip(got["id"], got["nb_id"], got["sim"])) == want


def test_local_join_kernel_single_member_and_all_old():
    kernel = _local_join_kernel(k=2)
    feats = np.ones((1, 3))
    assert kernel(0, np.array([5]), feats, np.array([True]), np.array([0.0])) is None
    # repeated copies of one member are still one member
    assert kernel(0, np.array([5, 5]), np.ones((2, 3)), np.array([True, False]), np.zeros(2)) is None
    # no new member: nothing to score
    assert kernel(0, np.array([1, 2]), np.eye(2, 3), np.array([False, False]), np.zeros(2)) is None
    ids, nbs, sims = kernel(0, np.array([1, 2]), np.eye(2, 3), np.array([True, False]), np.zeros(2))
    assert sorted(zip(ids.tolist(), nbs.tolist())) == [(1, 2), (2, 1)]
