"""The generator is deterministic per seed and the oracle folds a change
log the way a hand replay does."""

from __future__ import annotations

import json

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def _log(seed=7):
    log = gen.ChangeLog(seed, n_keys=100)
    ch = log.changes(log.uniform_keys(300), p_delete=0.2, p_malformed=0.05)
    return log, ch


def test_same_seed_same_changes_and_files(tmp_path):
    a, ch_a = _log()
    b, ch_b = _log()
    assert ch_a == ch_b
    assert a.live == b.live and a.malformed == b.malformed
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    pa = a.write_file(str(tmp_path / "a"), "f.parquet", ch_a)
    pb = b.write_file(str(tmp_path / "b"), "f.parquet", ch_b)
    assert open(pa, "rb").read() == open(pb, "rb").read()


def test_other_seed_other_changes():
    assert _log(7)[1] != _log(8)[1]


def test_zipf_keys_deterministic_and_skewed():
    a = gen.ChangeLog(3, n_keys=1000).zipf_keys(5000)
    b = gen.ChangeLog(3, n_keys=1000).zipf_keys(5000)
    assert np.array_equal(a, b)
    top = np.bincount(a).max()
    assert top > 5000 / 1000 * 20  # the hottest key is far above uniform


def test_hand_checked_fold():
    log = gen.ChangeLog(1, n_keys=10)
    ch = log.changes(np.array([1, 2, 1, 1, 3, 2]), p_delete=0.0)
    assert [c[0] for c in ch] == [1, 2, 3, 4, 5, 6]
    assert [c[1] for c in ch] == ["I", "I", "U", "U", "I", "U"]
    rows = {c[0]: json.loads(c[2]) for c in ch}
    assert log.live == {
        1: tuple(rows[4][c] for c in gen.COLUMNS),
        2: tuple(rows[6][c] for c in gen.COLUMNS),
        3: tuple(rows[5][c] for c in gen.COLUMNS),
    }
    assert log.key_of == [1, 2, 1, 1, 3, 2]
    assert log.well_formed == 6 and not log.malformed


def test_delete_then_reinsert():
    log = gen.ChangeLog(1, n_keys=10)
    ch = log.changes(np.array([4, 4, 4]), p_delete=1.0)
    assert [c[1] for c in ch] == ["I", "D", "I"]
    assert json.loads(ch[1][2]) == {"k": 4}
    assert log.live == {4: tuple(json.loads(ch[2][2])[c]
                                 for c in gen.COLUMNS)}


def test_malformed_rows_are_invalid_json_and_not_folded():
    log = gen.ChangeLog(1, n_keys=10)
    ch = log.changes(np.array([1, 2]), p_delete=0.0, p_malformed=1.0)
    assert log.malformed == {1, 2} and log.live == {} and log.well_formed == 0
    for _, _, data in ch:
        try:
            json.loads(data)
        except ValueError:
            continue
        raise AssertionError(f"payload parsed: {data!r}")


def test_file_shape_and_no_partial_name(tmp_path):
    log, ch = _log()
    path = log.write_file(str(tmp_path), "x.parquet", ch)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["x.parquet"]
    t = pq.read_table(path)
    assert t.column_names == ["id", "sourceDb", "targetDb", "schema",
                              "table", "operation", "data", "createTime"]
    assert t.num_rows == len(ch)
    assert t.column("id").to_pylist() == [c[0] for c in ch]


def test_diff_rows():
    assert gen.diff_rows({1: (1,), 2: (2,)}, {1: (1,), 2: (3,), 4: (4,)}) \
        == {2, 4}
    assert gen.diff_rows({}, {}) == set()
