"""Per-pass output checks accept the planted truth and flag corruption."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.workloads import check_dedup, check_diff, check_groups


def _observed(truth):
    return {f"{t}_{k}": v for t, row in truth.items() for k, v in zip(("n", "sum", "xor"), row)}


def test_diff_check():
    truth = {"I": (2, 5, 9), "C": (1, 3, 7), "D": (0, 0, 0), "N": (4, 10, 1)}
    assert check_diff(_observed(truth), truth) is None
    for key in ("C_n", "I_sum", "N_xor"):
        bad = _observed(truth)
        bad[key] += 1
        assert check_diff(bad, truth) is not None


def test_dedup_check():
    truth = {"groups": [[1, 4], [2, 3, 9]]}
    good = [(1, 1), (4, 1), (2, 2), (3, 2), (9, 2)]
    assert check_dedup(2, good, truth) is None
    moved = [(1, 1), (4, 2), (2, 2), (3, 2), (9, 2)]
    assert check_dedup(2, moved, truth) is not None
    assert check_dedup(3, good, truth) is not None  # wrong representative count
    not_min = [(1, 4), (4, 4), (2, 2), (3, 2), (9, 2)]
    assert check_dedup(2, not_min, truth) is not None


@pytest.fixture()
def small_groups(monkeypatch, tmp_path):
    monkeypatch.setattr(gen, "GROUP_KEYS", 20)
    monkeypatch.setattr(gen, "GROUP_ROWS", 500)
    tables, _ = gen.gen_groups(2)
    inputs = gen.write_inputs(tables, str(tmp_path / "input"), files=2)
    events = tables["events"].to_pandas().sort_values(["key", "ts_us"])
    events["total"] = events.groupby("key")["value"].cumsum()
    return inputs["events"], events


def _write_hive(frame, out):
    for day, part in frame.groupby("day"):
        d = os.path.join(out, f"day={day.isoformat()}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pandas(part.drop(columns="day"), preserve_index=False),
                       os.path.join(d, "part-0.parquet"))


def test_groups_check(small_groups, tmp_path):
    events_dir, expected = small_groups
    good = str(tmp_path / "good")
    _write_hive(expected, good)
    assert check_groups(events_dir, good) is None

    corrupted = expected.copy()
    corrupted.iloc[7, corrupted.columns.get_loc("total")] += 1
    bad = str(tmp_path / "bad")
    _write_hive(corrupted, bad)
    assert check_groups(events_dir, bad) is not None

    short = str(tmp_path / "short")
    _write_hive(expected.iloc[1:], short)
    assert check_groups(events_dir, short) is not None
