"""Tests of the benchmark's own parts. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.batch import Op, summarize  # noqa: E402
from perfbench.common import Tracer, digest, is_failed, self_times, tail  # noqa: E402
from perfbench.fixtures import EventFiles, make_tables  # noqa: E402
from perfbench.stream import (file_batches, fold_updates, judge, source_batches,  # noqa: E402
                              windows_of)


def _canon(v) -> str:
    return repr(v)


# ---------------------------------------------------------------- generated inputs

def test_same_seed_gives_identical_event_files(tmp_path):
    paths = []
    for run in ("a", "b"):
        stage, dest = tmp_path / run / "stage", tmp_path / run / "dest"
        stage.mkdir(parents=True)
        dest.mkdir()
        files = EventFiles(seed=7, rows_per_file=50, event_seconds_per_file=36.0,
                           disorder_s=300.0)
        paths.append([files.write(i, str(stage), str(dest)) for i in range(3)])
    for a, b in zip(*paths):
        assert open(a, "rb").read() == open(b, "rb").read()
    assert not os.listdir(tmp_path / "a" / "stage")  # every file was renamed into place
    other = EventFiles(seed=8, rows_per_file=50, event_seconds_per_file=36.0, disorder_s=300.0)
    assert not other.table(0).equals(EventFiles(7, 50, 36.0, 300.0).table(0))


def test_event_disorder_stays_below_the_bound():
    files = EventFiles(seed=3, rows_per_file=200, event_seconds_per_file=72.0, disorder_s=300.0)
    newest_before = None
    for i in range(20):
        ts = files.table(i).column("ts").to_numpy().astype("int64")
        if newest_before is not None:  # no row older than (newest so far - disorder)
            assert ts.min() >= newest_before - 300 * 1_000_000
        newest_before = max(newest_before or ts.max(), ts.max())


def test_same_seed_gives_identical_tables():
    a, b = make_tables(5, 0.001), make_tables(5, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not make_tables(6, 0.001)["lineitem"].equals(a["lineitem"])


# ---------------------------------------------------------------- file → batch map

def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def test_compacted_source_log_counts_each_file_once(tmp_path):
    log_dir = tmp_path / "sources" / "0"
    log_dir.mkdir(parents=True)

    def entry(i):  # batch b consumed files 2b and 2b+1
        return {"path": f"file:///x/part-{i:06d}.parquet", "timestamp": 0, "batchId": i // 2}

    for b in range(12):
        if b == 9:  # batch 9 is written as a compaction of batches 0..9
            _log(log_dir / "9.compact", [entry(i) for i in range(20)])
        else:
            _log(log_dir / str(b), [entry(2 * b), entry(2 * b + 1)])
    (log_dir / ".9.compact.crc").write_text("ignored")

    mapping = source_batches(str(tmp_path))
    assert len(mapping) == 24
    assert all(mapping[f"part-{i:06d}.parquet"] == i // 2 for i in range(24))


def test_no_data_batches_shift_query_batch_ids(tmp_path):
    src, off = tmp_path / "sources" / "0", tmp_path / "offsets"
    src.mkdir(parents=True)
    off.mkdir()
    # source batches 0, 1, 2 each read one file; query batch 2 only advanced
    # the watermark, so it repeats offset 1 and source batch 2 is query batch 3
    for b in range(3):
        _log(src / str(b), [{"path": f"file:///x/f{b}.parquet", "timestamp": 0, "batchId": b}])
    for q, offset in enumerate([0, 1, 1, 2]):
        (off / str(q)).write_text(f'v1\n{{"batchWatermarkMs":0}}\n{{"logOffset":{offset}}}\n')
    (off / ".3.crc").write_text("ignored")
    assert file_batches(str(tmp_path)) == {"f0.parquet": 0, "f1.parquet": 1, "f2.parquet": 3}


# ---------------------------------------------------------------- statistics

def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    value, pct, n = tail([float(x) for x in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    value, pct, n = tail([float(x) for x in range(200, 0, -1)])  # unsorted input
    assert (value, pct, n) == (190.0, 95.0, 200)
    assert tail([float(x) for x in range(11)]) == (0.0, 100.0 / 11, 11)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)  # too few: maximum, flagged as p100


# ---------------------------------------------------------------- correctness checks

def test_wrong_batch_result_counts_as_failed():
    cols = ["k", "n"]
    good = [(1, 10), (2, 20), (3, 30)]
    expected = digest(good, cols, _canon)
    assert not is_failed(digest(list(reversed(good)), cols, _canon), expected)
    assert is_failed(digest([(1, 10), (2, 21), (3, 30)], cols, _canon), expected)
    assert is_failed(digest(good[:2], cols, _canon), expected)
    assert is_failed(None, expected)  # the operation raised
    assert is_failed(digest(good, cols, _canon), None)  # the key failed its oracle check

    ops = [Op("q", r, 1.0, 2.0, failed=is_failed(digest(rows, cols, _canon), expected),
              traced=False)
           for r, rows in enumerate([good, good, [(1, 10), (2, 20), (3, 31)]])]
    res = summarize(ops, 5.0, {}, Tracer(False), 3)
    assert (res["attempted"], res["failed"], res["correct"]) == (3, 1, False)


def test_stream_fold_keeps_the_last_update_and_exposes_a_wrong_one():
    w = dt.datetime(2024, 1, 1)
    we = w + dt.timedelta(hours=1)
    rows = [
        {"window_start": w, "window_end": we, "event_type": "view", "n": 3, "total_value": 1.5,
         "batch_id": 0},
        {"window_start": w, "window_end": we, "event_type": "view", "n": 5, "total_value": 2.5,
         "batch_id": 2},
        {"window_start": w, "window_end": we, "event_type": "click", "n": 1, "total_value": 0.5,
         "batch_id": 1},
    ]
    expect = {(w, "view"): (we, 5, 2.5), (w, "click"): (we, 1, 0.5)}
    assert fold_updates(rows) == expect
    rows[1]["n"] = 4
    assert fold_updates(rows) != expect


def test_stream_mismatch_fails_the_run_even_outside_the_timed_files():
    h0, h1, h2 = (dt.datetime(2024, 1, 1, h) for h in (0, 1, 2))
    expect = {(h0, "view"): (h1, 5, 2.5), (h1, "view"): (h2, 7, 3.5)}
    windows = {10: {h1}, 11: {h1}}  # the timed files only touch window h1
    assert judge(expect, dict(expect), windows, set()) == (set(), set())
    assert judge(expect, dict(expect), windows, {11}) == ({11}, set())  # never consumed

    wrong_warmup = {**expect, (h0, "view"): (h1, 4, 2.5)}  # a window only warm-up files fed
    failed, bad = judge(expect, wrong_warmup, windows, set())
    assert (failed, bad) == (set(), {h0})  # no timed file fails, but the run is wrong

    wrong_timed = {**expect, (h1, "view"): (h2, 6, 3.5)}
    assert judge(expect, wrong_timed, windows, set()) == ({10, 11}, {h1})
    missing_row = {(h1, "view"): expect[(h1, "view")]}
    assert judge(expect, missing_row, windows, set())[1] == {h0}


def test_windows_of_a_file_are_hour_starts():
    files = EventFiles(seed=3, rows_per_file=200, event_seconds_per_file=72.0, disorder_s=300.0)
    for i in range(5):
        ws = windows_of(files, i)
        assert ws and all(w.minute == w.second == w.microsecond == 0 for w in ws)


# ---------------------------------------------------------------- spans

def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(True)
    root = tr.add("op", "1", 0.0, 10.0)
    tr.add("build", "1", 1.0, 4.0, parent=root)
    tr.add("plan", "1", 3.0, 5.0, parent=root)  # overlaps build: union is 1..5
    tr.add("exec", "1", 6.0, 9.0, parent=root)
    st = self_times(tr.spans)
    assert st == {"op": 3.0, "build": 3.0, "plan": 2.0, "exec": 3.0}
    assert Tracer(False).add("op", "1", 0.0, 1.0) is None
