import os

import numpy as np
import pytest

import stats


@pytest.mark.parametrize("n", [1, 2, 5, 10, 101, 257])
@pytest.mark.parametrize("q", [0.0, 0.1, 0.5, 0.9, 0.99, 1.0])
def test_percentile_matches_numpy(n, q):
    xs = np.random.default_rng(n).exponential(1.0, n)
    assert stats.percentile(xs.tolist(), q) == pytest.approx(np.percentile(xs, q * 100))


def test_percentile_rejects_empty_and_bad_q():
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 1.5)


def test_sample_count_rule():
    # p90 needs at least ten samples strictly beyond its interpolation point
    assert stats.samples_beyond(91, 0.9) == 9
    assert stats.samples_beyond(92, 0.9) == 10
    assert stats.samples_beyond(101, 0.9) == 10
    assert stats.samples_beyond(130, 0.9) == 13
    assert stats.samples_beyond(14, 0.9) == 2
    assert stats.samples_beyond(21, 0.5) == 10
    for n in range(2, 300):
        xs = list(range(n))
        assert stats.samples_beyond(n, 0.9) == sum(x > stats.percentile(xs, 0.9) for x in xs)


def test_kind_summary_counts_each_kind_once():
    a = [1.0, 2.0, 3.0, 10.0]
    fa = (stats.median(a), stats.percentile(a, 0.9), 4.0)
    assert stats.kind_summary({"a": a}) == pytest.approx(fa)
    # one sample of b weighs as much as four of a
    assert stats.kind_summary({"a": a, "b": [5.0]}) == pytest.approx(
        tuple((x + 5.0) / 2 for x in fa))


def _keys(rows):
    return [stats.point_key(*r) for r in rows]


ROWS = [
    ("dev00", {"device": "a", "site": "x"}, {"temp": 20.5, "seq": 0.0}, 1_000_000),
    ("dev01", {"device": "b"}, {"volt": 3.3, "seq": 1.0}, None),
    ("dev00", {"device": "a"}, {"temp": 21.0, "seq": 2.0}, 2_000_000),
]


def test_checksum_is_order_independent():
    assert stats.checksum(_keys(ROWS)) == stats.checksum(_keys(ROWS[::-1]))
    # map order inside a point does not matter either
    swapped = [(m, dict(reversed(list(t.items()))), dict(reversed(list(f.items()))), ts)
               for m, t, f, ts in ROWS]
    assert stats.checksum(_keys(swapped)) == stats.checksum(_keys(ROWS))


def test_checksum_sees_loss_duplicate_and_change():
    base = stats.checksum(_keys(ROWS))
    assert stats.checksum(_keys(ROWS[:2])) != base
    assert stats.checksum(_keys(ROWS + ROWS[:1])) != base
    changed = [ROWS[0], ROWS[1], ("dev00", {"device": "a"}, {"temp": 21.0000001, "seq": 2.0},
                                   2_000_000)]
    assert stats.checksum(_keys(changed))[1] != base[1]
    retimed = ROWS[:2] + [ROWS[2][:3] + (2_000_001,)]
    assert stats.checksum(_keys(retimed))[1] != base[1]
    untagged = [ROWS[0][:1] + ({"device": "a"},) + ROWS[0][2:]] + ROWS[1:]
    assert stats.checksum(_keys(untagged))[1] != base[1]


def _write(path, text, mtime=None):
    with open(path, "w") as fh:
        fh.write(text)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _entry(name, batch):
    return f'{{"path":"file:///in/{name}","timestamp":1,"batchId":{batch}}}\n'


def test_latency_join_from_checkpoint(tmp_path):
    src = tmp_path / "sources" / "0"
    commits = tmp_path / "commits"
    src.mkdir(parents=True)
    commits.mkdir()
    _write(src / "0", "v1\n" + _entry("f0.parquet", 0) + _entry("f1.parquet", 0))
    _write(src / "1", "v1\n" + _entry("f2.parquet", 1))
    # a compacted log repeats earlier entries; the first batch id wins
    _write(src / "2.compact", "v1\n" + _entry("f0.parquet", 0) + _entry("f2.parquet", 1)
           + _entry("f3.parquet", 2))
    _write(src / ".2.compact.crc", "junk")
    _write(commits / "0", "v1\n{}", mtime=1000.5)
    _write(commits / "1", "v1\n{}", mtime=1002.0)
    _write(commits / ".1.crc", "junk")

    file_batch = stats.read_source_log(str(src))
    assert file_batch == {"f0.parquet": 0, "f1.parquet": 0, "f2.parquet": 1, "f3.parquet": 2}
    commit_time = stats.read_commit_times(str(commits))
    assert commit_time == {0: 1000.5, 1: 1002.0}

    scheduled = {"f0.parquet": 999.0, "f1.parquet": 1000.0, "f2.parquet": 1001.0,
                 "f3.parquet": 1001.5, "f4.parquet": 1002.0}
    lat, missing = stats.join_latency(scheduled, file_batch, commit_time)
    assert lat == pytest.approx({"f0.parquet": 1.5, "f1.parquet": 0.5, "f2.parquet": 1.0})
    assert missing == ["f3.parquet", "f4.parquet"]


def test_progress_summary_uses_batches_with_input():
    progress = [
        {"numInputRows": 0, "durationMs": {"triggerExecution": 5}},
        {"numInputRows": 100, "durationMs": {"triggerExecution": 900, "addBatch": 600}},
        {"numInputRows": 300, "durationMs": {"triggerExecution": 1100, "addBatch": 800}},
    ]
    s = stats.progress_summary(progress)
    assert s["batches"] == 2
    assert s["rows_per_batch"] == 200
    assert s["trigger_ms"] == 1000
    assert s["add_batch_ms"] == 700
    assert s["wal_commit_ms"] == 0
    assert stats.progress_summary([]) == {"batches": 0}
