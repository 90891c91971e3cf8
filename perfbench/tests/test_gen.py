import datetime as dt

import numpy as np

import gen


def test_ingest_files_deterministic_per_seed():
    a = gen.ingest_files(7, 5, 50)
    assert a == gen.ingest_files(7, 5, 50)
    assert a != gen.ingest_files(8, 5, 50)
    t = gen.points_table(a[0], 1_700_000_000_000_000)
    assert t.equals(gen.points_table(gen.ingest_files(7, 5, 50)[0], 1_700_000_000_000_000))


def test_ingest_files_shape():
    files = gen.ingest_files(3, 40, 250)
    pts = [p for f in files for p in f]
    assert len(pts) == 40 * 250
    nonempty = [p for p in pts if p["fields"]]
    seqs = [p["fields"]["seq"] for p in nonempty]
    assert len(set(seqs)) == len(seqs)
    assert all(not p["fields_str"] for p in pts if not p["fields"])
    n = len(pts)
    null_time = sum(p["time_off_us"] is None for p in nonempty) / n
    empty = (n - len(nonempty)) / n
    late = sum(p["time_off_us"] is not None and p["time_off_us"] <= -3_600_000_000
               for p in nonempty) / n
    assert 0.03 < null_time < 0.07
    assert 0.015 < empty < 0.045
    assert 0.03 < late < 0.07
    assert len({p["measurement"] for p in pts}) == 20
    assert {len(f) for f in gen.devices(3).values()} <= {3, 4, 5}


def test_history_points_deterministic_and_dense():
    anchor = dt.datetime(2024, 2, 1, 13, 20)
    # 150 points per device in 3 days: a 29-minute step, so no hour is empty
    t1, long1 = gen.history_points(5, anchor, days=3, points_per_day=1000)
    t2, long2 = gen.history_points(5, anchor, days=3, points_per_day=1000)
    assert t1.equals(t2) and long1 == long2
    t3, _ = gen.history_points(6, anchor, days=3, points_per_day=1000)
    assert not t1.equals(t3)
    end_us = int(anchor.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    times = np.array(t1.column("time").cast("int64").to_pylist())
    assert times.min() >= end_us - 3 * 86_400_000_000 and times.max() < end_us
    hours = 3 * 24
    for m in gen.devices(5):
        ts = sorted(t for mm, t, _, _ in long1 if mm == m)
        per_hour = np.bincount((np.array(ts) - (end_us - hours * 3_600_000_000))
                               // 3_600_000_000, minlength=hours)
        assert (per_hour > 0).all(), m


def test_events_table_deterministic_and_typed():
    a = gen.events_table(9, 2000)
    assert a.equals(gen.events_table(9, 2000))
    assert not a.equals(gen.events_table(10, 2000))
    assert a.schema.field("ts").type == "timestamp[us]"
    ts = a.column("ts").cast("int64").to_numpy()
    assert (np.diff(ts) >= 0).all()
    assert set(a.column("event_type").to_pylist()) == set(gen.EVENT_TYPES)
