"""Seeded input generators.  The same seed gives the same inputs; the
program under test only ever sees the files these functions produce.

- ``ingest_files``: the open-loop ingest feed — one list of points per file,
  times given relative to the file's scheduled landing time;
- ``history_points``: about thirty days of device telemetry for the static
  dashboard store;
- ``events_table``: ``events`` shaped like the repository's ``events`` test
  table (TESTDATA.md), for the batch query mix and the backfill.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

FIELD_POOL = ("temp", "humidity", "pressure", "volt", "current", "rssi", "flow")
SITES = ("lco", "apo", "lvm")
#: shares of the ingest feed's points
NULL_TIME_FRAC = 0.05
EMPTY_FRAC = 0.03
LATE_FRAC = 0.05

POINT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("measurement", pa.string(), nullable=False),
        pa.field("tags", pa.map_(pa.string(), pa.string())),
        pa.field("fields", pa.map_(pa.string(), pa.float64())),
        pa.field("fields_str", pa.map_(pa.string(), pa.string())),
        pa.field("fields_bool", pa.map_(pa.string(), pa.bool_())),
        pa.field("time", pa.timestamp("us", tz="UTC")),
        pa.field("bucket", pa.string()),
    ]
)


def devices(seed: int, n: int = 20) -> dict[str, tuple[str, ...]]:
    """``n`` device measurements, each with three to five float fields."""
    rng = np.random.default_rng([seed, 1])
    out = {}
    for i in range(n):
        k = int(rng.integers(3, 6))
        out[f"dev{i:02d}"] = tuple(sorted(rng.choice(FIELD_POOL, k, replace=False)))
    return out


def ingest_files(seed: int, n_files: int, points_per_file: int) -> list[list[dict]]:
    """Points for each landed file.  Each point carries ``time_off_us``
    (offset from the file's scheduled landing time, ``None`` for a null
    time).  Every non-empty point has a unique ``seq`` field, so the check
    can find it in the store; empty points have no fields at all and must be
    dropped by the ingest."""
    rng = np.random.default_rng([seed, 2])
    devs = devices(seed)
    names = sorted(devs)
    files = []
    seq = 0
    for _ in range(n_files):
        pts = []
        for _ in range(points_per_file):
            m = names[int(rng.integers(len(names)))]
            u = rng.random()
            tags = {"device": f"{m}-{int(rng.integers(4))}"}
            if rng.random() < 0.1:
                tags["site"] = SITES[int(rng.integers(len(SITES)))]
            if u < EMPTY_FRAC:
                pts.append({"measurement": m, "tags": tags, "fields": {},
                            "fields_str": {}, "time_off_us": 0})
                continue
            fields = {f: round(float(rng.normal(20.0, 5.0)), 3) for f in devs[m]}
            fields["seq"] = float(seq)
            seq += 1
            if u < EMPTY_FRAC + NULL_TIME_FRAC:
                off = None
            elif u < EMPTY_FRAC + NULL_TIME_FRAC + LATE_FRAC:
                off = -int(rng.integers(3_600_000_000, 172_800_000_000))
            else:
                off = -int(rng.integers(0, 1_000_000))
            fstr = {"status": "ok"} if rng.random() < 0.2 else {}
            pts.append({"measurement": m, "tags": tags, "fields": fields,
                        "fields_str": fstr, "time_off_us": off})
        files.append(pts)
    return files


def points_table(points: list[dict], due_us: int) -> pa.Table:
    """Arrow table of POINT_SCHEMA rows, times anchored at ``due_us``."""
    return pa.table(
        {
            "measurement": [p["measurement"] for p in points],
            "tags": [list(p["tags"].items()) for p in points],
            "fields": [list(p["fields"].items()) for p in points],
            "fields_str": [list(p["fields_str"].items()) for p in points],
            "fields_bool": [None] * len(points),
            "time": [None if p["time_off_us"] is None else due_us + p["time_off_us"]
                     for p in points],
            "bucket": [None] * len(points),
        },
        schema=POINT_ARROW_SCHEMA,
    )


def history_points(
    seed: int, anchor: dt.datetime, days: int = 30, points_per_day: int = 1500
) -> tuple[pa.Table, list[tuple[str, int, str, float]]]:
    """Telemetry for the ``days`` before ``anchor``: (point table, long rows
    (measurement, time µs, field, value)).  Each measurement reports on a
    jittered regular cadence (unique, increasing times; no gap longer than
    1.8 steps); about 5% of points omit one of their fields."""
    rng = np.random.default_rng([seed, 3])
    devs = devices(seed)
    names = sorted(devs)
    end_us = int(anchor.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    start_us = end_us - days * 86_400_000_000
    per_dev = days * points_per_day // len(names)
    rows = {"measurement": [], "tags": [], "fields": [], "time": []}
    long = []
    for m in names:
        step = (end_us - start_us) // per_dev
        ts = start_us + np.arange(per_dev) * step + rng.integers(0, step * 4 // 5, per_dev)
        vals = np.round(rng.normal(20.0, 5.0, (len(ts), len(devs[m]))), 3)
        drop = rng.random(len(ts)) < 0.05
        gone = rng.integers(0, len(devs[m]), len(ts))
        for i, t in enumerate(ts.tolist()):
            fields = [
                (f, float(vals[i, j]))
                for j, f in enumerate(devs[m])
                if not (drop[i] and gone[i] == j)
            ]
            rows["measurement"].append(m)
            rows["tags"].append([("device", m)])
            rows["fields"].append(fields)
            rows["time"].append(t)
            long.extend((m, t, f, v) for f, v in fields)
    n = len(rows["time"])
    table = pa.table(
        {**rows, "fields_str": [None] * n, "fields_bool": [None] * n,
         "bucket": ["telemetry"] * n},
        schema=POINT_ARROW_SCHEMA,
    )
    return table, long


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_table(seed: int, n_events: int) -> pa.Table:
    """``events`` with the column types and value shapes of the repository's
    ``events`` test table: times about 26 s apart on average (exponential gaps, so some
    share a second), 1,500 users per 100,000 events, five event types,
    exponential values with two decimals, and ``props`` JSON."""
    rng = np.random.default_rng([seed, 4])
    ts_us = (1_704_067_200 + np.cumsum(rng.exponential(26.0, n_events))) * 1e6
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts_us.astype("int64"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_events // 66, 10), n_events), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )


