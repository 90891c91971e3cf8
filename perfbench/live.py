"""ingest_live: freshness under steady load, with reads beside writes.

An open-loop generator lands one seeded parquet file of POINT_SCHEMA points
every ``1 / RATE`` seconds into a ``file_replay`` source run by
``IngestRunner`` on a ``TRIGGER_S`` trigger.  One closed-loop reader
thread calls ``CerebroClient.query(..., start="-5m")`` on the store while it
is written.

- ``p50_s`` / ``p90_s`` / ``mean_s``: per landed file, commit time of the
  micro-batch that consumed it (``commits/N`` mtime, joined through
  ``sources/0/N``) minus the time the generator was scheduled to land it;
- ``fresh_query_*`` (printed): the reader's query latency and throughput.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import stats
from probes import scan_metrics
from common import setup_done, start_session

RATE = 13.0  # files per second: at least 100 timed files in 8 s
POINTS_PER_FILE = 100
WARM_FILES = 5
TRIGGER_S = 2
INSTANCE_TAGS = {"observatory": "bench", "site": "bench-site"}
SOURCE_TAGS = {"feed": "gen"}
BUCKET = "telemetry"


class Feed:
    """Open-loop landing of pre-generated points on a fixed wall-clock
    schedule: at its due time each file is stamped, written and renamed
    into the watched directory."""

    def __init__(self, files: list[list[dict]], staging: str, inbox: str):
        self.files = files
        self.staging = staging
        self.inbox = inbox
        self.due: dict[str, float] = {}
        self.landed: dict[str, float] = {}

    def land(self, first: int, last: int, t0: float) -> None:
        for i in range(first, last):
            name = f"f{i:05d}.parquet"
            due = t0 + (i - first) / RATE
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            path = os.path.join(self.staging, name)
            pq.write_table(gen.points_table(self.files[i], int(due * 1e6)), path)
            os.replace(path, os.path.join(self.inbox, name))
            self.due[name] = due
            self.landed[name] = time.time()


def committed(ckpt: str) -> tuple[dict, dict]:
    """(file -> batch id, batch id -> commit time) from the checkpoint."""
    file_batch = stats.read_source_log(os.path.join(ckpt, "sources", "0"))
    commit_time = stats.read_commit_times(os.path.join(ckpt, "commits"))
    return file_batch, commit_time


def wait_committed(ckpt: str, names, timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        fb, ct = committed(ckpt)
        if all(fb.get(n) in ct for n in names):
            return True
        time.sleep(0.1)
    return False


def run(ctx) -> None:
    tr = ctx.tracer
    spark = start_session(ctx, "perfbench-ingest-live")
    t = time.perf_counter()
    with tr.span("queries.registry_import"):
        from cerebro_spark.config.loader import IngestRunner
        from cerebro_spark.plans.client import CerebroClient
    ctx.layer["queries.registry_import_s"] = (time.perf_counter() - t, "s")

    n_meas = math.ceil(ctx.seconds * RATE)
    files = gen.ingest_files(ctx.seed, WARM_FILES + n_meas, POINTS_PER_FILE)
    dirs = {k: str(ctx.tmp / k) for k in ("staging", "inbox", "store", "ckpt")}
    for d in dirs.values():
        os.makedirs(d)
    feed = Feed(files, dirs["staging"], dirs["inbox"])
    config = {
        "tags": INSTANCE_TAGS,
        "default_bucket": BUCKET,
        "sources": {"feed": {"type": "file_replay", "path": dirs["inbox"],
                             "delay": TRIGGER_S, "tags": SOURCE_TAGS}},
    }
    ckpt = os.path.join(dirs["ckpt"], "feed")
    runner = IngestRunner(spark, config, dirs["store"], dirs["ckpt"])
    with tr.span("config.loader.runner_start"):
        t = time.perf_counter()
        runner.start()
        ctx.layer["config.loader.runner_start_s"] = (time.perf_counter() - t, "s")
    (query,) = [q for q in spark.streams.active if q.name == "cerebro-feed"]
    try:
        # warm-up before any timing: a few files through the stream, then
        # one reader query over them
        feed.land(0, WARM_FILES, time.time())
        ctx.check(wait_committed(ckpt, list(feed.due), 60.0),
                  "warm-up files were not committed within 60 s")
        client = CerebroClient(spark, {BUCKET: dirs["store"]})
        devs = gen.devices(ctx.seed)
        client.query(BUCKET, sorted(devs)[0], start="-5m").collect()
        setup_done(ctx)

        reader = Reader(ctx, client, devs)
        t0 = time.time() + 0.2
        th = threading.Thread(target=reader.loop, name="perfbench-reader")
        th.start()
        try:
            feed.land(WARM_FILES, WARM_FILES + n_meas, t0)
        finally:
            reader.stop.set()
            th.join(120)
        ctx.check(not th.is_alive(), "reader thread did not stop")
        meas = [n for n in feed.due if n >= f"f{WARM_FILES:05d}"]
        fb, ct = committed(ckpt)
        backlog = sum(1 for n in meas if fb.get(n) not in ct)
        drained = wait_committed(ckpt, list(feed.due), 60.0)
        ctx.check(drained, "landed files not committed within 60 s of the last")
        progress = [p for p in query.recentProgress if _epoch(p["timestamp"]) >= t0]
    finally:
        runner.stop()

    fb, ct = committed(ckpt)
    lat, _ = stats.join_latency({n: feed.due[n] for n in meas}, fb, ct)
    for n in meas:
        ctx.check(n in lat, f"file {n} never committed")
    lats = list(lat.values())
    ctx.e2e["p50_s"] = (stats.median(lats), "s")
    ctx.e2e["p90_s"] = (stats.percentile(lats, 0.9), "s")
    ctx.e2e["ingest_latency_p50_s"] = ctx.e2e["p50_s"]
    ctx.e2e["ingest_latency_p90_s"] = ctx.e2e["p90_s"]
    ctx.e2e["ingest_latency_samples"] = (len(lats), "count")
    ctx.e2e["p90_tail_samples"] = (stats.samples_beyond(len(lats), 0.9), "count")
    ctx.e2e["mean_s"] = (sum(lats) / len(lats), "s")
    ctx.e2e["fresh_query_per_s"] = (len(reader.total) / sum(reader.total), "1/s")
    ctx.e2e["fresh_query_p50_s"] = (stats.median(reader.total), "s")
    ctx.e2e["fresh_query_p90_s"] = (stats.percentile(reader.total, 0.9), "s")
    ctx.e2e["fresh_query_samples"] = (len(reader.total), "count")
    ctx.e2e["generator_late_max_s"] = (
        max(feed.landed[n] - feed.due[n] for n in meas), "s")

    check_store(ctx, spark, files, feed, fb, ct, dirs["store"])

    if ctx.traced:
        for key, v in stats.progress_summary(progress).items():
            ctx.layer[f"streaming.ingest.{key}"] = (v, "")
        ctx.layer["streaming.ingest.backlog_files_end"] = (backlog, "count")
        sink_layout(ctx, dirs["store"])
        reader.layer_metrics()


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Reader:
    """Closed-loop fresh-query client over the live store."""

    def __init__(self, ctx, client, devs):
        self.ctx = ctx
        self.client = client
        self.devs = devs
        self.names = sorted(devs)
        self.rng = np.random.default_rng([ctx.seed, 5])
        self.stop = threading.Event()
        self.build: list[float] = []
        self.exec: list[float] = []
        self.total: list[float] = []
        self.files: list[int] = []
        self.rows_ratio: list[float] = []

    def loop(self) -> None:
        tr = self.ctx.tracer
        i = 0
        while not self.stop.is_set():
            m = self.names[int(self.rng.integers(len(self.names)))]
            i += 1
            try:
                with tr.span("plans.client.query", req=f"fresh-{i}"):
                    t0 = time.perf_counter()
                    with tr.span("plans.client.build"):
                        df = self.client.query(BUCKET, m, start="-5m")
                    t1 = time.perf_counter()
                    with tr.span("plans.client.exec"):
                        rows = df.collect()
                    t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — a failed query is a counted failure
                self.ctx.check(False, f"fresh query {m} raised {type(e).__name__}: {e}")
                continue
            self.build.append(t1 - t0)
            self.exec.append(t2 - t1)
            self.total.append(t2 - t0)
            allowed = {"time", "seq", *self.devs[m]}
            self.ctx.check(set(df.columns) <= allowed and "time" in df.columns,
                           f"fresh query {m} returned columns {df.columns}")
            if self.ctx.traced:
                with tr.span("trace.probe"):
                    sm = scan_metrics(df)
                self.files.append(sm["files"])
                self.rows_ratio.append(sm["rows"] / max(len(rows), 1))

    def layer_metrics(self) -> None:
        lay = self.ctx.layer
        lay["plans.client.build_s"] = (stats.median(self.build), "s")
        lay["plans.client.exec_s"] = (stats.median(self.exec), "s")
        lay["plans.client.files_read_per_query"] = (stats.median(self.files), "count")
        lay["plans.client.rows_read_per_row_returned"] = (
            stats.median(self.rows_ratio), "ratio")


def check_store(ctx, spark, files, feed, fb, ct, store) -> None:
    """Every non-empty generated point is stored exactly once, with the
    instance tags merged under its own and a null time stamped between its
    landing and the commit of its batch."""
    instance = {"source": "file_replay", **INSTANCE_TAGS, **SOURCE_TAGS}
    expected = []
    window = {}
    for i, pts in enumerate(files):
        name = f"f{i:05d}.parquet"
        due_us = int(feed.due[name] * 1e6)
        bid = fb.get(name)
        for p in pts:
            if not p["fields"]:
                continue
            off = p["time_off_us"]
            t = None if off is None else due_us + off
            expected.append(stats.point_key(p["measurement"], {**instance, **p["tags"]},
                                            p["fields"], t))
            if off is None:
                window[p["fields"]["seq"]] = (feed.landed[name] - 1.0,
                                              ct.get(bid, float("inf")) + 1.0)
    from pyspark.sql import functions as F

    rows = spark.read.parquet(store).select(
        "measurement", "tags", "fields", F.unix_micros("time").alias("t_us"),
        "bucket").collect()
    got = []
    stamped_ok = True
    for r in rows:
        fields = dict(r["fields"] or {})
        t_us = r["t_us"]
        window_s = window.get(fields.get("seq"))
        if window_s is not None:
            stamped_ok &= window_s[0] <= t_us / 1e6 <= window_s[1]
            t_us = None
        got.append(stats.point_key(r["measurement"], dict(r["tags"] or {}), fields, t_us))
    ctx.check(stats.checksum(got) == stats.checksum(expected),
              f"store holds {len(got)} points, checksum differs from the "
              f"{len(expected)} generated non-empty points")
    ctx.check(stamped_ok, "a null time was stamped outside [landing, commit]")
    ctx.check(all(r["bucket"] == BUCKET for r in rows), "default bucket not applied")


def sink_layout(ctx, store: str) -> None:
    n_files = 0
    n_bytes = 0
    parts = set()
    for d, _, names in os.walk(store):
        if "_spark_metadata" in d:
            continue
        for n in names:
            if n.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(d, n))
                parts.add(d)
    points = ctx.spark.read.parquet(store).count()
    ctx.layer["streaming.sinks.files_written"] = (n_files, "count")
    ctx.layer["streaming.sinks.files_per_partition"] = (n_files / max(len(parts), 1), "count")
    ctx.layer["streaming.sinks.bytes_per_point"] = (n_bytes / max(points, 1), "B")
