"""The dashboard history store and its rollup-served query.

``History`` generates about thirty seeded days of telemetry, writes it
through ``streaming.sinks.parquet_point_sink`` in two batches (two files per
date partition), compacts it with ``io.compact_store``, and builds and
registers the daily rollup with ``operators.rollup.refresh_rollup``.  The
dashboard query is ``month_daily_max``: ``aggregate_window=(86400, "max")``
over the 28 whole days before the pinned client clock, which
``CerebroClient`` serves from the rollup.  Its one right answer is
recomputed here with pandas.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen

BUCKET = "telemetry"
DAYS = 30
POINTS_PER_DAY = 600
SINK_BATCHES = 2
#: pinned client clock
ANCHOR = dt.datetime(2024, 2, 1, 13, 20)
MIDNIGHT = ANCHOR.replace(hour=0, minute=0)
START = MIDNIGHT - dt.timedelta(days=28)
DAY = 86400


def _us(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)


def expected(long, m: str) -> dict:
    """Daily max per field of measurement ``m`` over [START, MIDNIGHT), from
    the generated long rows: {day start µs: {field: max}}."""
    df = long[(long.measurement == m) & (long.t_us >= _us(START)) & (long.t_us < _us(MIDNIGHT))]
    step = DAY * 1_000_000
    df = df.assign(t_us=(df.t_us // step) * step)
    df = df.groupby(["t_us", "field"], as_index=False)["value"].max()
    out: dict = {}
    for t, f, v in zip(df.t_us.tolist(), df.field.tolist(), df.value.tolist()):
        out.setdefault(t, {})[f] = v
    return out


def collected(df) -> dict:
    """A pivoted client result as {time µs: {field: value}}."""
    from pyspark.sql import functions as F

    cols = [c for c in df.columns if c != "time"]
    rows = df.select(F.unix_micros("time").alias("time"), *cols).collect()
    return {r["time"]: {c: r[c] for c in cols if r[c] is not None} for r in rows}


def same(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(
        a[t].keys() == b[t].keys()
        and all(math.isclose(a[t][f], b[t][f], rel_tol=1e-12) for f in a[t])
        for t in a
    )


class History:
    """The compacted store, its rollup, and a seeded measurement picker."""

    def __init__(self, ctx, spark):
        import pandas as pd

        from cerebro_spark.io import compact_store
        from cerebro_spark.operators.rollup import refresh_rollup
        from cerebro_spark.plans.client import CerebroClient
        from cerebro_spark.streaming.sinks import parquet_point_sink

        tr = ctx.tracer
        table, long_rows = gen.history_points(ctx.seed, ANCHOR, DAYS, POINTS_PER_DAY)
        self.long = pd.DataFrame(long_rows, columns=["measurement", "t_us", "field", "value"])
        staging = ctx.tmp / "history-staging"
        store = str(ctx.tmp / "history")
        rollup = str(ctx.tmp / "rollup")
        os.makedirs(staging)
        order = np.random.default_rng([ctx.seed, 6]).permutation(table.num_rows)
        for b, part in enumerate(np.array_split(order, SINK_BATCHES)):
            path = str(staging / f"batch{b}.parquet")
            pq.write_table(table.take(part), path)
            with tr.span("streaming.sinks.parquet_point_sink"):
                parquet_point_sink(spark.read.parquet(path), store)
        with tr.span("io.compact_store"):
            t = time.perf_counter()
            compact_store(spark, store)
            ctx.layer["io.compact_store_s"] = (time.perf_counter() - t, "s")
        days = sorted({dt.datetime.fromtimestamp(x / 1e6, dt.timezone.utc).date().isoformat()
                       for x in table.column("time").cast("int64").to_pylist()})
        with tr.span("operators.rollup.refresh_rollup"):
            t = time.perf_counter()
            refresh_rollup(spark, store, rollup, [(BUCKET, d) for d in days])
            ctx.layer["operators.rollup.refresh_rollup_s"] = (time.perf_counter() - t, "s")
        self.client = CerebroClient(spark, {BUCKET: store}, now=ANCHOR)
        self.client.register_rollup(BUCKET, rollup)
        self.raw = CerebroClient(spark, {BUCKET: store}, now=ANCHOR)
        self.names = sorted(gen.devices(ctx.seed))
        self.rng = np.random.default_rng([ctx.seed, 7])

    def pick(self) -> str:
        return self.names[int(self.rng.integers(len(self.names)))]

    def query(self, m: str, client=None):
        return (client or self.client).query(
            BUCKET, m, start=START, end=MIDNIGHT, aggregate_window=(DAY, "max"))

    def check(self, ctx) -> None:
        """The query once against pandas, and the rollup-served result
        against the raw path."""
        m = self.pick()
        with ctx.tracer.span("check.month_daily_max"):
            got = collected(self.query(m))
            raw = collected(self.query(m, self.raw))
        want = expected(self.long, m)
        ctx.check(len(want) == 28 and same(got, want),
                  f"month_daily_max({m}): {len(got)} days differ from pandas ({len(want)})")
        ctx.check(same(got, raw), f"month_daily_max({m}): rollup result differs from the raw path")
