"""batch_etl: operators, a streaming drain and the history query layer, in
one warm session.

Set-up builds two inputs from the seed:

- an ``events`` table for a mix of registered queries
  (``__spark_entry__.queries()``), each built and then executed through the
  noop sink as ``bench.py`` does, and for an ``availableNow`` backfill of
  events-as-points through ``streaming.ingest.run_ingest``;
- the dashboard history store (``history.History``): sink writes,
  compaction and the daily rollup, read by the rollup-served
  ``month_daily_max`` query through ``CerebroClient``.

A check pass runs first and is the warm-up: every registry query against
its ``oracle_sql()`` on DuckDB (canonical rows, as ``tools/check.py``
compares them), the dashboard query against pandas and the rollup against
the raw path, and the backfill against the event count.  Then timed passes,
each running every operation once in a seeded order, repeat until
``--seconds`` is spent.

An operation is a build plus an execution, a materialization or a drain.
``p50_s`` / ``p90_s`` / ``mean_s`` are the CPU seconds of an operation, by
this process and every process under it (``spans.tree_cpu_s``): each
operation's own median, p90 and mean over the passes, averaged over the
operations (``stats.kind_summary``).  Every operation counts once in each,
however many passes fit in a run.  CPU time, unlike wall time, leaves out
the time other machines on the host take from this one, which on a shared
4-vCPU virtual machine made wall times swing by 30-50% between runs; the
wall times are printed (``wall_*_s``, ``op.<name>_s``, ``etl_pass_s``)."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import stats
from common import setup_done, start_session
from history import History
from probes import job_group, scan_metrics
from spans import tree_cpu_s

#: registry queries: two time-series verbs and one stateful streaming gate
MIX = ("ohlc_6h", "asof_join", "streaming_ohlc_6h")
#: the dashboard query over the history store (``history.py``)
CLIENT_QUERY = "month_daily_max"
BACKFILL = "backfill"
N_EVENTS = 10_000
BACKFILL_FILES = 4


def events_as_points(events: pa.Table) -> pa.Table:
    ev = events.to_pydict()
    return pa.table(
        {
            "measurement": ev["event_type"],
            "tags": [[("user", str(u))] for u in ev["user_id"]],
            "fields": [[("value", v)] for v in ev["value"]],
            "fields_str": [[("props", p)] for p in ev["props"]],
            "fields_bool": [None] * len(ev["ts"]),
            "time": events.column("ts").cast(pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "bucket": ["events"] * len(ev["ts"]),
        },
        schema=gen.POINT_ARROW_SCHEMA,
    )


def oracle_check(ctx, spark, qs, oracles, name: str, data: str, con) -> None:
    from tools.check import canon_frame

    try:
        got = canon_frame(qs[name](spark, data).toPandas())
        want = canon_frame(con.execute(oracles[name]).df())
    except Exception as e:  # noqa: BLE001 — a failing query is a counted failure
        ctx.check(False, f"{name} raised {type(e).__name__}: {e}")
        return
    ctx.check(got == want, f"{name} differs from its DuckDB oracle "
              f"(spark {len(got[2])} rows, duckdb {len(want[2])} rows)")


class Backfill:
    """``availableNow`` drains of the same point files into fresh sinks."""

    def __init__(self, ctx, spark, points: pa.Table):
        from cerebro_spark.streaming.ingest import replay_file_stream, run_ingest

        self._replay, self._run = replay_file_stream, run_ingest
        self.ctx, self.spark, self.n = ctx, spark, points.num_rows
        self.src = ctx.tmp / "backfill-src"
        os.makedirs(self.src)
        for k, idx in enumerate(np.array_split(np.arange(self.n), BACKFILL_FILES)):
            pq.write_table(points.take(idx), str(self.src / f"p{k}.parquet"))
        self.drains = 0
        self.progress: list[dict] = []

    def sink(self, k: int) -> str:
        return str(self.ctx.tmp / "backfill" / str(k))

    def run(self) -> int:
        """One drain; returns the rows its batches committed."""
        self.drains += 1
        q = self._run(
            self.spark,
            self._replay(self.spark, str(self.src)),
            sink_path=self.sink(self.drains),
            checkpoint=str(self.ctx.tmp / "backfill-ckpt" / str(self.drains)),
            default_bucket="events",
            available_now=True,
            query_name=f"perfbench-backfill-{self.drains}",
        )
        q.awaitTermination()
        self.progress = q.recentProgress
        return sum(p["numInputRows"] for p in self.progress)


def run(ctx) -> None:
    import duckdb

    tr = ctx.tracer
    spark = start_session(ctx, "perfbench-batch-etl")
    t = time.perf_counter()
    with tr.span("queries.registry_import"):
        import __spark_entry__ as entry

        qs = entry.queries()
        oracles = entry.oracle_sql()
    ctx.layer["queries.registry_import_s"] = (time.perf_counter() - t, "s")

    data = str(ctx.tmp / "data")
    os.makedirs(data)
    with tr.span("gen"):
        events = gen.events_table(ctx.seed, N_EVENTS)
        pq.write_table(events, f"{data}/events.parquet")
        backfill = Backfill(ctx, spark, events_as_points(events))
    hist = History(ctx, spark)

    # check pass = warm-up
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
    for name in MIX:
        with tr.span(f"check.{name}"):
            oracle_check(ctx, spark, qs, oracles, name, data, con)
    con.close()
    hist.check(ctx)
    with tr.span("check.backfill"):
        n = backfill.run()
        stored = spark.read.parquet(backfill.sink(backfill.drains)).count()
    ctx.check(n == backfill.n and stored == backfill.n,
              f"backfill committed {n} rows and stored {stored}, expected {backfill.n}")
    setup_done(ctx)

    rng = np.random.default_rng([ctx.seed, 8])
    ops = [*MIX, BACKFILL, CLIENT_QUERY]
    #: op -> [(build s, exec s, jobs, CPU s)]
    times: dict[str, list[tuple[float, float, int, float]]] = {op: [] for op in ops}
    passes: list[float] = []
    bf_rate: list[float] = []
    client_scans: list[tuple[dict, int]] = []
    t_end = time.perf_counter() + ctx.seconds
    while not passes or time.perf_counter() < t_end:
        p0 = time.perf_counter()
        req = f"pass{len(passes)}"
        for op in rng.permutation(ops).tolist():
            try:
                with tr.span(f"op.{op}", req=req), \
                        job_group(spark, f"perfbench-{op}-{req}", ctx.traced) as jobs:
                    c0 = tree_cpu_s()
                    t0 = time.perf_counter()
                    if op == BACKFILL:
                        with tr.span("streaming.ingest.run_ingest"):
                            n = backfill.run()
                        t1 = t0
                    elif op == CLIENT_QUERY:
                        m = hist.pick()
                        with tr.span("plans.client.build"):
                            df = hist.query(m)
                        t1 = time.perf_counter()
                        with tr.span(f"plans.client.{op}.exec"):
                            rows = df.collect()
                    else:
                        with tr.span(f"operators.{op}.build"):
                            df = qs[op](spark, data)
                        t1 = time.perf_counter()
                        with tr.span(f"operators.{op}.exec"):
                            df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    times[op].append((t1 - t0, t2 - t1, jobs(), tree_cpu_s() - c0))
            except Exception as e:  # noqa: BLE001 — a failing operation is a counted failure
                ctx.check(False, f"{op} raised {type(e).__name__}: {e}")
                continue
            if op == BACKFILL:
                ctx.check(n == backfill.n, f"backfill committed {n} rows, expected {backfill.n}")
                bf_rate.append(n / (t2 - t0))
            elif op == CLIENT_QUERY:
                ctx.check(len(rows) == 28, f"{op}({m}) returned {len(rows)} days, not 28")
                if ctx.traced:
                    with tr.span("trace.probe"):
                        client_scans.append((scan_metrics(df), len(rows)))
            else:
                ctx.check(True, op)
        passes.append(time.perf_counter() - p0)

    cpu = {op: [x[3] for x in xs] for op, xs in times.items()}
    p50, p90, mean = stats.kind_summary(cpu)
    ctx.e2e["p50_s"] = (p50, "s")
    ctx.e2e["p90_s"] = (p90, "s")
    ctx.e2e["mean_s"] = (mean, "s")
    wall = {op: [x[0] + x[1] for x in xs] for op, xs in times.items()}
    for k, v in zip(("p50", "p90", "mean"), stats.kind_summary(wall)):
        ctx.e2e[f"wall_{k}_s"] = (v, "s")
    for op in ops:
        ctx.e2e[f"op.{op}_s"] = (stats.median(wall[op]), "s")
        ctx.e2e[f"op.{op}_cpu_s"] = (stats.median(cpu[op]), "s")
    n_ops = sum(map(len, wall.values()))
    ctx.e2e["op_samples"] = (n_ops, "count")
    ctx.e2e["ops_per_s"] = (n_ops / sum(passes), "1/s")
    ctx.e2e["etl_pass_s"] = (stats.median(passes), "s")
    ctx.e2e["etl_passes"] = (len(passes), "count")
    ctx.e2e["backfill_points_per_s"] = (stats.median(bf_rate), "1/s")
    ctx.e2e["query_p50_s"] = (stats.median(wall[CLIENT_QUERY]), "s")
    if ctx.traced:
        layer_metrics(ctx, times, client_scans, backfill.progress)


def layer_metrics(ctx, times, client_scans, bf_progress) -> None:
    lay = ctx.layer
    build_total = exec_total = 0.0
    for op in MIX:
        b = [x[0] for x in times[op]]
        e = [x[1] for x in times[op]]
        build_total += sum(b)
        exec_total += sum(e)
        lay[f"operators.{op}.build_s"] = (stats.median(b), "s")
        lay[f"operators.{op}.exec_s"] = (stats.median(e), "s")
        lay[f"operators.{op}.jobs"] = (stats.median([x[2] for x in times[op]]), "count")
    lay["operators.build_share"] = (build_total / (build_total + exec_total), "frac")
    client = times[CLIENT_QUERY]
    lay["plans.client.build_s"] = (stats.median([x[0] for x in client]), "s")
    lay["plans.client.exec_s"] = (stats.median([x[1] for x in client]), "s")
    lay[f"plans.client.{CLIENT_QUERY}.exec_s"] = lay["plans.client.exec_s"]
    lay["plans.client.files_read_per_query"] = (
        stats.median([s["files"] for s, _ in client_scans]), "count")
    lay["plans.client.rows_read_per_row_returned"] = (
        stats.median([s["rows"] / max(n, 1) for s, n in client_scans]), "ratio")
    lay["plans.client.rollup_hit_frac"] = (
        sum(any(r.endswith("/rollup") for r in s["roots"]) for s, _ in client_scans)
        / len(client_scans), "frac")
    for key, v in stats.progress_summary(bf_progress).items():
        lay[f"streaming.ingest.{key}"] = (v, "")
