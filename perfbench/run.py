"""cerebro-spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  It starts Spark ``local[nproc]`` in this
process, makes the workload's inputs from ``--seed`` under a fresh directory
inside the checkout (removed at exit), warms up, measures for ``--seconds``,
checks every output, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans around each call into a
layer and reports the per-layer metrics instead (spans are written to
``--trace-out`` when given).  Human-readable lines before the JSON name
every metric of the workload with its unit.  The exit code is non-zero when
any output check fails or the checkout holds no ``cerebro_spark``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from common import Ctx, cpu_jiffies, stop_session  # noqa: E402
from spans import Tracer, peak_rss_mb  # noqa: E402

#: workloads and metric names and units: the benchmark's definition
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="write the spans here (JSON)")
    args = ap.parse_args(argv)

    if not (ROOT / "cerebro_spark" / "__init__.py").is_file():
        print(f"no cerebro_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    tmp.mkdir(parents=True)
    ctx = Ctx(args.seed, args.seconds, Tracer(bool(args.trace)), tmp, T_PROCESS)
    try:
        if args.workload == "ingest_live":
            import live as workload
        else:
            import etl as workload
        workload.run(ctx)
        ctx.e2e["peak_rss_mb"] = (peak_rss_mb(), "MiB")
        # CPU time the hypervisor gave to other guests while this run was
        # measuring: a high share explains a slow run
        steal, total = (a - b for a, b in zip(cpu_jiffies(), ctx.jiffies_at_setup))
        ctx.e2e["host_steal_frac"] = (steal / max(total, 1), "frac")
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass

    ctx.e2e["ops_failed_frac"] = (ctx.failed / max(ctx.attempted, 1), "frac")
    correct = not ctx.problems
    for p in ctx.problems:
        print(f"CHECK FAILED: {p}")
    for name, (v, unit) in sorted(ctx.e2e.items()):
        print(f"e2e   {args.workload:<17} {name:<28} {v:>14.6g} {unit}")
    if ctx.traced:
        ctx.layer["trace.spans"] = (len(ctx.tracer.spans), "count")
        ctx.layer["trace.probe_s"] = (sum(ctx.tracer.durations("trace.probe")), "s")
        units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        for name, (v, _) in sorted(ctx.layer.items()):
            print(f"layer {args.workload:<17} {name:<44} {v:>14.6g} {units.get(name, '')}")
        if args.trace_out:
            ctx.tracer.dump(args.trace_out)
        # a layer this workload never enters reports 0
        reported = {n: (ctx.layer.get(n, (0.0,))[0], u) for n, u in units.items()}
    else:
        reported = {m["name"]: (ctx.e2e[m["name"]][0], m["unit"]) for m in BENCH["end_to_end"]}
    print(json.dumps({
        "correct": correct,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
