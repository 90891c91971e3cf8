"""Run the benchmark several times and summarize the spread.

    python3 perfbench/repeat.py --workload batch_etl --runs 10 --seed 100
    python3 perfbench/repeat.py --workload ingest_live --runs 3 --traced 3 \\
        --out perfbench/results/ingest_live.json

Each run is ``perfbench/run.py`` in a child process with its own seed
(``--seed``, ``--seed + 1``, ...), run one after another.  For every
end-to-end metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, (q3 - q1) / median,
next to the metric's bound in ``BENCHMARK.json``.  With ``--traced N`` it
also makes N traced runs, reports the median of every per-layer metric, and
the tracing overhead: traced over untraced median of each end-to-end metric
(the traced run prints its end-to-end figures on the ``e2e`` lines).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    e2e = {}
    for line in lines:
        parts = line.split()
        if parts[:1] == ["e2e"]:
            e2e[parts[2]] = float(parts[3])
    return {"seed": seed, "exit": p.returncode, "wall_s": time.perf_counter() - t0,
            "result": json.loads(lines[-1]) if lines else None, "e2e": e2e}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    runs = []
    for i in range(args.runs):
        r = one_run(args.workload, args.seed + i, seconds, False)
        runs.append(r)
        print(f"run seed={r['seed']} exit={r['exit']} wall={r['wall_s']:.1f}s "
              f"{json.dumps(r['result'])}", flush=True)
    ok = [r for r in runs if r["exit"] == 0]
    out = {"workload": args.workload, "run_seconds": seconds, "runs": runs, "e2e": {}}
    if len(ok) >= 2:
        print(f"{'metric':<28}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
        for name in bounds:
            s = summary([r["result"]["metrics"][name]["value"] for r in ok])
            out["e2e"][name] = {**s, "bound": bounds[name]}
            print(f"{name:<28}{s['median']:>12.5g}{s['q1']:>12.5g}{s['q3']:>12.5g}"
                  f"{s['spread']:>9.3f}{bounds[name]:>7.2f}")
        walls = [r["wall_s"] for r in runs]
        print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")

    if args.traced:
        traced = [one_run(args.workload, args.seed + args.runs + i, seconds, True)
                  for i in range(args.traced)]
        tok = [r for r in traced if r["exit"] == 0]
        layer = {}
        for name in (tok[0]["result"]["metrics"] if tok else {}):
            vals = [r["result"]["metrics"][name]["value"] for r in tok]
            layer[name] = {"median": statistics.median(vals),
                           "unit": tok[0]["result"]["metrics"][name]["unit"]}
            print(f"layer {name:<46}{layer[name]['median']:>14.6g} {layer[name]['unit']}")
        overhead = {}
        for name in bounds:
            t = [r["e2e"][name] for r in tok if name in r["e2e"]]
            if t and name in out["e2e"]:
                overhead[name] = statistics.median(t) / out["e2e"][name]["median"] - 1.0
                print(f"tracing overhead {name:<24}{overhead[name]:>+9.3f}")
        out.update({"traced_runs": traced, "per_layer": layer, "tracing_overhead": overhead})

    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
