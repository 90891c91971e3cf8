"""Pure helpers for the benchmark: percentiles, the sample-count rule, the
order-independent checksum of stored points, and the join of landed files to
the commit of the micro-batch that consumed them.

Nothing here imports Spark, so the unit tests in ``perfbench/tests`` run in
well under a second.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1] (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q={q} outside [0, 1]")
    h = (len(xs) - 1) * q
    lo = math.floor(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (h - lo)


def median(values) -> float:
    return percentile(values, 0.5)


def kind_summary(samples: dict) -> tuple[float, float, float]:
    """(p50, p90, mean) of ``{kind: [times]}``: each kind's own median, p90
    and mean, averaged over the kinds.  Every kind counts once, and every
    kind moves every figure, however many samples each kind has."""
    figs = [(median(xs), percentile(xs, 0.9), sum(xs) / len(xs)) for xs in samples.values()]
    return tuple(sum(f) / len(figs) for f in zip(*figs))


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the ``q`` percentile of ``n`` samples.  A
    reported percentile should rest on at least ten: p90 needs n >= 92."""
    return n - 1 - math.floor((n - 1) * q)


def point_key(measurement, tags, fields, time_us) -> str:
    """Canonical text of one stored point: maps sorted by key, floats by
    ``repr`` (exact), time as integer microseconds or ``None``."""
    return json.dumps(
        [
            measurement,
            sorted((tags or {}).items()),
            sorted((k, repr(float(v))) for k, v in (fields or {}).items()),
            time_us,
        ],
        separators=(",", ":"),
    )


def checksum(keys) -> tuple[int, int]:
    """(count, order-independent checksum) over canonical point keys: the
    sum mod 2**64 of each key's 64-bit BLAKE2b digest, so duplicates and
    losses both change it."""
    total = 0
    n = 0
    for k in keys:
        total = (total + int.from_bytes(
            hashlib.blake2b(k.encode(), digest_size=8).digest(), "little"
        )) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, total


def _batch_files(log_dir: str) -> list[str]:
    out = []
    for name in os.listdir(log_dir):
        base = name[: -len(".compact")] if name.endswith(".compact") else name
        if base.isdigit():
            out.append(os.path.join(log_dir, name))
    return out


def read_source_log(source_dir: str) -> dict[str, int]:
    """File-source offset log (``<checkpoint>/sources/0``) → {file basename:
    batch id}.  Each batch file is ``v1`` followed by one JSON entry per
    file; a ``N.compact`` file repeats the earlier entries, so the smallest
    batch id seen for a path wins."""
    out: dict[str, int] = {}
    for path in _batch_files(source_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                name = os.path.basename(entry["path"])
                bid = int(entry["batchId"])
                if name not in out or bid < out[name]:
                    out[name] = bid
    return out


def read_commit_times(commits_dir: str) -> dict[int, float]:
    """``<checkpoint>/commits`` → {batch id: commit time (file mtime, s)}."""
    return {
        int(os.path.basename(p)): os.stat(p).st_mtime
        for p in _batch_files(commits_dir)
        if not p.endswith(".compact")
    }


def join_latency(
    scheduled: dict[str, float],
    file_batch: dict[str, int],
    commit_time: dict[int, float],
) -> tuple[dict[str, float], list[str]]:
    """Per landed file, commit time of its consuming batch minus the time
    the generator was scheduled to land it.  Returns (latencies by file,
    files not yet committed)."""
    lat: dict[str, float] = {}
    missing: list[str] = []
    for name, due in scheduled.items():
        bid = file_batch.get(name)
        if bid is None or bid not in commit_time:
            missing.append(name)
        else:
            lat[name] = commit_time[bid] - due
    return lat, sorted(missing)


#: per-layer name suffix -> StreamingQueryProgress ``durationMs`` phase
PROGRESS_PHASES = {
    "trigger_ms": "triggerExecution",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def progress_summary(progress: list[dict]) -> dict[str, float]:
    """Median per-batch phase times, batch count and rows per batch over
    the progress events of batches that read input."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not batches:
        return {"batches": 0}
    out = {
        key: median([p.get("durationMs", {}).get(phase, 0) for p in batches])
        for key, phase in PROGRESS_PHASES.items()
    }
    out["batches"] = len(batches)
    out["rows_per_batch"] = median([p["numInputRows"] for p in batches])
    return out
