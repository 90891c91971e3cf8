"""Read-only probes into a finished Spark execution, used by the traced run:
scan metrics from the executed physical plan and job counts of a job group.
They run after the timed region, so they cost tracing overhead only."""

from __future__ import annotations

from contextlib import contextmanager


def _children(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def scan_metrics(df) -> dict:
    """Files and rows the file scans of ``df``'s last execution actually
    read, summed over every ``FileSourceScanExec`` in the final plan, and
    the root paths those scans list.
    ``numFiles`` is counted after partition pruning, unlike
    ``DataFrame.inputFiles()``."""
    out = {"files": 0, "rows": 0, "roots": set()}
    stack = [df._jdf.queryExecution().executedPlan()]
    seen = set()
    while stack:
        node = stack.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            out["files"] += _metric(node, "numFiles")
            out["rows"] += _metric(node, "numOutputRows")
            roots = node.relation().location().rootPaths()
            out["roots"].update(roots.apply(i).toString() for i in range(roots.size()))
        stack.extend(_children(node))
    return out


@contextmanager
def job_group(spark, group: str, enabled: bool):
    """Run the body under a Spark job group; yields a callable that returns
    how many jobs the group started.  Off when tracing is off."""
    if not enabled:
        yield lambda: 0
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
