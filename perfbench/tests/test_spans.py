import subprocess
import sys

import spans


def _span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "req": "r", "start": start, "end": end}


def test_self_time_subtracts_covered_children_once():
    sp = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps span 2: covered 1..6 = 5
        _span(4, 1, 9.0, 12.0),  # runs past its parent: clipped to 9..10
        _span(5, 2, 1.5, 2.0),  # grandchild: only its own parent loses it
    ]
    out = {s["id"]: s["self"] for s in spans.with_self_time(sp)}
    assert out[1] == 10.0 - 6.0
    assert out[2] == 3.0 - 0.5
    assert out[3] == 3.0
    assert out[5] == 0.5


def test_tracer_records_parent_and_request():
    tr = spans.Tracer(True)
    with tr.span("outer", req="q1"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["req"] == outer["req"] == "q1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tr.durations("inner") == [inner["end"] - inner["start"]]


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_peak_rss_reads_this_process():
    assert spans.peak_rss_mb() > 1.0


def test_tree_cpu_counts_a_finished_child():
    c0 = spans.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert spans.tree_cpu_s() - c0 >= 0.25
