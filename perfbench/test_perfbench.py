"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q

Seeded generation, BENCHMARK.json metric names, the tracer's self-time
arithmetic, the correctness gate's checks, and the /proc sampler.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gate  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import TASK_LAYERS, Tracer, layer_metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ seeded inputs


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(name, tmp_path):
    w = workloads.WORKLOADS[name]

    def files(seed, sub):
        inputs = workloads.make_inputs(w, seed, str(tmp_path / sub))
        return [open(p, "rb").read() for p in inputs.pages], inputs

    a, ia = files(7, "a")
    b, _ = files(7, "b")
    c, _ = files(8, "c")
    assert a == b
    assert all(x != y for x, y in zip(a, c))
    assert len(ia.truth) == workloads.N_DOCS


def test_unique_spec_is_a_pure_function_of_the_seed():
    s = workloads.unique_spec(5)
    assert s == workloads.unique_spec(5)
    assert s.seed == 5 and workloads.unique_spec(6).seed == 6
    assert s.skew_n == 0 and s.mirror_n == 0
    assert (s.n_docs - s.unique_start) / s.n_docs == pytest.approx(0.94, abs=0.005)


def test_holdout_is_a_pure_function_of_the_seed():
    m = workloads.holdout_mask(3, workloads.N_DOCS)
    assert (m == workloads.holdout_mask(3, workloads.N_DOCS)).all()
    assert (m != workloads.holdout_mask(4, workloads.N_DOCS)).any()
    assert m.sum() == round(workloads.HOLDOUT_FRAC * workloads.N_DOCS)


# ------------------------------------------------------------ metric names


def test_benchmark_json_names_and_units_are_valid():
    b = _bench_json()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [
        w["name"] for w in b["workloads"]
    ]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    units = [m["unit"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(UNIT.match(u) for u in units)
    assert set(w["name"] for w in b["workloads"]) <= set(workloads.WORKLOADS)


def test_untraced_run_reports_exactly_the_end_to_end_metrics():
    b = _bench_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END


def _fake_trace() -> Tracer:
    t = [0.0]
    tr = Tracer("r", clock=lambda: t[0])

    def advance(dt):
        t[0] += dt

    with tr.span("pipeline", "dedup_pages"):
        advance(1)
        with tr.span("exact", "with_doc_ids") as sp:
            sp.counts["out_rows"] = 10
            advance(2)
        with tr.span("exact", "distinct_text_reps") as sp:
            sp.counts["out_rows"] = 8
            advance(1)
        with tr.span("verify", "verify_pairs") as sp:
            sp.counts.update(in_rows=20, out_rows=5)
            advance(4)
        advance(0.5)
    return tr


def test_traced_run_reports_exactly_the_per_layer_metrics():
    tr = _fake_trace()
    task = {f"{layer}.{k}": (0.0, u) for layer in TASK_LAYERS
            for k, u in (("task_cpu_s", "s"), ("gc_s", "s"),
                         ("shuffle_write_mb", "MB"), ("slot_busy_frac", "ratio"))}
    m = layer_metrics(tr, task, session_s=1.0, untraced_wall_s=8.0, traced_wall_s=8.5,
                      untraced_jobs=3, peak_rss_mb=100.0, written_mb=1.0, n_docs=10, affected_clusters=0)
    b = _bench_json()
    assert {k: u for k, (_, u) in m.items()} == {
        x["name"]: x["unit"] for x in b["per_layer"]
    }
    assert m["exact.distinct_ratio"][0] == pytest.approx(0.8)
    assert m["verify.pass_ratio"][0] == pytest.approx(0.25)
    assert m["verify.pairs_per_s"][0] == pytest.approx(5.0)
    assert m["pipeline.overhead_s"][0] == pytest.approx(0.5)
    assert m["delta.fresh_reps"][0] == 0   # batch call: delta layer not reached


# ------------------------------------------------------------ tracer


def test_self_time_is_span_minus_children():
    tr = _fake_trace()
    by_name = {s.name: s for s in tr.spans}
    root = by_name["pipeline.dedup_pages"]
    assert root.end - root.start == pytest.approx(8.5)
    assert tr.self_time(root) == pytest.approx(1.5)
    assert tr.layer_self_s("exact") == pytest.approx(3.0)
    assert by_name["verify.verify_pairs"].parent == root.span_id
    assert all(s.run_id == "r" for s in tr.spans)


def test_self_time_counts_overlapping_children_once():
    tr = Tracer("r")
    from tracing import Span

    tr.spans = [
        Span(0, "a", "x", None, "r", 0.0, 10.0),
        Span(1, "b", "y", 0, "r", 1.0, 4.0),
        Span(2, "c", "z", 0, "r", 3.0, 6.0),     # overlaps the first child
        Span(3, "d", "w", 0, "r", 9.0, 12.0),    # runs past the parent: clipped
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(10 - 5 - 1)


def test_spans_written_as_json():
    d = json.loads(_fake_trace().to_json(extra=1))
    assert d["run_id"] == "r" and d["extra"] == 1
    assert {"name", "start", "end", "parent", "run_id", "self_s", "counts"} <= set(d["spans"][0])


# ------------------------------------------------------------ gate


def _truth() -> pd.DataFrame:
    # two planted pairs (clusters 0 and 2) and one unique page (cluster 4)
    return pd.DataFrame({
        "url": ["a", "b", "c", "d", "e"],
        "ts": [1, 2, 3, 4, 5],
        "true_cluster_id": [0, 0, 2, 2, 4],
    })


def test_gate_passes_a_perfect_assignment():
    assign = pd.DataFrame({"url": list("abcde"), "ts": [1, 2, 3, 4, 5],
                           "out_cluster": [10, 10, 20, 20, 30]})
    v = gate.check(_truth(), assign, fr_sum=5)
    assert v.ok and v.recall == 1.0


def test_gate_flags_missed_pairs_mixing_and_mass():
    split = pd.DataFrame({"url": list("abcde"), "ts": [1, 2, 3, 4, 5],
                          "out_cluster": [10, 11, 20, 20, 20]})
    v = gate.check(_truth(), split, fr_sum=4)
    assert v.recall == pytest.approx(0.5)
    assert v.mixed_clusters == 1
    assert len(v.errors) == 3   # recall, mixing, sum(fr)


# ------------------------------------------------------------ /proc sampler


def test_proc_tree_covers_children_and_reap_waits_for_them():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procstat.tree_pids()
        assert procstat.tree_cpu_s() > 0
        assert procstat.tree_rss_mb() > 0
        child.terminate()
        child.wait(timeout=10)
        procstat.reap([child.pid], timeout_s=5)
        assert child.pid not in procstat.tree_pids()
    finally:
        child.kill()
        child.wait()


def test_rss_sampler_reports_a_peak():
    s = procstat.RssSampler(interval_s=0.01).start()
    _ = np.ones(4_000_000)   # ~30 MB touched
    assert s.stop() > 0
