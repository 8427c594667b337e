#!/usr/bin/env python3
"""Benchmark of the gencore_spark dedup engine (the repo's BENCHMARK.json
command).

    python3 perfbench/run.py --workload batch_crawl --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout.  One process is one closed-loop
client: it starts a local Spark session on ``local[<cores>]``, writes the
workload's seeded inputs to parquet, warms up, then calls the public entry
point (``dedup_pages`` or ``dedup_pages_incremental``) one call at a time
until ``--seconds`` have passed, running the correctness gate after every
call.  The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` pairs an
untraced call with a traced one (spans around each layer, see tracing.py) and
reports the per-layer metrics, writing the spans to
``.perfbench_out/<workload>-seed<seed>-spans.json``.  Workloads and metrics
are described in perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")
# no new call starts once this much of the run has passed (the whole run
# must end within 180 s)
CALL_DEADLINE_S = 140.0
# end-to-end metrics (--trace 0) and their units
END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s": "s",
    "setup_s": "s",
    "dup_pair_recall": "ratio",
    "ok_frac": "ratio",
}


def parse_args(argv):
    from workloads import WORKLOADS

    def nonneg(v: str) -> int:
        n = int(v)
        if n < 0:
            raise argparse.ArgumentTypeError("seed must be >= 0")
        return n

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=nonneg)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 2**20


class Bench:
    def __init__(self, args, work: str):
        from tracing import Tracer
        from workloads import WORKLOADS

        self.workload = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.t_start = time.monotonic()
        self.spark = None
        self.setup_tracer = Tracer(f"{args.workload}-s{args.seed}-setup")
        self.spans_out: list[str] = []

    # -- session ----------------------------------------------------------

    def _start_session(self) -> None:
        from gencore_spark.session import get_spark

        extra = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
        }
        if self.trace:
            extra |= {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", extra=extra
        )

    def close(self) -> None:
        """Stop Spark, the JVM and every process they started, and wait."""
        from procstat import reap, tree_pids

        if self.spark is None:
            return
        from pyspark import SparkContext

        pids = tree_pids()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        reap([p for p in pids if p != os.getpid()])
        self.spark = None

    # -- calls ------------------------------------------------------------

    def _pages(self, *paths):
        from gencore_spark.fixtures import PAGES_COLUMNS

        return self.spark.read.parquet(*paths).select(*PAGES_COLUMNS)

    def _batch(self, out_dir: str, paths):
        from gencore_spark import dedup_pages

        pages = self._pages(*paths)
        return lambda: dedup_pages(self.spark, pages, out_dir)

    def _entry(self, out_dir: str):
        """(root layer, op, zero-arg call) of one timed call into ``out_dir``."""
        if not self.workload.delta:
            return "pipeline", "dedup_pages", self._batch(out_dir, self.inputs.pages)
        from gencore_spark import dedup_pages_incremental

        delta = self._pages(self.inputs.delta)
        base = os.path.join(self.work, "base")
        return "delta", "dedup_pages_incremental", lambda: dedup_pages_incremental(
            self.spark, delta, base, out_dir
        )

    def _gate(self, out_dir: str, fr_sum: int):
        from gate import assignment, check

        return check(self.inputs.truth, assignment(self.spark, out_dir), fr_sum)

    @staticmethod
    def _materialize(canonical) -> int:
        """Materialize the canonical table; returns the sum of ``fr``."""
        from pyspark.sql import functions as F

        return int(canonical.agg(F.sum("fr")).collect()[0][0] or 0)

    def _timed(self, call, out_dir: str, after_call=None) -> dict:
        """One call: wall and tree CPU from the first call into the entry
        point until the canonical table is materialized, then the gate.
        ``after_call`` runs as soon as the entry point returns.  Peak RSS
        is sampled only in the traced run, so the sampler thread adds no
        CPU to the untraced window."""
        from procstat import RssSampler, tree_cpu_s

        rec = {"ok": False}
        rss = RssSampler().start() if self.trace else None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            canonical = call()
            if after_call is not None:
                after_call()
            fr_sum = self._materialize(canonical)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - cpu0
            if rss is not None:
                rec["peak_rss_mb"] = rss.stop()
            v = self._gate(out_dir, fr_sum)
            rec.update(ok=v.ok, recall=v.recall, errors=v.errors)
        except Exception:  # a failed call is counted, the set goes on
            rec["errors"] = [traceback.format_exc()]
        finally:
            if rss is not None:
                rss.stop()
        for e in rec.get("errors", []):
            log(f"call failed: {e}")
        log(f"call into {os.path.basename(out_dir)}: wall {rec.get('wall_s', 0):.2f} s, "
            f"with gate {time.perf_counter() - t0:.2f} s, ok {rec['ok']}")
        return rec

    # -- phases -----------------------------------------------------------

    def setup(self) -> float:
        """Session start + input write + warm-up.  Returns setup seconds."""
        from workloads import make_inputs

        t0 = time.perf_counter()
        with self.setup_tracer.span("session", "get_spark"):
            self._start_session()
        log(f"session {time.perf_counter() - t0:.2f} s")
        self.inputs = make_inputs(self.workload, self.seed, os.path.join(self.work, "in"))
        log(f"inputs {time.perf_counter() - t0:.2f} s")
        if not self.workload.delta:
            # warm-up: one full untimed call on the workload's own input
            self._batch(os.path.join(self.work, "warm"), self.inputs.pages)()
        else:
            # the base-state build is the warm-up: the timed incremental call
            # is the second call of the JVM, like the timed batch call
            # (NOTES.md, "Warm-up")
            self._batch(os.path.join(self.work, "base"), [self.inputs.base])()
        log(f"setup {time.perf_counter() - t0:.2f} s")
        return time.perf_counter() - t0

    def _may_start_call(self, t_end: float, last_wall: float) -> bool:
        now = time.perf_counter()
        budget_left = CALL_DEADLINE_S - (time.monotonic() - self.t_start)
        return now < t_end and budget_left > last_wall

    def run_untraced(self) -> dict:
        setup_s = self.setup()
        recs = []
        t_end = time.perf_counter() + self.seconds
        while True:
            out_dir = os.path.join(self.work, f"call{len(recs)}")
            recs.append(self._timed(self._entry(out_dir)[2], out_dir))
            shutil.rmtree(out_dir, ignore_errors=True)
            if not self._may_start_call(t_end, recs[-1].get("wall_s", 0.0)):
                break
        timed = [r for r in recs if "wall_s" in r] or [{"wall_s": float("nan")}]
        med = lambda k: statistics.median(r.get(k, float("nan")) for r in timed)
        ok = [r for r in recs if r["ok"]]
        values = {
            "wall_s": med("wall_s"),
            "docs_per_s": statistics.median(self.inputs.n_docs / r["wall_s"] for r in timed),
            "cpu_s": med("cpu_s"),
            "setup_s": setup_s,
            # the worst call: the gate requires every call to reach MIN_RECALL
            "dup_pair_recall": min((r["recall"] for r in recs if "recall" in r), default=0.0),
            "ok_frac": len(ok) / len(recs),
        }
        metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
        return self._result(recs, metrics)

    def run_traced(self) -> dict:
        from tracing import LayerTracing, Tracer, layer_metrics, layer_task_metrics, \
            rest_stages, span_jobs, span_task_metrics

        sc_holder = {}

        def retag(span):
            sc_holder["sc"].setJobGroup(span.group if span else "perfbench-idle", "perfbench")

        self.setup()
        sc = self.spark.sparkContext
        sc_holder["sc"] = sc
        recs, samples = [], []
        t_end = time.perf_counter() + self.seconds
        while True:
            i = len(samples)
            # untraced call of the same code: job count + the wall the
            # tracing overhead is measured against
            out_u = os.path.join(self.work, f"untraced{i}")
            group = f"perfbench-untraced{i}"
            sc.setJobGroup(group, "perfbench")
            rec_u = self._timed(self._entry(out_u)[2], out_u, after_call=lambda: retag(None))
            untraced_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            shutil.rmtree(out_u, ignore_errors=True)

            out_t = os.path.join(self.work, f"traced{i}")
            root_layer, root_op, call = self._entry(out_t)
            tracer = Tracer(f"{self.workload.name}-s{self.seed}-t{i}", on_switch=retag)
            tracing = LayerTracing(tracer)
            with tracing.active():
                def traced_call():
                    with tracer.span(root_layer, root_op):
                        return call()
                rec_t = self._timed(traced_call, out_t)
            retag(None)
            recs += [rec_u, rec_t]
            jobs = span_jobs(sc, tracer)
            for sp in tracer.spans:
                sp.counts["spark_jobs"] = len(jobs[sp.span_id])
            if "wall_s" in rec_u and "wall_s" in rec_t:
                task = layer_task_metrics(
                    tracer, span_task_metrics(sc, tracer, jobs, rest_stages(sc)), self.cores
                )
                samples.append(layer_metrics(
                    tracer, task,
                    session_s=self.setup_tracer.layer_self_s("session"),
                    untraced_wall_s=rec_u["wall_s"],
                    traced_wall_s=rec_t["wall_s"],
                    untraced_jobs=untraced_jobs,
                    peak_rss_mb=rec_u["peak_rss_mb"],
                    written_mb=dir_mb(out_t),
                    n_docs=self.inputs.n_docs,
                    affected_clusters=self._affected_clusters(out_t),
                ))
            self._write_spans(tracer, tracing, rec_u, rec_t)
            shutil.rmtree(out_t, ignore_errors=True)
            if not samples or not self._may_start_call(
                t_end, rec_u.get("wall_s", 0.0) + rec_t.get("wall_s", 0.0)
            ):
                break
        metrics = {}
        for name in (samples[0] if samples else {}):
            metrics[name] = (statistics.median(s[name][0] for s in samples), samples[0][name][1])
        return self._result(recs, metrics)

    def _affected_clusters(self, out_dir: str) -> int:
        if not self.workload.delta:
            return 0
        with open(os.path.join(out_dir, "REPORT.json")) as f:
            return json.load(f)["stages"]["s5_canonical"]["n_affected_clusters"]

    def _write_spans(self, tracer, tracing, rec_u, rec_t) -> None:
        os.makedirs(OUT_ROOT, exist_ok=True)
        path = os.path.join(OUT_ROOT, f"{self.workload.name}-seed{self.seed}-spans.json")
        self.spans_out.append(tracer.to_json(
            setup=json.loads(self.setup_tracer.to_json()),
            untraced_wall_s=rec_u.get("wall_s"),
            traced_wall_s=rec_t.get("wall_s"),
            tracing_overhead_s=(rec_t["wall_s"] - rec_u["wall_s"])
            if "wall_s" in rec_u and "wall_s" in rec_t else None,
            missing_hooks=tracing.missing,
        ))
        with open(path, "w") as f:
            f.write("[\n" + ",\n".join(self.spans_out) + "\n]\n")

    @staticmethod
    def _result(recs: list[dict], metrics: dict) -> dict:
        failed = sum(not r["ok"] for r in recs)
        return {
            "correct": failed == 0,
            "attempted": len(recs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = cores      # shuffle partitions = cores
    os.environ["TMPDIR"] = tmp
    # every file the run writes stays in the checkout: HotSpot writes its
    # perf-data file to /tmp whatever java.io.tmpdir says, unless disabled
    for var, opts in (("SPARK_SUBMIT_OPTS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                      ("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")):
        os.environ[var] = " ".join(p for p in (os.environ.get(var), opts) if p)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "gencore_spark", "__init__.py")):
        print(f"perfbench: no gencore_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    bench = Bench(args, work)
    try:
        result = bench.run_traced() if bench.trace else bench.run_untraced()
    finally:
        t0 = time.perf_counter()
        with contextlib.suppress(Exception):
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        log(f"shutdown {time.perf_counter() - t0:.2f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
