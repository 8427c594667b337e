"""Scaling-efficiency evidence on a LOCAL STANDALONE CLUSTER:
1 executor × 8 cores vs 4 executors × 8 cores — the literal shape of the
north rule's "N vs 4N executors" criterion.

Why this exists next to tools/scaling_bench.py (the local[8]→local[32]
proxy): per-leg CPU accounting showed the single shared-heap local-mode
JVM inflates CPU ~2.5× going 8→32 threads (2906.9 vs 1161.7 CPU-s for the
SAME 300k-page job, BENCH/BASELINE.md), so that proxy caps near 0.4
efficiency even at full utilization — a local-mode artifact, not a
pipeline property.  A real cluster adds a JVM heap WITH every N cores.
Spark's standalone deploy mode reproduces exactly that on one host: each
executor is its own 8-core JVM with its own heap and GC, talking over the
real shuffle/netty path.  Memory bandwidth is still shared across the
host's sockets — that part of the proxy is pessimistic, never optimistic.

Per-leg honesty, mirroring scaling_bench.py:

* each leg runs with freshly launched worker daemons, each worker
  (and therefore its executor JVM + python workers) CPU-AFFINITY-BOUND to
  its own disjoint 8-core range (``taskset -c 8k..8k+7``);
* the driver JVM is bound to a core range OUTSIDE the executors' so
  driver work never rides on measured cores (on a real cluster the
  driver is a separate machine);
* fresh application (= fresh executor JVMs) per leg; corpus
  pre-materialized; generation excluded.

Usage:
    PYTHONPATH=/root/repo python tools/standalone_scaling.py [n_pages]
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
MASTER_PORT = 7077
MASTER_URL = f"spark://127.0.0.1:{MASTER_PORT}"
CORES_PER_EXEC = 8
DRIVER_CORES = "30-31"  # driver pinned off the measured executor cores


def _spark_class(klass: str, *args: str, taskset: str | None = None,
                 env: dict | None = None) -> subprocess.Popen:
    cmd = [os.path.join(SPARK_HOME, "bin", "spark-class"), klass, *args]
    if taskset:
        cmd = ["taskset", "-c", taskset] + cmd
    return subprocess.Popen(
        cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        env={**os.environ, **(env or {})}, start_new_session=True,
    )


def _wait_port(port: int, timeout: float = 30.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        with socket.socket() as s:
            if s.connect_ex(("127.0.0.1", port)) == 0:
                return
        time.sleep(0.5)
    raise TimeoutError(f"port {port} not up after {timeout}s")


def run_leg(n_exec: int, pages_path: str, workdir: str) -> dict:
    """One application: n_exec × 8-core executors on freshly started,
    per-executor-affinity-bound workers."""
    workers = []
    try:
        for i in range(n_exec):
            lo = i * CORES_PER_EXEC
            w = _spark_class(
                "org.apache.spark.deploy.worker.Worker", MASTER_URL,
                "-c", str(CORES_PER_EXEC), "-m", "11g",
                "-p", str(9100 + i), "--webui-port", str(9500 + i),
                taskset=f"{lo}-{lo + CORES_PER_EXEC - 1}",
                env={"SPARK_WORKER_DIR": tempfile.mkdtemp(prefix=f"saw{i}_"),
                     "PYTHONPATH": REPO},
            )
            workers.append(w)
            _wait_port(9100 + i)
        # the job itself runs in a fresh driver subprocess (fresh JVM),
        # pinned off the executor cores
        proc = subprocess.run(
            ["taskset", "-c", DRIVER_CORES, sys.executable,
             os.path.abspath(__file__), "--leg", str(n_exec), pages_path,
             workdir],
            check=True, capture_output=True, text=True,
            env={**os.environ, "PYTHONPATH": REPO},
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)
    finally:
        for w in workers:
            try:
                os.killpg(w.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        for w in workers:
            try:
                w.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(w.pid, signal.SIGKILL)


def run_driver(n_exec: int, pages_path: str, workdir: str) -> None:
    """Child-process entry: the timed application."""
    from gencore_spark import dedup_pages
    from gencore_spark.plans import driver_stage_metrics
    from gencore_spark.session import get_spark

    cores = n_exec * CORES_PER_EXEC
    spark = get_spark(
        app_name=f"standalone-{n_exec}x{CORES_PER_EXEC}",
        master=MASTER_URL,
        shuffle_partitions=cores,
        extra={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "4000",
            "spark.executor.cores": str(CORES_PER_EXEC),
            "spark.executor.memory": "10g",
            "spark.cores.max": str(cores),
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.driver.memory": "8g",
            # uniform slot spread over the workers, like a real 4N layout
            "spark.deploy.spreadOut": "true",
        },
    )
    pages = spark.read.parquet(pages_path)
    n = pages.count()
    load0 = os.getloadavg()[0]
    t0 = time.time()
    out = dedup_pages(spark, pages, workdir)
    n_out = out.count()
    wall = time.time() - t0
    # executor CPU from the app status store: the cluster-mode analog of
    # scaling_bench._tree_cpu_sec (executors are NOT our process children)
    try:
        sc = spark.sparkContext
        execs = sc._jvm.scala.collection.JavaConverters.seqAsJavaList(
            sc._jsc.sc().statusStore().executorList(False)
        )
        cpu = sum(e.totalDuration() for e in execs) / 1000.0  # task-time ms
    except Exception:
        cpu = -1.0
    print(json.dumps({
        "executors": n_exec,
        "cores": cores,
        "n_pages": n,
        "n_canonical": n_out,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n / wall, 1),
        "task_time_sec": round(cpu, 1),
        "load_before": round(load0, 2),
        "load_after": round(os.getloadavg()[0], 2),
        **driver_stage_metrics(spark),
    }))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--leg":
        run_driver(int(sys.argv[2]), sys.argv[3], sys.argv[4])
        return

    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    master = _spark_class(
        "org.apache.spark.deploy.master.Master", "-h", "127.0.0.1",
        "-p", str(MASTER_PORT), "--webui-port", "9400",
        taskset=DRIVER_CORES,
    )
    tmp = tempfile.mkdtemp(prefix="gencore_standalone_")
    try:
        _wait_port(MASTER_PORT)
        pages_path = os.path.join(tmp, "pages")
        gen = (
            "import sys; sys.path.insert(0, %r); "
            "from gencore_spark.fixtures import pages_df; "
            "from gencore_spark.session import get_spark; "
            "s = get_spark(app_name='standalone-gen', master='local[32]'); "
            "pages_df(s, %d).write.mode('overwrite').parquet(%r); s.stop()"
            % (REPO, n_pages, pages_path)
        )
        subprocess.run([sys.executable, "-c", gen], check=True,
                       stderr=subprocess.DEVNULL)

        results = []
        # wide leg first: it is the contention-fragile one, and the host
        # quiet window is freshest at the start (same rationale as
        # SPARK_GRAFT_SCALING_LEVELS="32,8")
        for n_exec in (4, 1):
            workdir = os.path.join(tmp, f"work{n_exec}")
            shutil.rmtree(workdir, ignore_errors=True)
            r = run_leg(n_exec, pages_path, workdir)
            print(json.dumps(r), flush=True)
            results.append(r)
        results.sort(key=lambda r: r["executors"])
        lo, hi = results[0], results[-1]
        ratio = hi["docs_per_sec"] / lo["docs_per_sec"]
        eff = ratio / (hi["executors"] / lo["executors"])
        print(json.dumps({
            "mode": "standalone-cluster",
            "n_pages": n_pages, "levels": results,
            "speedup": round(ratio, 3),
            "scaling_efficiency": round(eff, 3), "target": 0.8,
        }))
        stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
        with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
            f.write(
                f"\n## Standalone-cluster scaling run {stamp} — "
                f"{n_pages} pages\n\n"
                f"1 vs 4 executors of {CORES_PER_EXEC} cores each (Spark "
                f"standalone deploy on one host; per-executor JVM+heap, "
                f"affinity-bound; driver off the measured cores)\n\n"
                f"| executors | wall (s) | docs/sec | task time (s) "
                f"| task CPU (s) | GC (s) "
                f"| host load (start→end) |\n|---|---|---|---|---|---|---|\n"
                + "".join(
                    f"| {r['executors']}×{CORES_PER_EXEC} | {r['wall_sec']} "
                    f"| {r['docs_per_sec']} | {r.get('task_time_sec', '—')} "
                    f"| {r.get('task_cpu_sec', '—')} | {r.get('jvm_gc_sec', '—')} "
                    f"| {r.get('load_before', '?')}→{r.get('load_after', '?')} |\n"
                    for r in results
                )
                + f"\nspeedup 1→4 executors: **{ratio:.2f}x**; scaling "
                f"efficiency: **{eff:.3f}** (target ≥ 0.8)\n"
            )
    finally:
        try:
            os.killpg(master.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
