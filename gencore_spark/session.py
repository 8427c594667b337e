"""SparkSession factory with the settings the pipeline assumes.

Local sandbox runs on ``local[N]``; on a real cluster the same builder is
used by ``spark-submit --py-files`` with master/memory supplied externally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The non-master settings the pipeline is benchmarked and verified under.
# ONE source of truth: get_spark applies these locally, and the
# spark-submit front door (tools/submit_job.py) applies any of them the
# operator did not explicitly override via --conf — a cluster run must not
# silently diverge from the verified configuration (zstd shuffle codec,
# UTC session tz, AQE skew handling, Arrow batching, broadcast threshold).
PIPELINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # zstd over default lz4: web text shuffles are the fat payload and
    # compress ~2x better under zstd, trading cheap CPU for the memory/
    # IO bandwidth that saturates first as cores scale (measured at
    # 300k pages: local[2] 637->506s, local[8] 201->157s, 2->8 scaling
    # efficiency 0.79->0.81)
    "spark.io.compression.codec": "zstd",
    # Throughput collector over default G1: this is a batch pipeline with
    # a high allocation rate (Arrow batches, zstd buffers, UnsafeRow text
    # copies) and no latency SLO — ParallelGC's stop-the-world compaction
    # is the right trade.  Interleaved A/B at 60k pages (3 reps each,
    # fresh JVM per rep, noisy host): best-of walls 84.0s vs 114.3s,
    # means 117.8s vs 130.9s.  Set on BOTH driver and executor so a real
    # cluster run matches the verified local-mode (driver==executor) JVM.
    # Width-dependent GC thread pinning is appended by get_spark (see
    # _jvm_sizing) — the heap ladder A/B (BENCH/BASELINE.md round-4
    # sections) measured ergonomic GC threads + the old fixed 48g local
    # heap as a 2.2x wall regression at 32 cores.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
}


def _jvm_sizing(cores: int) -> tuple[str, str]:
    """(driver_memory, extraJavaOptions) right-sized to executor width.

    A real cluster ships N-core executors with a heap sized to N (e.g.
    2g/core); local-mode's traditional "one giant heap" (this repo used a
    fixed 48g through round 3) is an anti-model: ParallelGC scavenge cost
    scales with young-gen size, and a young gen sized for 48g blows the
    LLC so every GC is a memory-bandwidth storm that stalls all 32
    mutator threads.  Measured ladder (BENCH/BASELINE.md, 300k pages,
    32 affinity-bound cores, fresh JVM per variant, task-metric
    decomposition via the driver REST API):

        48g ergonomic-GC-threads: wall 410.4s, JVM GC 3897 CPU-s
        64g:                      wall 256.4s, GC 3129
        32g:                      wall 237.9s, GC 2898
        16g:                      wall 210.5s, GC 1544
         8g:                      wall 195.9s, GC 1135
        16g + ParallelGCThreads=8: wall 183.5s, GC  994  <- shipped

    and at 8 cores (300k pages): 48g 189.0s vs 16g 158.2s.  Policy:
    heap = 2g/core clamped to [4g, 16g]; ParallelGCThreads = min(width,
    8) (GC is copy-bound, not thread-bound — beyond 8 threads the extra
    scanners just burn bandwidth the mutators need).  On a real cluster
    an N-core executor carries its own right-sized heap via
    spark.executor.memory, so this local policy and the cluster config
    express the same rule: heap proportional to width, GC threads capped.
    """
    heap_gb = min(16, max(4, 2 * cores))
    gc_threads = min(cores, 8)
    opts = f"-XX:+UseParallelGC -XX:ParallelGCThreads={gc_threads}"
    return f"{heap_gb}g", opts


def get_spark(
    app_name: str = "gencore-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 8192,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    # arrow_batch_rows bounds numpy peak memory per pandas-UDF worker
    # (~8192 rows x ~2 KB text x in+out ≈ 30 MB/batch/worker).  Raised from
    # 2048 in round 6: fewer batch boundaries = fewer Arrow flushes and
    # better shingle-memo locality (verify stage 7.9s -> 5.8s at 368k
    # pairs from the batch size alone, A/B'd at 60k pages).
    # Default 1 task per slot suits the benchmarked small-per-core volumes
    # (60k pages / 32 cores: 2-3x partitions measured slightly worse, AQE
    # already coalesces).  At >=75k pages/core raise to 2x cores: the 600k/
    # 8-core A/B (BENCH/BASELINE.md 2026-08-19) measured
    # -20% wall and -72% GC CPU from halving task granularity - giant
    # tasks' allocation spikes drive GC storms and stage tails idle slots.
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cores))
    # width for JVM sizing: local[N] parses to N; any non-local master
    # (cluster runs size executors via spark.executor.memory/cores)
    # falls back to the env width
    try:
        width = int(master.split("[", 1)[1].rstrip("]")) if "[" in master else int(cores)
    except ValueError:
        width = int(cores) if str(cores).isdigit() else 32
    heap, java_opts = _jvm_sizing(width)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", heap))
        .config("spark.ui.enabled", "false")
    )
    for k, v in PIPELINE_CONFS.items():
        b = b.config(k, v)
    # width-sized GC threads go over the static PIPELINE_CONFS value;
    # `extra` below can still override both
    b = b.config("spark.driver.extraJavaOptions", java_opts)
    b = b.config("spark.executor.extraJavaOptions", java_opts)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
