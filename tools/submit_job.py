"""spark-submit entrypoint: the cluster-mode front door the north rule names.

Usage (cluster):

    python tools/submit_job.py --build-zip dist/gencore_spark.zip
    spark-submit --master yarn --deploy-mode client \
        --py-files dist/gencore_spark.zip tools/submit_job.py \
        --input s3://bucket/pages --workdir s3://bucket/work \
        --output s3://bucket/canonical

Usage (local smoke, what ``tests/test_submit.py`` runs):

    spark-submit --master local[4] --py-files dist/gencore_spark.zip \
        tools/submit_job.py --input /tmp/pages --workdir /tmp/work

Package imports happen inside ``main`` (client-mode spark-submit exports
--py-files zips on the driver's PYTHONPATH, and context init finalizes
``sys.path`` for anything that wasn't); the session import is guarded so
archive-only deployments still run with spark-submit-supplied confs.
Nothing here assumes the repo checkout exists on the cluster — the zip is
the unit of deployment.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def build_zip(dest: str) -> str:
    """Package gencore_spark/ into a --py-files zip (pure-python, no deps)."""
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "gencore_spark")
    os.makedirs(os.path.dirname(os.path.abspath(dest)) or ".", exist_ok=True)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))
    return dest


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--build-zip", metavar="DEST",
                   help="write the --py-files package zip and exit")
    p.add_argument("--input", help="pages parquet/table path "
                   "(url, warc_ts, html, lang[, text] columns)")
    p.add_argument("--workdir", help="stage-snapshot + report directory")
    p.add_argument("--output", help="optional canonical-docs parquet path")
    p.add_argument("--min-cluster-size", type=int, default=None,
                   help="A7 gate: drop clusters smaller than this")
    p.add_argument("--state-dir", default=None,
                   help="INCREMENTAL mode: existing five-snapshot state to "
                   "merge --input into (the daily delta job); the updated "
                   "state is written to --workdir and the previous state "
                   "is never mutated")
    args = p.parse_args(argv)

    if args.build_zip:
        print(build_zip(args.build_zip))
        return
    if not args.input or not args.workdir:
        p.error("--input and --workdir are required (or use --build-zip)")

    # Session carries the settings the pipeline was benchmarked/verified
    # under (gencore_spark.session.PIPELINE_CONFS: UTC tz, zstd shuffle
    # codec, AQE skew-join, Arrow, 64MB broadcast threshold) — while
    # master/memory/parallelism stay external (spark-submit --conf).
    #
    # Precedence (documented, not silent): ANY conf already present in
    # SparkConf() wins over PIPELINE_CONFS — that covers both explicit
    # spark-submit --conf flags AND the cluster's spark-defaults.conf
    # (SparkConf cannot distinguish the two sources; Spark merges them
    # before this process starts).  So a cluster-wide default like
    # spark.io.compression.codec=lz4 DOES override the verified zstd.
    # To make such divergence visible instead of silent, the output JSON
    # below surfaces the EFFECTIVE value of every PIPELINE_CONFS key —
    # deployments diff it against the verified set.
    from pyspark import SparkConf
    from pyspark.sql import SparkSession

    try:
        # client-mode spark-submit puts --py-files zips on the driver's
        # PYTHONPATH before the process starts, so this import works
        from gencore_spark.session import PIPELINE_CONFS
    except ImportError:  # pragma: no cover — archive-only deployments
        PIPELINE_CONFS = {}

    submitted = SparkConf()  # already holds every spark-submit --conf
    b = SparkSession.builder.appName("gencore-spark-dedup")
    for k, v in PIPELINE_CONFS.items():
        if not submitted.contains(k):
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # package import again for the pipeline itself (sys.path is final now)
    from gencore_spark import DedupPipeline
    from gencore_spark.config import DEFAULT_CONFIG

    cfg = DEFAULT_CONFIG
    if args.min_cluster_size is not None:
        import dataclasses

        cfg = dataclasses.replace(cfg, min_cluster_size=args.min_cluster_size)

    pages = spark.read.parquet(args.input)
    if args.state_dir:
        from gencore_spark import dedup_pages_incremental

        canonical = dedup_pages_incremental(
            spark, pages, args.state_dir, args.workdir, cfg
        )
    else:
        canonical = DedupPipeline(spark, args.workdir, cfg).run(pages)
    if args.output:
        canonical.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        n = canonical.count()
    print(json.dumps({
        "canonical_docs": n,
        "workdir": args.workdir,
        # surfaced so deployments (and the smoke test) can verify the run
        # used the benchmarked configuration, not silent builder defaults
        # or cluster-wide spark-defaults.conf overrides (see precedence
        # note above) — every verified conf key with its effective value
        "codec": spark.conf.get("spark.io.compression.codec", "?"),
        "session_tz": spark.conf.get("spark.sql.session.timeZone", "?"),
        "pipeline_confs": {
            k: spark.conf.get(k, "?") for k in sorted(PIPELINE_CONFS)
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
