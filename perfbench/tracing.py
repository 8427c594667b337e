"""Traced run: spans around each layer's public function, recorded from the
benchmark's own files.

The real entry point (``dedup_pages`` or ``dedup_pages_incremental``) runs
unchanged; for the length of one call, the layer functions it looks up in
its module namespace are swapped for wrappers that

1. optionally materialize the layer's input first (so upstream glue work
   is charged to the caller's span, and the input row count is known);
2. open a span (name, start, end, parent span, run id) whose Spark jobs
   carry the span's job group;
3. call the real function and materialize its output (persist + count), so
   the lazy plan's work happens inside the span that built it;
4. record row counts at that boundary.

A layer's self time is its spans' durations minus the part covered by child
spans.  Spark task metrics per span come from the driver's REST API (stage
metrics of the jobs in the span's job group), which needs
``spark.ui.enabled=true`` on the traced session only.
"""

from __future__ import annotations

import importlib
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable

# layers whose Spark task metrics are reported (the session layer runs no jobs)
TASK_LAYERS = [
    "exact", "functions", "lsh", "verify", "components", "consensus",
    "sources", "pipeline", "delta",
]


@dataclass
class Span:
    span_id: int
    layer: str
    op: str
    parent: int | None
    run_id: str
    start: float = 0.0
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def name(self) -> str:
        return f"{self.layer}.{self.op}"

    @property
    def group(self) -> str:
        """Spark job group of the jobs this span runs itself."""
        return f"{self.run_id}-span{self.span_id}"


class Tracer:
    """In-memory span recorder.  ``on_switch(span_or_None)`` is called when
    the innermost open span changes (used to retag Spark jobs)."""

    def __init__(self, run_id: str, clock: Callable[[], float] = time.perf_counter,
                 on_switch: Callable[[Span | None], None] | None = None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._clock = clock
        self._on_switch = on_switch or (lambda span: None)

    @contextmanager
    def span(self, layer: str, op: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), layer, op, parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(sp)
        self._on_switch(sp)
        sp.start = self._clock()
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._stack.pop()
            self._on_switch(self._stack[-1] if self._stack else None)

    def self_time(self, sp: Span) -> float:
        """Duration minus the union of child intervals (clipped to ``sp``)."""
        kids = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans if c.parent == sp.span_id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def layer_self_s(self, layer: str, op: str | None = None) -> float:
        return sum(
            self.self_time(s) for s in self.spans
            if s.layer == layer and (op is None or s.op == op)
        )

    def count(self, layer: str, key: str, op: str | None = None, agg=sum):
        vals = [
            s.counts[key] for s in self.spans
            if s.layer == layer and key in s.counts and (op is None or s.op == op)
        ]
        return agg(vals) if vals else 0

    def to_json(self, **extra) -> str:
        spans = [
            asdict(s) | {"name": s.name, "self_s": self.self_time(s)}
            for s in self.spans
        ]
        return json.dumps({"run_id": self.run_id, "spans": spans, **extra}, indent=1)


# ---------------------------------------------------------------- layer hooks


@dataclass(frozen=True)
class Hook:
    target: str                 # "module:attr" or "module:Class.method"
    layer: str
    input_arg: int | None = None  # positional arg materialized before the span
    materialize: bool = True      # persist + count the output inside the span
    bucket_stats: bool = False    # output is (edges, bucket_stats)


def _hooks_for(module: str, lsh: list[tuple[str, bool]]) -> list[Hook]:
    return [
        Hook(f"{module}:with_doc_ids", "exact"),
        Hook(f"{module}:route", "exact"),
        Hook(f"{module}:with_text_hash", "exact"),
        Hook(f"{module}:distinct_text_reps", "exact"),
        Hook(f"{module}:with_signatures", "functions"),
        *[Hook(f"{module}:{fn}", "lsh", bucket_stats=stats) for fn, stats in lsh],
        Hook(f"{module}:verify_pairs", "verify", input_arg=0),
        Hook(f"{module}:connected_components", "components", input_arg=0),
        Hook(f"{module}:consensus_vote", "consensus", input_arg=0),
    ]


HOOKS = [
    *_hooks_for("gencore_spark.pipeline", [("candidate_pairs", True)]),
    # the batch pipeline imports rep_containment at call time from its module
    Hook("gencore_spark.operators.verify:rep_containment", "consensus"),
    *_hooks_for("gencore_spark.delta", [("band_explode", False), ("bucketed_pairs", True)]),
    Hook("gencore_spark.delta:rep_containment", "consensus"),
    Hook("gencore_spark.sources.tables:TableIO.write", "sources", input_arg=1),
    Hook("gencore_spark.sources.tables:TableIO.read", "sources", materialize=False),
]


def _resolve(target: str):
    mod, path = target.split(":")
    owner = importlib.import_module(mod)
    *outer, attr = path.split(".")
    for part in outer:
        owner = getattr(owner, part)
    return owner, attr


class LayerTracing:
    """Swaps the hooked layer functions for traced wrappers while active."""

    def __init__(self, tracer: Tracer, hooks: list[Hook] = HOOKS):
        from pyspark.sql import DataFrame
        from pyspark.storagelevel import StorageLevel

        self.tracer = tracer
        self.hooks = hooks
        self.missing: list[str] = []
        self._pinned: list = []
        self._df_type = DataFrame
        self._level = StorageLevel.MEMORY_AND_DISK

    def _pin(self, df):
        df = df.persist(self._level)
        self._pinned.append(df)
        return df, df.count()

    def _wrap(self, fn, hook: Hook):
        def traced(*args, **kwargs):
            in_rows = None
            if hook.input_arg is not None and isinstance(args[hook.input_arg], self._df_type):
                args = list(args)
                args[hook.input_arg], in_rows = self._pin(args[hook.input_arg])
            with self.tracer.span(hook.layer, fn.__name__) as sp:
                if in_rows is not None:
                    sp.counts["in_rows"] = in_rows
                out = fn(*args, **kwargs)
                if out is None or not hook.materialize:
                    return out
                if isinstance(out, self._df_type):
                    out, sp.counts["out_rows"] = self._pin(out)
                    return out
                out = list(out)
                for i, df in enumerate(out):
                    if isinstance(df, self._df_type):
                        out[i], sp.counts[f"out_rows_{i}"] = self._pin(df)
                sp.counts["out_rows"] = sp.counts["out_rows_0"]
                if hook.bucket_stats:
                    self._bucket_counts(out[1], sp)
                return tuple(out)

        traced.__name__ = fn.__name__
        return traced

    @staticmethod
    def _bucket_counts(stats, sp: Span) -> None:
        from pyspark.sql import functions as F

        row = stats.agg(
            F.sum("bucket_size").alias("band_rows"),
            F.sum(F.col("capped").cast("int")).alias("capped"),
            F.max("bucket_size").alias("biggest"),
        ).collect()[0]
        sp.counts["band_rows"] = int(row["band_rows"] or 0)
        sp.counts["capped_buckets"] = int(row["capped"] or 0)
        sp.counts["max_bucket_size"] = int(row["biggest"] or 0)

    @contextmanager
    def active(self):
        saved = []
        try:
            for hook in self.hooks:
                try:
                    owner, attr = _resolve(hook.target)
                    orig = getattr(owner, attr)
                except (ImportError, AttributeError):
                    # a layer API that moved: its metrics read 0 and the
                    # spans file names the hook, but the run goes on
                    self.missing.append(hook.target)
                    continue
                setattr(owner, attr, self._wrap(orig, hook))
                saved.append((owner, attr, orig))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)
            for df in self._pinned:
                df.unpersist()
            self._pinned.clear()


# ------------------------------------------------------------ task metrics


def rest_stages(sc) -> dict[int, dict]:
    """Summed task metrics of every complete stage, keyed by stage id, from
    the driver's REST API (``gencore_spark/plans/metrics_api.py`` uses the
    same endpoint).  Empty if the UI is off."""
    base = sc.uiWebUrl
    if not base:
        return {}
    url = f"{base}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.load(r)
    out: dict[int, dict] = {}
    for s in stages:
        m = out.setdefault(s["stageId"], {"cpu": 0.0, "run": 0.0, "gc": 0.0, "shuffle": 0.0})
        m["cpu"] += s.get("executorCpuTime", 0) / 1e9       # ns
        m["run"] += s.get("executorRunTime", 0) / 1e3       # ms
        m["gc"] += s.get("jvmGcTime", 0) / 1e3              # ms
        m["shuffle"] += s.get("shuffleWriteBytes", 0) / 2**20
    return out


def span_jobs(sc, tracer: Tracer) -> dict[int, list[int]]:
    """Job ids each span ran itself (its own job group)."""
    st = sc.statusTracker()
    return {sp.span_id: sorted(st.getJobIdsForGroup(sp.group)) for sp in tracer.spans}


def span_task_metrics(sc, tracer: Tracer, jobs: dict[int, list[int]],
                      stages: dict[int, dict]) -> dict[int, dict]:
    """Per span: summed stage metrics of its jobs.  A stage listed by several
    jobs (later ones skip it, reusing its shuffle output) is charged to the
    first job that lists it — the one that ran it."""
    st = sc.statusTracker()
    owner: dict[int, int] = {}
    for span_id, jids in sorted(jobs.items()):
        for jid in jids:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid not in owner or jid < owner[sid][1]:
                    owner[sid] = (span_id, jid)
    out = {sp.span_id: {"cpu": 0.0, "run": 0.0, "gc": 0.0, "shuffle": 0.0}
           for sp in tracer.spans}
    for sid, (span_id, _) in owner.items():
        for k, v in stages.get(sid, {}).items():
            out[span_id][k] += v
    return out


def layer_task_metrics(tracer: Tracer, per_span: dict[int, dict], cores: int) -> dict:
    out = {}
    for layer in TASK_LAYERS:
        spans = [s for s in tracer.spans if s.layer == layer]
        tot = {k: sum(per_span[s.span_id][k] for s in spans)
               for k in ("cpu", "run", "gc", "shuffle")}
        busy = sum(tracer.self_time(s) for s in spans)
        out[f"{layer}.task_cpu_s"] = (tot["cpu"], "s")
        out[f"{layer}.gc_s"] = (tot["gc"], "s")
        out[f"{layer}.shuffle_write_mb"] = (tot["shuffle"], "MB")
        out[f"{layer}.slot_busy_frac"] = (tot["run"] / (busy * cores) if busy else 0.0, "ratio")
    return out


# ------------------------------------------------------------ layer metrics


def layer_metrics(tr: Tracer, task: dict, *, session_s: float, untraced_wall_s: float,
                  traced_wall_s: float, untraced_jobs: int, peak_rss_mb: float,
                  written_mb: float, n_docs: int,
                  affected_clusters: int) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of one traced call, as ``name: (value, unit)``.
    Layers the call did not reach read 0.  ``task`` is
    :func:`layer_task_metrics`; spans carry ``spark_jobs`` counts."""

    def ratio(a, b):
        return a / b if b else 0.0

    docs_in = tr.count("exact", "out_rows", "with_doc_ids")
    distinct = tr.count("exact", "out_rows", "distinct_text_reps")
    f_self = tr.layer_self_s("functions")
    texts = tr.count("functions", "out_rows")
    v_self = tr.layer_self_s("verify")
    pairs_in = tr.count("verify", "in_rows")
    passed = tr.count("verify", "out_rows")
    delta = any(s.layer == "delta" for s in tr.spans)
    return {
        "session.self_s": (session_s, "s"),
        "session.peak_rss_mb": (peak_rss_mb, "MB"),
        "exact.self_s": (tr.layer_self_s("exact"), "s"),
        "exact.docs_in": (docs_in, "count"),
        "exact.distinct_texts": (distinct, "count"),
        "exact.distinct_ratio": (ratio(distinct, docs_in), "ratio"),
        "functions.self_s": (f_self, "s"),
        "functions.texts": (texts, "count"),
        "functions.texts_per_s": (ratio(texts, f_self), "1/s"),
        "lsh.self_s": (tr.layer_self_s("lsh"), "s"),
        "lsh.band_rows": (tr.count("lsh", "band_rows"), "count"),
        "lsh.candidate_pairs": (tr.count("lsh", "out_rows", "candidate_pairs")
                                + tr.count("lsh", "out_rows", "bucketed_pairs"), "count"),
        "lsh.capped_buckets": (tr.count("lsh", "capped_buckets"), "count"),
        "lsh.max_bucket_size": (tr.count("lsh", "max_bucket_size", agg=max), "count"),
        "verify.self_s": (v_self, "s"),
        "verify.pairs_in": (pairs_in, "count"),
        "verify.pairs_passed": (passed, "count"),
        "verify.pass_ratio": (ratio(passed, pairs_in), "ratio"),
        "verify.pairs_per_s": (ratio(pairs_in, v_self), "1/s"),
        "components.self_s": (tr.layer_self_s("components"), "s"),
        "components.edges_in": (tr.count("components", "in_rows"), "count"),
        "components.spark_jobs": (tr.count("components", "spark_jobs"), "count"),
        "consensus.self_s": (tr.layer_self_s("consensus"), "s"),
        "consensus.members_in": (tr.count("consensus", "in_rows", "consensus_vote"), "count"),
        "consensus.clusters_out": (tr.count("consensus", "out_rows", "consensus_vote"), "count"),
        "sources.write_s": (tr.layer_self_s("sources", "write"), "s"),
        "sources.read_s": (tr.layer_self_s("sources", "read"), "s"),
        "sources.bytes_written_mb": (written_mb, "MB"),
        "sources.bytes_per_delta_doc": (ratio(written_mb * 2**20, n_docs), "B"),
        "pipeline.self_s": (tr.layer_self_s("pipeline"), "s"),
        "pipeline.spark_jobs": (untraced_jobs, "count"),
        "pipeline.overhead_s": (traced_wall_s - untraced_wall_s, "s"),
        "delta.self_s": (tr.layer_self_s("delta"), "s"),
        "delta.fresh_reps": (texts if delta else 0, "count"),
        "delta.affected_clusters": (affected_clusters, "count"),
        "delta.spark_jobs": (tr.count("delta", "spark_jobs"), "count"),
        **task,
    }
