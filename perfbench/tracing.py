"""Layer spans recorded from outside the program, plus Spark task metrics
attributed to them.

The tracer wraps calls into each layer's public functions. A span is the
interval one call takes on one Python thread; its Spark jobs carry the span
id as a thread-local job property (PySpark pins each Python thread to its own
JVM thread, so helper-pool threads tag their own jobs). After the session
stops, ``attribute`` parses the Spark event log written during the traced run
and charges every task to the innermost span whose id its job carried; tasks
of untagged jobs go to ``unattributed``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"

# ctx.stage(name) -> layer that owns the stage's own work (its fn() and the
# write job that evaluates it)
STAGE_LAYER = {
    "extract": "stages.extract",
    "candidates": "stages.candidates",
    "train_model": "ml.train_model",
    "score": "stages.score",
    "constrain": "stages.constraints",
    "predict": "stages.decide",
    "decide": "stages.decide",
    "canonicalize": "stages.canonicalize",
    "materialize": "stages.canonicalize.apply",
}
BASE = "stages.base"
PIPELINE_LAYERS = [BASE, *dict.fromkeys(STAGE_LAYER.values())]
OPERATOR_LAYERS = [
    "operators.dedup.lsh",
    "operators.dedup.simhash",
    "operators.dedup.ngram_jaccard",
    "operators.components",
]


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rows: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans kept in memory; one stack per thread."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: dict[int, Span] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 1
        # when set, every span opened is charged to this bucket instead of
        # its layer (the warm-up op, the crash-resume op)
        self.bucket: str | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        st = self._stack()
        return self.spans[st[-1]] if st else None

    @contextmanager
    def span(self, layer: str, name: str):
        st = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
            parent = st[-1] if st else None
            sp = Span(sid, self.bucket or layer, name, parent, time.perf_counter())
            self.spans[sid] = sp
            if parent is not None:
                self.spans[parent].children.append(sid)
        st.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            self.sc.setLocalProperty(SPAN_PROP, str(st[-1]) if st else None)

    def add_interval(self, layer: str, name: str, start: float, end: float) -> None:
        """Record a child span of the current span after the fact (the
        runner's commit step, which has no public function to wrap)."""
        parent = self.current()
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans[sid] = Span(
                sid, self.bucket or layer, name,
                parent.id if parent else None, start, end,
            )
            if parent is not None:
                parent.children.append(sid)


def _traced(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer, fn.__name__):
            return fn(*args, **kwargs)

    return wrapper


def _traced_checkpoint(tracer: Tracer, layer: str, fn):
    """For functions whose caller localCheckpoints the returned DataFrame
    (the constraint miners on the pipeline's helper pool): spans cover the
    call and that checkpoint job."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer, fn.__name__):
            df = fn(*args, **kwargs)
        ckpt = df.localCheckpoint

        def local_checkpoint(*a, **kw):
            with tracer.span(layer, fn.__name__ + ".localCheckpoint"):
                return ckpt(*a, **kw)

        df.localCheckpoint = local_checkpoint
        return df

    return wrapper


def install(tracer: Tracer) -> None:
    """Patch the pipeline's layer entry points where stages/pipeline.py and
    stages/canonicalize.py look them up. Only the traced run calls this."""
    from kg_curation_spark import ml
    from kg_curation_spark.stages import base, pipeline
    from kg_curation_spark.stages import canonicalize as canon_mod

    orig_stage = base.PipelineContext.stage
    orig_write = base.ParquetDirSink.write
    orig_read = base.ParquetDirSink.read

    def stage(self, name, fn, **kwargs):
        with tracer.span(STAGE_LAYER[name], "stage:" + name) as sp:
            out = orig_stage(self, name, fn, **kwargs)
            sp.rows = next(r.rows_out for r in reversed(self.ran) if r.name == name)
            return out

    def write(self, ctx, name, df, partition_by):
        with tracer.span(STAGE_LAYER[name], "sink.write:" + name):
            out = orig_write(self, ctx, name, df, partition_by)
        # footer lineage + marker commit run between the write and the
        # read-back; the read-back span closes the interval
        tracer._local.commit_start = time.perf_counter()
        return out

    def read(self, ctx, name):
        start = getattr(tracer._local, "commit_start", None)
        if start is not None:
            tracer.add_interval(BASE, "commit:" + name, start, time.perf_counter())
            tracer._local.commit_start = None
            kind = "read_back:"
        else:
            kind = "resume_read:"
        with tracer.span(BASE, kind + name):
            return orig_read(self, ctx, name)

    base.PipelineContext.stage = stage
    base.ParquetDirSink.write = write
    base.ParquetDirSink.read = read
    pipeline.mine_cardinality = _traced_checkpoint(
        tracer, "stages.constraints", pipeline.mine_cardinality
    )
    pipeline.mine_range = _traced_checkpoint(
        tracer, "stages.constraints", pipeline.mine_range
    )
    ml.train_plausibility_weights = _traced(
        tracer, "ml.train_model", ml.train_plausibility_weights
    )
    orig_cc = canon_mod.connected_components

    def connected_components(*args, **kwargs):
        with tracer.span("operators.components", "connected_components") as sp:
            out = orig_cc(*args, **kwargs)
        # the labels are checkpointed, so counting them is one small job;
        # it is the benchmark's, not the layer's
        with tracer.span("unattributed", "count_components"):
            sp.rows = out.count()
        return out

    canon_mod.connected_components = connected_components


# ---------------------------------------------------------------------------
# attribution


@dataclass
class Acc:
    wall_s: float = 0.0
    self_s: float = 0.0
    rows_out: int = 0
    task_s: float = 0.0
    task_wait_s: float = 0.0
    shuffle_write_bytes: int = 0
    gc_s: float = 0.0
    jobs: int = 0


def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``. Spark 4 writes the v2 layout: one
    directory per application holding ``events_<n>_<app>`` files, in order
    of ``n``, next to status markers and checksums."""
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    events = []
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def attribute(tracer: Tracer, events: list[dict]) -> tuple[dict[str, Acc], dict]:
    """-> (per-bucket accumulators, run totals) from spans + event log."""
    spans = tracer.spans
    acc: dict[str, Acc] = {}

    def bucket(sid: int | None) -> Acc:
        name = spans[sid].layer if sid in spans else "unattributed"
        return acc.setdefault(name, Acc())

    for sp in spans.values():
        a = acc.setdefault(sp.layer, Acc())
        dur = sp.end - sp.start
        # a span nested in a span of the same layer adds no wall time
        if sp.parent is None or spans[sp.parent].layer != sp.layer:
            a.wall_s += dur
            a.rows_out += sp.rows
        # exclusive time; a same-layer child adds its own exclusive time
        a.self_s += dur - sum(spans[c].end - spans[c].start for c in sp.children)

    def span_of(props: dict | None) -> int | None:
        v = (props or {}).get(SPAN_PROP)
        return int(v) if v else None

    stage_span: dict[int, int | None] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    totals = {"task_s": 0.0, "spill_bytes": 0, "failed_tasks": 0, "jobs": 0}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = span_of(ev.get("Properties"))
            bucket(sid).jobs += 1
            totals["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_span.setdefault(st, sid)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_span[info["Stage ID"]] = span_of(ev.get("Properties"))
            if "Submission Time" in info:
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info[
                    "Submission Time"
                ]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                stage_submit.setdefault(
                    (info["Stage ID"], info["Stage Attempt ID"]), info["Submission Time"]
                )
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        a = bucket(stage_span.get(ev["Stage ID"]))
        info = ev["Task Info"]
        m = ev.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1000.0
        a.task_s += run_s
        totals["task_s"] += run_s
        submit = stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"]))
        if submit is not None:
            a.task_wait_s += max(0, info["Launch Time"] - submit) / 1000.0
        a.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        a.gc_s += m.get("JVM GC Time", 0) / 1000.0
        totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            totals["failed_tasks"] += 1
    return acc, totals


# ---------------------------------------------------------------------------
# per-layer metric names, in the order BENCHMARK.json lists them

LAYER_FIELDS = (
    "wall_s", "self_s", "rows_out", "task_s", "task_wait_s",
    "shuffle_write_bytes", "gc_s", "jobs",
)
OPERATOR_FIELDS = ("wall_s", "task_s", "shuffle_write_bytes", "rows_out", "jobs")
SETUP_FIELDS = {"session": ("wall_s",), "synth": ("wall_s", "task_s", "jobs")}
BUCKET_FIELDS = {
    "resume": ("wall_s", "task_s", "jobs"),
    "warmup": ("wall_s", "task_s", "jobs"),
    "unattributed": ("task_s", "shuffle_write_bytes", "jobs"),
}
EXTRA_METRICS = {
    "stages.base.commit_s": "s",
    "stages.base.read_s": "s",
    "stages.base.resumed_stages": "count",
    "stages.candidates.cands_per_assertion": "ratio",
    "stages.decide.keep_ratio": "ratio",
    "total.task_s": "s",
    "total.jobs": "count",
    "total.spill_bytes": "bytes",
    "total.failed_tasks": "count",
    "traced.run_wall_s": "s",
    "run.leftover_procs": "count",
}


def _unit(field_name: str) -> str:
    if field_name.endswith("_s"):
        return "s"
    return "bytes" if field_name.endswith("_bytes") else "count"


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit."""
    names: dict[str, str] = {}
    for layer in PIPELINE_LAYERS:
        for f in LAYER_FIELDS:
            names[f"{layer}.{f}"] = _unit(f)
    for layer in OPERATOR_LAYERS:
        for f in OPERATOR_FIELDS:
            names[f"{layer}.{f}"] = _unit(f)
    for group in (SETUP_FIELDS, BUCKET_FIELDS):
        for layer, fields in group.items():
            for f in fields:
                names[f"{layer}.{f}"] = _unit(f)
    names.update(EXTRA_METRICS)
    return names


def layer_metrics(tracer: Tracer, events: list[dict], res: dict) -> dict[str, float]:
    """Per-layer values for one traced run. ``res`` is the child's result:
    op walls and the crash-resume info. Every task is charged to exactly one
    bucket, so raising on a bucket this file does not report keeps the
    reported task_s values summing to total.task_s."""
    acc, totals = attribute(tracer, events)
    known = set(PIPELINE_LAYERS) | set(OPERATOR_LAYERS) | set(SETUP_FIELDS) | set(BUCKET_FIELDS)
    unknown = set(acc) - known
    if unknown:
        raise ValueError(f"spans charged to unreported buckets: {sorted(unknown)}")
    units = metric_units()
    out: dict[str, float] = {}
    for name in units:
        layer, _, f = name.rpartition(".")
        if layer in acc and hasattr(acc[layer], f):
            out[name] = getattr(acc[layer], f)
        else:
            out[name] = 0

    def base_sum(prefix: str) -> float:
        return sum(
            s.end - s.start for s in tracer.spans.values()
            if s.layer == BASE and s.name.startswith(prefix)
        )

    def stage_rows(stage: str) -> int:
        return sum(
            s.rows for s in tracer.spans.values()
            if s.name == "stage:" + stage and s.layer == STAGE_LAYER[stage]
        )

    out["stages.base.commit_s"] = base_sum("commit:")
    out["stages.base.read_s"] = base_sum("read_back:")
    # rows the runner committed and read back
    out["stages.base.rows_out"] = sum(stage_rows(s) for s in STAGE_LAYER)
    resume = res.get("resume") or {}
    out["stages.base.resumed_stages"] = resume.get("resumed_stages", 0)
    out["resume.wall_s"] = resume.get("resume_wall_s", 0.0)
    out["warmup.wall_s"] = res["setup"]["warmup_s"]
    ex, pr = stage_rows("extract"), stage_rows("predict")
    out["stages.candidates.cands_per_assertion"] = stage_rows("candidates") / ex if ex else 0.0
    out["stages.decide.keep_ratio"] = stage_rows("decide") / pr if pr else 0.0
    out["total.task_s"] = totals["task_s"]
    out["total.jobs"] = totals["jobs"]
    out["total.spill_bytes"] = totals["spill_bytes"]
    out["total.failed_tasks"] = totals["failed_tasks"]
    walls = res.get("walls") or []
    out["traced.run_wall_s"] = statistics.median(walls) if walls else 0.0
    return out
