"""Layer spans recorded from outside the engine, plus Spark event-log
attribution.

``Tracer.install`` wraps ``ExtractionPipeline.run`` and the driver-side
calls the round loop and the run manifest make (``aggregate_weights``,
the ``ExtractionPipeline`` collect points,
``RunManifest.commit_round``/``finish``,
``spark_io.write_table``/``read_table``). Each wrapped call becomes a span
(name, start, end, parent) and runs under its own Spark job group, so the
event log attributes executor time, shuffle, spill and GC to it.
``Tracer.uninstall`` restores the originals; nothing in the package is
edited.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# span name -> the layer (package module) whose work it times
LAYER_OF = {
    "op": "unattributed",  # the benchmark's root span of one timed operation
    "pipeline.run": "plans.pipeline",
    "pipeline.round_metrics": "plans.pipeline",
    "extract.pass": "operators.extract",
    "miner.discover": "operators.miner",
    "miner.mine": "operators.miner",
    "checkpoint.snapshot": "plans.checkpoint",
    "checkpoint.commit": "plans.checkpoint",
    "checkpoint.finish": "plans.checkpoint",
    "checkpoint.load": "plans.checkpoint",
    "spark_io.write": "sources.spark_io",
    "spark_io.read": "sources.spark_io",
    "curation.gate": "plans.curation",
    "curation.write": "plans.curation",
    "curation.increment": "plans.curation",
    "dedup.signatures": "operators.dedup",
    "dedup.pair_stage": "operators.dedup",
    "dedup.clusters": "operators.dedup",
    "trace.probe": "benchmark",
}


@dataclass
class Span:
    idx: int
    name: str
    start: float
    parent: int | None
    group: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(idx, name, time.perf_counter(), parent, f"pb{idx}:{name}")
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(rec.group, name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper;
        ``on_call(span, args, kwargs, result)`` records counts."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(rec, args, kwargs, result)
                return result

        wrapper.__wrapped__ = fn
        setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)
        self._patched.append((owner, attr, raw))

    def install(self) -> None:
        from pyspark.sql import functions as F

        from adaptive_pdf_extractor_spark.plans import checkpoint, pipeline
        from adaptive_pdf_extractor_spark.sources import spark_io

        tracer = self
        Pipe = pipeline.ExtractionPipeline

        def on_mine(rec, args, kwargs, result):
            rec.attrs["mined"] = len(result)
            extracted = args[1]
            with tracer.span("trace.probe"):
                rec.attrs["groups"] = (
                    extracted.filter(F.size("unresolved") > 0)
                    .select("label", F.explode("unresolved"))
                    .distinct()
                    .count()
                )

        def on_commit(rec, args, kwargs, result):
            # commit_round(self, round_no, rules_path, metrics, lineage, n_new_rules)
            rec.attrs["round"] = args[1]
            rec.attrs["n_new_rules"] = kwargs.get(
                "n_new_rules", args[5] if len(args) > 5 else None
            )
            rec.attrs["n_rules"] = args[3].get("n_rules")

        def on_finish(rec, args, kwargs, result):
            rec.attrs["summary"] = dict(args[2] or {})

        def on_write(rec, args, kwargs, result):
            rec.attrs["path"] = str(args[1] if len(args) > 1 else kwargs["path"])

        self._wrap(Pipe, "run", "pipeline.run")
        self._wrap(pipeline, "aggregate_weights", "extract.pass")
        self._wrap(Pipe, "_round_metrics", "pipeline.round_metrics")
        self._wrap(Pipe, "_discover_anchors", "miner.discover")
        self._wrap(Pipe, "_mine", "miner.mine", on_mine)
        self._wrap(Pipe, "_snapshot", "checkpoint.snapshot")
        self._wrap(Pipe, "load_rules_snapshot", "checkpoint.load")
        self._wrap(checkpoint.RunManifest, "commit_round", "checkpoint.commit", on_commit)
        self._wrap(checkpoint.RunManifest, "finish", "checkpoint.finish", on_finish)
        self._wrap(spark_io, "write_table", "spark_io.write", on_write)
        self._wrap(spark_io, "read_table", "spark_io.read")

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # -- analysis ------------------------------------------------------------

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return s.duration - sum(c.duration for c in self.children(idx))

    def subtree(self, idx: int) -> list[int]:
        out = [idx]
        for j, s in enumerate(self.spans):
            if s.parent is not None and s.parent in out and j not in out:
                out.append(j)
        return out


# -- Spark event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the uncompressed logs in ``log_dir``: single files,
    or (Spark 4's default layout) ``eventlog_v2_*`` directories of
    ``events_*`` parts."""
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        parts = sorted(glob.glob(os.path.join(path, "events_*"))) if os.path.isdir(path) else [path]
        for part in parts:
            with open(part, "r", encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class TaskRecord:
    group: str | None
    stage: int
    run_ms: float
    gc_ms: float
    shuffle_bytes: int
    spill_bytes: int
    duration_ms: float


def task_records(events: list[dict]) -> list[TaskRecord]:
    """Every finished task, tagged with the job group of its job."""
    stage_group: dict[int, str | None] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
    out = []
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        out.append(TaskRecord(
            group=stage_group.get(ev.get("Stage ID")),
            stage=ev.get("Stage ID"),
            run_ms=float(m.get("Executor Run Time", 0)),
            gc_ms=float(m.get("JVM GC Time", 0)),
            shuffle_bytes=int(sw.get("Shuffle Bytes Written", 0)),
            spill_bytes=int(m.get("Disk Bytes Spilled", 0)) + int(m.get("Memory Bytes Spilled", 0)),
            duration_ms=float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0)),
        ))
    return out


def job_groups(events: list[dict]) -> list[str | None]:
    return [
        (ev.get("Properties") or {}).get("spark.jobGroup.id")
        for ev in events
        if ev.get("Event") == "SparkListenerJobStart"
    ]


def task_skew(tasks: list[TaskRecord]) -> float:
    """max / median task time of the heaviest stage among ``tasks``."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.duration_ms)
    if not by_stage:
        return 0.0
    heaviest = max(by_stage.values(), key=sum)
    med = statistics.median(heaviest)
    return max(heaviest) / med if med > 0 else 0.0
