"""Spans and Spark job groups around the engine's layer calls, and the
event-log parse that turns them into per-layer metrics.

The engine builds DataFrames lazily, so a span around a builder measures
nothing. Spans wrap the calls that run Spark jobs instead:
``sinks.write_stage`` (keyed by stage name), ``sinks.record_metrics``,
``cluster.connected_components``, ``classify.train``, the training-set
hydrate ``ERPipeline._train``, and the manifest ``count`` inside
``write_stage``. The benchmark opens its own spans around the dedup and
simsearch entry calls together with their materialization.

Every span sets a Spark job group, so the event log assigns each job,
stage and task to the innermost open span. A span's self time is its
duration minus the time its child spans cover; a layer's ``busy_s`` is
the sum of its spans' self times, and the wall time no span covers is
``pipeline.driver_gap_s``. The two add up to the traced wall time.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# write_stage stage name -> layer. Names cover ERPipeline.run and
# ERPipeline.incremental (which writes block_local/block_sn instead of block).
STAGE_LAYER = {
    "extract": "extract",
    "preprocess": "preprocess",
    "unique_strings": "preprocess",
    "embed": "preprocess",
    "records_wide": "preprocess",
    "block": "blocking",
    "block_local": "blocking",
    "block_sn": "blocking",
    "pairs": "pairs",
    "score": "features",
    "classify": "classify",
    "cc_raw": "cluster",
    "cluster": "cluster",
}

ER_LAYERS = ("extract", "preprocess", "blocking", "pairs", "features", "classify", "cluster")
DEDUP_FAMILIES = ("exact", "minhash", "winnow", "simhash")
OP_GROUP = "pbop"


class Span:
    __slots__ = ("sid", "name", "layer", "stage", "parent", "start", "end", "child_s", "rows")

    def __init__(self, sid, name, layer, stage, parent):
        self.sid, self.name, self.layer, self.stage, self.parent = sid, name, layer, stage, parent
        self.start = self.end = None
        self.child_s = 0.0
        self.rows = None

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """In-memory span recorder for one traced operation. Spans nest on
    the calling thread (the engine drives Spark from one thread)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.t0 = self.t1 = None
        self.overhead_s = 0.0  # time spent in span bookkeeping itself
        self._undo: list = []

    @contextmanager
    def span(self, name: str, layer: str, stage: str | None = None):
        t = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name, layer, stage, parent.sid if parent else None)
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(f"pb{sp.sid}", name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.child_s += sp.dur
                self.sc.setJobGroup(f"pb{parent.sid}", parent.name)
            else:
                self.sc.setJobGroup(OP_GROUP, "traced operation")
            self.overhead_s += time.perf_counter() - sp.end

    # -- wrappers around the engine's action calls ---------------------------
    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def install(self, df_class) -> None:
        from entity_resolution_pipeline_v1_spark.operators import classify, cluster
        from entity_resolution_pipeline_v1_spark.plans.pipeline import ERPipeline
        from entity_resolution_pipeline_v1_spark.sources import sinks

        tracer = self

        def write_stage(orig):
            def wrapped(df, work_dir, stage, *a, **kw):
                with tracer.span(f"write_stage:{stage}", STAGE_LAYER.get(stage, "sinks"), stage) as sp:
                    out = orig(df, work_dir, stage, *a, **kw)
                sp.rows = sinks.manifest_rows(work_dir, stage)
                return out

            return wrapped

        def plain(name, layer):
            def make(orig):
                def wrapped(*a, **kw):
                    with tracer.span(name, layer):
                        return orig(*a, **kw)

                return wrapped

            return make

        def count(orig):
            # the only count() inside write_stage is the manifest row count
            def wrapped(df):
                top = tracer.stack[-1] if tracer.stack else None
                if top is None or top.stage is None:
                    return orig(df)
                with tracer.span("sinks.manifest_count", "sinks"):
                    return orig(df)

            return wrapped

        self._patch(sinks, "write_stage", write_stage)
        self._patch(sinks, "record_metrics", plain("sinks.record_metrics", "sinks"))
        self._patch(cluster, "connected_components", plain("cluster.connected_components", "cluster"))
        self._patch(classify, "train", plain("classify.train", "classify"))
        self._patch(ERPipeline, "_train", plain("classify.train_prep", "classify"))
        self._patch(df_class, "count", count)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    @contextmanager
    def op(self):
        """The traced operation's wall window. Jobs outside every span
        but inside the window land in OP_GROUP."""
        self.sc.setJobGroup(OP_GROUP, "traced operation")
        self.t0 = time.perf_counter()
        try:
            yield
        finally:
            self.t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)


# -- event log --------------------------------------------------------------
def read_event_log(events_dir: str) -> dict:
    """Per job group: jobs, tasks, failed tasks, shuffle-write bytes,
    spilled bytes, GC seconds and task durations by stage. Reads the one
    finished (stopped-session) log in ``events_dir``."""
    logs = [f for f in os.listdir(events_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished Spark event log in {events_dir}, found {logs}")
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "tasks_failed": 0, "shuffle_bytes": 0,
                 "spill_bytes": 0, "gc_ms": 0, "task_ms": defaultdict(list)}
    )
    with open(os.path.join(events_dir, logs[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid)]
                info = ev["Task Info"]
                g["tasks"] += 1
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                    g["tasks_failed"] += 1
                m = ev.get("Task Metrics") or {}
                g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["task_ms"][sid].append(info["Finish Time"] - info["Launch Time"])
    return groups


def _task_skew(task_ms_by_stage: list[dict]) -> float:
    """max/median task time of the stage with the most task time."""
    stages = [v for d in task_ms_by_stage for v in d.values() if len(v) >= 2]
    if not stages:
        return 1.0
    big = max(stages, key=sum)
    med = statistics.median(big)
    return max(big) / med if med > 0 else 1.0


def layer_metrics(tracer: Tracer, groups: dict) -> dict[str, float]:
    """Fold spans and event-log groups into the per-layer metric set."""
    spans = tracer.spans
    wall = tracer.t1 - tracer.t0
    busy: dict[str, float] = defaultdict(float)
    for sp in spans:
        busy[sp.layer] += sp.self_s
    covered = sum(sp.dur for sp in spans if sp.parent is None)

    def of(pred):
        return [groups.get(f"pb{sp.sid}") for sp in spans if pred(sp) and f"pb{sp.sid}" in groups]

    def total(gs, key):
        return sum(g[key] for g in gs)

    def rows(stage):
        return sum(sp.rows or 0 for sp in spans if sp.stage == stage)

    def layer(name):
        return of(lambda sp: sp.layer == name)

    def stage_of(*names):
        return of(lambda sp: sp.stage in names)

    cand = rows("pairs")
    score_rows = rows("score")
    all_groups = [g for k, g in groups.items() if k and k.startswith("pb")]
    mb = 1 / (1 << 20)
    m = {f"{name}.busy_s": busy[name] for name in ER_LAYERS}
    m.update({
        "preprocess.unique_strings": rows("unique_strings"),
        "blocking.keys": rows("block") + rows("block_local") + rows("block_sn"),
        "blocking.task_skew": _task_skew([g["task_ms"] for g in layer("blocking")]),
        "pairs.candidates": cand,
        "pairs.match_yield": rows("classify") / cand if cand else 0.0,
        "pairs.shuffle_mb": total(stage_of("pairs"), "shuffle_bytes") * mb,
        "features.pairs_per_s": score_rows / busy["features"] if busy["features"] else 0.0,
        "features.spill_mb": total(stage_of("score"), "spill_bytes") * mb,
        "features.gc_s": total(stage_of("score"), "gc_ms") / 1000,
        "classify.train_s": sum(sp.dur for sp in spans if sp.name == "classify.train"),
        "classify.train_prep_s": sum(sp.self_s for sp in spans if sp.name == "classify.train_prep"),
        "cluster.jobs": total(layer("cluster"), "jobs"),
        "cluster.edges": rows("classify"),
        "sinks.bookkeeping_s": busy["sinks"],
        "sinks.stage_writes": sum(1 for sp in spans if sp.stage is not None),
        "pipeline.jobs": total(all_groups, "jobs"),
        "pipeline.tasks": total(all_groups, "tasks"),
        "pipeline.tasks_failed": total(all_groups, "tasks_failed"),
        "pipeline.driver_gap_s": wall - covered,
    })
    for fam in DEDUP_FAMILIES:
        m[f"dedup.{fam}_s"] = sum(sp.dur for sp in spans if sp.name == f"dedup.{fam}")
        m[f"dedup.{fam}_pairs"] = sum(sp.rows or 0 for sp in spans if sp.name == f"dedup.{fam}")
    m["dedup.shuffle_mb"] = total(layer("dedup"), "shuffle_bytes") * mb
    m["simsearch.gemm_s"] = busy["simsearch"]
    m["trace.wall_s"] = wall
    return m
