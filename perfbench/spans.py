"""Spans around calls into the engine's layers, and the Spark task metrics
of the jobs each span ran.

A span records (id, name, layer, parent, run id, start, end). Every span
runs its Spark jobs under its own job group, whose description is the
group id, so a stage is attributed to the span that submitted it (a stage
that a later job lists again as SKIPPED belongs to no later span). Spans
stay in memory; :meth:`Tracer.write` saves them when the benchmark ends.

Task metrics come from Spark's status store, a JVM-internal API, which
serves them with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from sketchy_spark.checkpoint import CheckpointStore

STAGE_METRICS = (
    "wall_s", "task_cpu_s", "shuffle_write_bytes", "spill_bytes",
    "max_task_s", "median_task_s", "failed_tasks",
)


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["group"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover.
        Children of one span run one after another, so their durations
        add up without overlap."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def layer_metrics(self, layers) -> dict[str, dict]:
        """Per layer: self time plus the task metrics of its spans' jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        selft = self.self_times()
        out = {}
        for layer in layers:
            spans = [s for s in self.spans if s["layer"] == layer]
            tasks: list[float] = []
            agg = {"task_cpu_s": 0.0, "shuffle_write_bytes": 0,
                   "spill_bytes": 0, "failed_tasks": 0}
            for s in spans:
                m = _group_stage_metrics(self.sc, s["group"], tasks)
                for k in agg:
                    agg[k] += m[k]
            out[layer] = {
                "wall_s": sum(selft[s["id"]] for s in spans),
                **agg,
                "max_task_s": max(tasks, default=0.0),
                "median_task_s": statistics.median(tasks) if tasks else 0.0,
            }
        return out

    def write(self, path: Path) -> None:
        selft = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0,
             "self_s": selft[s["id"]]}
            for s in self.spans
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rows, indent=1))


def _group_stage_metrics(sc, group: str, task_s: list[float]) -> dict:
    """Sum the metrics of the stages that ran under job group ``group``;
    append each of their task durations (seconds) to ``task_s``."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids = {
        sid
        for job in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(job).stageIds
    }
    out = {"task_cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "failed_tasks": 0}
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        desc = sd.description()
        if sd.status().toString() == "SKIPPED" or not (
            desc.isDefined() and desc.get() == group
        ):
            continue
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["failed_tasks"] += sd.numFailedTasks()
        tl = store.taskList(sid, sd.attemptId(), 1 << 30)
        for i in range(tl.size()):
            d = tl.apply(i).duration()
            if d.isDefined():
                task_s.append(d.get() / 1000.0)
    return out


class TimedStore(CheckpointStore):
    """CheckpointStore that opens a ``checkpoint`` span around each stage
    write and read and counts the bytes written. Stage frames are lazy,
    so a write span also holds the computation of the frame it writes."""

    def __init__(self, root: str, config_hash: str, tracer: Tracer):
        super().__init__(root, config_hash)
        self.tracer = tracer
        self.bytes_written = 0

    def write_stage(self, stage, df, meta=None):
        with self.tracer.span(f"checkpoint.write_stage:{stage}", "checkpoint"):
            super().write_stage(stage, df, meta)
        self.bytes_written += sum(
            p.stat().st_size
            for p in Path(self.stage_path(stage)).rglob("*")
            if p.is_file()
        )

    def read_stage(self, spark, stage):
        with self.tracer.span(f"checkpoint.read_stage:{stage}", "checkpoint"):
            return super().read_stage(spark, stage)
