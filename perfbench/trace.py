"""Spans and per-layer counters for the traced run.

Spans are kept in memory and written out when the run ends.  Each op
runs under its own Spark job group, so the jobs, stages and tasks it
caused can be read back from the driver's status store afterwards;
Python-UDF and planning figures come from the executed plan of the
DataFrame the op collected.  All of it is read after the op's timed
window closes.
"""

from __future__ import annotations

import json
import pickle
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from crick_spark.sketches import Moments, SpaceSaving, TDigest

# Python-node plan metric → layer metric; timings are scaled to seconds
_UDF_METRICS = {
    "pythonBootTime": "operators.udf_boot_s",
    "pythonInitTime": "operators.udf_init_s",
    "pythonTotalTime": "operators.udf_total_s",
    "pythonDataSent": "operators.udf_sent_bytes",
    "pythonDataReceived": "operators.udf_received_bytes",
}
_TIME_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


class Tracer:
    """Span recorder for one run; ``run_id`` is shared by all its spans."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0
        self._next_group = 0

    @property
    def in_span(self) -> bool:
        return bool(self._stack)

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """A span; its parent is ``parent`` or else the innermost open span."""
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent if parent is not None else (self._stack[-1] if self._stack else None),
            "run": self.run_id,
            "start": time.perf_counter(),
            "counts": {},
        }
        self._next_id += 1
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    @contextmanager
    def op(self, name: str):
        """A span whose Spark jobs carry their own job group."""
        self._next_group += 1
        group = f"{self.run_id}-{self._next_group}"
        self.sc.setJobGroup(group, name, False)
        try:
            with self.span(name) as rec:
                rec["job_group"] = group
                yield rec
        finally:
            self.sc._jsc.clearJobGroup()

    def session_counts(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and executor totals of one job group."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = self.sc.statusTracker().getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            seq = store.job(j).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = dict.fromkeys(
            (
                "session.stages",
                "session.tasks",
                "session.executor_run_s",
                "session.executor_cpu_s",
                "session.jvm_gc_s",
                "session.shuffle_write_bytes",
                "session.shuffle_read_bytes",
            ),
            0.0,
        )
        out["session.jobs"] = float(len(jobs))
        empty = self.sc._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, empty, False, no_quantiles)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if s.status().toString() == "SKIPPED":
                    continue
                out["session.stages"] += 1
                out["session.tasks"] += s.numCompleteTasks()
                out["session.executor_run_s"] += s.executorRunTime() / 1e3
                out["session.executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["session.jvm_gc_s"] += s.jvmGcTime() / 1e3
                out["session.shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["session.shuffle_read_bytes"] += s.shuffleReadBytes()
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def plan_counts(df) -> dict[str, float]:
    """Planning time and Python-UDF totals of an executed DataFrame,
    walking through AQE query stages and reused exchanges."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {"session.plan_s": 0.0}
    for phase in ("analysis", "optimization", "planning"):
        if phases.contains(phase):
            out["session.plan_s"] += phases.apply(phase).durationMs() / 1e3
    out.update(dict.fromkeys(_UDF_METRICS.values(), 0.0))
    seen: set[int] = set()
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        if node.id() in seen:
            continue
        seen.add(node.id())
        metrics = node.metrics()
        for name, key in _UDF_METRICS.items():
            if metrics.contains(name):
                m = metrics.apply(name)
                out[key] += m.value() * _TIME_SCALE.get(m.metricType(), 1.0)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


# ---------------------------------------------------------------------------
# driver-side kernel replay
# ---------------------------------------------------------------------------
# the kernels as the workloads' operators call them (compression 100,
# capacity 20: the crick_spark defaults)
_BUILD = {
    "tdigest": lambda x: TDigest.from_values(x.astype(np.float64), None, compression=100.0),
    "spacesaving": lambda x: SpaceSaving.from_batch(x, None, capacity=20),
    "moments": lambda x: Moments.from_values(x.astype(np.float64)),
}


def replay_kernels(kernel: str, keys: np.ndarray | None, values: np.ndarray, batch_rows: int) -> dict:
    """Fold ``values`` the way one ``partial_sketches`` task folds its
    partition: Arrow-sized batches, one sketch per group per batch,
    merged into the partition's sketch; then pickle round-trip the
    partition's sketches.  Only the kernel calls are timed."""
    build = _BUILD[kernel]
    acc: dict = {}
    t_build = t_merge = 0.0
    for lo in range(0, len(values), batch_rows):
        v = values[lo : lo + batch_rows]
        if keys is None:
            parts = [(None, v)]
        else:
            pdf = pd.DataFrame({"k": keys[lo : lo + batch_rows], "v": v})
            parts = [(k, g["v"].to_numpy()) for k, g in pdf.groupby("k", sort=False)]
        for k, x in parts:
            t = time.perf_counter()
            sk = build(x)
            t_build += time.perf_counter() - t
            if k in acc:
                t = time.perf_counter()
                acc[k] = acc[k].merge(sk)
                t_merge += time.perf_counter() - t
            else:
                acc[k] = sk
    t = time.perf_counter()
    blobs = [pickle.dumps(sk) for sk in acc.values()]
    for b in blobs:
        pickle.loads(b)
    serde = time.perf_counter() - t
    return {
        f"sketches.{kernel}_build_s": t_build,
        f"sketches.{kernel}_merge_s": t_merge,
        "sketches.serde_s": serde,
        "sketches.serde_bytes": float(sum(len(b) for b in blobs)),
    }
