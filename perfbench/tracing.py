"""Spans around the engine's layers, recorded from outside the engine.

``Tracer.install`` replaces public functions and methods with wrappers, each
under the module name its caller looks it up by. A wrapper records one span
(label, start, end, parent) per call, keeps the span stack per thread so
self time is total time minus the children's, and sets the Spark job
description to its label while it runs, so that per-label stage metrics can
be read back from the driver's status store (``harvest_stages``).
Everything is kept in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    label: str
    parent: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    tag: str = ""  # the benchmark phase ("warmup", "timed", ...) it ran in

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


def _targets():
    """(owner, attribute, label) of every wrapped layer boundary."""
    from e_commerce_batch_etl_pipeline_spark.functions import tokens
    from e_commerce_batch_etl_pipeline_spark.operators import lww, merge
    from e_commerce_batch_etl_pipeline_spark.sources.wal import WalSource
    from e_commerce_batch_etl_pipeline_spark.streaming import microbatch
    from e_commerce_batch_etl_pipeline_spark.tables import maintenance
    from e_commerce_batch_etl_pipeline_spark.tables.format import LakeTable

    Cdc = microbatch.CdcEngine
    return [
        (Cdc, "run", "CdcEngine.run"),
        (Cdc, "apply_epoch", "CdcEngine.apply_epoch"),
        (WalSource, "read_epoch", "WalSource.read_epoch"),
        # the engine binds these at import; LakeTable.read imports
        # lww_dedup lazily from its module
        (microbatch, "lww_dedup", "lww_dedup"),
        (lww, "lww_dedup", "lww_dedup"),
        (microbatch, "recompute_n_tok", "recompute_n_tok"),
        (tokens, "recompute_n_tok", "recompute_n_tok"),
        (microbatch, "merge_upsert", "merge_upsert"),
        (merge, "merge_upsert", "merge_upsert"),
        (microbatch, "merge_upsert_lww", "merge_upsert_lww"),
        (merge, "merge_upsert_lww", "merge_upsert_lww"),
        (LakeTable, "write_data_files", "LakeTable.write_data_files"),
        (LakeTable, "adopt_delta_files", "LakeTable.adopt_delta_files"),
        (LakeTable, "commit", "LakeTable.commit"),
        (LakeTable, "evolve_schema", "LakeTable.evolve_schema"),
        (LakeTable, "read", "LakeTable.read"),
        (LakeTable, "lookup", "LakeTable.lookup"),
        (maintenance, "compact", "compact"),
    ]


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._local = threading.local()
        self._patched: list[tuple] = []
        self._next = 0
        self.spans: list[Span] = []
        self.tag = ""
        # wrapper bookkeeping time, measured around everything a wrapper
        # does besides calling the wrapped function
        self.overhead_s = 0.0
        self._seen_jobs: set[int] = set()
        self.stages: list[dict] = []

    # ---------- spans ----------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def install(self) -> None:
        for owner, attr, label in _targets():
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, label))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, label: str):
        sc = self._sc

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t_in = time.perf_counter()
            stack = self._stack()
            parent = stack[-1] if stack else None
            span = Span(self._next, label,
                        parent.sid if parent else None, 0.0, tag=self.tag)
            self._next += 1
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"{prev}>{label}" if prev else label)
            stack.append(span)
            span.start = time.perf_counter()
            self.overhead_s += span.start - t_in
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
                sc.setJobDescription(prev)
                if parent is not None:
                    parent.child_s += span.dur
                self.spans.append(span)
                self.overhead_s += time.perf_counter() - span.end

        return wrapper

    # ---------- Spark stage metrics ----------

    def harvest_stages(self) -> None:
        """Read per-stage metrics of every job finished since the last call
        from the driver's status store, keyed by the job's description."""
        sc = self._sc
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid in self._seen_jobs or job.status().toString() == "RUNNING":
                continue
            self._seen_jobs.add(jid)
            d = job.description()
            label = d.get() if d.isDefined() else None
            if label is not None and label.startswith("session preheat"):
                continue
            sids = job.stageIds()
            for k in range(sids.size()):
                s = store.lastStageAttempt(sids.apply(k))
                if s.status().toString() != "COMPLETE":
                    continue
                sub, comp = s.submissionTime(), s.completionTime()
                wall_ms = (
                    comp.get().getTime() - sub.get().getTime()
                    if sub.isDefined() and comp.isDefined() else 0
                )
                q = store.taskSummary(s.stageId(), s.attemptId(), qs)
                med = mx = 0.0
                if q.isDefined():
                    run = q.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                self.stages.append({
                    "tag": self.tag,
                    "job": jid,
                    "stage": s.stageId(),
                    "label": label,
                    "tasks": s.numTasks(),
                    "exec_run_ms": s.executorRunTime(),
                    "wall_ms": wall_ms,
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.diskBytesSpilled(),
                    "task_ms_median": med,
                    "task_ms_max": mx,
                })
