"""Spans and Spark status counters for the traced run.

Everything here is measured from outside the program: spans wrap the
benchmark's own calls into each layer, and Spark's jobs and stages are
read back from the driver's status store (``AppStatusStore`` through
py4j, which works with the UI disabled). Jobs are attributed to an op by
submission time, not by job group, because threads started by
``functions/overlap.py`` drop the caller's group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span list, written once by ``dump``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f)


def _ms(opt_date) -> "float | None":
    """Scala ``Option[java.util.Date]`` -> epoch ms."""
    if opt_date is None or opt_date.isEmpty():
        return None
    return float(opt_date.get().getTime())


class SparkProbe:
    """Reads the jobs and stages that ran since the previous call."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.next_job = self._submitted()

    def _submitted(self) -> int:
        """One past the highest job id the scheduler has handed out."""
        return int(self.jsc.dagScheduler().nextJobId())

    def _job(self, jid: int):
        try:
            return self.store.job(jid)
        except Exception:  # noqa: BLE001 - py4j NoSuchElementException
            return None

    def new_jobs(self, t0_ms: float, t1_ms: float) -> dict:
        """Counters over jobs submitted inside [t0_ms, t1_ms] (epoch ms)."""
        # the status store is fed by an asynchronous listener bus
        self.jsc.listenerBus().waitUntilEmpty()
        out = dict(
            jobs=0,
            stages=0,
            tasks=0,
            failed_tasks=0,
            schema_jobs=0,
            executor_run_s=0.0,
            executor_cpu_s=0.0,
            shuffle_write_bytes=0,
            spill_bytes=0,
            stage_windows=[],
        )
        stage_ids: set[int] = set()
        end = self._submitted()
        for jid in range(self.next_job, end):
            job = self._job(jid)
            if job is None:
                continue
            sub = _ms(job.submissionTime())
            if sub is None or not (t0_ms - 1 <= sub <= t1_ms + 1):
                continue
            out["jobs"] += 1
            if job.numTasks() == 1 and str(job.name()).startswith("parquet at "):
                out["schema_jobs"] += 1
            seq = job.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        self.next_job = end
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            a, b = _ms(st.submissionTime()), _ms(st.completionTime())
            if a is not None and b is not None:
                out["stage_windows"].append((a, b))
        return out


def union_ms(windows: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``windows`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in windows):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
