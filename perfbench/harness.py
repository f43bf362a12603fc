"""Measurement plumbing shared by the workloads: operation accounting,
in-memory spans, Spark job counters, host controls and peak RSS."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Ops:
    """Counts attempted and failed operations: every timed call and every
    output check is one operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {name}: {detail}", file=sys.stderr, flush=True)

    def call(self, name: str, fn):
        """Run ``fn`` as one operation; returns (result, seconds) or
        (None, None) when it raises."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failed += 1
            print(f"operation failed: {name}: {exc!r}", file=sys.stderr, flush=True)
            traceback.print_exc()
            return None, None
        return out, time.perf_counter() - t0


class Tracer:
    """Spans (name, start, end, parent, iteration) kept in memory and
    written out once at the end; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


class JobMeter:
    """Spark job/stage/task counters for everything submitted since the
    last ``take``, attributed by job-id range.  Job groups are
    thread-local and thread-pool jobs (``sql_sketch_suite``) do not
    inherit them; job ids are global, so a range catches every thread."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._last = -1
        self.take()

    def take(self) -> dict[str, float]:
        self._bus.waitUntilEmpty(60_000)
        jobs = self._store.jobsList(None)
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "shuffle_write_mb": 0.0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
        }
        newest = self._last
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last:
                continue
            newest = max(newest, jid)
            out["jobs"] += 1
            sids = job.stageIds()
            for j in range(sids.size()):
                try:
                    st = self._store.lastStageAttempt(sids.apply(j))
                except Py4JJavaError:  # stage never submitted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        self._last = newest
        return out


_BURN = (
    "import time, numpy as np\n"
    "a = np.random.default_rng(0).random((200, 200))\n"
    "t = time.perf_counter(); n = 0\n"
    "while time.perf_counter() - t < {sec}:\n"
    "    a = a @ a; a /= np.abs(a).max() + 1.0; n += 1\n"
    "print(n / (time.perf_counter() - t))\n"
)


def host_burn(procs: int, seconds: float = 0.5) -> float:
    """Sum of matmul iterations/s over ``procs`` concurrent processes,
    each pinned to one BLAS thread."""
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1", MKL_NUM_THREADS="1")
    ps = [
        subprocess.Popen(
            [sys.executable, "-c", _BURN.format(sec=seconds)],
            stdout=subprocess.PIPE,
            env=env,
            text=True,
        )
        for _ in range(procs)
    ]
    return sum(float(p.communicate()[0]) for p in ps)


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def median(values) -> float:
    return float(statistics.median(values))
