"""Per-layer attribution measured from outside the library.

Nothing here edits the library.  The tracer

* labels each op's Spark jobs with a job group and, after the op,
  reads jobs, stages and executor metrics from Spark's status store;
* wraps the freeze entry points (``sanitize_df``, ``materialize`` and
  ``freeze_noised_release``) by replacing module attributes, including
  the ``sanitize_df`` name ``measurements.spark`` bound at import;
* counts py4j commands by wrapping the gateway client's
  ``send_command``;
* times spans the workloads open around their calls into the library;
* reads process CPU and memory of the driver, the JVM and the Python
  workers from ``/proc``, and JVM GC time from the JVM's MXBeans.

``NullTracer`` has the same interface and does nothing, so untraced
ops run the same benchmark code.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from collections import defaultdict
from typing import Dict, Iterator, List, Tuple

from py4j.protocol import Py4JJavaError


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield

    @contextlib.contextmanager
    def op(self, kind: str) -> Iterator[None]:
        yield


# --------------------------------------------------------------------------
# /proc helpers
# --------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> Dict[int, Tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every
    readable process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields start after ')'
        fields = stat[stat.rindex(")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(entry)] = (ppid, ticks / _CLK_TCK)
    return table


def process_tree(root: int) -> Dict[int, float]:
    """CPU seconds of ``root`` and all its descendants: the driver, the
    JVM it launched and the JVM's Python workers."""
    table = _proc_table()
    children = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1]
            todo.extend(children[pid])
    return out


def rss_peak_mb(pids) -> float:
    """Sum of per-process resident-set high-water marks (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# --------------------------------------------------------------------------
# tracer
# --------------------------------------------------------------------------


def _opt_ms(opt) -> float:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else float("nan")


def _union_length(intervals: List[Tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._gc_beans = list(
            self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._client = self.sc._gateway._gateway_client
        self._py4j_calls = 0
        self._installed: List[Tuple[object, str, object]] = []
        self._freeze = {"s": 0.0, "small": 0, "large": 0}
        self._spans: Dict[str, float] = defaultdict(float)
        self._in_op = False
        self.records: List[Dict[str, float]] = []
        self._seq = 0

    # -- wrappers ----------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._installed.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the freeze entry points and the py4j client."""
        from tumult_core_spark.measurements import spark as mspark
        from tumult_core_spark.utils import misc

        freeze = self._freeze
        state = {"large": False}
        orig_materialize = misc.materialize
        orig_sanitize = misc.sanitize_df
        orig_freeze_noised = misc.freeze_noised_release

        def materialize(*a, **k):
            state["large"] = True
            return orig_materialize(*a, **k)

        def sanitize_df(*a, **k):
            state["large"] = False
            t = time.perf_counter()
            try:
                return orig_sanitize(*a, **k)
            finally:
                freeze["s"] += time.perf_counter() - t
                if k.get("materialize_output", True):
                    freeze["large" if state["large"] else "small"] += 1

        def freeze_noised_release(*a, **k):
            t = time.perf_counter()
            try:
                out = orig_freeze_noised(*a, **k)
            finally:
                freeze["s"] += time.perf_counter() - t
            if out is not None:
                freeze["small"] += 1
            return out

        self._patch(misc, "materialize", materialize)
        self._patch(misc, "sanitize_df", sanitize_df)
        self._patch(mspark, "sanitize_df", sanitize_df)
        self._patch(misc, "freeze_noised_release", freeze_noised_release)

        orig_send = self._client.send_command

        def send_command(*a, **k):
            self._py4j_calls += 1
            return orig_send(*a, **k)

        # an instance attribute shadows the class method for every
        # JavaObject that holds this client
        self._installed.append((self._client, "send_command", None))
        self._client.send_command = send_command

    def uninstall(self) -> None:
        while self._installed:
            owner, attr, orig = self._installed.pop()
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    # -- spans and ops -----------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        """Time a call into a layer.  Spans opened after an op (its
        check) are charged to that op's record."""
        t = time.perf_counter()
        try:
            yield
        finally:
            elapsed = time.perf_counter() - t
            if self._in_op or not self.records:
                self._spans[name] += elapsed
            else:
                key = f"span.{name}"
                self.records[-1][key] = self.records[-1].get(key, 0.0) + elapsed

    def _gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    @contextlib.contextmanager
    def op(self, kind: str) -> Iterator[None]:
        """Trace one op; the record is appended after the op's timing
        ended, so reading the status store is not charged to the op."""
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.install()
        cpu0 = sum(process_tree(os.getpid()).values())
        gc0 = self._gc_s()
        self._spans.clear()
        for k in self._freeze:
            self._freeze[k] = 0
        self.sc.setJobGroup(group, f"perfbench {kind}")
        self._py4j_calls = 0
        self._in_op = True
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._in_op = False
            calls = self._py4j_calls
            self.uninstall()
            self.sc.setJobGroup(None, None)
            self._jsc.listenerBus().waitUntilEmpty()
            rec = self._spark_layers(group, t0, t1)
            tree = process_tree(os.getpid())
            rec.update(
                kind=kind,
                wall_s=t1 - t0,
                py4j_calls=calls,
                freeze_s=self._freeze["s"],
                freeze_small=self._freeze["small"],
                freeze_large=self._freeze["large"],
                cpu_s=sum(tree.values()) - cpu0,
                gc_s=self._gc_s() - gc0,
                rss_peak_mb=rss_peak_mb(tree),
            )
            for name, s in self._spans.items():
                rec[f"span.{name}"] = s
            self.records.append(rec)

    def _spark_layers(self, group: str, t0: float, t1: float) -> Dict[str, float]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        spans, stages, tasks = [], 0, 0
        run_s = cpu_s = shuffle_b = 0.0
        for job_id in jobs:
            job = self._store.job(job_id)
            spans.append(
                (_opt_ms(job.submissionTime()), _opt_ms(job.completionTime()))
            )
            stages += job.numCompletedStages()
            tasks += job.numCompletedTasks()
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    stage = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # evicted or never attempted
                    continue
                if stage.status().toString() != "COMPLETE":
                    continue
                run_s += stage.executorRunTime() / 1000.0
                cpu_s += stage.executorCpuTime() / 1e9
                shuffle_b += stage.shuffleWriteBytes()
        # job spans are clipped to the op window (ms clock resolution)
        clipped = [(max(s, t0), min(e, t1)) for s, e in spans if e == e]
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "exec_run_s": run_s,
            "exec_cpu_s": cpu_s,
            "shuffle_write_bytes": shuffle_b,
            "driver_s": (t1 - t0) - _union_length(clipped),
        }

    # -- summary -----------------------------------------------------------

    def summary(self, slots: int) -> Dict[str, float]:
        recs = self.records
        n = len(recs)
        if not n:  # every traced op failed
            return {}

        def per_op(key: str) -> float:
            return sum(r.get(key, 0.0) for r in recs) / n

        wall = sum(r["wall_s"] for r in recs)
        return {
            "build.s_per_op": per_op("span.build"),
            "privacy_fn.s_per_op": per_op("span.privacy_fn"),
            "accountant.measure_s_per_op": per_op("span.accountant.measure"),
            "spark.jobs_per_op": per_op("jobs"),
            "spark.stages_per_op": per_op("stages"),
            "spark.tasks_per_op": per_op("tasks"),
            "driver.s_per_op": per_op("driver_s"),
            "py4j.calls_per_op": per_op("py4j_calls"),
            "spark.exec_run_s_per_op": per_op("exec_run_s"),
            "spark.exec_cpu_s_per_op": per_op("exec_cpu_s"),
            "spark.slot_busy_ratio": sum(r["exec_run_s"] for r in recs) / (wall * slots),
            "spark.shuffle_write_bytes_per_op": per_op("shuffle_write_bytes"),
            "freeze.s_per_op": per_op("freeze_s"),
            "freeze.small_path_per_op": per_op("freeze_small"),
            "freeze.large_path_per_op": per_op("freeze_large"),
            "proc.cpu_s_per_op": per_op("cpu_s"),
            "jvm.gc_s_per_op": per_op("gc_s"),
            "proc.rss_peak_mb": max(r["rss_peak_mb"] for r in recs),
        }

    def release_p50(self, kinds: List[str]) -> Dict[str, float]:
        """Median traced latency of each op kind."""
        by_kind = defaultdict(list)
        for r in self.records:
            by_kind[r["kind"]].append(r["wall_s"])
        return {
            f"release.p50_s.{k}": statistics.median(by_kind[k]) if by_kind[k] else 0.0
            for k in kinds
        }
