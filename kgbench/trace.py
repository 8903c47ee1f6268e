"""Layer spans measured from outside the package.

A span runs the caller's block under a Spark job group named after the
layer (`<layer>#<n>`, unique per span) and records its wall time. The
job, stage and SQL metrics of the span are read afterwards from the
JVM status stores, which Spark fills with the UI disabled, so reading
them costs no Spark job and happens outside the timed window.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

MB = 1e6

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ("12.3 MiB", "4.1 s", or the
    "total (min, med, max ...)" form whose total leads its last line),
    in bytes or seconds."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2) or ""
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Span:
    """One timed block of one layer; `values` holds layer-specific
    measurements the caller adds."""

    def __init__(self, layer: str, part: str | None, group: str):
        self.layer, self.part, self.group = layer, part, group
        self.start = self.end = 0.0
        self.values: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and storage samples of one Spark session, and reads
    their metrics back from its status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self.peak_storage = 0
        self._n = 0

    # ---- recording (inside the timed window: one py4j call each) ----

    @contextmanager
    def span(self, layer: str, part: str | None = None):
        self._n += 1
        s = Span(layer, part, f"{layer}#{self._n}")
        self.sc.setJobGroup(s.group, layer)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.sc._jsc.clearJobGroup()
            self.spans.append(s)

    def storage_used(self) -> int:
        """Block-manager storage memory in use, summed over executors."""
        used = 0
        it = self._jsc.getExecutorMemoryStatus().values().iterator()
        while it.hasNext():
            m = it.next()
            used += m._1() - m._2()
        return used

    def sample(self) -> int:
        """Storage in use at a call boundary, as one py4j call: no
        collection is forced, so it costs the run almost nothing."""
        used = self.storage_used()
        self.peak_storage = max(self.peak_storage, used)
        return used

    def reset(self) -> None:
        self.spans, self.peak_storage = [], 0

    # ---- reading (outside the timed window) ----

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def stage_metrics(self, spans: list[Span]) -> dict[str, float]:
        """Generic per-layer counters over the jobs of `spans`. Sums are
        taken in integer units first, so equal work reads equal."""
        self._drain()
        store = self._jsc.statusStore()
        jobs = run_ms = cpu_ns = shuffle_b = shuffle_rec = spill_b = failed = 0
        heaviest = (-1, None)
        for s in spans:
            for jid in self.sc.statusTracker().getJobIdsForGroup(s.group):
                jobs += 1
                sids = store.job(jid).stageIds()
                for k in range(sids.size()):
                    st = store.lastStageAttempt(sids.apply(k))
                    if str(st.status()) == "SKIPPED":
                        continue
                    ms = st.executorRunTime()
                    run_ms += ms
                    cpu_ns += st.executorCpuTime()
                    shuffle_b += st.shuffleWriteBytes()
                    shuffle_rec += st.shuffleWriteRecords()
                    spill_b += st.diskBytesSpilled()
                    failed += st.numFailedTasks()
                    if ms > heaviest[0]:
                        heaviest = (ms, st)
        return {
            "jobs": jobs,
            "task_run_s": run_ms / 1e3,
            "task_cpu_s": cpu_ns / 1e9,
            "shuffle_write_mb": shuffle_b / MB,
            "shuffle_write_records": shuffle_rec,
            "spill_mb": spill_b / MB,
            "failed_tasks": failed,
            "task_skew": self._skew(store, heaviest[1]),
        }

    def _skew(self, store, stage) -> float:
        """Longest over median task run time of the stage that ran longest."""
        if stage is None:
            return 1.0
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(stage.stageId(), stage.attemptId(), q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def _executions(self, spans: list[Span], since: int):
        """SQL executions, numbered from `since` on, that ran a job of `spans`."""
        self._drain()
        jobs = [j for s in spans for j in self.sc.statusTracker().getJobIdsForGroup(s.group)]
        execs = self._sql().executionsList(since, 1 << 30)
        for i in range(execs.size()):
            ex = execs.apply(i)
            if any(ex.jobs().contains(j) for j in jobs):
                yield ex

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def checkpoints(self, spans: list[Span]) -> int:
        """Eager local checkpoints (materialized states) run in `spans`."""
        self._drain()
        store = self._jsc.statusStore()
        return sum(
            store.job(j).name().startswith("localCheckpoint")
            for s in spans
            for j in self.sc.statusTracker().getJobIdsForGroup(s.group)
        )

    def sql_metrics(self, spans: list[Span], names: tuple[str, ...], since: int) -> dict[str, float]:
        """Sum of the named SQL metrics over the SQL executions, numbered
        from `since` on, that ran a job of `spans`."""
        sql = self._sql()
        totals = dict.fromkeys(names, 0.0)
        for ex in self._executions(spans, since):
            values = sql.executionMetrics(ex.executionId())
            plan = ex.metrics()
            for k in range(plan.size()):
                m = plan.apply(k)
                if m.name() in totals and values.contains(m.accumulatorId()):
                    totals[m.name()] += parse_sql_metric(values.apply(m.accumulatorId()))
        return totals

    def sql_count(self) -> int:
        self._drain()
        return self._sql().executionsCount()

    def settle(self, timeout: float = 6.0) -> None:
        """Collect Python and JVM garbage so Spark's cleaner drops
        unreachable checkpoints and broadcasts, in rounds until storage
        reads the same three rounds in a row (a Python object's release
        reaches the JVM only with a later py4j call, the cleaner polls its
        queue every 100 ms and removes blocks asynchronously; with less
        settling a run now and then started with the last run's
        checkpoint still stored). Run only between runs, so every run
        starts from the same storage state, as a fresh job would."""
        import gc

        deadline = time.perf_counter() + timeout
        seen: list[int] = []
        while time.perf_counter() < deadline:
            gc.collect()
            self.sc._jvm.System.gc()
            time.sleep(0.25)
            seen.append(self.storage_used())
            if len(seen) >= 4 and seen[-1] == seen[-2] == seen[-3]:
                return
