"""Per-operation layer records for the traced run.

Every operation runs under its own Spark job group; sub-spans (a
pipeline model's quality gates, its materialization) run under child
groups. Right after the operation ends the tracer reads, from outside
the program:

- jobs, stages and tasks of the op's groups (``statusTracker`` plus the
  app status store's per-stage metrics: executor run and CPU time,
  shuffle bytes, output rows and bytes);
- Catalyst analysis + optimization + planning time of every action the
  op ran, from a ``QueryExecutionListener``;
- whole-stage codegen compiles and compile time, as deltas of
  ``CodegenMetrics`` and ``CodeGenerator.compileTime``.

Reading each op's jobs as soon as it ends keeps the count exact as
long as one op stays under the status store's job and stage retention.
Past its limit the store drops the oldest-completed tenth at once, so
an op that lost any of its own jobs or stages still shows more than
nine tenths of the limit; an op that shows that many fails the traced
run instead of reporting an undercount.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager


class RetentionExceeded(RuntimeError):
    """An operation ran more jobs or stages than the status store keeps;
    its counts would be short, so the traced run stops."""


def _check_retention(op_name: str, what: str, n: int, limit: int) -> None:
    """Fail if ``n`` of an op's jobs (or stages) may have lost some to
    retention: once the store holds more than ``limit``, it deletes
    max(limit / 10, excess) of the oldest completed at once, so if any
    of the op's own were deleted, more than ``limit - limit // 10`` of
    them are left."""
    if n > limit - limit // 10:
        raise RetentionExceeded(
            f"{op_name}: {n} {what} in one operation reach the status store's "
            f"trim threshold (retained {what}: {limit}); counts may be short"
        )


class _PlanListener:
    """``QueryExecutionListener`` callback collecting phase durations."""

    def __init__(self) -> None:
        self.plan_ms: list[float] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java interface
        it = qe.tracker().phases().iterator()
        total = 0
        while it.hasNext():
            total += it.next()._2().durationMs()
        self.plan_ms.append(float(total))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        conf = self.sc.getConf()
        self.retained_jobs = int(conf.get("spark.ui.retainedJobs", "1000"))
        self.retained_stages = int(conf.get("spark.ui.retainedStages", "1000"))
        jvm = self.sc._jvm
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PlanListener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self._op: dict | None = None
        self._seq = 0

    # -- op lifecycle ------------------------------------------------------

    def begin(self, name: str) -> None:
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self._bus.waitUntilEmpty()
        self._listener.plan_ms.clear()
        self._op = {
            "op": name,
            "group": group,
            "groups": {"": group},
            "compiles0": self._compiles.getCount(),
            "codegen_ns0": self._codegen.compileTime(),
            "layers": defaultdict(float),
        }
        self.sc.setJobGroup(group, name)

    def jobs_so_far(self) -> int:
        """Jobs the current op has started so far under its own group."""
        return len(self._job_ids(self._op["group"]))

    def add(self, key: str, value: float) -> None:
        self._op["layers"][key] += value

    @contextmanager
    def span(self, sub: str, seconds_key: str, jobs_key: str | None = None):
        """Time a sub-span under its own child job group, then restore
        the op's group. ``jobs_key`` accumulates the jobs it started."""
        op = self._op
        group = op["groups"].setdefault(sub, f"{op['group']}-{sub}")
        self.sc.setJobGroup(group, f"{op['op']}:{sub}")
        before = set(self._job_ids(group))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            op["layers"][seconds_key] += time.perf_counter() - t0
            if jobs_key:
                op["layers"][jobs_key] += len(set(self._job_ids(group)) - before)
            self.sc.setJobGroup(op["group"], op["op"])

    def end(self) -> dict:
        """Close the op; returns its record, keyed by per-layer metric name."""
        op, self._op = self._op, None
        self._bus.waitUntilEmpty()
        rec: dict = defaultdict(float)
        jobs = {sub: self._job_ids(group) for sub, group in op["groups"].items()}
        _check_retention(op["op"], "jobs", sum(map(len, jobs.values())), self.retained_jobs)
        stages = {sub: self._stage_ids(op["op"], ids) for sub, ids in jobs.items()}
        _check_retention(op["op"], "stages", sum(map(len, stages.values())), self.retained_stages)
        for sub, ids in jobs.items():
            rec["scheduler.jobs"] += len(ids)
            for k, v in self._stage_totals(op["op"], stages[sub]).items():
                # only the materializations' output counts as rows written
                if k != "write.rows_written" or sub == "write":
                    rec[k] += v
        rec["catalyst.plan_ms"] = sum(self._listener.plan_ms)
        rec["codegen.compiles"] = self._compiles.getCount() - op["compiles0"]
        rec["codegen.ms"] = (self._codegen.compileTime() - op["codegen_ns0"]) / 1e6
        rec.update(op["layers"])
        rec["loadavg_1m"] = os.getloadavg()[0]
        self.sc.setJobGroup("perfbench-idle", "between operations")
        return dict(rec)

    # -- status store reads --------------------------------------------------

    def _job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group) or [])

    def _stage_ids(self, op_name: str, jobs: list[int]) -> set[int]:
        stage_ids = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is None:
                raise RetentionExceeded(f"{op_name}: job {j} evicted before it was read")
            stage_ids.update(info.stageIds)
        return stage_ids

    def _stage_totals(self, op_name: str, stage_ids: set[int]) -> dict:
        out = defaultdict(float)
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception as e:  # py4j wraps the store's NoSuchElementException
                raise RetentionExceeded(f"{op_name}: stage {sid} evicted before it was read") from e
            if str(sd.status()) == "SKIPPED":
                continue
            out["scheduler.stages"] += 1
            out["scheduler.tasks"] += sd.numTasks()
            out["executor.run_s"] += sd.executorRunTime() / 1e3
            out["executor.cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle.read_mb"] += sd.shuffleReadBytes() / 2**20
            out["shuffle.write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["write.rows_written"] += sd.outputRecords()
        return out
