"""The repo benchmark: one workload, in a fresh process, end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload adhoc_queries --seed 1 --seconds 12 --trace 0

Workloads: ``adhoc_queries``, ``eager_operators``, ``warehouse_refresh``
(see README.md). The process generates its inputs from ``--seed``,
starts a session on ``local[<cores>]``, runs one untimed warm-up round
that also checks every output, then runs whole rounds until
``--seconds`` of timed work have passed. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes one JSON record
per operation to ``.perfbench_out/``.

Everything the run writes (inputs, warehouse, Spark scratch) lives
under ``.perfbench_run/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402

WORKLOADS = ("adhoc_queries", "eager_operators", "warehouse_refresh")
END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_ms": "ms", "cpu_s": "s", "live_heap_mb": "MB"}
# per-layer metric -> unit; values come from the per-op trace records,
# the run notes (ctx.note), or the run itself
PER_LAYER = {
    "session.start_s": "s",
    "session.persisted_rdds": "count",
    "suite.import_s": "s",
    "suite.build_s": "s",
    "suite.eager_jobs": "count",
    "catalyst.plan_ms": "ms",
    "codegen.compiles": "count",
    "codegen.ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB",
    "sources.extract_s": "s",
    "sources.files_loaded": "count",
    "plans.model_build_s": "s",
    "plans.attempts": "count",
    "plans.gate_s": "s",
    "plans.gate_jobs": "count",
    "write.materialize_s": "s",
    "write.rows_written": "count",
    "write.files_written": "count",
    "write.bytes_written_mb": "MB",
}
class Ctx:
    """What a workload round sees: the session, the optional tracer, the
    timed-region clock (wall + CPU of this process and the JVM) and the
    operations run so far in the current round."""

    def __init__(self, spark, tracer, pids: list[int], warehouse_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.pids = pids
        self.warehouse_dir = warehouse_dir
        self.current: dict | None = None
        self._reset()

    def _reset(self) -> None:
        self.ops: list[dict] = []
        self.notes: dict[str, float] = {}
        self.wall = self.cpu = 0.0

    def take_round(self) -> dict:
        out = {"ops": self.ops, "notes": self.notes, "wall": self.wall, "cpu": self.cpu}
        self._reset()
        return out

    # timed-region clock
    def resume(self) -> None:
        self._t0 = time.perf_counter()
        self._c0 = probes.cpu_seconds(self.pids)

    def pause(self) -> None:
        self.wall += time.perf_counter() - self._t0
        self.cpu += probes.cpu_seconds(self.pids) - self._c0

    # operations
    def begin(self, name: str) -> dict:
        self.end()
        op = {"name": name, "ok": True, "t0": time.perf_counter()}
        self.current = op
        self.ops.append(op)
        if self.tracer:
            self.tracer.begin(name)
        return op

    def end(self, ok: bool = True) -> None:
        op, self.current = self.current, None
        if op is None:
            return
        op["s"] = time.perf_counter() - op.pop("t0")
        op["ok"] = op["ok"] and ok
        self.log(f"  op {op['name']}: {op['s']:.3f}s{'' if op['ok'] else ' FAILED'}")
        if self.tracer:
            op["trace"] = self.tracer.end()

    def not_run(self, name: str) -> dict:
        op = {"name": name, "ok": False, "s": None}
        self.ops.append(op)
        return op

    def note(self, key: str, value: float) -> None:
        self.notes[key] = self.notes.get(key, 0) + value

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def make_workload(name: str, seed: int):
    if name == "warehouse_refresh":
        from warehouse import WarehouseWorkload

        return WarehouseWorkload(seed)
    import queries

    if name == "adhoc_queries":
        return queries.QueryWorkload(queries.ADHOC_QUERIES, queries.ADHOC_SF, seed)
    return queries.QueryWorkload(queries.EAGER_QUERIES, queries.EAGER_SF, queries.EAGER_DATA_SEED)


def start_session(run_dir: str, traced: bool):
    from nhl_data_warehouse_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # keep the JVM's scratch (native-library unpacking and the like)
        # in the checkout, and write no hsperfdata file to /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        # the status store must hold a whole operation's jobs and stages
        # until the tracer reads them (the heaviest op runs ~40 jobs)
        conf.update({"spark.ui.retainedJobs": "1000", "spark.ui.retainedStages": "1000"})
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, run_dir: str, t_start: float) -> dict:
    traced = bool(args.trace)
    workload = make_workload(args.workload, args.seed)
    t0 = time.perf_counter()
    workload.generate(run_dir)
    Ctx.log(f"inputs generated in {time.perf_counter() - t0:.2f}s")

    t0 = time.perf_counter()
    spark = start_session(run_dir, traced)
    session_start_s = time.perf_counter() - t0
    try:
        suite_import_s = 0.0
        if args.workload != "warehouse_refresh":
            t0 = time.perf_counter()
            import nhl_data_warehouse_spark.suite  # noqa: F401 — timed import

            suite_import_s = time.perf_counter() - t0
        tracer = None
        if traced:
            from tracing import Tracer

            tracer = Tracer(spark)
        ctx = Ctx(spark, tracer, [os.getpid(), probes.jvm_pid(spark)], os.path.join(run_dir, "warehouse"))

        t0 = time.perf_counter()
        workload.warm_and_check(ctx)
        for _ in range(workload.warm_rounds):
            workload.round(ctx)
        Ctx.log(f"session {session_start_s:.2f}s, suite import {suite_import_s:.2f}s, warm-up and checks {time.perf_counter() - t0:.2f}s")
        ctx.take_round()
        setup_s = time.time() - t_start

        rounds = []
        while not rounds or sum(r["wall"] for r in rounds) < args.seconds:
            if args.workload == "warehouse_refresh":
                workload.round(ctx)  # stops the clock for its checks
            else:
                ctx.resume()
                workload.round(ctx)
                ctx.pause()
            rounds.append(ctx.take_round())
            Ctx.log(f"round {len(rounds)}: {rounds[-1]['wall']:.2f}s wall, {rounds[-1]['cpu']:.2f}s cpu")

        from nhl_data_warehouse_spark.session import release_cached

        release_cached(spark)
        heap_mb = probes.live_heap_mb(spark)
    finally:
        stop_session(spark)

    ops = [op for r in rounds for op in r["ops"]]
    out = {
        # every op ran and passed its output check, in whole rounds
        "correct": bool(ops) and all(op["ok"] for op in ops) and len({len(r["ops"]) for r in rounds}) == 1,
        "attempted": len(ops),
        "failed": sum(not op["ok"] for op in ops),
    }
    run_s = statistics.median(r["wall"] for r in rounds)
    if not traced:
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "op_p50_ms": 1e3 * statistics.median(op["s"] for op in ops if op["s"] is not None),
            "cpu_s": statistics.median(r["cpu"] for r in rounds),
            "live_heap_mb": heap_mb,
        }
        out["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        return out

    per_round = []
    for r in rounds:
        acc = {k: 0.0 for k in PER_LAYER}
        for op in r["ops"]:
            for k, v in op.get("trace", {}).items():
                if k in acc:
                    acc[k] += v
        for k, v in r["notes"].items():
            acc[k] += v
        per_round.append(acc)
    values = {k: statistics.median(a[k] for a in per_round) for k in PER_LAYER}
    values["session.start_s"] = session_start_s
    values["suite.import_s"] = suite_import_s
    out["metrics"] = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    _write_trace(args, rounds, run_s, values)
    return out


def _write_trace(args, rounds: list[dict], run_s: float, values: dict) -> None:
    """One JSON record per operation, then a summary line with the
    traced run's own ``run_s`` (for the tracing overhead)."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as f:
        for i, r in enumerate(rounds):
            for op in r["ops"]:
                rec = {"round": i, "op": op["name"], "ok": op["ok"], "latency_s": op["s"]}
                rec.update(op.get("trace", {}))
                f.write(json.dumps(rec) + "\n")
        f.write(json.dumps({"summary": True, "workload": args.workload, "seed": args.seed,
                            "traced_run_s": run_s, "rounds": len(rounds), "loadavg_1m": probes.loadavg(),
                            "metrics": values}) + "\n")
    Ctx.log(f"trace records: {path} (traced run_s {run_s:.3f})")


def main(argv: list[str] | None = None) -> int:
    t_start = probes.process_start_wall()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("nhl_data_warehouse_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            Ctx.log(f"perfbench: {need} not found under {ROOT}; run from a full checkout")
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-submit's launcher JVM
        "PYSPARK_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    try:
        result = run(args, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
