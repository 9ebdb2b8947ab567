"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one closed-loop client (the
next operation starts when the previous one returned), Spark in
``local[N]`` with N = min(2, available cores). Inputs are generated
from ``--seed`` into ``perfbench/.work/``; nothing outside the checkout
is read or written.

Phases: the seeded inputs are generated (untimed), then set-up several
times (session start or restart and, for ingest, the bulk load of the
initial scrape; the first also pays the JVM launch and the registry
import), the DuckDB oracle answers, one untimed warm-up round, then
whole rounds of operations until ``--seconds`` have passed.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
traced and untraced rounds and reports the per-layer metrics plus the
tracing overhead. The last stdout line is the result object; the line before it (``record: ...``)
and ``perfbench/.work/records/`` hold the full record with the load
stamp, sample counts and spans.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The first run of an operation after a cold start pays JIT and code
# generation: about three times a warm run for a dashboard query, and
# about twice for the first triggers that merge into an existing table
# (the set-ups' bulk loads create the table, so they do not warm that
# path). Later rounds are flat within the run-to-run noise.
WARMUP_ROUNDS = 1


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every scratch file of Spark, Python and the JVM inside the
    run's work directory, and size the session for a small box."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp   # gettempdir() may already have cached /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Covers the launcher JVM too; no hsperfdata files under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Two task slots: at these input sizes a stage runs about one task,
    # and the spare cores keep the driver, the JVM's JIT and GC threads
    # and the Python workers off the tasks' critical path.
    os.environ["SPARK_GRAFT_CPUS"] = str(min(2, len(os.sched_getaffinity(0))))


def start_session(work: str):
    from etl_mudah_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
            "spark.ui.enabled": "true",   # the traced run reads its REST API
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb_by_command() -> dict[str, float]:
    """VmHWM (peak resident set) of every descendant of this process
    (the JVM and its Python workers), summed per command name, from
    /proc. This interpreter is left out: besides the engine's driver
    side it holds the benchmark's own generator, model and DuckDB."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    mb: dict[str, float] = {}
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            mb[name] = mb.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return mb


def cpu_jiffies() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` readings."""
    d = [b - a for a, b in zip(start, end)]
    return 100.0 * d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def load_stamp(spark=None) -> dict:
    stamp = {
        "nproc": os.cpu_count(),
        "cpus_available": len(os.sched_getaffinity(0)),
        "local_n": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg": list(os.getloadavg()),
        "cpu_jiffies": cpu_jiffies(),
        "python": platform.python_version(),
    }
    if spark is not None:
        stamp["spark"] = spark.version
        stamp["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        stamp["master"] = spark.sparkContext.master
    return stamp


def tail(values: list[float]) -> dict:
    """The highest of p99, p95, p90, ..., p75 with at least ten samples
    beyond it; None when the run has fewer than 40 samples."""
    n = len(values)
    for p in (99, 95, 90, 85, 80, 75):
        if n * (100 - p) / 100 >= 10:
            cuts = statistics.quantiles(values, n=100, method="inclusive")
            return {"p": p, "value": cuts[p - 1], "n": n}
    return {"p": None, "value": None, "n": n}


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.spark = None
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.results = []          # (round, traced, OpResult)
        self.warmup_s = 0.0
        self.loop_s = 0.0
        self.bench_s = 0.0         # the loop's input generation and checks
        self.final_ok = True
        self.errors: list[str] = []

    # -- phases -----------------------------------------------------------
    def setup(self) -> None:
        from workloads import WORKLOADS, _load_canon

        canon = _load_canon(ROOT)
        self.wl = WORKLOADS[self.args.workload](self.args.seed, self.work, canon)
        self.wl.generate()
        for rep in range(self.wl.setup_reps):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = start_session(self.work)
            import etl_mudah_spark.plans  # noqa: F401  (registers every query)
            self.session_s.append(time.perf_counter() - t0)
            self.wl.stage(self.spark, rep)
            self.setup_s.append(time.perf_counter() - t0)
        self.wl.prepare_checks()

    def warmup(self) -> None:
        from workloads import Ctx

        t0 = time.perf_counter()
        ctx = Ctx(self.spark)
        rounds = self.wl.rounds()
        for _ in range(WARMUP_ROUNDS):
            for op in next(rounds):
                op(ctx).verify()
        self.warmup_s = time.perf_counter() - t0

    def measure(self) -> None:
        from workloads import Ctx

        traced_run = bool(self.args.trace)
        if traced_run:
            self._start_tracing()
        rounds = self.wl.rounds()
        t0 = time.perf_counter()
        r = 0
        # Whole rounds only, so every operation type is sampled equally
        # (a cut round would skew the median towards whichever queries
        # the seeded order put first); a traced run needs one traced and
        # one untraced round.
        while time.perf_counter() - t0 < self.args.seconds or r < 2 * traced_run:
            tb = time.perf_counter()
            traced = traced_run and (r + self.args.seed) % 2 == 0
            if traced:
                self.rec.begin_round()
            ctx = Ctx(self.spark, self.rec.recorder if traced else None)
            ops = next(rounds)
            self.bench_s += time.perf_counter() - tb
            for i, op in enumerate(ops):
                op_id = f"r{r}o{i}"
                if traced:
                    self.rec.recorder.op = op_id
                try:
                    if traced:
                        with self.rec.recorder.span("op"):
                            res = op(ctx)
                    else:
                        res = op(ctx)
                except Exception as e:  # an operation that raised counts as failed
                    from workloads import OpResult

                    res = OpResult(getattr(op, "__name__", "op"), "error", 0.0, ok=False,
                                   error=f"{type(e).__name__}: {e}")
                    self.errors.append(traceback.format_exc(limit=3))
                finally:
                    if traced:
                        self.rec.recorder.op = None
                        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                tb = time.perf_counter()
                if traced and res.kind != "error":
                    self.rec.op_layers(op_id, res, self.wl)
                res.verify()
                self.results.append((r, traced, res))
                self.bench_s += time.perf_counter() - tb
            if traced:
                self.rec.end_round()
            r += 1
        self.loop_s = time.perf_counter() - t0
        if hasattr(self.wl, "final_check"):
            try:
                self.final_ok = self.wl.final_check(self.spark)
            except Exception:
                self.final_ok = False
                self.errors.append(traceback.format_exc(limit=3))

    def _start_tracing(self) -> None:
        from spans import Tracing

        self.rec = Tracing(self.spark)

    # -- reporting --------------------------------------------------------
    def counts(self) -> tuple[int, int]:
        attempted = len(self.results)
        failed = sum(not res.ok for _, _, res in self.results)
        if hasattr(self.wl, "final_check"):
            attempted += 1
            failed += not self.final_ok
        return attempted, failed

    def end_to_end(self) -> dict:
        ops = [res for _, _, res in self.results if res.ok]
        primary = [res.latency for res in ops if res.kind != "read"]
        with_rows = [res for res in ops if res.rows]
        return {
            "setup_s": statistics.median(self.setup_s),
            "latency_p50_s": statistics.median(primary),
            "ops_per_s": len(ops) / (self.loop_s - self.bench_s),
            "rows_per_s": sum(r.rows for r in with_rows) / sum(r.latency for r in with_rows),
            "peak_rss_mb": sum(peak_rss_mb_by_command().values()),
        }

    def record(self, stamp_start: dict) -> dict:
        stamp_end = load_stamp(self.spark)
        ok = [res for _, _, res in self.results if res.ok]
        by_kind: dict[str, list[float]] = {}
        for res in ok:
            by_kind.setdefault(res.kind, []).append(res.latency)
        rec = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "stamp_start": stamp_start,
            "stamp_end": stamp_end,
            "cpu_steal_pct": steal_pct(stamp_start["cpu_jiffies"], stamp_end["cpu_jiffies"]),
            "setup_reps_s": self.setup_s,
            "session_start_s": self.session_s,
            "warmup_s": self.warmup_s,
            "loop_s": self.loop_s,
            "loop_bench_s": self.bench_s,
            "latency_by_kind": {
                k: {"p50": statistics.median(v), "tail": tail(v), "n": len(v)}
                for k, v in by_kind.items()
            },
            "per_op": [
                {"round": r, "traced": t, "name": res.name, "latency_s": res.latency,
                 "ok": res.ok, "error": res.error}
                for r, t, res in self.results
            ],
            "peak_rss_mb_by_command": peak_rss_mb_by_command(),
            "final_check_ok": self.final_ok,
            "errors": self.errors[:5],
        }
        if "read" in by_kind:
            rec["read_after_write_p50_s"] = statistics.median(by_kind["read"])
        return rec


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(HERE, ".work", "records")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import etl_mudah_spark  # noqa: F401  (fail fast outside a checkout)

    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    os.makedirs(records, exist_ok=True)
    stamp_start = load_stamp()
    run = Run(args, work)
    try:
        run.setup()
        run.warmup()
        run.measure()
        attempted, failed = run.counts()
        if args.trace:
            metrics, units = run.rec.per_layer(run)
        else:
            metrics = run.end_to_end()
            units = E2E_UNITS
        rec = run.record(stamp_start)
        if args.trace:
            rec["layers_full"] = run.rec.full_layers()
            run.rec.recorder.dump(os.path.join(
                records, f"spans-{args.workload}-{args.seed}.json"))
        rec["metrics"] = metrics
        tag = f"{args.workload}-{args.seed}-trace{args.trace}"
        with open(os.path.join(records, f"{tag}.json"), "w") as f:
            json.dump(rec, f, indent=1, default=str)
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print("record: " + json.dumps(rec, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


if __name__ == "__main__":
    sys.exit(main())
