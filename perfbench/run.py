"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

* ``loki_rw``      the Loki connector: pushes and six scan classes against
                   a store stub running in its own process;
* ``faces``        registry faces: three bound by job count and driver
                   work, three by work inside stages.

One client runs a closed loop on ``local[N]`` (N = min(2, cores)). A run
sets up (session, seeded inputs, one warm-up op of each class at the
measured scale, in a fixed class order), then runs whole rounds (a seeded
permutation of the workload's fixed op mix) until ``--seconds`` have
passed, so every run measures the same op mix. Each op's checkpoints are
freed after its timer stops and before the next one starts. Outputs are
checked on every op; the run's last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. Failures and the fail ratio are also printed as notes, with
``host_steal_share``: the share of CPU time the hypervisor gave to other
guests during the window, which on a shared machine slows every op of a
run together.

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s`` (process
start to the first timed op), ``op_p50_s`` (each op class's median latency
over the window, averaged over the classes; the median of a mix of
classes would sit on whichever two classes meet in the middle and jump
between them) and ``ops_per_s`` (ops over a round's wall time, the median
over the window's rounds, so one round slowed by the host does not move
it). Rows per second are per-layer metrics of the connector
(``sources.scan_rows_per_s``, ``sources.push_rows_per_s``): a face's output
row count follows its seed, not its work. With ``--trace 1`` each op of the
window is run twice, untraced and traced in alternating order; the
traced copy reads Spark's status store, the stub's counters and times
each layer directly, and the metrics are the per-layer ones plus the
tracing overhead. Spans stay in memory and are written once, with the run
id that is also printed, to ``.perfbench_work/traces/<run id>.json``.
"""

from __future__ import annotations

import time

_T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# Two Spark cores leave the rest of a small machine to the JVM's compiler
# and GC threads, the Python workers and the store stub, so a run does not
# measure the scheduler of an oversubscribed host.
CPUS = max(1, min(2, os.cpu_count() or 1))
MAX_WINDOW_S = 60  # keeps a run well inside its 180 s limit on a slow machine


def make_workload(name: str):
    from perfbench import faces, loki_rw

    if name == "loki_rw":
        return loki_rw.LokiWorkload(CPUS)
    if name == "faces":
        return faces.FacesWorkload()
    raise SystemExit(f"unknown workload {name!r}")


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work directory, and let workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.chdir(work)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _cpu_ticks() -> "tuple[int, int] | None":
    """(steal, total) jiffies over all CPUs from /proc/stat, where the
    kernel has it. Steal is time a virtual machine's CPUs were runnable but
    the hypervisor ran someone else: it tells a slow run caused by the host
    apart from one caused by the program."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal; guest time is
    # already inside user and nice
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args, run_id: str, work: str):
        from perfbench.spans import Tracer

        self.args = args
        self.run_id = run_id
        self.work = work
        self.tracer = Tracer(run_id)
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.round_no = 0

    def run_op(self, op, traced: bool) -> dict:
        from datafusion_loki_spark.functions.checkpoints import (
            free_checkpoints,
            persistent_rdd_ids,
        )

        wl, spark = self.wl, self.spark
        cls = wl.op_class(op)
        info: dict = {}
        rec = {"cls": cls, "traced": traced, "round": self.round_no}
        before = persistent_rdd_ids(spark)
        with self.tracer.span("op", cls=cls, traced=traced) as span:
            if traced:
                stats0 = wl.layer_probe()
            with self.tracer.span("execute"):
                t0_ms = time.time() * 1000
                t = time.perf_counter()
                try:
                    ok, rows = wl.execute(op, info)
                except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                    traceback.print_exc(file=sys.stderr)
                    ok, rows = False, 0
                dt = time.perf_counter() - t
                t1_ms = time.time() * 1000
            created = persistent_rdd_ids(spark) - before
            free_checkpoints(spark, created)
            rec.update(t=dt, rows=int(rows), checkpoints=len(created), **info)
            if traced:
                from perfbench.spans import union_ms

                with self.tracer.span("probe"):
                    t = time.perf_counter()
                    sp = self.probe.new_jobs(t0_ms, t1_ms)
                    windows = sp.pop("stage_windows")
                    sp["offstage_s"] = max(dt - union_ms(windows, t0_ms, t1_ms) / 1000, 0.0)
                    stats1 = wl.layer_probe()
                    rec["store"] = {k: stats1[k] - stats0[k] for k in stats1}
                    rec["spark"] = sp
                    rec["probe_s"] = time.perf_counter() - t
                with self.tracer.span("direct"):
                    rec["direct"] = wl.direct(op, info)
                # a direct layer call that disagrees with the expected
                # output fails the op too
                ok = ok and rec["direct"].pop("ok", True)
            rec["ok"] = bool(ok)
            span.update(ok=rec["ok"], rows=rec["rows"], t=dt)
        self.attempted += 1
        self.failed += not ok
        self.records.append(rec)
        return rec

    def main(self) -> dict:
        import numpy as np

        from datafusion_loki_spark.session import get_spark
        from perfbench.spans import SparkProbe

        args = self.args
        rng = np.random.default_rng([args.seed, 0])
        self.wl = make_workload(args.workload)
        try:
            with self.tracer.span("session.get_spark") as s:
                self.spark = get_spark(app_name=f"perfbench-{args.workload}")
                self.spark.sparkContext.setLogLevel("ERROR")
            get_spark_s = s["end"] - s["start"]
            with self.tracer.span("setup.inputs"):
                self.wl.setup(self.spark, self.work, args.seed)
            with self.tracer.span("setup.warm"):
                first: dict = {}
                for op in self.wl.round(rng):
                    first.setdefault(self.wl.op_class(op), op)
                # Warm in the workload's fixed class order: the first op
                # pays the process-wide first-use costs (Python workers,
                # class loading), so a seeded order would move them from
                # class to class and make setup_s depend on the seed.
                for cls in self.wl.classes:
                    with self.tracer.span("warm", cls=cls):
                        self.wl.warm(first[cls])
            if args.trace:
                self.probe = SparkProbe(self.spark)
            return self._measure(rng, get_spark_s)
        finally:
            self.wl.close()
            if hasattr(self, "spark"):
                _stop_spark(self.spark)

    def _measure(self, rng, get_spark_s: float) -> dict:
        args = self.args
        setup_s = time.time() - _T_START
        w0 = time.perf_counter()
        ticks0 = _cpu_ticks()
        round_wall: list[float] = []
        while not round_wall or (
            time.perf_counter() - w0 < min(args.seconds, MAX_WINDOW_S)
        ):
            self.round_no = len(round_wall)
            r0 = time.perf_counter()
            if args.trace:
                state = rng.bit_generator.state
                plain = self.wl.round(rng)
                rng.bit_generator.state = state
                traced = self.wl.round(rng)
                for i, (a, b) in enumerate(zip(plain, traced)):
                    pair = [(a, False), (b, True)]
                    for op, tr in pair if i % 2 == 0 else pair[::-1]:
                        self.run_op(op, tr)
            else:
                for op in self.wl.round(rng):
                    self.run_op(op, False)
            round_wall.append(time.perf_counter() - r0)
        window_s = time.perf_counter() - w0
        ticks1 = _cpu_ticks()
        jvm_rss = _jvm_peak_rss_mb(self.spark)
        with self.tracer.span("final_check"):
            checked, bad, detail = self.wl.final_check()
        self.attempted += checked
        self.failed += bad
        plain = [r for r in self.records if not r["traced"]]
        by_class: dict[str, list[float]] = {}
        by_round: list[list[dict]] = [[] for _ in round_wall]
        for r in plain:
            by_class.setdefault(r["cls"], []).append(r["t"])
            by_round[r["round"]].append(r)
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.mean(map(statistics.median, by_class.values())), "s"),
            "ops_per_s": (
                statistics.median(len(rs) / w for rs, w in zip(by_round, round_wall)),
                "1/s",
            ),
        }
        notes = {
            "run_id": self.run_id,
            "workload": args.workload,
            "seed": args.seed,
            "local_cpus": CPUS,
            "ops": len(plain),
            "rounds": len(round_wall),
            "window_s": window_s,
            "host_steal_share": (
                (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
                if ticks0 and ticks1
                else None
            ),
            "fail_ratio": self.failed / self.attempted,
            "check": detail,
        }
        if args.trace:
            from perfbench.layers import per_layer

            metrics = per_layer(self.records, get_spark_s, jvm_rss)
        else:
            metrics = e2e
        return {"metrics": metrics, "e2e": e2e, "notes": notes}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "datafusion_loki_spark", "__init__.py")):
        print("perfbench: the datafusion_loki_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:12]}"
    work = os.path.join(WORK_ROOT, run_id)
    os.makedirs(work)
    _prepare_env(work)
    runner = Runner(args, run_id, work)
    out: dict = {}
    try:
        out = runner.main()
    finally:
        os.chdir(ROOT)
        runner.tracer.dump(
            os.path.join(WORK_ROOT, "traces", f"{run_id}.json"),
            records=runner.records,
            **out,
        )
        shutil.rmtree(work, ignore_errors=True)
    notes = out["notes"]
    print(f"run_id {run_id}")
    for k, v in notes.items():
        if k != "run_id":
            print(f"note {k} {v}")
    for name, (value, unit) in out["metrics"].items():
        print(f"metric {name} {value:.6g} {unit}")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
