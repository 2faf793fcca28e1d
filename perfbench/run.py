"""Benchmark entry point: one seeded workload, one process, one closed loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run starts one Spark session on
``local[$(nproc)]``, generates its inputs from ``--seed`` under
``.perfbench_work/``, prepares the program's side (the acid table),
then runs whole cycles of the workload's fixed operation list
until ``--seconds`` have passed (at least one), and checks every
result. Each run is a fresh process, as a batch job is: the first cycle
pays the JVM's code generation and JIT warm-up, like every run of the
job would. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones
(spans around each call plus Spark's event log, keyed by job group).
"""

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.stats import OpLog, OpRecord, geomean, median, tail_percentile  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: driver JVM heap: fixed (initial = maximum) and pre-touched, well below
#: the RAM of any box this runs on. Heap growth and GC timing then do not
#: depend on the box or on the JVM's resizing decisions, and peak RSS is
#: the heap plus the JVM's non-heap memory and the Python processes.
DRIVER_MEM = "3g"
#: input generations per run; setup_s takes their median
INPUT_REPEATS = 3
MB = 1024 * 1024


class Bench:
    """What a workload sees: the session, its scratch space and the timer."""

    def __init__(self, spark, work: str, seed: int, trace: bool, cpus: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.trace = trace
        self.cpus = cpus
        self.log = OpLog()
        self.cycle = 0
        self.measuring = False
        self.trace_s = 0.0  # time spent in the benchmark's own tracing calls
        self._spans: dict[str, float] = {}

    def set_group(self, group: str) -> None:
        if self.trace:
            t0 = time.perf_counter()
            self.spark.sparkContext.setJobGroup(group, group)
            self.trace_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a call into one layer; the time is added to the current
        operation's span of that name (traced runs only)."""
        if not self.trace:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._spans[name] = self._spans.get(name, 0.0) + time.perf_counter() - t0

    def op(self, name: str, kind: str, fn, check=None):
        """Run one operation, time it, check its result and log it.
        ``check(result)`` returns True for a correct result."""
        group = f"op{len(self.log.ops)}.{name}"
        self.set_group(group)
        self._spans = {}
        start = time.time()
        t0 = time.perf_counter()
        result, ok = None, True
        try:
            result = fn()
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok = False
        seconds = time.perf_counter() - t0
        if ok and check is not None:
            try:
                ok = bool(check(result))
            except Exception:  # noqa: BLE001 — a check that cannot run is a wrong result
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                print(f"perfbench: wrong result from {name} (cycle {self.cycle})", file=sys.stderr)
        self.log.add(
            OpRecord(name, kind, self.cycle, start, seconds, ok, self.measuring, group, self._spans)
        )
        self.set_group("harness")
        return result


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(pids: list[int]) -> dict[int, float]:
    """Per process, CPU seconds used by it and by its reaped children."""
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[p] = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    return out


def _tree_cpu_s() -> dict[int, float]:
    return _cpu_s([os.getpid(), *_descendants(os.getpid())])


def _cpu_since(before: dict[int, float]) -> float:
    """CPU seconds the process tree used since ``before`` was taken."""
    now = _tree_cpu_s()
    return sum(v - before.get(p, 0.0) for p, v in now.items())


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def _start_spark(work: str, cpus: int, trace: bool):
    from als_hadoop_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # finish lazy start-up before the clock stops
    return spark


def _calibrate(spark) -> float:
    """bench.py's fixed CPU-bound reference job, to tell box drift from
    code change."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("avg(xxhash64(id))").collect()
    return time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline and any(map(_alive, procs)):
        time.sleep(0.1)
    for p in filter(_alive, procs):
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def _layer_metrics(bench: Bench, groups: dict, extra: dict) -> dict[str, float]:
    n_cycles = max(1, len(bench.log.cycles()))
    measured = bench.log.measured()

    def per_cycle(x: float) -> float:
        return x / n_cycles

    stats = [groups.get(o.group, eventlog.GroupStats()) for o in measured]

    def total(attr: str) -> float:
        return sum(getattr(s, attr) for s in stats)

    def span(name: str) -> float:
        return per_cycle(sum(o.spans.get(name, 0.0) for o in measured))

    nojob = sum(
        o.seconds
        - eventlog.covered_ms(s.job_spans_ms, int(o.start * 1000), int((o.start + o.seconds) * 1000)) / 1000
        for o, s in zip(measured, stats)
    )
    idle = sum(bench.cpus * o.seconds - sum(s.task_ms) / 1000 for o, s in zip(measured, stats))
    tasks = [t for s in stats for t in s.task_ms]
    tail = tail_percentile(tasks)
    writes = [s for o, s in zip(measured, stats) if o.kind == "write"]
    fits = [s for o, s in zip(measured, stats) if o.kind == "fit"]
    out = {
        "sources.input_rows": per_cycle(total("input_records")),
        "sources.input_mb": per_cycle(total("input_bytes") / MB),
        "operators.build_s": span("operators.build"),
        "operators.exec_s": span("operators.exec"),
        "spark.jobs": per_cycle(total("jobs")),
        "spark.stages": per_cycle(total("stages")),
        "spark.tasks": per_cycle(total("tasks")),
        "driver.nojob_s": per_cycle(nojob),
        "executor.run_s": per_cycle(total("run_ms") / 1000),
        "executor.cpu_s": per_cycle(total("cpu_ns") / 1e9),
        "executor.gc_s": per_cycle(total("gc_ms") / 1000),
        "executor.idle_slot_s": per_cycle(idle),
        "executor.task_p50_ms": median(tasks) if tasks else 0.0,
        "executor.task_tail_ms": tail[1] if tail else 0.0,
        "shuffle.write_mb": per_cycle(total("shuffle_write_bytes") / MB),
        "shuffle.read_mb": per_cycle(total("shuffle_read_bytes") / MB),
        "spill.mb": per_cycle(total("spill_bytes") / MB),
        "python.to_worker_mb": per_cycle(total("py_sent_bytes") / MB),
        "python.from_worker_mb": per_cycle(total("py_recv_bytes") / MB),
        "python.worker_run_s": per_cycle(total("py_run_ms") / 1000),
        "python.stage_run_s": per_cycle(total("py_stage_run_ms") / 1000),
        "als.pipeline_s": span("als.pipeline"),
        "als.recommend_s": span("als.recommend"),
        "als.jobs": sum(s.jobs for s in fits) / len(fits) if fits else 0.0,
        "acid.append_s": span("acid.append"),
        "acid.merge_s": span("acid.merge"),
        "acid.update_s": span("acid.update"),
        "acid.delete_s": span("acid.delete"),
        "acid.optimize_s": span("acid.optimize"),
        "acid.snapshot_s": span("acid.snapshot"),
        "acid.scan_build_s": span("acid.scan"),
        "acid.changes_s": span("acid.changes"),
        "acid.jobs_per_commit": sum(s.jobs for s in writes) / len(writes) if writes else 0.0,
        "sql.merge_s": span("sql.merge"),
    }
    out.update(extra)
    return out


def _history_path(workload: str) -> str:
    return os.path.join(ROOT, ".perfbench_work", f"untraced_wall_{workload}.jsonl")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "als_hadoop_spark", "session.py")):
        print(f"perfbench: no als_hadoop_spark package under {ROOT}", file=sys.stderr)
        return 2

    cpus = _cpus()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ.update(
        {
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": jvm_opts,
            "TZ": "UTC",
        }
    )
    time.tzset()
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    trace = bool(args.trace)
    spark = None
    try:
        cpu = _tree_cpu_s()
        t0 = time.perf_counter()
        spark = _start_spark(work, cpus, trace)
        session_s = time.perf_counter() - t0
        session_cpu_s = _cpu_since(cpu)
        bench = Bench(spark, work, args.seed, trace, cpus)
        workload = WORKLOADS[args.workload]()

        bench.set_group("setup")
        input_s, input_cpu_s = [], []
        for i in range(INPUT_REPEATS):
            cpu = _tree_cpu_s()
            t0 = time.perf_counter()
            workload.make_inputs(bench, os.path.join(work, f"input{i}"))
            input_s.append(time.perf_counter() - t0)
            input_cpu_s.append(_cpu_since(cpu))
        cpu = _tree_cpu_s()
        t0 = time.perf_counter()
        workload.prepare(bench)
        prepare_s = time.perf_counter() - t0
        prepare_cpu_s = _cpu_since(cpu)

        bench.measuring = True
        cycle_cpu_s = []
        deadline = time.perf_counter() + args.seconds
        while True:
            cpu = _tree_cpu_s()
            workload.cycle(bench)
            cycle_cpu_s.append(_cpu_since(cpu))
            bench.cycle += 1
            if time.perf_counter() >= deadline:
                break
        bench.measuring = False
        workload.verify(bench)
        bench.set_group("harness")

        peak_rss = _peak_rss_mb([os.getpid(), *_descendants(os.getpid())])
        extra = workload.layer_metrics(bench) if trace else {}
        calib_s = _calibrate(spark)
        log = bench.log
        wall_s = median(log.cycle_seconds())
        walls = {
            "setup.wall_s": session_s + median(input_s) + prepare_s,
            "pass.wall_s": wall_s,
            "ops.geomean_s": geomean(log.latencies()),
        }
        machine = {
            "cpus": cpus,
            "driver_mem": DRIVER_MEM,
            "calib_s": calib_s,
            "session_s": session_s,
            "input_s": input_s,
            "prepare_s": prepare_s,
            "cycles": len(log.cycles()),
            "ops": log.attempted,
            "error_rate": log.error_rate(),
            **walls,
            "op_s": [[o.name, round(o.seconds, 3)] for o in log.ops],
        }
        _stop(spark)
        spark = None

        if trace:
            groups = eventlog.by_group(
                eventlog.read_events(eventlog.log_files(os.path.join(work, "eventlog")))
            )
            hist = []
            with contextlib.suppress(OSError):
                with open(_history_path(args.workload)) as f:
                    hist = [json.loads(line)["wall_s"] for line in f if line.strip()]
            overhead = wall_s - median(hist) if hist else bench.trace_s / len(log.cycles())
            extra.update(
                {
                    **walls,
                    "session.start_s": session_s,
                    "calib_s": calib_s,
                    "trace.overhead_s": overhead,
                }
            )
            metrics = _layer_metrics(bench, groups, extra)
            units = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
        else:
            with open(_history_path(args.workload), "a") as f:
                f.write(json.dumps({"seed": args.seed, "wall_s": wall_s}) + "\n")
            metrics = {
                "setup_s": session_cpu_s + median(input_cpu_s) + prepare_cpu_s,
                "cpu_s": median(cycle_cpu_s),
                "peak_rss_mb": peak_rss,
            }
            units = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
        print(json.dumps({"machine": machine}))
        result = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
        print(
            json.dumps(
                {"correct": log.failed == 0, "attempted": log.attempted, "failed": log.failed, "metrics": result}
            )
        )
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
