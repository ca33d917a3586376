"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload etl|ann_store --seed N --seconds S --trace 0|1

One driver process on local[<half the CPUs>] runs a closed loop: each call
into the engine starts after the previous one returned. The run

1. sets up a session, timed from process start;
2. makes the workload's inputs from the seed, runs one pass that collects
   every output and checks it (the checks are not timed), then
3. runs the workload's untimed warm-up passes, and the timed passes, each
   output going to a noop sink, as many as fill `--seconds` at the
   workload's nominal pass time.

With ``--trace 1`` a quarter of the timed window runs on a restarted
untraced session and a quarter on a restarted session with Spark's event
log on, which is rolled up into the per-layer metrics (DESIGN.md); the
restarts take the rest, so a traced run takes about as long as an
untraced one. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it holds the run's details.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from typing import NamedTuple  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# Switches that change the shape of a shipped plan, and the data-directory
# override: the benchmark measures the shipped defaults or refuses to run.
REFUSED_ENV = (
    "SPARK_GRAFT_DSIR_TWO_PHASE",
    "SPARK_GRAFT_BLOOM_NO_REPART",
    "SPARK_GRAFT_SCOPED_FLOOR_OFF",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE",
    "SPARK_GRAFT_SF_DIR",
)
MIN_TIMED_PASSES = 3
DEADLINE_S = 170


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def task_slots(cpus: int) -> int:
    """Spark's task slots: half the CPUs, so that the JVM's compiler and
    collector threads, the driver and the Python workers have CPUs of
    their own instead of queueing behind the tasks (DESIGN.md, "Load
    model")."""
    return max(1, cpus // 2)


def pin_environment(work: str, slots: int) -> None:
    """Every file Spark, the JVM and the engine write goes under `work`."""
    for sub in ("tmp", "local", "checkpoints", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(slots),
        SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(work, "checkpoints"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')} pyspark-shell"
        ),
    )


def start_session(since: float, event_log: str | None = None):
    """get_spark, warm the Python worker pool, run a first trivial query.
    Returns the session and the time each step took, counted from `since`."""
    from pyspark import SparkContext

    if event_log is not None:
        # The JVM is running: a new context reads spark.* system properties.
        system = SparkContext._jvm.java.lang.System
        system.setProperty("spark.eventLog.enabled", "true")
        system.setProperty("spark.eventLog.dir", event_log)
        system.setProperty("spark.eventLog.compress", "false")
    from scripts_toolkit_spark.session import get_spark

    spark = get_spark("perfbench")
    started = time.time()

    def touch(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"x": pdf["id"][:1]})

    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4, numPartitions=par).mapInPandas(touch, "x long").count()
    warmed = time.time()
    spark.sql("SELECT 1").collect()
    done = time.time()
    if (event_log is not None) != (spark.sparkContext.getConf().get("spark.eventLog.enabled") == "true"):
        raise RuntimeError("event log switch did not take effect")
    return spark, {
        "start_s": started - since,
        "worker_warm_s": warmed - started,
        "first_query_s": done - warmed,
        "setup_s": done - since,
    }


def restart(spark, event_log: str | None = None):
    spark.stop()
    return start_session(time.time(), event_log)


def shutdown() -> None:
    """Stop the active context, then the JVM (it exits when its stdin
    closes), and wait for it to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_memory_mb(spark) -> dict:
    """The Spark JVM's peak resident set, read from /proc, and the heap
    it still uses after a full collection (DESIGN.md: why neither is a
    bounded metric)."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        peak_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return {"peak_rss_mb": peak_kb / 1024, "heap_live_mb": heap.getUsed() / 2**20}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, its Python daemon and workers), from /proc. A live process's
    cutime/cstime holds its exited children, so nothing counts twice."""
    me, parent, ticks = os.getpid(), {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while /proc was read
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])

    def in_tree(pid: int) -> bool:
        while pid > 1 and pid != me:
            pid = parent.get(pid, 0)
        return pid == me

    return sum(t for pid, t in ticks.items() if in_tree(pid)) / os.sysconf("SC_CLK_TCK")


def _host_ticks() -> tuple[int, int]:
    """Steal and total ticks of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Pass(NamedTuple):
    wall: float  # seconds
    cpu: float  # CPU seconds of the driver, the JVM and the Python workers
    steal: float  # share of the host's CPU time given to other guests
    spans: list


class Runner:
    """Runs passes of one workload and records every call."""

    def __init__(self, workload):
        self.wl = workload
        self.next_span = 0
        self.passes = 0
        self.attempted = 0
        self.failures: list[str] = []

    def run_pass(self, spark, pass_idx: int, check: bool) -> Pass:
        sc = spark.sparkContext
        spans = []
        cpu_pass, host_pass = tree_cpu_s(), _host_ticks()
        t_pass = time.time()
        for call in self.wl.calls(spark, pass_idx):
            self.attempted += 1
            index, self.next_span = self.next_span, self.next_span + 1
            tag = f"{eventlog.SPAN_TAG}{index}"
            sc.addJobTag(tag)
            t0 = time.time()
            try:
                if call.is_builder:
                    sc.addJobTag(eventlog.BUILD_TAG)
                try:
                    df = call.plan()
                finally:
                    sc.removeJobTag(eventlog.BUILD_TAG)
                t1 = time.time()
                if df is None:
                    cols, rows = [], []
                elif check:
                    cols, rows = df.columns, df.collect()
                else:
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.time()
            except Exception:  # noqa: BLE001 - a failed call is counted, the run goes on
                self.failures.append(f"{call.name}: {traceback.format_exc(limit=3)}")
                continue
            finally:
                sc.removeJobTag(tag)
            spans.append(eventlog.Span(index, call.name, t0, t1, t2))
            if check:
                err = self.wl.check(call, cols, rows)
                if err:
                    self.failures.append(f"{call.name}: {err}")
        wall, host = time.time() - t_pass, _host_ticks()
        steal = (host[0] - host_pass[0]) / max(1, host[1] - host_pass[1])
        done = Pass(wall, tree_cpu_s() - cpu_pass, steal, spans)
        self.wl.end_pass(pass_idx)
        self.passes += pass_idx >= 0
        return done

    def check_pass(self, spark) -> float:
        """The untimed first pass; returns the time its calls took, which
        is the cold time of the workload's operations."""
        spans = self.run_pass(spark, -1, check=True).spans
        for err in self.wl.end_check_pass():
            self.attempted += 1
            self.failures.append(err)
        return sum(sp.end - sp.start for sp in spans)

    def window(self, spark, seconds: float, min_passes: int) -> list[Pass]:
        """As many passes as fill `seconds` at the workload's nominal pass
        time. The count depends on `seconds` only, not on how fast this
        run goes: with a count that shrank on a slow run, the median would
        sit earlier on the warm-up curve and make a slow run slower still."""
        n = max(min_passes, round(seconds / self.wl.nominal_pass_s))
        passes = [self.run_pass(spark, self.passes, check=False) for _ in range(n)]
        if not all(p.spans for p in passes):
            raise RuntimeError("every call of a timed pass failed")
        return passes


def _latencies(passes: list[Pass], name: str | None = None) -> list[float]:
    return [
        sp.end - sp.start for p in passes for sp in p.spans if name is None or sp.name == name
    ]


def _timing_details(passes: list[Pass]) -> dict:
    lat = _latencies(passes)
    names = sorted({sp.name for p in passes for sp in p.spans})
    return {
        "passes": len(passes),
        "pass_s": [p.wall for p in passes],
        "pass_cpu_s": [p.cpu for p in passes],
        "pass_steal": [p.steal for p in passes],
        "op_samples": len(lat),
        "op_p50_s": statistics.median(lat),
        "op_tail": stats.tail(lat),
        "op_s_by_name": {n: _latencies(passes, n) for n in names},
        "op_p50_s_by_name": {n: statistics.median(_latencies(passes, n)) for n in names},
        "op_tail_by_name": {n: stats.tail(_latencies(passes, n)) for n in names},
    }


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    cpus = len(os.sched_getaffinity(0))
    slots = task_slots(cpus)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "slots": slots,
        "master": f"local[{slots}]",
        "loadavg_before": os.getloadavg(),
    }
    pin_environment(work, slots)
    os.chdir(work)
    from scripts_toolkit_spark.io.catalog import DEFAULT_SF_DIR

    details["sf_dir"] = DEFAULT_SF_DIR
    wl = WORKLOADS[args.workload](DEFAULT_SF_DIR, args.seed)
    runner = Runner(wl)

    spark, first = start_session(PROCESS_START)
    phases = {"setup": time.time() - PROCESS_START}
    t = time.time()
    wl.prepare(spark, work)
    phases["prepare"] = time.time() - t
    t = time.time()
    cold_pass_s = runner.check_pass(spark)
    phases["check_pass"] = time.time() - t
    details.update(setup=first, phase_s=phases, cold_pass_s=cold_pass_s, **wl.summary())
    t = time.time()
    for _ in range(wl.warmup_passes):
        runner.run_pass(spark, runner.passes, check=False)
    phases["warmup"] = time.time() - t

    if not args.trace:
        t = time.time()
        host0 = _host_ticks()
        untraced = runner.window(spark, args.seconds, MIN_TIMED_PASSES)
        host1 = _host_ticks()
        # CPU time the hypervisor gave to other guests during the window
        details["steal_share"] = (host1[0] - host0[0]) / max(1, host1[1] - host0[1])
        phases["window"] = time.time() - t
        details["untraced"] = _timing_details(untraced)
        details.update(jvm_memory_mb(spark))
        metrics = _end_to_end(first, untraced)
        spark.stop()
    else:
        # Each quarter of the window runs on a restarted session after one
        # untimed pass; the JIT's code survives the restart, so both parts
        # run on the same plateau.
        log_dir = os.path.join(work, "eventlog")
        windows = {}
        for name, event_log in (("untraced", None), ("traced", log_dir)):
            t = time.time()
            spark, details[f"{name}_setup"] = restart(spark, event_log)
            runner.run_pass(spark, runner.passes, check=False)
            windows[name] = runner.window(spark, args.seconds / 4, 2)
            phases[name] = time.time() - t
            details[name] = _timing_details(windows[name])
        app_id = spark.sparkContext.applicationId
        details.update(jvm_memory_mb(spark))
        spark.stop()
        counters = eventlog.span_counters(eventlog.read_events(log_dir, app_id))
        traced = windows["traced"]
        spans = [sp for p in traced for sp in p.spans]
        metrics = _per_layer(first, windows["untraced"], traced, spans, counters, slots, wl.summary())
        details["per_op"] = {
            name: eventlog.layer_metrics(
                [sp for sp in spans if sp.name == name],
                counters,
                slots,
                sum(sp.name == name for sp in spans),
            )
            for name in sorted({sp.name for sp in spans})
        }
    details["failures"] = runner.failures
    details["failed_ratio"] = len(runner.failures) / runner.attempted
    details["loadavg_after"] = os.getloadavg()
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return details, result


def _end_to_end(setup: dict, untraced: list[Pass]) -> dict:
    return {
        "setup_s": (setup["setup_s"], "s"),
        "pass_s": (statistics.median([p.wall for p in untraced]), "s"),
    }


def _per_layer(setup, untraced, traced, spans, counters, slots, summary) -> dict:
    layer = eventlog.layer_metrics(spans, counters, slots, len(traced))
    verb_p50 = _timing_details(untraced)["op_p50_s_by_name"]
    out = {
        "session.start_s": (setup["start_s"], "s"),
        "session.worker_warm_s": (setup["worker_warm_s"], "s"),
    }
    out.update({k: (v, _unit(k)) for k, v in layer.items()})
    out.update(
        {
            "ann.build_s": (verb_p50.get("ann.build", 0.0), "s"),
            "ann.append_s": (verb_p50.get("ann.append", 0.0), "s"),
            "ann.search_p50_s": (verb_p50.get("ann.search", 0.0), "s"),
            "ann.recall_at_k": (summary["recall_at_k"], "ratio"),
            "ann.store_bytes_per_input_byte": (summary["store_bytes_per_input_byte"], "ratio"),
            "ann.store_files": (summary["store_files"], "count"),
            "trace.overhead_s": (
                statistics.median([p.wall for p in traced]) - statistics.median([p.wall for p in untraced]),
                "s",
            ),
        }
    )
    return out


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("share", "util")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    refused = [k for k in REFUSED_ENV if os.environ.get(k)]
    if refused:
        print(f"refusing to run with {', '.join(refused)} set", file=sys.stderr)
        return 2

    def _deadline(_signum, _frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        details, result = run(args, work)
    finally:
        try:
            if "pyspark" in sys.modules:
                shutdown()
        except Exception:  # noqa: BLE001 - cleanup must not mask the run's error
            traceback.print_exc()
        signal.alarm(0)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(os.path.dirname(work)) and not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"perfbench": details}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
