"""The engine's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload flagship_long --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed (cached under .bench_work/inputs), starts Spark on local[<cores>]
from this one process, runs one cold pass and then warm passes,
one at a time, until --seconds have gone (a closed loop of one client),
and checks every pass's output outside the timed region. The last line
of stdout is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. The lines before it give each timing's samples
and quartiles, and the host (memory bandwidth, steal, cores, versions).
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import traceback
from collections import defaultdict

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_work")


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("flagship_long", "query_mix"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def descendants() -> set[int]:
    """PIDs of every process below this one (the JVM and the Python
    workers it forks)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    from pyspark import SparkContext

    kids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(map(alive, kids)):
        time.sleep(0.1)
    for p in filter(alive, kids):
        os.kill(p, signal.SIGKILL)


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def environment(ncpu: int) -> dict:
    """What the host gave this run, so a contended run is explained rather
    than mistaken for a regression."""
    import pyarrow
    import pyspark

    from bench import memory_bandwidth_probe
    from tools_bw_profile import aggregate_bw

    return {
        "nproc": ncpu,
        "bw_single_gbps": memory_bandwidth_probe(),
        "bw_aggregate_gbps": round(aggregate_bw(ncpu, dur=0.5), 2),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def summary(samples: list[float]) -> dict:
    """Median, quartiles and sample count of one timing."""
    q1, _, q3 = statistics.quantiles(samples, n=4) if len(samples) > 1 else samples * 3
    return {"n": len(samples), "median": statistics.median(samples), "q1": q1, "q3": q3,
            "samples": samples}


class Run:
    """One benchmark run: passes, their checks and the failure count."""

    def __init__(self, wl, tracer_off):
        from audiopro_essentia_spark.monitor import _cpu_times

        self.wl = wl
        self.off = tracer_off
        self.cpu_times = _cpu_times
        self.hz = os.sysconf("SC_CLK_TCK")
        self.attempted = self.failed = 0
        self.check_s = 0.0
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.rate: list[float] = []
        self.last = None

    def one(self, tracer=None, full=False):
        """Run one pass; return (wall seconds, result), or None if the pass
        raised. A pass fails when it raises or a check fails."""
        self.attempted += 1
        ctx = self.wl.prepare()
        busy0 = self.cpu_times()[0]
        t0 = time.perf_counter()
        try:
            res = self.wl.run_pass(ctx, tracer or self.off)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        wall = time.perf_counter() - t0
        cpu = (self.cpu_times()[0] - busy0) / self.hz
        errs = self.wl.check(res, full)
        self.check_s += time.perf_counter() - t0 - wall
        if errs:
            print("check failed:", *errs, sep="\n  ", file=sys.stderr)
            self.failed += 1
        if self.last is not None:
            self.wl.done(self.last)
        self.last = res
        return wall, cpu, res


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "audiopro_essentia_spark")
    ):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tests")]
    # Python workers import the engine from the checkout; every temporary
    # file stays inside it
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ncpu = len(os.sched_getaffinity(0))

    # clearing the last run's files and generating the inputs (in a child
    # process, so that the generator's imports stay out of this one) are
    # not set-up; set-up is the rest of the time from process start to
    # the first job
    t = time.perf_counter()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), args.workload, str(args.seed),
         os.path.join(WORK, "inputs")],
        stdout=subprocess.PIPE, check=True, text=True,
    )
    data = gen.stdout.strip().splitlines()[-1]
    phases = {"inputs_s": time.perf_counter() - t}

    # the JVM heap is fixed and touched at start. A heap that G1 grows as
    # it sees fit ends a run at a size set by GC timing, so peak_rss_gb
    # followed the host's load (the middle half of ten flagship_long runs
    # spread over 0.5-0.7 GB). With the heap constant, the peak moves with
    # what the engine holds off the heap, in the driver and in the Python
    # workers. 2 GB is above the size G1 reached on either workload
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir}

    # set-up: importing the engine modules the workload calls, the session,
    # a first trivial job
    from audiopro_essentia_spark.session import get_spark
    from workloads import WORKLOADS

    if args.workload == "query_mix":
        import __spark_entry__  # noqa: F401

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{ncpu}]", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")

    setup = (t0 - T_START - phases["inputs_s"], t1 - t0, t2 - t1)

    from audiopro_essentia_spark.monitor import PerformanceMonitor
    from spans import Tracer, group_stats, read_event_log

    try:
        wl = WORKLOADS[args.workload](spark, data, run_dir, args.seed)
        phases["workload_init_s"] = time.perf_counter() - t2
        run = Run(wl, Tracer(spark, enabled=False))
        mon = PerformanceMonitor().start()
        try:
            # the checks that need the whole output run on the cold pass;
            # the warm passes get the per-pass checks
            cold = run.one(full=True)
            if cold is None:
                return 1
            deadline = time.perf_counter() + args.seconds
            while len(run.wall) < wl.min_warm or time.perf_counter() < deadline:
                r = run.one()
                if r is not None:
                    run.wall.append(r[0])
                    run.cpu.append(r[1])
                    run.rate.append(wl.tokens_per_s(r[0], r[2]))
                elif run.attempted - len(run.wall) > 3:
                    return 1
            if args.trace:
                tracer = Tracer(spark, enabled=True)
                traced = run.one(tracer=tracer)
                if traced is None:
                    return 1
                layer_info = wl.layers(tracer, traced[2]) if hasattr(wl, "layers") else {}
                if "errors" in layer_info:  # the resume in layers() is one more pass
                    run.attempted += 1
                    if layer_info["errors"]:
                        print("check failed:", *layer_info["errors"], sep="\n  ", file=sys.stderr)
                        run.failed += 1
                # one more untraced pass: the passes still speed up as the
                # JVM and the workers warm, so the overhead compares the
                # traced pass with the untraced passes on both sides of it
                after = run.one()
                if after is None:
                    return 1
                untraced = (run.wall[-1] + after[0]) / 2
        finally:
            mon.stop()
        phases["passes_s"] = time.perf_counter() - t2 - phases["workload_init_s"]
        phases["checks_s"] = run.check_s
    finally:
        t3 = time.perf_counter()
        stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t3
    t4 = time.perf_counter()
    env = environment(ncpu)
    phases["env_s"] = time.perf_counter() - t4
    phases["total_s"] = time.perf_counter() - T_START

    detail = {"env": {**env, "avg_steal_pct": mon.summary().get("avg_steal_pct")}, "phases": phases,
              "wall_s": summary(run.wall), "cpu_s": summary(run.cpu),
              "tokens_per_s": summary(run.rate)}
    if args.trace:
        stats = group_stats(read_event_log(log_dir))
        values = layer_values(wl, tracer, stats, setup, untraced, traced, layer_info, ncpu)
        values["trace.eventlog_wall_s"] = statistics.median(run.wall)
        detail["trace"] = os.path.relpath(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), ROOT)
        with open(os.path.join(ROOT, detail["trace"]), "w") as fh:
            json.dump({**detail, "spans": tracer.with_self_time(), "metrics": values}, fh, indent=1)
        names = spec["per_layer"]
    else:
        wall = statistics.median(run.wall)
        values = {
            "setup_s": sum(setup),
            "cold_pass_s": cold[0],
            "wall_s": wall,
            "tokens_per_s": statistics.median(run.rate),
            "cpu_s": statistics.median(run.cpu),
            "peak_rss_gb": max(s[1] for s in mon.samples),
        }
        names = spec["end_to_end"]

    print(json.dumps(detail))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }))
    return 0


def layer_values(wl, tr, stats, setup, untraced, traced, info, ncpu) -> dict:
    """Per-layer metrics of the traced run. Layers a workload does not
    run read 0."""
    from spans import merge
    from workloads import QueryMix

    v = defaultdict(float)
    v["session.import_s"], v["session.start_s"], v["session.first_job_s"] = setup
    wall = traced[0]
    p = merge(stats, tr.subtree("pass"))
    v.update({
        "spark.executor_run_s": p.run_s,
        "spark.executor_cpu_s": p.cpu_s,
        "spark.gc_s": p.gc_s,
        "spark.deserialize_s": p.deserialize_s,
        "spark.python_start_s": p.metric("time to start Python workers"),
        "spark.python_init_s": p.metric("time to initialize Python workers"),
        "spark.python_run_s": p.metric("time to run Python workers"),
        "spark.shuffle_write_bytes": p.shuffle_write_bytes,
        "spark.shuffle_fetch_wait_s": p.fetch_wait_s,
        "spark.spill_bytes": p.spill_bytes,
        "spark.tasks": p.tasks,
        "spark.jobs": len(p.jobs),
        "spark.idle_core_frac": 1 - p.run_s / (ncpu * wall),
        "trace.overhead_frac": wall / untraced - 1,
    })
    if isinstance(wl, QueryMix):
        for name in wl.NAMES:
            q = f"query.{name}"
            v[f"{q}.s"] = tr.seconds(q)
            v[f"{q}.build_s"] = tr.seconds(f"{q}.build")
            v[f"{q}.plan_s"] = tr.seconds(f"{q}.plan")
            v[f"{q}.shuffle_bytes"] = merge(stats, tr.subtree(q)).shuffle_write_bytes
        v["pipeline.build_s"] = sum(v[f"query.{n}.build_s"] for n in wl.NAMES)
        v["pipeline.plan_s"] = sum(v[f"query.{n}.plan_s"] for n in wl.NAMES)
        v["pipeline.residual_s"] = wall - sum(v[f"query.{n}.s"] for n in wl.NAMES)
        v["pipeline.jobs"], v["pipeline.stages"] = len(p.jobs), len(p.stages)
        return v

    def g(name):
        return merge(stats, {name})

    seq, prof, ff, asof = g("sequences"), g("doc_profile"), g("frame_features"), g("asof")
    pipe = g("pass.pipeline")  # the analyze_sequences call of the traced pass
    kernel_rows = g("resume").metric("number of output rows", "kernel")
    v.update({
        "sequences.scan_s": tr.seconds("sequences"),
        "sequences.input_bytes": seq.metric("size of files read", "scan"),
        "sequences.scan_tasks": seq.tasks,
        "doc_profile.s": tr.seconds("doc_profile"),
        "doc_profile.python_run_s": prof.metric("time to run Python workers"),
        "doc_profile.arrow_bytes_sent": prof.metric("data sent to Python workers"),
        "frame_features.s": tr.seconds("frame_features"),
        "frame_features.python_run_s": ff.metric("time to run Python workers", "kernel"),
        "frame_features.python_start_s": ff.metric("time to start Python workers", "kernel"),
        "frame_features.arrow_bytes_sent": ff.metric("data sent to Python workers", "kernel"),
        "frame_features.arrow_bytes_returned": ff.metric("data returned from Python workers", "kernel"),
        "frame_features.frames_out": ff.metric("number of output rows", "kernel"),
        "frame_features.task_skew": ff.skew(),
        "asof.s": tr.seconds("asof"),
        "asof.rows_in": info["rows_in"],
        "asof.shuffle_write_bytes": asof.shuffle_write_bytes,
        "asof.spill_bytes": asof.spill_bytes,
        "sinks.write_s": tr.seconds("sinks.write"),
        "sinks.resume_s": tr.seconds("sinks.resume"),
        "sinks.files_written": info["files_written"],
        "sinks.bytes_written": info["bytes_written"],
        "sinks.jobs": len(g("sinks.write").jobs),
        "resume.useful_frac": info["resume_rows"] / kernel_rows,
        "pipeline.build_s": tr.seconds("pipeline.build"),
        "pipeline.plan_s": tr.seconds("pipeline.plan"),
        "pipeline.jobs": len(pipe.jobs),
        "pipeline.stages": len(pipe.stages),
    })
    v["pipeline.residual_s"] = wall - sum(
        v[k] for k in ("frame_features.s", "doc_profile.s", "sinks.write_s", "asof.s"))
    return v


if __name__ == "__main__":
    sys.exit(main())
