"""Benchmark of the stock-indicators engine, one workload per invocation.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 5 --trace 0

Run from the repository root. One client in a closed loop on
``local[$(nproc)]``: set up once, as a scheduled task does (stage the
inputs, boot the JVM and start the SparkSession), then the cold run,
then warm runs back to back while less than ``--seconds`` have passed
since the cold run started. Every run's output is checked outside the timed
region. With ``--trace 1`` at least one warm run follows the cold run,
then one more run cut at every layer boundary, and the per-layer
metrics are reported instead of the end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it record the seed, the inputs, the machine and every metric by name.
All files go to a scratch directory under the repository root, removed
on exit.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "stock_indicators_etl_spark"

#: name -> unit of every end-to-end metric (untraced runs only). Times
#: are CPU seconds of the driver, the JVM and the Python workers, which
#: exclude time the host steals from a shared machine; wall times are
#: printed beside them (EXTRA). ``setup_s`` covers input staging, the
#: JVM boot and the first ``get_spark``.
END_TO_END = {
    "setup_s": "s",
    "cold_run_cpu_s": "s",
}

#: printed for every run but not part of the result line
EXTRA = {
    "peak_rss_mb": "MB",
    "cold_run_s": "s",
    "run_s": "s",
    "rows_per_s": "1/s",
    "fail_ratio": "ratio",
}

#: name -> unit of every per-layer metric (traced run); a layer a
#: workload does not touch reports 0
PER_LAYER = {
    "session.start_s": "s",
    "sources.yahoo.download_s": "s",
    "sources.yahoo.tasks": "count",
    "sources.io.read_s": "s",
    "sources.io.write_s": "s",
    "sources.io.files_read": "count",
    "sources.io.files_written": "count",
    "sources.io.bytes_written": "B",
    "operators.timegrid.self_s": "s",
    "operators.timegrid.shuffle_write_bytes": "B",
    "operators.timegrid.fill_ratio": "ratio",
    "operators.rolling.self_s": "s",
    "operators.rolling.stages": "count",
    "operators.rolling.shuffle_write_bytes": "B",
    "operators.recursive.self_s": "s",
    "operators.recursive.executor_run_s": "s",
    "operators.recursive.shuffle_write_bytes": "B",
    "operators.pipeline.self_s": "s",
    "operators.pipeline.jobs": "count",
    "operators.pipeline.stages": "count",
    "operators.pipeline.tasks": "count",
    "operators.pipeline.executor_run_s": "s",
    "operators.pipeline.executor_cpu_s": "s",
    "operators.pipeline.spill_bytes": "B",
    "operators.pipeline.idle_ratio": "ratio",
    "llmdata.dedup.candidates_s": "s",
    "llmdata.dedup.candidate_pairs": "count",
    "llmdata.dedup.max_bucket": "count",
    "llmdata.dedup.verify_s": "s",
    "llmdata.dedup.verified_pairs": "count",
    "llmdata.dedup.verify_yield": "ratio",
    "llmdata.dedup.cc_s": "s",
    "llmdata.dedup.cc_jobs": "count",
    "llmdata.dedup.survivors_s": "s",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
}


class ProcTree:
    """CPU time and peak resident memory of this process and all its
    descendants (the JVM and its Python workers), read from /proc."""

    def __init__(self):
        self.root = os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")

    def _stats(self) -> dict[int, list[str]]:
        stats = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        stats[int(entry)] = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    pass  # the process ended while we looked
        tree, grew = {self.root}, True
        while grew:
            grew = False
            for pid, st in stats.items():
                if int(st[1]) in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return {pid: stats[pid] for pid in tree if pid in stats}

    def cpu_s(self) -> float:
        """User + system CPU seconds of the live tree, including children
        it has reaped. Time the host steals from this machine is not in it."""
        return sum(
            sum(int(x) for x in st[11:15]) for st in self._stats().values()
        ) / self.tick

    def peak_rss_mb(self) -> float:
        """Sum of the processes' resident high-water marks (VmHWM)."""
        kb = 0
        for pid in self._stats():
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
            except OSError:
                pass
        return kb / 1024.0


def git_revision() -> str:
    try:
        top = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return top[1] if len(top) == 2 and os.path.samefile(top[0], ROOT) else "unknown"


def start_session(work: str):
    from stock_indicators_etl_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={"spark.sql.warehouse.dir": f"{work}/warehouse"})


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Times, checks and counts the runs of one workload."""

    def __init__(self, workload, work: str, tree: ProcTree):
        self.w = workload
        self.work = work
        self.tree = tree
        self.n = 0
        self.attempted = 0
        self.failed = 0

    def _out(self) -> str:
        self.n += 1
        return os.path.join(self.work, "out", str(self.n))

    def _verify(self, out: str, ok: bool) -> None:
        self.attempted += 1
        if ok:
            try:
                problems = self.w.check(out)
            except Exception:
                problems = [traceback.format_exc()]
            for p in problems:
                print(f"check failed: {p}", file=sys.stderr)
            ok = not problems
        self.failed += not ok
        shutil.rmtree(out, ignore_errors=True)

    def run(self, spark, before_check=lambda: None) -> tuple[float, float]:
        """One untraced run; returns its wall and CPU seconds."""
        out = self._out()
        self.w.reset()
        ok = True
        cpu0, t0 = self.tree.cpu_s(), time.perf_counter()
        try:
            self.w.run(spark, out)
        except Exception:
            traceback.print_exc()
            ok = False
        wall, cpu = time.perf_counter() - t0, self.tree.cpu_s() - cpu0
        before_check()
        self._verify(out, ok)
        return wall, cpu

    def traced(self, spark, tracer) -> dict[str, float]:
        out = self._out()
        self.w.reset()
        tracer.new_run()
        try:
            layers = self.w.traced_run(spark, tracer, out)
        except Exception:
            traceback.print_exc()
            self._verify(out, False)
            return {}
        self._verify(out, True)
        return {"trace.run_s": tracer.get("run").seconds, **layers}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the tests run at a tiny scale)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found next to {os.path.basename(HERE)}/; run from a checkout",
              file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    import workloads
    from spans import Span, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    make = workloads.WORKLOADS[args.workload]

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything Spark, the JVM and the Python workers write stays in the work dir
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the spark-submit launcher too: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
        ),
    })

    tree = ProcTree()
    spark = None
    peak = {}
    try:
        cpu0, t0 = tree.cpu_s(), time.perf_counter()
        wl = make(args.seed, args.scale)
        wl.stage(os.path.join(work, "input"))
        t1 = time.perf_counter()
        spark = start_session(work)
        t2 = time.perf_counter()
        setup_cpu = tree.cpu_s() - cpu0
        session = Span("session", t1, t2)
        master = spark.sparkContext.master
        runner = Runner(wl, work, tree)
        t_runs = time.perf_counter()
        # read before the first check, which loads the reference into this process
        cold, cold_cpu = runner.run(spark, lambda: peak.setdefault("mb", tree.peak_rss_mb()))
        warm = []
        while time.perf_counter() - t_runs < args.seconds or (args.trace and not warm):
            warm.append(runner.run(spark))
        e2e = {"setup_s": setup_cpu, "cold_run_cpu_s": cold_cpu}
        extra = {"peak_rss_mb": peak["mb"], "cold_run_s": cold}
        if warm:
            run_s = statistics.median(w for w, _ in warm)
            extra.update({"run_s": run_s, "rows_per_s": wl.rows / run_s})
        layers = {}
        if args.trace:
            layers = dict.fromkeys(PER_LAYER, 0)
            layers["session.start_s"] = session.seconds
            tracer = Tracer(spark.sparkContext)
            layers.update(runner.traced(spark, tracer))
            for span in (session, *tracer.spans):
                print(json.dumps({"span": span.record()}))
            if layers["trace.run_s"]:
                layers["trace.overhead_s"] = layers["trace.run_s"] - extra["run_s"]
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run shares it

    fail_ratio = runner.failed / runner.attempted
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "trace": args.trace, "nproc": nproc, "master": master,
        "git_revision": git_revision(), "setup_wall_s": t2 - t0, "staging_s": t1 - t0,
        "warm_runs_s": [w for w, _ in warm], "warm_runs_cpu_s": [c for _, c in warm],
        "fail_ratio": fail_ratio, **wl.info,
    }
    print(json.dumps({"info": info}))
    units = {**END_TO_END, **EXTRA, **PER_LAYER}
    for name, value in (*e2e.items(), *extra.items(), ("fail_ratio", fail_ratio), *layers.items()):
        print(f"{name:42s} {value:>16.6g} {units[name]}")
    metrics = layers if args.trace else e2e
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
