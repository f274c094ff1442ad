"""Benchmark runner: one workload, one seed, one JSON result line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload offline_batch --seed 1 --seconds 10 --trace 0

Workloads and metrics are listed in BENCHMARK.json; their sizing and
rationale live in perfbench/spec.json. The run builds nothing: the
program is the ``pg_textsearch_spark`` package at the checkout root.
It writes only under ``.perfbench/`` in the checkout, stops the Spark
JVM, every pool worker and every other process it started, orphans
included, waits until each has ended, and prints a report followed by
one JSON line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans recorded around the program's public
calls and written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent



class Run:
    """State of one benchmark run, handed to the workload function."""

    def __init__(self, args, spec: dict, work: Path, tracer):
        import inputs
        import sysinfo

        self.t_begin = time.perf_counter()
        self.seed = args.seed
        self.seconds = args.seconds
        self.spec = spec
        self.work = str(work)
        self.tracer = tracer
        self.workers = sysinfo.cpu_count()
        self.spark_cores = min(self.workers, spec["spark_cores"])
        self.vocab = inputs.Vocab(spec["vocab"])
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.closers: list = []
        #: summed seconds of the run's set-up segments
        self.setup_s = 0.0
        self.t_setup = None
        self.set_up = False
        #: query id -> text of the queries whose answers are checked
        self.checked_queries: dict[str, str] = {}
        #: (phase, seconds since the run began), for the report
        self.phases: list[tuple[str, float]] = []

    def mark(self, phase: str) -> None:
        self.phases.append((phase, time.perf_counter() - self.t_begin))

    def deadline(self, op_seconds: float) -> float:
        """An operation's deadline, capped by what is left of the run."""
        left = self.spec["run_cap_s"] - (time.perf_counter() - self.t_begin)
        return max(1.0, min(op_seconds, left))

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)

    def start_spark(self) -> None:
        from pg_textsearch_spark.session import get_spark

        self.begin_setup()
        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.spark_cores}]",
            shuffle_partitions=2 * self.spark_cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                # a fixed-size heap keeps the JVM's resident size from
                # following the garbage collector's resizing decisions;
                # released direct (Arrow, Netty) buffers are freed only
                # by a collection, which their cap forces early, so their
                # garbage cannot pile up to a heap's worth of memory
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -Xms{self.spec['driver_mem']} "
                    f"-XX:MaxDirectMemorySize={self.spec['direct_mem']}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.mark("spark started")

    def begin_setup(self) -> None:
        self.t_setup = time.perf_counter()

    def setup_done(self) -> None:
        """Close a set-up segment; everything in one counts in setup_s."""
        self.setup_s += time.perf_counter() - self.t_setup
        self.t_setup = None
        self.set_up = True
        self.mark("setup done")

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def close(self) -> None:
        import sysinfo

        for close in list(self.closers):
            close()
        self.closers.clear()
        self.stop_spark()
        sysinfo.stop_resource_tracker()


def _set_environment(work: Path, spec: dict) -> None:
    (work / "tmp").mkdir(parents=True)
    # Python temp files outlive the run: the program compiles its native
    # codec helper once per temp dir, as it would once per host
    tmp = work.parent / "tmp"
    tmp.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = spec["driver_mem"]
    # few malloc arenas: the JVM's native allocations otherwise spread
    # over one arena per thread and its resident size swings run to run
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [str(ROOT), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    sys.path.insert(0, str(ROOT))


def _environment_record(run) -> dict:
    import pyspark

    import sysinfo

    return {
        "nproc": sysinfo.cpu_count(),
        "ram_gib": sysinfo.ram_gib(),
        "spark_master": f"local[{run.spark_cores}]",
        "serve_pool_workers": run.workers,
        "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pg_textsearch_spark" / "__init__.py").is_file():
        print(f"perfbench: no pg_textsearch_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((HERE / "spec.json").read_text())
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}

    import sysinfo
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_root = ROOT / ".perfbench"
    work = out_root / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    tag = sysinfo.tag_run()
    _set_environment(work, spec)
    tracer = Tracer(enabled=bool(args.trace))
    run = Run(args, spec, work, tracer)
    probe_pre = sysinfo.hw_probe()
    steal_pre = sysinfo.cpu_steal_s()
    e2e, layers, report = {}, {}, {}
    error = None
    try:
        with sysinfo.RssSampler() as rss:
            try:
                e2e, layers, report = workloads.WORKLOADS[args.workload](run)
            except Exception as exc:
                if not run.set_up:
                    raise  # the program could not even be set up
                error = "".join(traceback.format_exception_only(exc)).strip()
                traceback.print_exc(file=sys.stderr)
                run.attempted += 1
                run.failed += 1
                run.failures.append(error)
            finally:
                env = _environment_record(run)
                run.close()
    finally:
        # every process the run started, also one its parent left behind
        stragglers = sysinfo.stop_run_processes(tag, 15)
        shutil.rmtree(work, ignore_errors=True)
    if stragglers:
        run.failures.append(f"processes killed at the end: {stragglers}")
        run.failed += 1
    steal_s = sysinfo.cpu_steal_s() - steal_pre
    probe_post = sysinfo.hw_probe()

    e2e["setup_s"] = run.setup_s
    e2e["peak_rss_mb"] = rss.peak_mb
    measured = time.perf_counter() - run.t_begin - run.setup_s
    layers["trace.overhead_frac"] = tracer.bookkeeping_s / measured

    env.update(probe_pre=probe_pre, probe_post=probe_post,
               cpu_steal_s=round(steal_s, 2))
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print("environment (report only): " + json.dumps(env))
    print("peak RSS split (MB, report only): " + json.dumps(
        {k: round(v, 1) for k, v in rss.peak_split.items()}
    ))
    print("phases (s since start): " + ", ".join(
        f"{name} {t:.1f}" for name, t in run.phases + [("end", time.perf_counter() - run.t_begin)]
    ))
    for name, unit in e2e_units.items():
        print(f"  {name} = {e2e.get(name, float('nan'))} {unit}")
    for name, (value, unit) in report.items():
        print(f"  [{args.workload}] {name} = {value} {unit}")
    fail_frac = run.failed / max(run.attempted, 1)
    print(f"  fail_frac = {fail_frac} ratio ({run.failed}/{run.attempted})")
    for f in run.failures[:20]:
        print(f"  FAILED: {f}")
    if args.trace:
        (out_root / "traces").mkdir(parents=True, exist_ok=True)
        path = out_root / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
        tracer.dump(str(path), {"environment": env, "end_to_end_traced": e2e,
                                "per_layer": layers})
        print(f"  spans written to {path.relative_to(ROOT)}")
        print(f"  tracing overhead: {layers['trace.overhead_frac']} of the "
              f"measured phase; traced end-to-end figures above compare "
              f"with an untraced run of the same seed")

    if args.trace:
        metrics = {
            name: {"value": float(layers.get(name, 0.0)), "unit": unit}
            for name, unit in layer_units.items()
        }
    else:
        metrics = {
            name: {"value": float(e2e.get(name) or 0.0), "unit": unit}
            for name, unit in e2e_units.items()
        }
    print(json.dumps({
        "correct": run.failed == 0 and error is None,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
