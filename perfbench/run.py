#!/usr/bin/env python3
"""Benchmark of layout_parser_spark: one command, one workload per call.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The inputs are generated from the seed
and cached under ``.perfbench_cache/``, which also holds Spark's local
directories, temporary files and the trace files.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it, starting with ``#``, give the host context and each
metric's median, high percentile and sample count.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

from perfbench import gen, probe, work  # noqa: E402

#: end-to-end metrics: name -> unit
E2E = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "doc/s",
    "cpu_s_per_kdoc": "s",
}

#: per-layer metrics of BENCHMARK.json: name -> unit.  A layer a workload
#: does not run reads 0 on that workload.
PER_LAYER = {
    "setup.cold_s": "s",
    "process.peak_rss_mb": "MB",
    "input.build_s": "s",
    "trace.overhead_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "udf.python_s": "s",
    "udf.bytes_to_python": "B",
    "udf.bytes_from_python": "B",
}
for _w in work.BENCHMARK_WORKLOADS:
    PER_LAYER.update(work.WORKLOADS[_w][0].LAYERS)

MAX_CORES = 4


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(") ", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(work.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="input size in docs (default: the workload's)")
    return ap.parse_args(argv)


class Bench:
    """The Spark session and the cache directory a workload runs with."""

    def __init__(self, cache: str, cores: int, seed: int, run_id: str):
        self.cache = cache
        self.cores = cores
        self.seed = seed
        self.spark = None
        self.tracer = probe.Tracer(run_id, enabled=False)

    def conf(self):
        # the program's own session defaults (driver memory included), with
        # Spark's files kept inside the cache directory
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.cache, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.cache, "warehouse"),
        }

    def start(self):
        """Start the session and warm it up to running Python workers
        through an Arrow UDF on every core."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from layout_parser_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]", extra_conf=self.conf())

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        n = self.spark.range(
            0, 64 * self.cores, numPartitions=self.cores
        ).select(plus_one("id").alias("x")).agg({"x": "sum"}).collect()[0][0]
        if n != sum(range(1, 64 * self.cores + 1)):
            raise RuntimeError("warm-up UDF returned a wrong sum")

    def shutdown(self):
        """Stop the session and the JVM and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception as e:  # the JVM may already be gone
            print(f"# gateway shutdown: {e!r}", file=sys.stderr)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def canary(n_docs: int = 300, reps: int = 3) -> float:
    """Single-core segmentation throughput on a fixed input: a probe of the
    host's state during the run, not a metric."""
    import random

    from layout_parser_spark.plans.segment import parse_page_arrays
    from layout_parser_spark.sources.pages import render_page_html

    rng = random.Random(7)
    words = "the quick brown fox jumps over lazy dog spark arrow".split()
    docs = [
        render_page_html(i, " ".join(rng.choices(words, k=rng.randint(80, 400))))
        for i in range(n_docs)
    ]
    best = 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        for d in docs:
            parse_page_arrays(d)
        best = max(best, n_docs / (time.perf_counter() - t0))
    return best


def emit(line: str):
    print(line, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import layout_parser_spark  # noqa: F401
        import job  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2

    cache = os.path.join(ROOT, ".perfbench_cache")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(cache, d), exist_ok=True)
    # Temporary files of Python (the gateway's connection file, worker
    # spill) and of every JVM started from here stay inside the checkout;
    # the JVMs also keep their perf-data files out of /tmp.
    tmp = os.path.join(cache, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    context = {"run_id": run_id, "nproc": len(os.sched_getaffinity(0)),
               "loadavg_start": probe.loadavg()}
    # one core stays with the Spark driver (Python, py4j, the planner and
    # scheduler), which a cluster runs on a machine of its own
    cores = max(1, min(MAX_CORES, context["nproc"] - 1))
    context["cores"] = cores
    bench = Bench(cache, cores, args.seed, run_id)
    try:
        bench.start()
        # cold set-up: process start (interpreter, imports, JVM launch, py4j
        # gateway) until an Arrow UDF has run on every core
        setup_s = process_age()

        cls, build = work.WORKLOADS[args.workload]
        size = args.size or work.SIZES[args.workload]
        why = work.WHY[args.workload]
        input_dir, meta = gen.cached(
            cache, args.workload, args.seed, size,
            lambda out, s, n: build(out, s, n, why))
        context["input"] = meta
        context["canary_docs_per_s_start"] = canary()

        wl = cls(bench, input_dir, meta)
        if args.trace:
            units = {**PER_LAYER, **cls.LAYERS}
            metrics = traced(bench, wl, args.seconds, units)
            metrics["setup.cold_s"] = setup_s
            metrics["input.build_s"] = meta["cached_input_build_s"]
        else:
            res = work.closed_loop(wl, args.seconds)
            metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(res["wall_s"]),
                "docs_per_s": statistics.median(res["docs_per_s"]),
                "cpu_s_per_kdoc": statistics.median(res["cpu_s_per_kdoc"]),
            }
            for k in ("wall_s", "docs_per_s", "cpu_s_per_kdoc"):
                emit(f"# {k} {json.dumps(probe.summary(res[k]))}")
            emit(f"# peak_rss_mb {res['peak_rss_mb']:.1f}")
            units = E2E
        context["canary_docs_per_s_end"] = canary()
        context["loadavg_end"] = probe.loadavg()
        failed_frac = wl.outcome.failed / max(1, wl.outcome.attempted)
        emit(f"# failed_frac {failed_frac} "
             f"({wl.outcome.failed}/{wl.outcome.attempted})")
        emit("# context " + json.dumps(context))
    finally:
        bench.shutdown()
        shutil.rmtree(os.path.join(cache, "work"), ignore_errors=True)

    missing = [k for k in units if k not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    result = {
        "correct": wl.outcome.failed == 0 and wl.outcome.attempted > 0,
        "attempted": wl.outcome.attempted,
        "failed": wl.outcome.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    emit(json.dumps(result))
    return 0


def traced(bench, wl, seconds, units):
    """Untraced and traced operations in alternation, then the layer
    probes.  Returns every metric of ``units``; layers this workload does
    not run read 0."""
    tracer = bench.tracer
    counters = probe.SparkCounters(bench.spark)
    work.warm_up(wl)
    plain, traced_walls = [], []
    spark_tot = {}
    with probe.RssSampler() as rss:
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or not plain:
            tracer.enabled = False
            plain.append(work.timed_op(wl)[0])
            tracer.enabled = True
            with tracer.span("op.traced"):
                counters.mark()
                traced_walls.append(work.timed_op(wl)[0])
                for k, v in counters.read().items():
                    spark_tot[k] = spark_tot.get(k, 0.0) + v
    n = len(traced_walls)
    emit(f"# wall_s untraced {json.dumps(probe.summary(plain))}")
    emit(f"# wall_s traced {json.dumps(probe.summary(traced_walls))}")
    metrics = dict.fromkeys(units, 0.0)
    metrics["process.peak_rss_mb"] = rss.peak / 1e6
    metrics["trace.overhead_s"] = (
        statistics.median(traced_walls) - statistics.median(plain))
    for k, v in spark_tot.items():
        metrics[k if k.startswith("udf.") else f"spark.{k}"] = v / n
    with tracer.span("layers"):
        metrics.update(wl.layers())
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    tracer.counts.update(metrics)
    tracer.write(os.path.join(bench.cache, "traces", f"{tracer.run_id}.json"))
    return metrics


if __name__ == "__main__":
    sys.exit(main())
