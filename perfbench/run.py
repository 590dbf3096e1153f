"""Seeded closed-loop benchmark of bigartm_spark.

    python3 perfbench/run.py --workload kos_offline --seed 1 --seconds 5 --trace 0

From ``--seed`` it writes the workload's input files, sets up a Spark
session on ``local[2]`` several times, runs one untimed warm-up pass of
the workload's steps, then timed passes until ``--seconds`` have gone
(at least MIN_PASSES), as one closed-loop client (each step waits for
the previous one), checking every output of every pass. Each figure is
the median over the timed passes; a faster program that fits more
passes in does not move a median.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, from
one traced pass after the warm-up).
Everything it writes stays under ``.perfbench_work/`` in the current
directory, which it removes on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per run; setup_s is their median
# Spark task slots (local[N]): half the 4 cores a run gets, so the JVM's
# own threads, the Python driver and the host have room beside the tasks
# and the figures measure the program rather than the scheduler
SPARK_CPUS = max(1, min(2, (os.cpu_count() or 1) // 2))
MIN_PASSES = 1  # timed passes per untraced run, however long they take
MB = 1 << 20

# name -> unit; printed in this order. The end-to-end metrics are the same
# on every workload; what "primary" and "secondary" stand for on each
# workload is in README.md. Apart from setup_s they count CPU seconds of
# the process tree (less the JVM's JIT and GC threads) rather than wall
# seconds: on a shared host the wall time of one pass swings by a third
# from run to run, its CPU time less.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "primary_per_cpu_s": "1/s",
    "secondary_per_cpu_s": "1/s",
    "ok_ops_ratio": "ratio",
}

# the workload figures under the names the design uses, printed as
# report lines before the result (units per name)
REPORT_UNITS = {
    "timed_passes": "count", "run_s": "s", "cpu_s": "s", "prep_s": "s",
    "prep_rows_per_s": "rows/s", "prep_rows_per_cpu_s": "rows/s",
    "fit_nnz_per_s": "rows/s", "fit_nnz_per_cpu_s": "rows/s",
    "infer_docs_per_s": "docs/s", "infer_docs_per_cpu_s": "docs/s",
    "perplexity": "-", "clean_docs_per_s": "docs/s", "clean_docs_per_cpu_s": "docs/s",
    "dedup_docs_per_s": "docs/s", "dedup_recall": "ratio", "dedup_precision": "ratio",
    "stream_docs_per_s": "docs/s", "stream_docs_per_cpu_s": "docs/s",
    "stream_batch_p50_s": "s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CPUS)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _spark_conf(work: str) -> dict:
    return {
        # no hsperfdata file in the system temp dir; JIT compiler threads
        # that live as long as the JVM, so their CPU time can be left out
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of the run back from the stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _warm(spark, work: str) -> None:
    """Small jobs over the operators every workload uses (text scan,
    split, broadcast join, window, aggregate, cache), so the first call
    does not pay their one-off class loading and code generation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    path = os.path.join(work, "warm.txt")
    if not os.path.exists(path):
        with open(path, "w") as fh:
            fh.write("\n".join(f"{i} {i % 13} {i % 5 + 1}" for i in range(2000)))
    parts = F.split(F.col("value"), " ")
    rows = spark.read.text(path).select(
        F.get(parts, 0).cast("long").alias("d"),
        F.get(parts, 1).cast("long").alias("k"),
        F.get(parts, 2).cast("double").alias("w"),
    )
    keys = spark.range(13).withColumnRenamed("id", "k")
    w = Window.partitionBy("k").orderBy("d")
    df = rows.join(F.broadcast(keys), "k").withColumn("r", F.row_number().over(w)).cache()
    df.groupBy("k").agg(F.sum("w"), F.count(F.lit(1))).collect()
    df.unpersist()


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end
    (the JVM takes its Python workers down with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def one_pass(ctx, wl, inputs) -> dict:
    """The workload's steps in order. run_s and cpu_s are the sums of
    their timed parts (checks excluded)."""
    figs = {"run_s": 0.0, "cpu_s": 0.0}
    for step, inp in zip(wl.steps, inputs):
        ctx.inputs = inp
        f = step(ctx)
        log(f"{step.__name__}: {f['timed_s']:.2f}s, cpu {f['timed_cpu_s']:.2f}s")
        figs["run_s"] += f.pop("timed_s")
        figs["cpu_s"] += f.pop("timed_cpu_s")
        figs = {**f, **figs}
    figs["primary_per_cpu_s"] = figs[wl.primary]
    figs["secondary_per_cpu_s"] = figs[wl.secondary]
    return figs


def measure(ctx, wl, inputs, seconds: float, traced: bool) -> dict:
    """An untimed warm-up pass, then timed passes: one traced pass with
    ``traced``, else passes until ``seconds`` have gone and at least
    MIN_PASSES ran. Returns the last pass's figures with every number
    replaced by its median over the timed passes."""
    one_pass(ctx, wl, inputs)
    log("warm-up pass done")
    ctx.traced = ctx.tracer.enabled = traced
    passes, t0 = [], time.perf_counter()
    while not passes or not traced and (
            len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds):
        passes.append(one_pass(ctx, wl, inputs))
        log(f"pass {len(passes)}: run {passes[-1]['run_s']:.2f}s, "
            f"cpu {passes[-1]['cpu_s']:.2f}s")
    ctx.tracer.enabled = False
    figs = dict(passes[-1])
    for k, v in figs.items():
        if isinstance(v, (int, float)):
            figs[k] = statistics.median(p[k] for p in passes)
    figs["timed_passes"] = len(passes)
    return figs


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T_START:7.2f}s {msg}",
          file=sys.stderr, flush=True)


def setup(work: str):
    """Start a session and warm it, SETUPS times; keep the last one.
    Returns (spark, median set-up time, median session-start time)."""
    from bigartm_spark.session import get_spark

    totals, starts, spark = [], [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(work))
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        _warm(spark, work)
        totals.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
        log(f"set-up {i + 1}: start {t1 - t0:.2f}s, total {totals[-1]:.2f}s")
    return spark, statistics.median(totals), statistics.median(starts)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0,
                    help="time spent on timed passes (after the warm-up)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs (self-tests); figures are not comparable")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bigartm_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    from perfbench import gen, layers, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _prepare_env(work)
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload]
        sizes = gen.TINY if args.tiny else gen.Sizes()
        inputs = wl.make(args.seed, os.path.join(work, "inputs"), sizes)
        log("inputs written")
        ops = workloads.Ops()
        with trace.RssSampler() as rss:
            spark, setup_s, start_s = setup(work)
            tracer = trace.Tracer(spark.sparkContext, cpu_clock=rss.work_cpu_s)
            ctx = workloads.Ctx(spark, tracer, ops, args.seed, work, None, sizes)
            figs = None
            try:
                figs = measure(ctx, wl, inputs, args.seconds, bool(args.trace))
            except Exception as e:  # a step raised: count it
                ops.fail(f"{type(e).__name__}: {e}")
            layer = None
            if args.trace and figs:
                st = trace.collect(spark, tracer, figs.get("query_runs", {}))
                layer = layers.layer_metrics(
                    tracer, st, figs, start_s, list(figs.get("progress", {}).values()))
        peak_mb = rss.peak / MB
    finally:
        log("measured")
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    log("stopped")
    for f in ops.failures:
        print(f"# FAILED {f}")
    ok_ratio = 1.0 - ops.failed / max(ops.attempted, 1)
    figs = figs or {}
    figs["peak_rss_mb"] = peak_mb
    for name, unit in REPORT_UNITS.items():
        if name in figs:
            print(f"# {name} {figs[name]!r} {unit}")
    print(f"# failed_ops_ratio {1.0 - ok_ratio!r}")
    e2e = {"setup_s": setup_s, "ok_ops_ratio": ok_ratio,
           **{k: figs.get(k, 0.0) for k in ("cpu_s", "primary_per_cpu_s", "secondary_per_cpu_s")}}
    if args.trace:
        units = per_layer_units()
        layer = layer or {}
        layer["ops.failed_ratio"] = 1.0 - ok_ratio
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": bool(figs) and ops.failed == 0,
        "attempted": max(ops.attempted, 1),
        "failed": ops.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
