"""Workload benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

runs one workload in a fresh process on Spark ``local[<nproc>]``: set-up
(session start, warm-up, fixtures), then timed rounds until ``--seconds``
of them have elapsed, then the correctness checks. Human-readable lines
start with ``#``; the last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of ``BENCHMARK.json`` when ``--trace 0``, its
``per_layer`` metrics when ``--trace 1``.

    python3 perfbench/run.py --steadiness --workload <name> --runs 10 --seconds <s>

runs two sets of untraced runs and reports, per end-to-end metric, both
medians, their quartiles and whether the sets agree within the bound.

Works from any directory. Everything a run writes (generated tables,
sinks, Spark local dirs, shared-stage files, temp files) goes under
``.perfbench/run-<pid>`` in the checkout and is removed at exit; traces
go to ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _load_spec() -> tuple[dict, dict]:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "spec.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as exc:
        _fail(f"cannot read the benchmark definition: {exc}")
    return bench, spec


def _isolate(scratch: str, cores: int) -> None:
    """Point every temp and spill location of this process, the JVM and
    the Python workers at ``scratch``, and make the package importable
    by the workers (they do not inherit this process's ``sys.path``)."""
    os.makedirs(scratch)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = scratch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _environment(spark, cores: int) -> dict:
    import duckdb
    import pyarrow

    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": conf.get("spark.driver.memory"),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when this pipe breaks
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, bench: dict, spec: dict) -> tuple[dict, dict]:
    import numpy as np

    import metrics
    from spans import RssSampler, SparkProbe, Tracer

    sys.path.insert(0, ROOT)
    try:
        from fitness_data_ingest_spark.ingest.datasource import RestDataSource
        from fitness_data_ingest_spark.session import get_spark
        from workloads import WORKLOADS, Context
    except ImportError as exc:
        _fail(f"the engine package is not importable from {ROOT}: {exc}")
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _isolate(scratch, cores)

    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        # the sampler scans all of /proc; untraced runs report no memory
        with RssSampler() if args.trace else contextlib.nullcontext() as rss:
            with tracer.span("session.start"):
                spark = get_spark(
                    app_name="perfbench",
                    master=f"local[{cores}]",
                    extra_conf={
                        "spark.ui.showConsoleProgress": "false",
                        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
                    },
                )
                spark.dataSource.register(RestDataSource)
            with tracer.span("session.warmup"):
                spark.range(0, 2_000_000, numPartitions=cores).selectExpr(
                    "id % 1000 AS k", "id * 2 AS v"
                ).groupBy("k").sum("v").collect()
            ctx = Context(
                spark=spark,
                tracer=tracer,
                scratch=scratch,
                cores=cores,
                rng=np.random.default_rng(args.seed),
                probe=SparkProbe(spark.sparkContext) if args.trace else None,
            )
            wl = WORKLOADS[args.workload]()
            with tracer.span("bench.setup"):
                ok, _ = ctx.attempt(wl.name, "setup", lambda: wl.setup(ctx), counted=False)
            if not ok:
                _fail(f"set-up failed: {ctx.failures[-1]['message']}", code=3)
            rounds = metrics.run_rounds(ctx, wl, args)
            env = _environment(spark, cores)
            extra = wl.check(ctx)
        report = metrics.report(
            args, bench, spec, wl, ctx, rounds, tracer, extra,
            rss.peak_bytes if rss else None, PROCESS_START,
        )
        if args.trace:
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{tracer.run_id}.jsonl"))
        return report, env
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steadiness", action="store_true")
    p.add_argument("--runs", type=int, default=10)
    args = p.parse_args(argv)

    bench, spec = _load_spec()
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        _fail(f"unknown workload {args.workload!r}; choose from {names}")
    if args.seconds is None:
        args.seconds = float(bench["run_seconds"])
    if args.seconds <= 0:
        _fail("--seconds must be positive")
    if args.steadiness:
        import steady

        return steady.main(args, bench, HERE)

    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    report, env = measure(args, bench, spec)
    for line in report.pop("summary"):
        print(f"# {line}")
    print(f"# env {json.dumps(env, sort_keys=True)}")
    print(json.dumps(report), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
