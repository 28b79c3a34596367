"""Benchmark entry point.

    python3 pipebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository.  Prints one JSON object
as the last line of standard output: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics untraced, the per-layer metrics
traced).  Exits non-zero without printing a result when the package cannot
be imported or set-up fails.  See NOTES.md for what each workload measures.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

import stats  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
CHECKOUT = BENCH_DIR.parent
DRIVER_MEMORY = "4g"  # the package default (24g) does not fit a 15 GiB box
# Spark gets one core fewer than the box has, at most four: the driver's own
# Python process, JIT compiler and GC threads need the last one.  With all
# four cores to Spark on a 4-CPU box, a small batch took 1.30 s instead of
# 1.14 s and its run-to-run spread grew.
MAX_CORES = 4


def log(msg: str) -> None:
    print(f"[pipebench {time.perf_counter() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def isolate(run_dir: Path) -> dict[str, str]:
    """Point every place Spark, Derby and Python write to inside
    ``run_dir``; returns the Spark confs that do the same."""
    for sub in ("tmp", "local", "derby", "warehouse"):
        (run_dir / sub).mkdir()
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # Python workers must import the package from the checkout, wherever
    # the benchmark is started from.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(CHECKOUT), os.environ.get("PYTHONPATH", "")) if p
    )
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={run_dir / 'derby'} -Djava.io.tmpdir={run_dir / 'tmp'}"
        ),
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def instrument(tracer, workload: str) -> None:
    """Wrap the package's public functions where their callers look them up."""
    from aws_genaric_datapipeline_spark import catalog
    from aws_genaric_datapipeline_spark.pipeline import jobs, state

    tracer.wrap(jobs.Pipeline, "ingest", "pipeline.ingest")
    tracer.wrap(jobs.Pipeline, "promote", "pipeline.promote")
    tracer.wrap(jobs.Pipeline, "promote_batch", "pipeline.promote_batch")
    tracer.wrap(jobs.Pipeline, "prepared", "pipeline.prepared")
    tracer.wrap(state.StateStore, "append", "state.append")
    tracer.wrap(state.StateStore, "pending", "state.pending")
    tracer.wrap(jobs, "read_source", "readers.read_source")
    tracer.wrap(catalog, "register_prepared_table", "catalog.register")
    if workload == "query_mix":
        from aws_genaric_datapipeline_spark.queries import QUERIES

        for name in workloads.SQL_QUERIES + workloads.CURATION_QUERIES:
            module = sys.modules[QUERIES[name].fn.__module__]
            if not hasattr(module.load, "__wrapped__"):
                tracer.wrap(module, "load", "tables.load")


def layer_metrics(ctx, tracer, session_s: float, per_layer: list[dict]) -> dict:
    """Every per-layer metric named in BENCHMARK.json.  A layer the workload
    never calls reads 0."""
    def spans(name):
        return tracer.timed(name)

    def med(name, f):
        return stats.median([f(s) for s in spans(name)])

    out: dict[str, float] = {"session.start_s": session_s}
    for layer, span in (
        ("state.append", "state.append"),
        ("state.pending", "state.pending"),
        ("readers.read_source", "readers.read_source"),
        ("jobs.ingest", "pipeline.ingest"),
        ("jobs.promote_batch", "pipeline.promote_batch"),
        ("jobs.prepared", "pipeline.prepared"),
        ("catalog.register", "catalog.register"),
        ("tables.load", "tables.load"),
    ):
        out[f"{layer}_s"] = med(span, lambda s: s.duration)
        out[f"{layer}_self_s"] = med(span, tracer.self_seconds)
        out[f"{layer}_jobs"] = med(span, lambda s: tracer.total(s, "jobs"))
    batch_total = sum(s.duration for s in spans("op.batch"))
    state_total = sum(s.duration for n in ("state.append", "state.pending") for s in spans(n))
    out["state.share_of_batch"] = state_total / batch_total if batch_total else 0.0
    for key in ("state.log_files", "raw.files", "prepared.files", "prepared.bytes_per_source_byte"):
        out[key] = ctx.layer.get(key, 0)
    for q in workloads.SQL_QUERIES + workloads.CURATION_QUERIES:
        out[f"query.{q}.build_s"] = med(f"query.{q}.build", lambda s: s.duration)
        out[f"query.{q}.build_jobs"] = med(f"query.{q}.build", lambda s: tracer.total(s, "jobs"))
        out[f"query.{q}.action_s"] = med(f"query.{q}.action", lambda s: s.duration)
        for what in ("jobs", "stages", "tasks"):
            out[f"query.{q}.{what}"] = stats.median(
                [tracer.total(b, what) + tracer.total(a, what)
                 for b, a in zip(spans(f"query.{q}.build"), spans(f"query.{q}.action"))]
            )
    for kind in ("prepare", "query"):
        samples = ctx.samples[kind]
        pct, value = stats.tail(samples)
        out[f"{kind}.samples"] = len(samples)
        out[f"{kind}.tail_pct"] = pct
        out[f"{kind}.tail_s"] = value
        out[f"traced.{kind}_s"] = ctx.metrics[f"{kind}_s"]
    ops = ctx.attempted or 1
    out["trace.overhead_s"] = tracer.overhead.get("timed", 0.0) / ops
    units = {m["name"]: m["unit"] for m in per_layer}
    missing = set(units) - set(out)
    if missing:
        raise KeyError(f"per-layer metrics not computed: {sorted(missing)}")
    return {name: {"value": out[name], "unit": unit} for name, unit in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(CHECKOUT))
    try:
        import aws_genaric_datapipeline_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the package from {CHECKOUT}: {e}")
        return 2
    from aws_genaric_datapipeline_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    with open(CHECKOUT / "BENCHMARK.json") as f:
        spec = json.load(f)

    (BENCH_DIR / ".runs").mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=BENCH_DIR / ".runs"))
    spark = None
    try:
        conf = isolate(run_dir)
        cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0)) - 1))
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="pipebench", master=f"local[{cores}]", shuffle_partitions=2 * cores, extra_conf=conf
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        log(f"session started in {session_s:.2f}s")

        tracer = None
        if args.trace:
            tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
            instrument(tracer, args.workload)
        ctx = workloads.Ctx(spark, str(run_dir), args.seed, args.seconds, tracer, log)
        workloads.WORKLOADS[args.workload](ctx)
        for kind in ("prepare", "query"):
            log(f"{kind} samples: " + " ".join(f"{x:.3f}" for x in ctx.samples[kind]))
        setup_s = ctx.setup_end - PROCESS_START

        if args.trace:
            metrics = layer_metrics(ctx, tracer, session_s, spec["per_layer"])
            traces = BENCH_DIR / ".traces"
            traces.mkdir(exist_ok=True)
            tracer.write(str(traces / f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            values = dict(ctx.metrics, setup_s=setup_s)
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    finally:
        log("stopping")
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        log("stopped")

    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
