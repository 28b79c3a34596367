"""The three workloads.  Each is a closed loop with one client: the next
operation starts when the previous one returns.  How many operations a run
makes comes from ``--seconds`` alone (the ``*_PER_S`` constants below were
fitted on a 4-CPU box), never from how fast earlier operations went, so two
commits always do identical work.

Every workload reports the same end-to-end metrics:

- ``prepare_s``: how long preparing data takes.  Pipelines: the median
  ``Pipeline.ingest()`` + ``Pipeline.promote()`` of one batch.  Query mix:
  the sum of each curation query's median latency.
- ``query_s``: how long an analytic SQL read takes.  Pipelines: the median
  ``register_prepared_table`` + one grouped aggregate over
  ``Pipeline.prepared()``.  Query mix: the sum of each SQL query's median
  latency.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import inputs
import oracle
import stats

SQL_QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume", "events_funnel")
CURATION_QUERIES = (
    "graph_personalized_pagerank",  # driver round-trips
    "text_quality_classifier",  # driver round-trips
    "multimodal_jpeg_phash",  # Python UDF
    "tokenizer_unigram_apply",  # Arrow pandas UDF
    "txn_merge_full_sync",  # txn writes beside the reads
)


@dataclass
class Ctx:
    spark: object
    run_dir: str
    seed: int
    seconds: int
    tracer: object | None  # spans.Tracer in a traced run
    log: object  # callable(str) for diagnostics on stderr
    attempted: int = 0
    failed: int = 0
    setup_end: float = 0.0  # perf_counter() when the first timed operation starts
    metrics: dict = field(default_factory=dict)  # end-to-end name -> value
    samples: dict = field(default_factory=dict)  # "prepare"/"query" -> timed samples
    layer: dict = field(default_factory=dict)  # storage counts for the trace

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def phase(self, name: str) -> None:
        self.log(f"{name} phase starts")
        if self.tracer:
            self.tracer.phase = name

    def fail(self, what: str) -> None:
        self.failed += 1
        self.log(f"FAILED: {what}")


def _files(root: str, suffix: str = ".parquet") -> list[Path]:
    return [p for p in Path(root).rglob(f"*{suffix}") if p.is_file()] if os.path.isdir(root) else []


# ---------------------------------------------------------------- pipelines
@dataclass(frozen=True)
class PipelineShape:
    rows: int  # rows per batch (the whole Derby view)
    warmup_batches: int
    batches_per_s: float
    min_batches: int
    warmup_reads: int
    reads_per_s: float
    min_reads: int


# The first batches and reads of a JVM are slow while the JIT warms up; the
# untimed warm-up takes the worst of that out of the timed medians.
SMALL = PipelineShape(
    rows=5_000, warmup_batches=2, batches_per_s=0.6, min_batches=6,
    warmup_reads=4, reads_per_s=0.5, min_reads=5,
)
LARGE = PipelineShape(
    rows=1_000_000, warmup_batches=1, batches_per_s=0.2, min_batches=3,
    warmup_reads=3, reads_per_s=0.4, min_reads=5,
)


def run_pipeline(ctx: Ctx, shape: PipelineShape) -> None:
    from aws_genaric_datapipeline_spark import catalog
    from aws_genaric_datapipeline_spark.config import ColumnSpec, PipelineConfig, SourceSpec
    from aws_genaric_datapipeline_spark.pipeline import Pipeline, States
    from aws_genaric_datapipeline_spark.pipeline.jobs import PART_KEY

    import pyspark.sql.functions as F

    spark, run = ctx.spark, ctx.run_dir
    batches = max(shape.min_batches, round(ctx.seconds * shape.batches_per_s))
    reads = max(shape.min_reads, round(ctx.seconds * shape.reads_per_s))

    url = "jdbc:derby:memory:srcdb"
    inputs.seed_derby(spark._jvm, url + ";create=true", ctx.seed, shape.rows)
    expected = inputs.expected_source_aggregate(ctx.seed, shape.rows)
    cfg = PipelineConfig(
        template="cds_view",
        project="pipebench",
        subject="cds",
        job_src="cds_src",
        source=SourceSpec(
            kind="jdbc",
            view="src",
            url=url,
            driver="org.apache.derby.jdbc.EmbeddedDriver",
            partition_column="id",
            num_partitions=4,
        ),
        raw_path=f"{run}/raw",
        prepared_path=f"{run}/prepared",
        state_path=f"{run}/state",
        table_name="cds_prepared",
        schema=tuple(ColumnSpec(n, t) for n, t in inputs.SOURCE_COLUMNS),
    )
    pipe = Pipeline(spark, cfg)

    def batch() -> list:
        batch_id = pipe.ingest()
        return [batch_id, pipe.promote()]

    def prepared_query() -> dict:
        catalog.register_prepared_table(spark, cfg)
        rows = (
            pipe.prepared()
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("qty"), F.sum("amount").alias("amount"))
            .collect()
        )
        return {r["category"]: (r["n"], r["qty"], int(r["amount"] * 100)) for r in rows}

    # warm-up, untimed: throw-away batches
    for _ in range(shape.warmup_batches):
        with ctx.span("op.batch"):
            batch()

    ctx.phase("timed")
    ctx.setup_end = time.perf_counter()
    batch_s, batch_ids, bad_batches = [], [], set()
    for _ in range(batches):
        ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.span("op.batch"):
                batch_id, promoted = batch()
        except Exception as e:  # a failed batch is counted, the run goes on
            ctx.fail(f"batch raised {e!r}")
            continue
        batch_s.append(time.perf_counter() - t0)
        batch_ids.append(batch_id)
        if promoted != [batch_id]:
            bad_batches.add(batch_id)
            ctx.fail(f"batch {batch_id}: promote() returned {promoted}")
    k = shape.warmup_batches + batches  # warm-up batches are in the prepared layer too
    want = {c: tuple(k * v for v in agg) for c, agg in expected.items()}
    # Reads plan one scan per batch partition, a plan the batches never
    # built; untimed reads first let the JIT settle on it.
    ctx.phase("warm-up")
    for _ in range(shape.warmup_reads):
        with ctx.span("op.prepared_query"):
            prepared_query()
    ctx.phase("timed")
    query_s = []
    for _ in range(reads):
        ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.span("op.prepared_query"):
                got = prepared_query()
        except Exception as e:
            ctx.fail(f"prepared query raised {e!r}")
            continue
        query_s.append(time.perf_counter() - t0)
        if got != want:
            ctx.fail(f"prepared aggregate {got} != {k} x Derby aggregate {want}")

    # checks, untimed
    ctx.phase("check")
    current = {
        r["batch_id"]: r["state"]
        for r in pipe.state.current().where(F.col("job_src") == cfg.job_src).collect()
    }
    pending = pipe.state.pending(cfg.job_src)
    if pending:
        ctx.fail(f"{len(pending)} batches still pending")
    raw_n = dict(spark.read.parquet(cfg.raw_path).groupBy(PART_KEY).count().collect())
    prep_n = dict(spark.read.parquet(cfg.prepared_path).groupBy(PART_KEY).count().collect())
    for b in batch_ids:
        if b in bad_batches:
            continue
        if current.get(b) != States.PREPARED_COMPLETED or not (raw_n.get(b) == prep_n.get(b) == shape.rows):
            ctx.fail(f"batch {b}: state {current.get(b)}, raw {raw_n.get(b)}, prepared {prep_n.get(b)}")

    ctx.metrics["prepare_s"] = stats.median(batch_s)
    ctx.metrics["query_s"] = stats.median(query_s)
    ctx.samples = {"prepare": batch_s, "query": query_s}
    prepared_bytes = sum(p.stat().st_size for p in _files(cfg.prepared_path))
    ctx.layer["raw.files"] = len(_files(cfg.raw_path))
    ctx.layer["prepared.files"] = len(_files(cfg.prepared_path))
    ctx.layer["state.log_files"] = len(_files(cfg.state_path))
    ctx.layer["prepared.bytes_per_source_byte"] = prepared_bytes / (
        k * inputs.source_value_bytes(ctx.seed, shape.rows)
    )


def pipeline_small_batches(ctx: Ctx) -> None:
    run_pipeline(ctx, SMALL)


def pipeline_large_batches(ctx: Ctx) -> None:
    run_pipeline(ctx, LARGE)


# ---------------------------------------------------------------- query mix
PASSES_PER_S = 1 / 12
MIN_PASSES = 2


def query_mix(ctx: Ctx) -> None:
    from aws_genaric_datapipeline_spark.queries import QUERIES

    spark = ctx.spark
    passes = max(MIN_PASSES, round(ctx.seconds * PASSES_PER_S))
    sf_dir = os.path.join(ctx.run_dir, "fixture")
    inputs.write_fixture(sf_dir, ctx.seed)
    names = SQL_QUERIES + CURATION_QUERIES
    rng = random.Random(ctx.seed)
    orders = [rng.sample(names, len(names)) for _ in range(passes + 1)]

    def run_query(name: str):
        with ctx.span(f"query.{name}.build"):
            df = QUERIES[name].fn(spark, sf_dir)
        with ctx.span(f"query.{name}.action"):
            rows = df.collect()
        return rows, df.columns

    # warm-up, untimed: one cold pass
    for name in orders[0]:
        with ctx.span("op.query"):
            run_query(name)
        spark.catalog.clearCache()

    ctx.phase("timed")
    ctx.setup_end = time.perf_counter()
    latency: dict[str, list[float]] = {n: [] for n in names}
    digests: dict[str, list[str]] = {n: [] for n in names}
    pass_s = {"sql": [0.0] * passes, "curation": [0.0] * passes}
    for p in range(passes):
        for name in orders[p + 1]:
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.span("op.query"):
                    rows, columns = run_query(name)
            except Exception as e:
                ctx.fail(f"{name} raised {e!r}")
                continue
            dt = time.perf_counter() - t0
            latency[name].append(dt)
            pass_s["sql" if name in SQL_QUERIES else "curation"][p] += dt
            digests[name].append(oracle.digest(rows, columns))
            spark.catalog.clearCache()

    ctx.phase("check")
    check_digests(ctx, digests, {n: QUERIES[n].oracle for n in names}, sf_dir, oracle.load_stored())

    ctx.metrics["prepare_s"] = sum(stats.median(latency[n]) for n in CURATION_QUERIES)
    ctx.metrics["query_s"] = sum(stats.median(latency[n]) for n in SQL_QUERIES)
    ctx.samples = {"prepare": pass_s["curation"], "query": pass_s["sql"]}


def check_digests(ctx: Ctx, digests: dict, oracles: dict, sf_dir: str, stored: dict) -> int:
    """Count every result whose digest differs from its query's oracle as a
    failed operation; returns how many did."""
    fails = 0
    for name, got in digests.items():
        want = oracle.expected_digest(name, oracles[name], sf_dir, inputs.FIXTURE_VERSION, stored)
        for g in got:
            if g != want:
                fails += 1
                ctx.fail(f"{name}: result differs from its DuckDB oracle")
    return fails


WORKLOADS = {
    "pipeline_small_batches": pipeline_small_batches,
    "pipeline_large_batches": pipeline_large_batches,
    "query_mix": query_mix,
}
