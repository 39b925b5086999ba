"""The benchmark workloads and their correctness checks.

Each workload is a fixed sequence of calls into the public functions of
``crm_etl_pipeline_spark``, run by one client, one call after another
(a closed loop). A pass runs the whole sequence once; every result is
materialized in full through the ``noop`` sink, never through
``count()``, so Catalyst cannot prune the columns an operation computes.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import pyarrow.parquet as pq


class OpFailed(Exception):
    """A timed call raised; already counted and logged."""


class Context:
    """What a pass needs: the session, the registry, the inputs, the
    tracer, and the attempted/failed counters of the run."""

    def __init__(self, spark, reg, sf_dir: str, tracer, work_dir: str) -> None:
        self.spark = spark
        self.reg = reg
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.work_dir = work_dir
        self.attempted = 0
        self.failed = 0
        self.pass_label = ""

    def call(self, name: str, fn, *args):
        """Run one public call under its span and job group. An exception
        is a failed operation: it is logged, counted and re-raised as
        ``OpFailed`` so the pass can skip what depended on it."""
        self.attempted += 1
        group = f"{self.pass_label}/{name}"
        with self.tracer.span(name, job_group=group, pass_label=self.pass_label):
            self.spark.sparkContext.setJobGroup(group, name)
            try:
                return fn(*args)
            except Exception as e:  # run boundary: record and go on
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                raise OpFailed(name) from e

    def check(self, name: str, holds) -> None:
        """Count one untimed correctness check; ``holds()`` returns whether
        it passed, and an exception from it is a failed check."""
        self.attempted += 1
        try:
            ok = holds()
        except Exception:  # run boundary: record and go on
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {name}", file=sys.stderr)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    """Read-only registry queries over the generated star schema."""

    def __init__(self, name: str, ops: tuple[str, ...], tables: tuple[str, ...]) -> None:
        self.name = name
        self.ops = ops
        self.tables = tables

    def oracle_sql(self, reg) -> dict[str, str]:
        return {op: reg[op].oracle for op in self.ops}

    @staticmethod
    def span_name(reg, op: str) -> str:
        module = reg[op].fn.__module__.removeprefix("crm_etl_pipeline_spark.")
        return f"{module}.{op}"

    def run_pass(self, ctx: Context) -> dict:
        for op in self.ops:
            fn = ctx.reg[op].fn
            try:
                ctx.call(self.span_name(ctx.reg, op), lambda: noop(fn(ctx.spark, ctx.sf_dir)))
            except OpFailed:
                continue
        return {}

    def verify(self, ctx: Context, digests: dict[str, str]) -> None:
        """Untimed: each operation's collected output against the DuckDB
        oracle digest of the same inputs."""
        from inputs import digest

        for op in self.ops:
            if op not in digests:
                continue  # unverified: reported by name, never passing

            def matches(op=op) -> bool:
                df = ctx.reg[op].fn(ctx.spark, ctx.sf_dir)
                return digest(df.columns, [tuple(r) for r in df.collect()]) == digests[op]

            ctx.check(f"oracle:{op}", matches)


def _tree_size(root: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class CdcWorkload:
    """The write path: the streaming SCD2 ingest with its retry queue
    and dead-letter queue, store maintenance, the serving read and a
    write-audit-publish of the current view, in a fresh workdir per
    pass (one pass is one ingest cycle)."""

    name = "cdc_ingest"
    tables = ("events", "customer")

    def __init__(self) -> None:
        self.last_workdir: str | None = None
        self.last_paths: dict | None = None

    def oracle_sql(self, reg) -> dict[str, str]:
        return {}  # checked by invariants instead, see verify

    def run_pass(self, ctx: Context) -> dict:
        from crm_etl_pipeline_spark import streaming, wap

        spark, sf_dir = ctx.spark, ctx.sf_dir
        workdir = os.path.join(ctx.work_dir, "cdc", ctx.pass_label)
        shutil.rmtree(workdir, ignore_errors=True)
        os.makedirs(workdir)
        if self.last_workdir:
            shutil.rmtree(self.last_workdir, ignore_errors=True)
        self.last_workdir, self.last_paths = workdir, None
        base = os.path.join(workdir, "base")
        out: dict = {}
        try:
            t0 = time.perf_counter()
            paths = ctx.call(
                "streaming.run_pipeline",
                lambda: streaming.run_pipeline(spark, sf_dir, workdir=workdir, drain_retries=False),
            )
            out["retry_passes"] = ctx.call(
                "streaming.drain_retry_queue", streaming.drain_retry_queue, spark, paths
            )
            ingest_s = time.perf_counter() - t0
            store = str(paths["store"])
            ctx.call(
                "streaming.read_converged_store",
                lambda: noop(streaming.read_converged_store(spark, store)),
            )
            ctx.call("streaming.compact_store", streaming.compact_store, spark, store, base)
            current = ctx.call(
                "streaming.current_view_merged",
                lambda: _materialized(streaming.current_view_merged(spark, base, store)),
            )
            freshness_s = time.perf_counter() - t0
            ctx.call("wap.publish", wap.publish, spark, current, os.path.join(workdir, "published"))
        except OpFailed:
            return out
        self.last_paths = paths
        n_events = pq.ParquetFile(f"{sf_dir}/events.parquet").metadata.num_rows
        in_bytes = sum(os.path.getsize(f"{sf_dir}/{t}.parquet") for t in self.tables)
        written, files = _tree_size(workdir)
        out.update(
            ingest_s=ingest_s,
            freshness_s=freshness_s,
            events_per_s=n_events / ingest_s,
            write_amp=written / in_bytes,
            bytes_written_mb=written / 2**20,
            files_written=files,
        )
        return out

    def verify(self, ctx: Context, digests: dict[str, str]) -> None:
        """Untimed invariants over the last cycle's outputs."""
        from pyspark.sql import functions as F

        from crm_etl_pipeline_spark import streaming, wap
        from crm_etl_pipeline_spark.io import table

        if self.last_paths is None:
            ctx.check("cdc:cycle_completed", lambda: False)
            return
        spark, paths, workdir = ctx.spark, self.last_paths, self.last_workdir
        events = table(spark, ctx.sf_dir, "events")

        def same_rows(a, b) -> bool:
            return a.count() == b.count() and a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

        def one_current_row_per_item() -> bool:
            store = streaming.read_converged_store(spark, str(paths["store"]))
            per_item = store.groupBy("item_id").agg(F.sum(F.col("is_current").cast("int")).alias("n"))
            return per_item.filter("n != 1").isEmpty()

        def completed_equals_processed_events() -> bool:
            want = events.filter(F.col("event_type").isin(*streaming.PROCESS_TYPES))
            got = spark.read.parquet(str(paths["completed"])).select(*want.columns)
            return same_rows(got, want)

        def dlq_covers_every_error_event() -> bool:
            first_attempts = F.floor(F.col("value")).cast("int") % 12 + 1
            want = events.filter(F.col("event_type") == "error").select(
                "event_id",
                F.greatest(first_attempts, F.lit(streaming.DLQ_THRESHOLD)).alias("failed_attempts"),
            )
            got = streaming.read_dlq(spark, paths, ctx.sf_dir).select("event_id", "failed_attempts")
            return same_rows(got, want)

        def published_equals_current_view() -> bool:
            published = wap.read_published(spark, os.path.join(workdir, "published"))
            current = streaming.current_view_merged(spark, os.path.join(workdir, "base"), str(paths["store"]))
            return same_rows(published, current)

        for holds in (
            one_current_row_per_item,
            completed_equals_processed_events,
            dlq_covers_every_error_event,
            published_equals_current_view,
        ):
            ctx.check(f"cdc:{holds.__name__}", holds)


def _materialized(df):
    """Materialize ``df`` through the noop sink and hand it on."""
    noop(df)
    return df


#: calls of crm_analytics, in pass order (see NOTES.md for why these)
CRM_OPS = (
    "pricing_summary",
    "flagship_segment_revenue",
    "copurchase_pagerank",
)

NAMES = ("crm_analytics", "cdc_ingest")


def make(name: str):
    """A fresh workload object by name."""
    if name == "crm_analytics":
        return QueryWorkload(name, CRM_OPS, ("lineitem", "orders", "events", "customer"))
    if name == "cdc_ingest":
        return CdcWorkload()
    raise KeyError(f"unknown workload {name!r}; have {NAMES}")
