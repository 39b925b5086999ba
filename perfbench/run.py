#!/usr/bin/env python3
"""Benchmark of crm_etl_pipeline_spark: one workload, one seed, one run.

Run from the repository root:

    python3 perfbench/run.py --workload crm_analytics --seed 1 --seconds 15 --trace 0

One client runs the workload's calls one after another on
``local[nproc]``: a cold pass in the fresh JVM, an untimed correctness
pass, then warm passes until ``--seconds`` have passed (at least
``MIN_WARM_PASSES``). Inputs are generated from ``--seed`` and cached
under ``perfbench/.work``; nothing is read or written outside the
checkout.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it, ``perfbench-detail {...}``, records the effective
resources, per-call and per-pass timings, the cdc figures and the
unverified operations; the traced run also writes its spans.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"

#: scale factor of the generated inputs (tools/gen_scale.py units)
DEFAULT_SF = 0.01
MIN_WARM_PASSES = 2
MAX_WARM_PASSES = 50

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
#: the timed public calls of both workloads; each is reported per layer as
#: its median over the warm passes, and 0 on the workload that does not
#: make it (as are the cdc_ingest-only figures)
CALLS = (
    "queries.relational.pricing_summary",
    "queries.relational.flagship_segment_revenue",
    "queries.crm_q.copurchase_pagerank",
    "streaming.run_pipeline",
    "streaming.drain_retry_queue",
    "streaming.read_converged_store",
    "streaming.compact_store",
    "streaming.current_view_merged",
    "wap.publish",
)
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "io.table_scan_s": "s",
    "checkpointing.persistent_rdds": "count",
    "io.bytes_written_mb": "MB",
    "io.files_written": "count",
    "streaming.retry_passes": "count",
    **{f"{call}_s": "s" for call in CALLS},
    "events_per_s": "1/s",
    "freshness_s": "s",
    "write_amp": "ratio",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.scan_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_disk_mb": "MB",
    "retained_heap_mb": "MB",
    "rss.peak_mb": "MB",
    "trace.warm_s": "s",
}


def host_launch(run_dir: Path, traced: bool) -> dict:
    """Size the session to this host and keep every file the JVM and the
    Python workers write inside ``run_dir``. Returns the CPUs and RAM seen."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    # a quarter of RAM, capped: the inputs are small, and the session's
    # 48g default gets the JVM OOM-killed on hosts smaller than that
    driver_gb = max(1, min(8, ram // 4 // 2**30))
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if traced:
        (run_dir / "eventlog").mkdir()
        # --conf, not --properties-file, so a host's spark-defaults.conf
        # applies to traced and untraced runs alike
        for line in (BENCH_DIR / "conf" / "traced.conf").read_text().splitlines():
            if line.strip() and not line.startswith("#"):
                submit += ["--conf", "=".join(line.split(None, 1))]
        submit += ["--conf", f"spark.eventLog.dir=file://{run_dir / 'eventlog'}"]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        # Python workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join([*submit, "pyspark-shell"]),
    }
    os.environ.update(env)
    tempfile.tempdir = str(tmp)
    return {"nproc": cpus, "ram_gb": round(ram / 2**30, 2)}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as e:  # the JVM may already be gone
        print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr)
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def retained_heap_bytes(spark) -> int:
    """JVM heap still in use after a full collection: what the session
    keeps alive between jobs (cached blocks, persisted RDDs, broadcasts).
    Unlike the resident size, it does not depend on when the collector
    chose to grow the heap."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def run(args, workload, tracer, run_dir: Path, host: dict) -> tuple[dict, dict]:
    import inputs
    from tracing import MB, SPARK_SUMS, RssSampler, spark_metrics

    from workloads import Context, OpFailed, noop

    with tracer.span("setup"):
        with tracer.span("session.get_spark"):
            from crm_etl_pipeline_spark.session import get_spark

            spark = get_spark(f"perfbench-{workload.name}")
        with tracer.span("registry.load_all"):
            from crm_etl_pipeline_spark import registry

            reg = registry.load_all()
    setup_s = time.perf_counter() - T_PROCESS

    try:
        with tracer.span("inputs.generate") as gen_span:
            sf_dir = inputs.generate(args.seed, args.sf, str(WORK / "inputs"), str(ROOT))
        with tracer.span("inputs.oracle") as oracle_span:
            digests, unverified = inputs.oracle_digests(sf_dir, workload.oracle_sql(reg))

        ctx = Context(spark, reg, sf_dir, tracer, str(run_dir))
        jsc = spark.sparkContext._jsc
        passes: list[dict] = []

        def one_pass(label: str) -> None:
            ctx.pass_label = label
            with tracer.span("pass", label=label):
                extra = workload.run_pass(ctx)
            calls = [s for s in tracer.spans if s.get("pass_label") == label]
            passes.append(
                {
                    "label": label,
                    "s": sum(c["dur_s"] for c in calls),
                    "persistent_rdds": jsc.getPersistentRDDs().size(),
                    **extra,
                }
            )

        with RssSampler() as rss:
            one_pass("cold")
            # the untimed correctness pass runs between the cold and the
            # warm passes, so its executions also warm the JIT for them
            ctx.pass_label = "verify"
            with tracer.span("verify"):
                workload.verify(ctx, digests)
            t_warm = time.perf_counter()
            n = 0
            while n < MIN_WARM_PASSES or (
                time.perf_counter() - t_warm < args.seconds and n < MAX_WARM_PASSES
            ):
                one_pass(f"warm{n}")
                n += 1
        retained_heap = retained_heap_bytes(spark)

        scans = []
        if args.trace:
            from crm_etl_pipeline_spark import io

            ctx.pass_label = "scan"
            for t in workload.tables:
                try:
                    ctx.call("io.table", lambda t=t: noop(io.table(spark, sf_dir, t)))
                except OpFailed:
                    continue
            scans = [s for s in tracer.spans if s.get("pass_label") == "scan"]

        resources = {
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark_version": spark.version,
            "nproc": host["nproc"],
            "ram_gb": host["ram_gb"],
            "sf": args.sf,
        }
    finally:
        stop_spark(spark)

    warm = [p for p in passes if p["label"].startswith("warm")]
    calls: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s.get("pass_label", "").startswith("warm"):
            calls.setdefault(s["name"], []).append(s["dur_s"])
    detail = {
        "run_id": tracer.run_id,
        "workload": workload.name,
        "seed": args.seed,
        "resources": resources,
        "gen_s": gen_span["dur_s"],
        "oracle_s": oracle_span["dur_s"],
        "fail_ratio": ctx.failed / max(ctx.attempted, 1),
        "unverified_ops": unverified,
        "passes": passes,
        "warm_call_median_s": {k: median(v) for k, v in calls.items()},
        "peak_rss_mb": rss.peak / MB,
        "retained_heap_mb": retained_heap / MB,
    }
    for k in ("events_per_s", "freshness_s", "write_amp", "ingest_s"):
        if any(k in p for p in warm):
            detail[f"warm_{k}"] = median([p[k] for p in warm if k in p])

    metrics = {
        "setup_s": setup_s,
        "cold_s": passes[0]["s"],
        "warm_s": median([p["s"] for p in warm]),
    }
    if args.trace:
        spans = {s["name"]: s for s in tracer.spans}
        logs = list((run_dir / "eventlog").iterdir())
        warm_calls = [s for s in tracer.spans if s.get("pass_label", "").startswith("warm")]
        per_call = spark_metrics(str(logs[0]), warm_calls)
        per_pass: dict[str, dict] = {}
        for s in warm_calls:
            acc = per_pass.setdefault(s["pass_label"], {})
            for k, v in per_call[s["job_group"]].items():
                acc[k] = acc.get(k, 0) + v
        shutil.copy(logs[0], WORK / "traces" / f"{tracer.run_id}.eventlog")
        detail["warm_call_spark"] = per_call
        metrics = {
            "session.get_spark_s": spans["session.get_spark"]["dur_s"],
            "registry.load_all_s": spans["registry.load_all"]["dur_s"],
            "io.table_scan_s": sum(s["dur_s"] for s in scans),
            "checkpointing.persistent_rdds": passes[-1]["persistent_rdds"],
            "io.bytes_written_mb": median([p.get("bytes_written_mb", 0.0) for p in warm]),
            "io.files_written": median([p.get("files_written", 0) for p in warm]),
            "streaming.retry_passes": median([p.get("retry_passes", 0) for p in warm]),
            **{f"{c}_s": detail["warm_call_median_s"].get(c, 0.0) for c in CALLS},
            **{k: detail.get(f"warm_{k}", 0.0) for k in ("events_per_s", "freshness_s", "write_amp")},
            **{
                f"spark.{k}": median([pp[k] for pp in per_pass.values()])
                for k in ("tasks", "stages", "failed_tasks", *SPARK_SUMS)
            },
            "retained_heap_mb": retained_heap / MB,
            "rss.peak_mb": rss.peak / MB,
            "trace.warm_s": metrics["warm_s"],
        }
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": ctx.failed == 0 and not unverified,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF, help="input scale factor")
    args = p.parse_args(argv)
    # a SIGTERM unwinds like an error, so the JVM is stopped and the run's
    # scratch directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "crm_etl_pipeline_spark").is_dir() or not (ROOT / "tools" / "gen_scale.py").is_file():
        print(
            "perfbench: crm_etl_pipeline_spark/ or tools/gen_scale.py is missing; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    import workloads
    from tracing import Tracer

    try:
        workload = workloads.make(args.workload)
    except KeyError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("inputs", "results", "traces"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    host = host_launch(run_dir, bool(args.trace))
    tracer = Tracer(run_id)
    try:
        result, detail = run(args, workload, tracer, run_dir, host)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        spans_path = WORK / "traces" / f"{run_id}.spans.json"
        tracer.write(str(spans_path))
        detail["spans"] = str(spans_path.relative_to(ROOT))
    detail["wall_s"] = time.perf_counter() - T_PROCESS
    with open(WORK / "results" / f"{run_id}.json", "w") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1)
    print("perfbench-detail " + json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
