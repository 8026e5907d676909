"""Benchmark entry point.

    python3 perfbench/run.py --workload ghtorrent_etl --seed 1 --seconds 20 --trace 0

Runs one closed-loop workload (one client: this process, driving one
``get_spark()`` session at ``local[<cores>]``) from the root of a checkout,
checks the program's outputs, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the same workload with
spans and Spark status-store counters and prints the per-layer metrics.
``--smoke`` runs a toy size.  Every file the run writes lives under a
fresh temporary root inside the checkout, removed at exit.  See
``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

E2E = {
    "setup_s": "s",
    "cold_s": "s",
    "steady_s": "s",
    "op_p50_s": "s",
    "rate_per_s": "1/s",
}
SPARK = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.core_util": "ratio",
}
LAYER = {
    **SPARK,
    "bson.decode_s": "s",
    "bson.docs_per_s": "1/s",
    "bson.reject_rows": "count",
    "pipelines.users_s": "s",
    "pipelines.repos_s": "s",
    "pipelines.org_members_s": "s",
    "pipelines.repo_collaborators_s": "s",
    "pipelines.rows_out_per_in": "ratio",
    "config.jobs_per_run": "count",
    "config.self_s": "s",
    "config.incr_new_per_decoded": "ratio",
    "snapshots.prepare_s": "s",
    "snapshots.commit_s": "s",
    "snapshots.vacuum_s": "s",
    "snapshots.files_written": "count",
    "snapshots.bytes_written_mb": "MB",
    "snapshots.manifests_live": "count",
    "snapshots.space_amp": "ratio",
    "incremental.refresh_aggregate_s": "s",
    "incremental.refresh_join_s": "s",
    "incremental.read_view_s": "s",
    "incremental.consolidate_s": "s",
    "streaming.batch_s": "s",
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.tpch_s": "s",
    "operators.joins_s": "s",
    "operators.dedup_s": "s",
    "functions.text_s": "s",
    "operators.temporal_s": "s",
    "mem.peak_rss_mb": "MB",
    "bench.failed_op_ratio": "ratio",
    "trace.steady_s": "s",
    "trace.overhead_s": "s",
}
FAMILIES = ("queries.tpch_s", "operators.joins_s", "operators.dedup_s",
            "functions.text_s", "operators.temporal_s")
ALWAYS = ("spark.jobs_per_op", "spark.tasks_per_op", "spark.executor_cpu_s",
          "spark.core_util", "mem.peak_rss_mb", "trace.steady_s")
#: per-layer metrics that must read nonzero on a workload: the layer works there
DRIVEN = {
    "ghtorrent_etl": ALWAYS + (
        "spark.shuffle_write_mb", "bson.decode_s", "bson.docs_per_s", "bson.reject_rows",
        "pipelines.users_s", "pipelines.repos_s", "pipelines.org_members_s",
        "pipelines.repo_collaborators_s", "pipelines.rows_out_per_in",
        "config.jobs_per_run", "config.self_s", "config.incr_new_per_decoded",
        "snapshots.prepare_s", "snapshots.commit_s", "snapshots.vacuum_s",
        "snapshots.files_written", "snapshots.bytes_written_mb",
        "snapshots.manifests_live", "snapshots.space_amp",
        "incremental.refresh_aggregate_s", "incremental.refresh_join_s",
        "incremental.read_view_s", "incremental.consolidate_s", "streaming.batch_s"),
    "query_mix": ALWAYS + (
        "spark.shuffle_write_mb", "queries.build_s", "queries.plan_s", "queries.exec_s",
        *FAMILIES),
}
WORKLOADS = tuple(DRIVEN)


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _start_spark(tmp: Path):
    from ght2dm_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            # keep the JVM's temp files and perf counters out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp / 'jvm'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        },
    )


def _stop_spark() -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def run(args, tmp: Path) -> dict:
    import common
    from tracing import Tracer

    t0 = time.perf_counter()
    spark = _start_spark(tmp)
    session_s = time.perf_counter() - t0
    tracer = Tracer(args.trace == 1, spark)
    ctx = common.Context(
        spark=spark, seed=args.seed, seconds=args.seconds, smoke=args.smoke,
        tmp=tmp, tracer=tracer, rss=common.RssMeter(_jvm_pid(spark)),
    )
    mod = {"ghtorrent_etl": "etl", "query_mix": "query_mix"}[args.workload]
    workload = __import__(mod)
    errors = []
    e2e = layer = None
    try:
        e2e, layer = workload.run(ctx)
    except Exception as exc:  # noqa: BLE001 — a failed operation is a result, not a crash
        traceback.print_exc()
        errors.append(f"{type(exc).__name__}: {exc}")
        ctx.failed += 1
    ctx.rss.sample()

    if e2e is None:
        return {"correct": False, "attempted": max(1, ctx.attempted),
                "failed": ctx.failed, "metrics": {}, "errors": errors}
    ops = e2e["op_samples"]
    if not args.trace:
        values = {
            "setup_s": session_s + e2e["setup_rounds_s"] + e2e["setup_extra_s"],
            "cold_s": e2e["cold_s"],
            "steady_s": sum(ops),
            "op_p50_s": common.median(ops),
            "rate_per_s": e2e["rate_per_s"],
        }
        units = E2E
    else:
        sc = tracer.ops
        values = {k: 0.0 for k in LAYER}
        values.update({
            "spark.jobs_per_op": sc.jobs / layer["ops"],
            "spark.tasks_per_op": sc.tasks / layer["ops"],
            "spark.failed_tasks": sc.failed_tasks,
            "spark.executor_cpu_s": sc.executor_cpu_s,
            "spark.shuffle_write_mb": sc.shuffle_write_bytes / 2**20,
            "spark.spill_mb": sc.spill_bytes / 2**20,
            "spark.core_util": sc.executor_run_s / (layer["window_s"] * _cores()),
            "mem.peak_rss_mb": ctx.rss.peak_mb,
            "trace.steady_s": sum(ops),
            "trace.overhead_s": tracer.overhead_s,
        })
        values.update({k: v for k, v in layer.items() if k in LAYER})
        values["bench.failed_op_ratio"] = ctx.failed / max(1, ctx.attempted)
        zero = [k for k in DRIVEN[args.workload] if not values[k]]
        if args.smoke:  # the toy mix runs only a few query families
            zero = [k for k in zero if k not in FAMILIES]
        if zero:
            msg = f"counters that {args.workload} drives read 0: {zero}"
            print(f"perfbench: ERROR {msg}", file=sys.stderr)
            errors.append(msg)
        units = LAYER
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={len(ops) + 1} "
        f"window={layer['window_s']:.1f}s cold={e2e['cold_s']:.3f}s "
        f"steady={['%.3f' % x for x in ops]}",
        file=sys.stderr,
    )
    return {
        "correct": ctx.failed == 0 and not errors,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        "errors": errors,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy sizes, for the benchmark's own test")
    args = ap.parse_args(argv)

    if not (ROOT / "ght2dm_spark" / "__init__.py").is_file():
        print(f"perfbench: no ght2dm_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    base = ROOT / ".perfbench-tmp"
    base.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="run-", dir=base))
    (tmp / "jvm").mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp / "spark-local"))
    try:
        result = run(args, tmp)
    finally:
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass
    errors = result.pop("errors")
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
