"""Ingest-freshness and snapshot-read benchmark for moonlink_spark.

Run from the repository root:

    python3 perfbench/run.py --workload snapshot_reads --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it carries every figure the run measured, by name. Exit code 1 means an
output check failed; 2 means the engine could not be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import params

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

E2E_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "driver_peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    pin_spark_cpus()


def spark_cpus() -> int:
    return min(params.SPARK_CPUS, len(os.sched_getaffinity(0)))


def pin_spark_cpus() -> None:
    """Pinned, not inherited: the engine derives its shuffle-partition
    default from SPARK_GRAFT_CPUS when ``moonlink_spark.session`` is first
    imported, so a core count leaking in from the environment would change
    the plans. Call it before that import."""
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())


def start_spark(work: str):
    from moonlink_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{spark_cpus()}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata under /tmp: the run writes only inside the
            # checkout. The serial collector and the C1-only compiler cut
            # the JVM's background threads, which otherwise burn about a
            # third of the run's CPU in amounts that follow host load.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
                " -XX:+UseSerialGC -XX:TieredStopAtLevel=1"
            ),
            "spark.driver.memory": "2g",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: closing the
    gateway's stdin pipe makes the JVM exit, so no process outlives the
    run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    pin_spark_cpus()
    try:
        import moonlink_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work")
    prepare_env(work)
    t0, cpu = time.perf_counter(), workloads.tree_cpu_s()
    spark = start_spark(work)
    spark_start_cpu_s = workloads.tree_cpu_s() - cpu
    spark_start_s = time.perf_counter() - t0
    ctx = workloads.Ctx(
        spark=spark, workload=args.workload, seed=args.seed,
        seconds=args.seconds, work=work, trace=bool(args.trace),
    )
    ctx.setup_parts["spark_start"] = spark_start_s
    if ctx.trace:
        ctx.rec = tracing.SpanRecorder()
    try:
        result = run(ctx, spark_start_cpu_s)
    finally:
        if ctx.wrapper is not None:
            ctx.wrapper.restore()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench detail: " + json.dumps(result["detail"], sort_keys=True))
    for f in ctx.failures:
        print(f"perfbench check failed: {f}", file=sys.stderr)
    print(json.dumps(result["line"]))
    return 0 if result["line"]["correct"] else 1


def run(ctx, spark_start_cpu_s: float) -> dict:
    import tracing
    import workloads

    first_job = tracing.last_job_id(ctx.sc) if ctx.trace else -1
    workloads.WORKLOADS[ctx.workload](ctx)
    rss = workloads.peak_rss_mb()
    e2e = dict(ctx.e2e)
    # set-up in CPU seconds of the process tree, like cpu_ms_per_op: on a
    # shared host its wall time moved by 30% between two sets of runs
    e2e["setup_s"] = spark_start_cpu_s + ctx.setup_s
    e2e["driver_peak_rss_mb"] = rss
    e2e["failed_ops_ratio"] = ctx.failed / max(1, ctx.attempted)
    if ctx.lag_ms:
        e2e["generator_lag_max_ms"] = max(ctx.lag_ms)
    detail = {
        "workload": ctx.workload, "seed": ctx.seed, "e2e": e2e,
        "setup_parts_s": ctx.setup_parts,
    }
    if ctx.trace:
        metrics = layer_metrics(ctx, tracing.read_jobs(ctx.sc, first_job))
        detail["layers"] = {k: v["value"] for k, v in metrics.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    line = {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }
    return {"line": line, "detail": detail}


# --------------------------------------------------------------------- #
# per-layer report (traced run)
# --------------------------------------------------------------------- #

LAYER_UNITS: dict[str, str] = {}


def _reg(unit: str, *names: str) -> None:
    for n in names:
        LAYER_UNITS[n] = unit


_reg(
    "ms",
    "sources.kafka_wire.fetch_ms", "sources.kafka_wire.decode_ms",
    "sources.avro.decode_ms", "ingest.cdc.apply_self_ms", "table.commit_ms",
    "table.commit.driver_ms", "table.commit.exec_ms", "table.manifest.publish_ms",
    "table.stats.collect_ms", "table.keyindex.lookup_ms", "table.keyindex.build_ms",
    "table.vecindex.query_driver_ms", "table.vecindex.query_exec_ms",
    "table.maintenance.optimize_ms",
    "spark.exec_run_ms", "spark.exec_cpu_ms", "spark.driver_ms",
    "harness.generator_lag_ms",
)
_reg(
    "count",
    "table.commit.spark_jobs", "table.manifest.reads_per_commit",
    "table.data_files", "table.dv_files", "table.dv_rows",
    "table.vecindex.query_jobs", "table.vecindex.query_stages",
    "table.maintenance.optimize_runs", "spark.jobs", "spark.stages", "spark.tasks",
)
_reg(
    "ratio",
    "sources.kafka_wire.bytes_fetched_per_event", "ingest.cdc.staged_rows_per_event",
    "table.keyindex.candidate_file_ratio", "table.bytes_written_per_user_byte",
)
_reg(
    "B",
    "table.maintenance.optimize_bytes_rewritten", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.input_bytes",
)
_reg("%", "harness.trace_overhead_pct")
READ_KINDS = ("scan", "timetravel", "lookup")
for _k in READ_KINDS:
    _reg("ms", f"table.{_k}.plan_ms", f"table.{_k}.driver_ms",
         f"table.{_k}.exec_ms", f"table.{_k}.cpu_ms")
    _reg("count", f"table.{_k}.jobs")
    _reg("ratio", f"table.{_k}.input_rows_per_row_returned")
for _q in params.SNAPSHOT_READS["operators"]:
    _reg("ms", f"operators.{_q}.ms")
    _reg("count", f"operators.{_q}.jobs")
    _reg("B", f"operators.{_q}.shuffle_bytes")


def _per(total: float, n: float) -> float:
    return total / n if n else 0.0


def layer_metrics(ctx, jobs) -> dict:
    """Per-layer figures from the spans and the attributed Spark jobs.
    Span times are per call unless the name says otherwise; layers the
    workload never calls read 0."""
    import tracing

    rec = ctx.rec
    st = rec.self_times()
    by_op = tracing.attribute_jobs(jobs, [(o, s, e) for o, _k, s, e in ctx.ops])
    ep = time.time() - time.perf_counter()
    v = {n: 0.0 for n in LAYER_UNITS}

    def calls(name):
        return st.get(name, {}).get("calls", 0)

    def self_ms(name):
        return st.get(name, {}).get("self_ms", 0.0)

    def spans_jobs(name):
        """(spans, jobs submitted inside them, union of those jobs' spans ms)."""
        spans = [s for s in rec.spans if s.name == name and s.op is not None]
        inside, union = [], 0.0
        for s in spans:
            lo, hi = s.start + ep, s.end + ep
            js = [j for j in jobs if lo <= j.submit <= hi]
            inside += js
            union += tracing.job_span_union_ms(js, lo, hi)
        return spans, inside, union

    drains = calls("drain")
    v["sources.kafka_wire.fetch_ms"] = _per(self_ms("sources.kafka_wire.fetch"), drains)
    v["sources.kafka_wire.decode_ms"] = _per(self_ms("sources.kafka_wire.decode"), drains)
    v["sources.avro.decode_ms"] = _per(self_ms("sources.avro.decode"), drains)
    n_events = calls("sources.avro.decode") / 2
    v["sources.kafka_wire.bytes_fetched_per_event"] = _per(
        ctx.counts.get("sources.kafka_wire.decode", 0.0), n_events
    )
    applies = calls("ingest.cdc.apply")
    v["ingest.cdc.apply_self_ms"] = _per(self_ms("ingest.cdc.apply"), applies)
    cdc_events = sum(
        1 for s in rec.spans if s.name == "commit" and s.parent is None
    ) * params.SNAPSHOT_READS["txn_events"]
    v["ingest.cdc.staged_rows_per_event"] = _per(
        ctx.counts.get("table.stage", 0.0), cdc_events
    )
    commits = calls("table.commit")
    v["table.commit_ms"] = _per(self_ms("table.commit"), commits)
    spans, js, union = spans_jobs("table.commit")
    total = sum((s.end - s.start) * 1e3 for s in spans)
    v["table.commit.spark_jobs"] = _per(len(js), commits)
    v["table.commit.driver_ms"] = _per(total - union, commits)
    v["table.commit.exec_ms"] = _per(sum(j.run_ms for j in js), commits)
    v["table.manifest.publish_ms"] = _per(
        self_ms("table.manifest.publish"), calls("table.manifest.publish")
    )
    v["table.manifest.reads_per_commit"] = _per(calls("table.manifest.read"), commits)
    v["table.stats.collect_ms"] = _per(
        self_ms("table.stats.collect"), calls("table.stats.collect")
    )
    v["table.keyindex.lookup_ms"] = _per(
        self_ms("table.keyindex.lookup"), calls("table.keyindex.lookup")
    )
    v["table.keyindex.build_ms"] = _per(
        self_ms("table.keyindex.build"), calls("table.keyindex.build")
    )
    v["table.keyindex.candidate_file_ratio"] = _per(
        ctx.counts.get("table.keyindex.lookup", 0.0),
        ctx.counts.get("keyindex.live_files", 0.0),
    )

    def op_jobs(*kinds):
        """(ops of these kinds, their jobs, wall ms, union of job spans ms);
        no kinds means every operation."""
        ops = [(o, s, e) for o, k, s, e in ctx.ops if not kinds or k in kinds]
        allj = [j for o, _s, _e in ops for j in by_op[o]]
        wall = sum((e - s) * 1e3 for _o, s, e in ops)
        union = sum(tracing.job_span_union_ms(by_op[o], s, e) for o, s, e in ops)
        return ops, allj, wall, union

    # read path, per operation kind
    for kind in READ_KINDS:
        ops, allj, wall, union = op_jobs(kind)
        if not ops:
            continue
        plan = "table.lookup.plan" if kind == "lookup" else "table.scan.plan"
        ids = {o for o, _s, _e in ops}
        plan_ms = sum(
            (s.end - s.start) * 1e3 for s in rec.spans if s.name == plan and s.op in ids
        )
        n = len(ops)
        v[f"table.{kind}.plan_ms"] = plan_ms / n
        v[f"table.{kind}.jobs"] = len(allj) / n
        v[f"table.{kind}.driver_ms"] = (wall - union) / n
        v[f"table.{kind}.exec_ms"] = sum(j.run_ms for j in allj) / n
        v[f"table.{kind}.cpu_ms"] = sum(j.cpu_ms for j in allj) / n
        v[f"table.{kind}.input_rows_per_row_returned"] = _per(
            sum(j.input_rows for j in allj), ctx.counts.get(f"rows.{kind}", 0.0)
        )

    ann, allj, wall, union = op_jobs("ann_topk")
    n = len(ann)
    v["table.vecindex.query_jobs"] = _per(len(allj), n)
    v["table.vecindex.query_stages"] = _per(sum(j.stages for j in allj), n)
    v["table.vecindex.query_driver_ms"] = _per(wall - union, n)
    v["table.vecindex.query_exec_ms"] = _per(sum(j.run_ms for j in allj), n)

    for q in params.SNAPSHOT_READS["operators"]:
        ops, allj, wall, _union = op_jobs(q)
        n = len(ops)
        v[f"operators.{q}.ms"] = _per(wall, n)
        v[f"operators.{q}.jobs"] = _per(len(allj), n)
        v[f"operators.{q}.shuffle_bytes"] = _per(sum(j.shuffle_read for j in allj), n)

    # Spark, per operation over every operation of the run
    ops, allj, wall, union = op_jobs()
    n = len(ops)
    v["spark.jobs"] = _per(len(allj), n)
    v["spark.stages"] = _per(sum(j.stages for j in allj), n)
    v["spark.tasks"] = _per(sum(j.tasks for j in allj), n)
    v["spark.exec_run_ms"] = _per(sum(j.run_ms for j in allj), n)
    v["spark.exec_cpu_ms"] = _per(sum(j.cpu_ms for j in allj), n)
    v["spark.shuffle_read_bytes"] = _per(sum(j.shuffle_read for j in allj), n)
    v["spark.shuffle_write_bytes"] = _per(sum(j.shuffle_write for j in allj), n)
    v["spark.input_bytes"] = _per(sum(j.input_bytes for j in allj), n)
    v["spark.driver_ms"] = _per(wall - union, n)

    v.update({k: float(x) for k, x in ctx.layer.items() if k in v})
    v["harness.generator_lag_ms"] = max(ctx.lag_ms) if ctx.lag_ms else 0.0
    # tracing overhead: wrapped calls times the measured per-call cost of
    # a wrapper, as a share of the traced operations' wall time
    cost_ms = rec.calls * tracing.calibrate_wrapper_cost() * 1e3
    v["harness.trace_overhead_pct"] = _per(100.0 * cost_ms, wall)
    return {k: {"value": float(x), "unit": LAYER_UNITS[k]} for k, x in v.items()}


if __name__ == "__main__":
    sys.exit(main())
