#!/usr/bin/env python3
"""CDC ingest benchmark.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 \\
        --trace 0 [--master local[4] --shuffle-partitions 4 --buckets 4]

Runs one workload (see perfbench/workloads.py and perfbench/README.md) in
one local-mode SparkSession, checks its output against the oracle, and
prints as its last stdout line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` installs the layer spans and the Spark
event log and reports the per-layer metrics instead. A line before it
carries the host-noise stamps, and the traced run also prints its layer
table.

Everything it writes stays under ``.work/perfbench`` of the checkout; the
fixture cache there is reused by later runs with the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".work", "perfbench")
# the traced bulk run skips its local[1] baseline past this many seconds,
# so that a run on a contended host still ends inside its 180 s limit
LOCAL1_DEADLINE_S = 110.0

END_TO_END = {
    "events_per_s": "1/s", "unit_s_p50": "s", "stored_mb": "MB",
    "peak_rss_mb": "MB", "setup_s": "s",
}

# per-layer metric -> (layer table row, field); times and counts are per
# traced plain unit (a replay, or an epoch without maintenance)
LAYER_FIELDS = {
    "pipeline.replay_self_s": ("pipeline.replay", "self_s"),
    "pipeline.apply_events_self_s": ("pipeline.apply_events", "self_s"),
    "pipeline.apply_dml_range_self_s": ("pipeline.apply_dml_range", "self_s"),
    "operators.transactions.split_s": ("operators.transactions.split", "self_s"),
    "operators.transactions.save_s": ("operators.transactions.save", "self_s"),
    "table.lake.merge_apply_s": ("table.lake.merge_apply", "self_s"),
    "table.lake.merge_calls": ("table.lake.merge_apply", "merge_calls"),
    "table.lake.cow_commits": ("table.lake.merge_apply", "cow_commits"),
    "table.lake.files_read": ("table.lake.merge_apply", "files_read"),
    "table.lake.files_carried": ("table.lake.merge_apply", "files_carried"),
    "views.JoinedView.apply_s": ("views.JoinedView.apply", "self_s"),
    "views.TransformView.apply_s": ("views.TransformView.apply", "self_s"),
    "sinks.publish_s": ("sinks.publish", "self_s"),
    "metrics.batch_stats_s": ("metrics.batch_stats", "self_s"),
    "streaming.replay.epoch_self_s": ("streaming.replay.epoch", "self_s"),
}
SPARK_FIELDS = ("tasks", "scheduler_delay_s", "gc_s", "executor_cpu_s",
                "task_failures", "shuffle_write_mb", "spill_mb")
JOB_GROUPS = ("bench", "pipeline.replay", "pipeline.apply_events",
              "pipeline.apply_dml_range", "table.lake.merge_apply",
              "table.lake.maintain",
              "views.JoinedView.apply", "views.TransformView.apply",
              "sinks.publish", "operators.transactions.split",
              "operators.transactions.save", "metrics.batch_stats",
              "streaming.replay.epoch")
PER_LAYER = (
    ["pipeline.scan_s", "pipeline.rows_in", "pipeline.rows_out",
     "operators.filters.filter_s", "operators.lww.collapse_s",
     "operators.lww.keys_per_event"]
    + list(LAYER_FIELDS)
    + ["table.lake.maintain_s", "table.lake.maintain_files_rewritten",
       "table.lake.maintain_share",
       "table.lake.bytes_written_mb", "table.lake.create_s",
       "table.lake.lookup_s", "table.lake.read_s", "table.lake.stored_mb",
       "streaming.replay.engine_s",
       "streaming.relay.relay_step_s", "streaming.relay.rows",
       "spark.jobs_per_unit", "spark.cpu_util"]
    + [f"spark.{f}" for f in SPARK_FIELDS]
    + [f"spark.jobs.{g}" for g in JOB_GROUPS]
    + ["trace.overhead_s", "trace.layer_coverage",
       "scaling.local1_events_per_s", "scaling.efficiency"])


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("coverage", "share", "util", "efficiency",
                      "per_event")):
        return "ratio"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--master", default="local[4]")
    p.add_argument("--shuffle-partitions", type=int, default=4)
    p.add_argument("--buckets", type=int, default=4)
    p.add_argument("--heap", default="1g")
    return p.parse_args(argv)


def start_session(args, run_dir: str, event_dir: str | None, master=None):
    from canal_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Xms{args.heap} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", master=master or args.master,
                      shuffle_partitions=args.shuffle_partitions,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()       # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:        # noqa: BLE001
            proc.kill()
            proc.wait()


def median(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def end_to_end(res, session_s: float, rss_mb: float) -> dict:
    return {
        "events_per_s": res.events / res.pass_s if res.pass_s else 0.0,
        "unit_s_p50": median(res.unit_s),
        "stored_mb": res.stored_bytes / 2**20,
        "peak_rss_mb": rss_mb,
        "setup_s": session_s + median(res.seed_s),
    }


def prefix_layers(spark, log_dir: str, files: list[str] | None,
                  image_schema) -> dict:
    """Split the fused scan → envelope filter → wire decode + LWW collapse
    plan by timing materialized prefixes of it (each to a ``noop`` write,
    median of three) and differencing them."""
    from pyspark.sql import functions as F

    from canal_spark import pipeline
    from canal_spark.operators.lww import wire_net_changes

    def timed(df) -> float:
        out = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            out.append(time.perf_counter() - t0)
        return statistics.median(out)

    spark.sparkContext.setJobGroup("pipeline.prefix", "pipeline.prefix")
    raw = pipeline.read_event_log(spark, log_dir, files)
    ev = pipeline.prepare_events(raw, table_regex=None)
    dml = ev.where(~F.col("is_ddl") & (F.col("schema_name") == "train")
                   & (F.col("table_name") == "tokseq"))
    net = wire_net_changes(dml, key="doc_id", image_schema=image_schema)
    scan_s, prep_s, net_s = timed(raw), timed(ev), timed(net)
    n_dml, n_net = dml.count(), net.count()
    return {"pipeline.scan_s": scan_s, "pipeline.rows_in": raw.count(),
            "pipeline.rows_out": n_net,
            "operators.filters.filter_s": prep_s - scan_s,
            "operators.lww.collapse_s": net_s - prep_s,
            "operators.lww.keys_per_event": n_net / n_dml if n_dml else 0.0}


def per_layer(res, tracer, sm: dict, sm_maint: dict, prefix: dict,
              k: int) -> dict:
    """Layer times and counts per traced plain unit; maintenance per
    traced maintenance epoch (the stream's last; bulk has none)."""
    units = {u[0] for u in res.traced_units}
    n = max(1, len(units))
    table = tracer.layer_table(units)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(prefix)
    for metric, (layer, fld) in LAYER_FIELDS.items():
        out[metric] = table.get(layer, {}).get(fld, 0.0) / n
    out["table.lake.bytes_written_mb"] = table.get(
        "table.lake.merge_apply", {}).get("bytes_written", 0.0) / 2**20 / n
    out["table.lake.create_s"] = median(res.seed_s)
    out["table.lake.lookup_s"] = median(res.lookup_s)
    out["table.lake.read_s"] = median(res.scan_s)
    out["table.lake.stored_mb"] = res.stored_bytes / 2**20
    tot = sm["totals"]
    wall = sum(u[3] for u in res.traced_units)
    out["spark.jobs_per_unit"] = tot.get("jobs", 0.0) / n
    for f in SPARK_FIELDS:
        out[f"spark.{f}"] = tot.get(f, 0.0) / n
    out["spark.cpu_util"] = (tot.get("executor_cpu_s", 0.0)
                             / (wall * k) if wall else 0.0)
    for g in JOB_GROUPS:
        out[f"spark.jobs.{g}"] = sm["jobs_per_group"].get(g, 0) / n
    if res.maint_units:
        nm = len(res.maint_units)
        mt = tracer.layer_table({u[0] for u in res.maint_units}).get(
            "table.lake.maintain", {})
        out["table.lake.maintain_s"] = mt.get("self_s", 0.0) / nm
        out["table.lake.maintain_files_rewritten"] = (
            mt.get("files_rewritten", 0.0) / nm)
        out["table.lake.maintain_share"] = (
            mt.get("total_s", 0.0) / sum(u[3] for u in res.maint_units))
        out["spark.jobs.table.lake.maintain"] = (
            sm_maint["jobs_per_group"].get("table.lake.maintain", 0) / nm)
    out["trace.layer_coverage"] = (tracer.attributed_s(units) / wall
                                   if wall else 0.0)
    traced = [u[3] for u in res.traced_units]
    if traced and res.untraced_unit_s:
        out["trace.overhead_s"] = median(traced) - median(res.untraced_unit_s)
    out.update(res.extra)
    return out


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.environ.update(TMPDIR=os.path.join(run_dir, "tmp"),
                      SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
                      SPARK_DRIVER_MEMORY=args.heap,
                      # also the spark-submit launcher JVM: no /tmp perf file
                      JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    sys.path.insert(0, ROOT)
    try:
        import canal_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench import host, trace, workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    k = int(args.master[args.master.index("[") + 1:-1])
    make_fixture, run_workload = workloads.WORKLOADS[args.workload]

    spark = None
    try:
        t_start = time.perf_counter()
        fx = make_fixture(WORK, args.seed)
        oracle = fx.oracle()
        fx.preread()
        event_dir = os.path.join(run_dir, "events") if args.trace else None
        if event_dir:
            os.makedirs(event_dir)
        t0 = time.perf_counter()
        spark = start_session(args, run_dir, event_dir)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            tracer = trace.Tracer(spark.sparkContext)
            trace.install_engine_spans(tracer)
        ctx = workloads.Ctx(spark=spark, k=k, buckets=args.buckets,
                            seconds=args.seconds,
                            work=run_dir, base_path=fx.base_path,
                            tracer=tracer)
        canary_pre = host.cpu_canary(spark, k)
        stat0, load0 = host.cpu_jiffies(), host.load_1min()
        t_work = time.perf_counter()
        res = run_workload(ctx, fx, oracle)
        work_s = time.perf_counter() - t_work
        stat1 = host.cpu_jiffies()
        canary_post = host.cpu_canary(spark, k)
        rss = host.peak_rss_mb(jvm_pid())
        diagnostics = {"workload": args.workload, "seed": args.seed,
                       **host.noise_pct(stat0, stat1),
                       "load_1min": [load0, host.load_1min()],
                       "cpu_canary_s": [canary_pre, canary_post],
                       "fixture_s": t0 - t_start, "session_s": session_s,
                       "workload_s": work_s,
                       "unit_s": res.unit_s, "warm_s": res.warm_s,
                       "scan_s": res.scan_s, "seed_s": res.seed_s,
                       "pass_s": res.pass_s,
                       "layout": {key: v for key, v in res.main.describe().items()
                                  if key.endswith(("files", "rows"))}
                       if res.main else {},
                       "errors": res.errors[:5]}
        if args.trace:
            tracer.uninstall()
            # a stream unit covers one segment (that of the first traced
            # plain epoch), a bulk unit the whole log
            files = (None if args.workload == "bulk_replay"
                     else [fx.segments[res.traced_units[0][0]]])
            prefix = prefix_layers(spark, fx.wire_dir, files, res.main.schema())
            spark.stop()
            if args.workload == "bulk_replay":
                if time.perf_counter() - t_start < LOCAL1_DEADLINE_S:
                    res.extra.update(workloads.local1_baseline(
                        args, run_dir, fx, res, start_session, k))
                else:
                    diagnostics["skipped"] = "local[1] baseline (time guard)"
            spark = None
            sm, sm_maint = (
                trace.spark_metrics(event_dir, [u[1:3] for u in units])
                for units in (res.traced_units, res.maint_units))
            metrics = per_layer(res, tracer, sm, sm_maint, prefix, k)
            diagnostics["layers"] = tracer.layer_table(
                {u[0] for u in res.traced_units})
            diagnostics["maintenance_layers"] = tracer.layer_table(
                {u[0] for u in res.maint_units})
            diagnostics["jobs_per_group"] = sm["jobs_per_group"]
            cov = metrics["trace.layer_coverage"]
            res.check([] if cov >= 0.90 else [
                f"layers below the unit's root span cover {cov:.3f} of the "
                "traced unit wall"])
        else:
            metrics = end_to_end(res, session_s, rss)
        print(json.dumps({"diagnostics": diagnostics}, default=float))
        if res.errors:
            print("perfbench: " + "; ".join(res.errors[:5]), file=sys.stderr)
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {name: {"value": float(v), "unit": unit_of(name)}
                        for name, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
