"""The workloads, each one closed loop in one local-mode session.

``bulk_replay``   catch-up: one full wire replay of a staged log into a
                  fresh copy-on-write table seeded from the base table.
``stream_fanout`` live tail: StreamingReplay drains small staged segments
                  one per epoch and fans each epoch out to two views, a
                  message topic and the table's change feed; the first
                  epoch is a discarded warm-up and the last one runs
                  maintenance.

Both return the same end-to-end figures (``Result``), so a later change is
judged on every metric on every workload. The traced run adds, after the
timed pass, the read-side probes (point lookups and, on the stream, one
relay poll of the change feed into a consumer table). Sizes are fixed
here, never derived from the host.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_spark import pipeline
from canal_spark.sinks import WireMessageSink
from canal_spark.streaming import relay
from canal_spark.streaming.replay import StreamingReplay
from canal_spark.table.lake import LakeTable
from canal_spark.views import JoinedView, fingerprint_index_view

from perfbench import check, fixture

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])
FP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("fp_md5", T.StringType()),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])
JV_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
    T.StructField("src_kind", T.StringType()),
])

SIZES = {
    # 20k events in 6 segments, one ADD COLUMN mid-log (2 merge ranges);
    # three discarded full replays take the JIT past the steep part of its
    # warm-up (cheaper half-log warm-ups left the first full replay 20-30%
    # slow), then replays run until the time window closes, at least
    # min_units of them
    "bulk_replay": dict(n_base=10_000, n_events=20_000,
                        events_per_file=5_000, ddl_at=0.5, warmup=3,
                        min_units=3, max_units=10,
                        lookups=12),
    # four segments of ~1k rows (the last one about half full), one per
    # epoch: the segment roll closes a segment at the first transaction end
    # past seg_rows rows, so n_events is sized for exactly `segments` files
    # (checked at fixture build). The first `warmup` epochs are discarded;
    # maintenance runs on the last epoch only, so the plain timed epochs
    # give the epoch median and the pass wall still includes it.
    "stream_fanout": dict(n_base=10_000, n_events=3_500, seg_rows=1_000,
                          segments=4, warmup=1, seedings=3,
                          lookups=12),
}


@dataclass
class Ctx:
    spark: object
    k: int
    buckets: int
    seconds: float
    work: str                 # per-run scratch, removed at exit
    base_path: str            # the fixture's base table
    tracer: object = None     # perfbench.trace.Tracer in the traced run


@dataclass
class Result:
    events: int = 0                                  # events per timed pass
    pass_s: float = 0.0                              # events_per_s divisor
    unit_s: list[float] = field(default_factory=list)
    warm_s: list[float] = field(default_factory=list)   # discarded units
    scan_s: list[float] = field(default_factory=list)
    seed_s: list[float] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)
    stored_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    main: LakeTable | None = None                    # the final sink
    # traced run: (unit id, wall start, wall end, seconds) of each traced
    # plain unit and of each traced maintenance epoch, and the walls of the
    # untraced plain units interleaved with them
    traced_units: list[tuple[int, float, float, float]] = field(
        default_factory=list)
    maint_units: list[tuple[int, float, float, float]] = field(
        default_factory=list)
    untraced_unit_s: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)        # per-layer metrics

    def op(self, fn, *args, **kwargs):
        """Run one counted operation; a raise counts as failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - reported, never swallowed
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:300])
            return None

    def check(self, errors: list[str]) -> None:
        """One output check: a mismatch counts as a failed operation."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors += errors


def dir_bytes(*paths: str) -> int:
    n = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            n += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return n


def _seed(ctx: Ctx, res: Result, path: str, schema=SCHEMA, select=None,
          **create_kw) -> LakeTable:
    """LakeTable.create(df=base). Seeding the full base table is the
    second half of set-up time; derived view tables are not sampled."""
    shutil.rmtree(path, ignore_errors=True)
    base = ctx.spark.read.schema(SCHEMA).parquet(ctx.base_path)
    df = select(base) if select is not None else base
    t0 = time.perf_counter()
    tbl = LakeTable.create(ctx.spark, path, schema,
                           n_buckets=ctx.buckets, df=df, **create_kw)
    if select is None:
        res.seed_s.append(time.perf_counter() - t0)
    return tbl


def _scan(tbl: LakeTable) -> float:
    t0 = time.perf_counter()
    tbl.read().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _finish(ctx: Ctx, res: Result, tbl: LakeTable, fx, oracle: dict,
            ) -> dict:
    """After the timed pass: the oracle check, and in the traced run the
    read side of the layout the writes left (full scans of the final sink
    and the staged point lookups). Returns the sink's rows for the view
    checks."""
    res.main = tbl.refresh()
    errs, rows = check.main_table(tbl, oracle)
    res.check(errs)
    if ctx.tracer is not None:
        res.scan_s = [_scan(tbl) for _ in range(6)][1:]   # first one warms
        for keys, exp in zip(oracle["lookups"], oracle["expected_lookups"]):
            t0 = time.perf_counter()
            found = res.op(lambda: tbl.lookup(keys).collect())
            res.lookup_s.append(time.perf_counter() - t0)
            res.check(check.lookup(found or [], exp, oracle["cols"]))
    return rows


# ----------------------------------------------------------- bulk_replay

def bulk_replay_fixture(cache: str, seed: int):
    s = SIZES["bulk_replay"]
    return fixture.ensure(cache, "bulk_replay", seed, s["n_base"],
                          s["n_events"], s["events_per_file"], s["ddl_at"],
                          s["lookups"])


def bulk_replay(ctx: Ctx, fx, oracle: dict) -> Result:
    s = SIZES["bulk_replay"]
    res = Result(events=fx.n_events)
    tracer = ctx.tracer
    tbl = None

    def one(i: int, traced: bool) -> tuple[float, float]:
        nonlocal tbl
        tbl = _seed(ctx, res, os.path.join(ctx.work, f"tokseq{i % 2}"))
        if tracer is not None:
            tracer.active, tracer.unit = traced, i
        t_wall, t0 = time.time(), time.perf_counter()
        try:
            pipeline.replay(ctx.spark, fx.wire_dir, tbl, wire=True)
        finally:
            if tracer is not None:
                tracer.active = False
        return t_wall, time.perf_counter() - t0

    for i in range(s["warmup"]):
        out = res.op(one, i, False)
        if out is not None:
            res.warm_s.append(out[1])
    # the traced run alternates untraced and traced replays; the
    # difference of their medians is the tracing overhead
    n = 0
    t_start = time.perf_counter()
    while n < s["max_units"] and (
            n < s["min_units"] or time.perf_counter() - t_start < ctx.seconds):
        traced = tracer is not None and n % 2 == 1
        i = s["warmup"] + n
        out = res.op(one, i, traced)
        n += 1
        if out is None:
            continue
        t_wall, dt = out
        if traced:
            res.traced_units.append((i, t_wall, t_wall + dt, dt))
        else:
            res.untraced_unit_s.append(dt)
    res.unit_s = res.untraced_unit_s
    res.pass_s = statistics.median(res.unit_s) if res.unit_s else 0.0
    if tbl is None:
        res.check(["no replay completed"])
        return res
    res.stored_bytes = dir_bytes(tbl.path)
    _finish(ctx, res, tbl, fx, oracle)
    return res


# --------------------------------------------------------- stream_fanout

def stream_fanout_fixture(cache: str, seed: int):
    s = SIZES["stream_fanout"]
    fx = fixture.ensure(cache, "stream_fanout", seed, s["n_base"],
                        s["n_events"], s["seg_rows"], None, s["lookups"])
    if len(fx.segments) != s["segments"]:
        raise RuntimeError(f"seed {seed} rolled {len(fx.segments)} segments, "
                           f"the workload is sized for {s['segments']}")
    return fx


class _ClockedReplay(StreamingReplay):
    """StreamingReplay that stamps each epoch's start and wall; in the
    traced run it turns the tracer on for the epochs in ``traced``."""

    def __init__(self, *args, tracer=None, traced=(), **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer, self.traced = tracer, set(traced)
        self.epochs: dict[int, tuple[float, float, float]] = {}

    def _apply_batch(self, batch_df, epoch_id):
        if self.tracer is not None:
            self.tracer.active = epoch_id in self.traced
            self.tracer.unit = epoch_id
        t_wall, t0 = time.time(), time.perf_counter()
        try:
            return super()._apply_batch(batch_df, epoch_id)
        finally:
            if self.tracer is not None:
                self.tracer.active = False
            self.epochs[epoch_id] = (t_wall, t0, time.perf_counter() - t0)


def stream_fanout(ctx: Ctx, fx, oracle: dict) -> Result:
    s = SIZES["stream_fanout"]
    res = Result()
    path = os.path.join(ctx.work, "tokseq")
    # seed the sink several times: set-up time is their median
    for _ in range(s["seedings"]):
        main = _seed(ctx, res, path, changelog=True)
    fp = _seed(ctx, res, os.path.join(ctx.work, "fp_index"), FP_SCHEMA,
               lambda b: b.select("doc_id",
                                  F.md5(F.to_json("tokens")).alias("fp_md5"),
                                  "n_tok", "source"))
    dim = ctx.spark.createDataFrame(check.DIM_ROWS,
                                    "source string, src_kind string")
    jv = _seed(ctx, res, os.path.join(ctx.work, "joined"), JV_SCHEMA,
               lambda b: b.select("doc_id", "n_tok", "source")
               .join(F.broadcast(dim), "source", "left")
               .select("doc_id", "n_tok", "source", "src_kind"))
    # the feed's consumer is registered before the stream starts, so
    # maintenance never expires entries it has not relayed
    relay.register_consumer(main, "bench", ack=main.version)
    views = [fingerprint_index_view(fp), JoinedView(jv, dim, on="source")]
    sink = WireMessageSink(os.path.join(ctx.work, "topic"), ctx.k)
    # the traced run leaves every second plain timed epoch untraced, so
    # traced and untraced plain epochs of one stream give the overhead
    warm, last = s["warmup"], s["segments"] - 1
    untraced = set(range(warm + 1, last, 2))
    sr = _ClockedReplay(ctx.spark, fx.wire_dir, main,
                        os.path.join(ctx.work, "ckpt"),
                        max_files_per_trigger=1, txn_aligned=True,
                        views=views, message_sinks=[sink],
                        maintenance_every=s["segments"],
                        tracer=ctx.tracer,
                        traced=(set(range(warm, last + 1)) - untraced
                                if ctx.tracer is not None else ()))

    def drain() -> float:
        sr.run_to_completion()
        sr.flush_tail()
        return time.perf_counter()

    t_end = res.op(drain)
    if t_end is None:
        return res
    rows = sr.metrics.read()
    res.attempted += len(rows)   # epochs; a raising epoch fails the drain
    maint = {r["epoch"] for r in rows if "maintenance" in r}
    res.check([] if sorted(sr.epochs) == list(range(last + 1))
              and maint == {last} else [
        f"epochs {sorted(sr.epochs)} with maintenance on {sorted(maint)}, "
        f"the workload expects 0..{last} with maintenance on {last}"])
    # the timed pass starts with the first epoch after the warm-up
    timed = {e: v for e, v in sr.epochs.items() if e >= warm}
    res.warm_s = [v[2] for e, v in sorted(sr.epochs.items()) if e < warm]
    res.unit_s = [v[2] for e, v in sorted(timed.items()) if e not in maint]
    res.events = sum(fx.segment_events[warm:])
    res.pass_s = t_end - sr.epochs[warm][1] if warm in sr.epochs else 0.0
    res.extra["streaming.replay.engine_s"] = (
        (res.pass_s - sum(v[2] for v in timed.values())) / len(timed)
        if timed else 0.0)
    for e, (t_wall, _t0, dt) in sorted(timed.items()):
        if e in sr.traced:
            (res.maint_units if e in maint else res.traced_units).append(
                (e, t_wall, t_wall + dt, dt))
        elif e not in maint:
            res.untraced_unit_s.append(dt)
    res.stored_bytes = dir_bytes(main.path, fp.path, jv.path)
    main_rows = _finish(ctx, res, main, fx, oracle)
    res.check(check.fingerprint_view(fp.refresh(), main_rows))
    res.check(check.joined_view(jv.refresh(), main_rows))
    n_msgs = sink.read(ctx.spark).count()
    res.check([] if n_msgs == fx.n_events else [
        f"topic holds {n_msgs} messages, the log has {fx.n_events} events"])
    if ctx.tracer is not None:
        consumer = _seed(ctx, Result(), os.path.join(ctx.work, "consumer"))
        t0 = time.perf_counter()
        out = res.op(relay.relay_step, main, consumer, consumer="bench")
        res.extra["streaming.relay.relay_step_s"] = time.perf_counter() - t0
        res.extra["streaming.relay.rows"] = (
            (out or {}).get("upserts", 0) + (out or {}).get("deletes", 0))
        res.check(check.relay_consumer(consumer.refresh(), main))
    return res


def local1_baseline(args, run_dir: str, fx, res: Result, start_session,
                    k: int) -> dict:
    """One bulk replay on ``local[1]`` in the same (warm) JVM: the
    single-thread baseline and the 1→k parallel efficiency."""
    spark = start_session(args, run_dir, None, master="local[1]")
    try:
        ctx = Ctx(spark=spark, k=1, buckets=args.buckets, seconds=0,
                  work=run_dir, base_path=fx.base_path)
        tbl = _seed(ctx, Result(), os.path.join(run_dir, "tokseq_local1"))
        t0 = time.perf_counter()
        pipeline.replay(spark, fx.wire_dir, tbl, wire=True)
        eps1 = fx.n_events / (time.perf_counter() - t0)
    finally:
        spark.stop()
    eps_k = (fx.n_events / statistics.median(res.untraced_unit_s)
             if res.untraced_unit_s else 0.0)
    return {"scaling.local1_events_per_s": eps1,
            "scaling.efficiency": eps_k / eps1 / k}


WORKLOADS = {
    "bulk_replay": (bulk_replay_fixture, bulk_replay),
    "stream_fanout": (stream_fanout_fixture, stream_fanout),
}
