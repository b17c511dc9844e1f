"""Replay pipeline: event log → LakeTable (shared by batch and streaming).

Composes the stages SURVEY.md §2 maps from the reference:

  read segments (local binlog source analog, LocalBinLogConnection)
    → envelope filter (AviaterRegexFilter / DML flags) — pushed to the scan
    → LSN ordering column (Header gtid/file/offset)
    → DDL plan: split the range into sub-ranges at DDL positions
      (EventTransactionBuffer forces non-DML flush before DDL)
    → per range: [wire decode with the live schema if needed]
      → explode to per-key changes (SingleDml.dml2SingleDmls)
      → LWW collapse (serial pk-hash executors analog, one shuffle)
      → bucket-pruned MERGE commit (RdbSyncService apply + BatchExecutor
        batch-commit, as ONE atomic snapshot)
    → between ranges: SchemaTracker mirrors the DDL
      (RdbMirrorDbSyncService.executeDdl).

Everything data-sized is DataFrame-declarative (Catalyst plans it); only the
DDL list (a handful of rows per billions of DML) is collected to the driver.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_spark.lsn import encode_lsn_col
from canal_spark.operators.filters import envelope_filter
from canal_spark.operators.lww import (
    changes_from_events,
    collapse_lww,
    screen_wire_events,
    wire_net_changes,
)
from canal_spark.schema.tracker import SchemaTracker
from canal_spark.table.lake import LakeTable


@dataclass
class ReplayStats:
    ranges: int = 0
    ddls: int = 0
    events: int = 0
    merges: list[dict] = field(default_factory=list)


def read_event_log(spark: SparkSession, log_dir: str,
                   files: list[str] | None = None) -> DataFrame:
    """Read binlog segments. mergeSchema unions before/after struct fields
    across segments written before/after ALTERs (parquet-native schema
    evolution — the reason the fixture widens per segment)."""
    if files:
        paths = [os.path.join(log_dir, f) for f in files]
    else:
        paths = [log_dir]
    return (
        spark.read.option("mergeSchema", "true")
        .option("pathGlobFilter", "mysql-bin.*.parquet")
        .parquet(*paths)
    )


def with_lsn(df: DataFrame) -> DataFrame:
    return df.withColumn("lsn", encode_lsn_col())


def prepare_envelope(raw: DataFrame, table_regex: str = r"^train\.tokseq$") -> DataFrame:
    """Envelope filter + LSN, KEEPING transaction marker rows (the
    txn-boundary splitter needs TRANSACTIONBEGIN/END)."""
    return with_lsn(envelope_filter(raw, table_regex=table_regex, drop_query=False))


def prepare_events(raw: DataFrame, table_regex: str = r"^train\.tokseq$") -> DataFrame:
    """Envelope filter + LSN: the cheap gate ahead of all expensive work."""
    ev = prepare_envelope(raw, table_regex=table_regex)
    return ev.where(F.col("entry_type") == "ROWDATA")


def _image_fields(events: DataFrame) -> set[str] | None:
    dt = events.schema["after"].dataType
    return {f.name for f in dt.fields} if isinstance(dt, T.StructType) else None


def _write_dlq(bad: DataFrame, dlq: str, batch_id: str | None) -> int:
    """Land poison rows under ``dlq/<range key>/`` (mode=overwrite) and
    return the count. The per-range directory makes redelivery of a
    ledgered range rewrite the same rows — never append duplicates; an
    un-ledgered manual replay gets a unique adhoc directory (duplicates
    possible there, exactly like its at-least-once merge semantics)."""
    import hashlib
    import re
    import uuid

    # sanitization alone is NOT injective ('e1_r0' and 'e1/r0' both map to
    # 'e1_r0', so one range's evidence would overwrite another's — ADVICE
    # r03 #3); a short hash of the ORIGINAL id keeps directories distinct
    sub = (f"batch-{re.sub(r'[^A-Za-z0-9._-]', '_', batch_id)}"
           f"-{hashlib.md5(batch_id.encode()).hexdigest()[:8]}"
           if batch_id else f"adhoc-{uuid.uuid4().hex[:12]}")
    bad = bad.withColumn("batch_id", F.lit(batch_id or ""))
    bad = bad.persist()
    try:
        n = bad.count()
        if n:
            bad.coalesce(8).write.mode("overwrite").parquet(
                os.path.join(dlq, sub))
        return n
    finally:
        bad.unpersist()


def read_dlq(spark: SparkSession, dlq: str) -> DataFrame:
    """Read the whole dead-letter queue (all range directories)."""
    return (spark.read.option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet").parquet(dlq))


def apply_dml_range(events: DataFrame, table: LakeTable,
                    lo: str | None, hi: str | None,
                    batch_id: str | None = None,
                    salt_partitions: int | None = None,
                    wire: bool = False,
                    views: list | None = None,
                    dlq: str | None = None) -> dict:
    """LWW-collapse + MERGE the DML events with lo < lsn ≤ hi.

    ``views``: JoinedView instances maintained from the SAME net-change set
    in the same range (the ES-adapter denormalized-sync analog,
    client-adapter/escore/.../ESSyncService.java:458-492) — the collapse
    shuffle is persisted once and reused for every sink.

    ``dlq``: dead-letter directory. When set, poison EVENTS (unroutable
    key, corrupt or missing wire payload) are screened out BEFORE the LWW
    collapse and preserved under ``dlq/`` with a reason — so a poison
    latest event cannot shadow earlier good events for its key, a poison
    non-winner still leaves evidence, and every downstream consumer (merge
    AND views) sees only good rows. The reference's skip-and-log posture
    (RdbSyncService.java:48,284 skipDupException) upgraded to keep the
    evidence. Each range writes its own ``dlq/<batch_id>/`` directory with
    mode=overwrite, so a redelivered ledgered range rewrites the SAME rows
    instead of appending duplicates (epoch-keyed exactly-once, the
    WireMessageSink idiom); read the whole queue with ``read_dlq``. Off by
    default: the happy-path plan is unchanged."""
    rng = events
    if lo:
        rng = rng.where(F.col("lsn") > lo)
    if hi:
        rng = rng.where(F.col("lsn") <= hi)
    n_bad = 0
    if dlq is not None and wire:
        # event-level screen ahead of the collapse (operators/lww.py
        # screen_wire_events): one from_json structure probe per upsert
        # event, paid only on this path
        rng, bad = screen_wire_events(rng, key=table.key_col)
        n_bad = _write_dlq(bad, dlq, batch_id)
    if wire:
        # fused wire path: LWW-collapse the raw JSON payloads against the
        # CURRENT schema (live registry), decode only the per-key winners —
        # codec work is O(keys), not O(events) (operators/lww.py)
        net = wire_net_changes(rng, key=table.key_col,
                               image_schema=table.schema(),
                               salt_partitions=salt_partitions)
    else:
        data_cols = table.logical_columns()
        available = _image_fields(rng)
        rng_cols = [c for c in data_cols if available is None or c in available]
        changes = changes_from_events(rng, key=table.key_col, data_cols=rng_cols)
        # columns added by DDL exist in the sink but may be absent from the
        # segments in this range; fill with NULLs of the sink's type
        for c in data_cols:
            if c not in changes.columns:
                changes = changes.withColumn(
                    c, F.lit(None).cast(table.schema()[c].dataType)
                )
        if dlq is not None:
            # typed path: structs cannot be malformed, but a null key is
            # still unroutable (would silently vanish in the merge).
            # Screened BEFORE the collapse — N distinct null-key events
            # must leave N evidence rows, not one collapsed winner
            key = table.key_col
            payload = [c for c in changes.columns
                       if c not in (key, "op", "lsn")]
            bad = changes.where(F.col(key).isNull()).select(
                F.col(key).cast("string").alias("key"), "op", "lsn",
                F.lit("no_pk").alias("reason"),
                F.to_json(F.struct(*payload)).alias("raw"))
            n_bad = _write_dlq(bad, dlq, batch_id)
            changes = changes.where(F.col(key).isNotNull())
        net = collapse_lww(changes, key=table.key_col,
                           salt_partitions=salt_partitions)
    # the collapse shuffle is persisted once only when views reuse it
    if views:
        net = net.persist()
    try:
        res = table.merge_apply(net, batch_id=batch_id, max_lsn=hi)
        for i, v in enumerate(views or []):
            v.apply(net,
                    batch_id=None if batch_id is None else f"{batch_id}/v{i}",
                    max_lsn=hi)
        if dlq is not None:
            # a ledger-skipped redelivery applied nothing: report 0 so
            # cumulative metrics never double-count the same quarantined
            # rows (the DLQ files themselves are idempotent) — ADVICE r03 #5
            res["quarantined"] = 0 if res.get("skipped") else n_bad
        return res
    finally:
        if views:
            net.unpersist()


def apply_events(events: DataFrame, table: LakeTable,
                 batch_id: str | None = None,
                 salt_partitions: int | None = None,
                 wire: bool = False,
                 views: list | None = None,
                 dlq: str | None = None) -> ReplayStats:
    """Apply a prepared (filtered, LSN'd, ROWDATA-only) event range:
    DDL-split sub-ranges, merge each, mirror DDL between them."""
    stats = ReplayStats()
    if batch_id is not None and table.is_applied(batch_id):
        return stats
    # NOTE: deliberately NOT persisted — the columnar scan + filter is ~3 s
    # per pass at 1M events while caching the wide before/after structs
    # costs more than it saves AND defeats parquet filter pushdown for the
    # per-range LSN predicates (measured 2× slower with .persist()).
    events = events.where(F.col("entry_type") == "ROWDATA")
    if events.isEmpty():  # idle epoch: no data, no metadata churn
        return stats

    ddls = sorted(
        (r["lsn"], r["sql"])
        for r in events.where(F.col("is_ddl")).select("lsn", "sql").collect()
    )
    dml = events.where(~F.col("is_ddl"))

    tracker = SchemaTracker(table)
    # Pre-classify the DDL list against the (evolving) subscription with the
    # tracker's own pure relevance/follow rules: foreign-table DDL must not
    # split merge ranges, and each range's DML gate below uses the table
    # name active IN that range — so after RENAME TABLE, events arriving
    # under the new name keep merging and stale events under the old name
    # stop (DatabaseTableMeta keeps tracking the renamed table,
    # parse/.../tsdb/DatabaseTableMeta.java:161-181).
    from canal_spark.schema.ddl import parse_ddl_statements

    sub = tracker.subscribed
    ranges: list[tuple[str, str, tuple[str, str]]] = []
    for ddl_lsn, sql in ddls:
        cmds = parse_ddl_statements(sql)
        if any(SchemaTracker.relevant(c, sub) for c in cmds):
            ranges.append((ddl_lsn, sql, sub))
        for c in cmds:
            sub = SchemaTracker.follow(c, sub)

    def _gate(df: DataFrame, s: tuple[str, str]) -> DataFrame:
        # two plain column equalities (not a concat/rlike) so the predicate
        # pushes into the parquet scan of each per-range merge job
        return df.where((F.col("schema_name") == s[0])
                        & (F.col("table_name") == s[1]))

    lo: str | None = None
    for i, (ddl_lsn, sql, sub_i) in enumerate(ranges):
        res = apply_dml_range(
            _gate(dml, sub_i), table, lo, ddl_lsn,
            batch_id=None if batch_id is None else f"{batch_id}/r{i}",
            salt_partitions=salt_partitions, wire=wire, views=views,
            dlq=dlq,
        )
        stats.merges.append(res)
        stats.ranges += 1
        applied = tracker.apply_ddl(sql, ddl_lsn)
        # TRUNCATE wipes the main table metadata-only; mirrored views hold
        # rows derived from it, so the same fence propagates to each
        for cmd in applied:
            if cmd.kind == "TRUNCATE":
                for v in views or []:
                    # views derived 1:1 from main rows wipe with it; views
                    # whose ROWS outlive the main data (ChildAggView's
                    # parents) override on_source_truncate to reset their
                    # derived columns instead
                    if hasattr(v, "on_source_truncate"):
                        v.on_source_truncate(ddl_lsn)
                    else:
                        v.table.truncate(lsn=ddl_lsn)
        stats.ddls += 1
        lo = ddl_lsn
    res = apply_dml_range(
        _gate(dml, tracker.subscribed), table, lo, None,
        batch_id=None if batch_id is None else f"{batch_id}/tail",
        salt_partitions=salt_partitions, wire=wire, views=views,
        dlq=dlq,
    )
    stats.merges.append(res)
    stats.ranges += 1
    stats.events = sum(m.get("upserts", 0) + m.get("deletes", 0)
                       for m in stats.merges)
    if batch_id is not None:
        table._commit_meta(
            applied_batches=table.snap["applied_batches"][-255:] + [batch_id]
        )
    return stats


def group_replay(spark: SparkSession, log_dirs: list[str], table: LakeTable,
                 table_regex: str | None = None,
                 batch_id: str | None = None,
                 salt_partitions: int | None = None,
                 wire: bool = False,
                 views: list | None = None,
                 dlq: str | None = None) -> ReplayStats:
    """Batch replay of N sharded logs as ONE timeline (GroupEventParser
    analog, batch form): per-shard scans union under a ``src_id`` tag and
    every event gets the merged (execute_ts, src, native-lsn) LSN, so the
    LWW collapse and the MERGE fence order by global time exactly like
    streaming/group.GroupStreamingReplay. With ``wire=False`` the shards
    must share one image-struct width (schema-evolving shard sets ship
    before/after as JSON wire — struct widths can't union)."""
    from functools import reduce

    from canal_spark.streaming.group import merged_lsn_col

    if batch_id is not None and table.is_applied(batch_id):
        return ReplayStats()
    raws = [
        read_event_log(spark, d).withColumn("src_id", F.lit(i))
        for i, d in enumerate(log_dirs)
    ]
    raw = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), raws)
    ev = prepare_events(raw, table_regex=table_regex)
    ev = ev.withColumn("lsn", merged_lsn_col())
    return apply_events(ev, table, batch_id=batch_id,
                        salt_partitions=salt_partitions, wire=wire,
                        views=views, dlq=dlq)


def replay(spark: SparkSession, log_dir: str, table: LakeTable,
           files: list[str] | None = None,
           table_regex: str | None = None,
           batch_id: str | None = None,
           salt_partitions: int | None = None,
           wire: bool = False,
           start: "StartPosition | None" = None,
           views: list | None = None,
           dlq: str | None = None) -> ReplayStats:
    """Batch replay of a (portion of the) event log into the sink table.

    ``start`` (streaming/positions.find_start_position) bootstraps from a
    timestamp or (file, pos) cursor: pre-boundary segments never enter the
    scan, and the boundary predicate pushes down to parquet row groups.
    Overlap with already-applied events is fenced by the LSN guard, so an
    early start is exactly-once-safe."""
    if batch_id is not None and table.is_applied(batch_id):
        return ReplayStats()
    if start is not None and files is None:
        if not start.files:
            return ReplayStats()  # boundary is past the end of the log
        files = start.files
    raw = read_event_log(spark, log_dir, files)
    if start is not None:
        raw = raw.where(start.predicate())
    ev = prepare_events(raw, table_regex=table_regex)
    return apply_events(ev, table, batch_id=batch_id,
                        salt_partitions=salt_partitions, wire=wire,
                        views=views, dlq=dlq)
