"""Dead-letter queue: poison winners are preserved, never merged.

A corrupt wire payload used to upsert NULL data columns over a good row,
and a winner with no extractable key silently vanished in the merge. With
``dlq`` set, both land in a parquet dead-letter directory with a reason and
the raw payload (the reference's skip-and-log posture —
client-adapter/rdb/.../RdbSyncService.java:48,284 skipDupException — kept
as queryable evidence), and the merge applies only the good rows."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.operators.decode import convert_log_to_wire
from canal_spark.oracle import oracle_final_state
from canal_spark.pipeline import apply_dml_range, read_dlq
from canal_spark.streaming.replay import StreamingReplay
from canal_spark.table.lake import LakeTable
from tests.conftest import assert_state_equal, rows_to_state

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])

BASE = [
    ("a", [1, 2], 2, "web"),
    ("b", [3], 1, "web"),
    ("c", [4, 5, 6], 3, "books"),
]

_WIRE_DDL = (
    "entry_type string, event_type string, lsn string, is_ddl boolean,"
    " before string, after string, pk_before string, pk_after string"
)


def _wire_events(spark, rows):
    """rows: (event_type, lsn, before, after, pk_before, pk_after)"""
    return spark.createDataFrame(
        [("ROWDATA", et, lsn, False, b, a, pb, pa)
         for et, lsn, b, a, pb, pa in rows], _WIRE_DDL)


def write_poison_segment(spark, tmp_work, wire_dir):
    """Append a two-row wire segment after the log, with no transaction
    markers: a corrupt payload for a new key and an insert with no key."""
    poison = _wire_events(spark, [
        ("UPDATE", "z-lsn-poison-1", None, '{"doc_id":"zzz-new","tokens":[1,',
         "zzz-new", "zzz-new"),
        ("INSERT", "z-lsn-poison-2", None, '{"n_tok":1}', None, None),
    ]).withColumn("gtid_seq", F.lit(10 ** 9).cast("long")) \
      .withColumn("binlog_file", F.lit("mysql-bin.999999")) \
      .withColumn("binlog_pos", F.lit(4).cast("long")) \
      .withColumn("server_id", F.lit(1).cast("long")) \
      .withColumn("execute_ts", F.current_timestamp()) \
      .withColumn("schema_name", F.lit("train")) \
      .withColumn("table_name", F.lit("tokseq")) \
      .withColumn("txn_id", F.lit("txp")) \
      .withColumn("sql", F.lit(None).cast("string")) \
      .drop("lsn")
    tmp = os.path.join(tmp_work, "_poison")
    poison.coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp, part),
               os.path.join(wire_dir, "mysql-bin.999999.parquet"))


def test_wire_quarantine_corrupt_and_unroutable(spark, tmp_work):
    df = spark.createDataFrame(BASE, SCHEMA)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4, df=df)
    dlq = os.path.join(tmp_work, "dlq")
    ev = _wire_events(spark, [
        ("UPDATE", "lsn-02", '{"doc_id":"a"}',
         '{"doc_id":"a","tokens":[9],"n_tok":1,"source":"code"}', "a", "a"),
        # corrupt payload: routable (native pk) but undecodable JSON
        ("UPDATE", "lsn-03", '{"doc_id":"c"}',
         '{"doc_id":"c","tokens":[7,', "c", "c"),
        # unroutable: no native pk, no doc_id in the payload
        ("INSERT", "lsn-04", None, '{"n_tok":5}', None, None),
        ("DELETE", "lsn-05", '{"doc_id":"b"}', None, "b", None),
    ])
    res = apply_dml_range(ev, t, None, None, batch_id="b1", wire=True,
                          dlq=dlq)
    assert res["quarantined"] == 2
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert set(got) == {"a", "c"}
    assert got["a"]["tokens"] == [9]                 # good update applied
    assert got["c"]["tokens"] == [4, 5, 6]           # poison did NOT null c
    q = {r["reason"]: r for r in read_dlq(spark, dlq).collect()}
    assert set(q) == {"corrupt_payload", "no_pk"}
    assert q["corrupt_payload"]["key"] == "c"
    assert q["corrupt_payload"]["op"] == "U" and q["corrupt_payload"]["lsn"] == "lsn-03"
    assert q["corrupt_payload"]["raw"].startswith('{"doc_id":"c"')
    assert q["no_pk"]["key"] is None and q["no_pk"]["batch_id"] == "b1"


def test_dlq_off_keeps_current_contract(spark, tmp_work):
    df = spark.createDataFrame(BASE, SCHEMA)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4, df=df)
    ev = _wire_events(spark, [
        ("UPDATE", "lsn-02", '{"doc_id":"a"}',
         '{"doc_id":"a","tokens":[9],"n_tok":1,"source":"code"}', "a", "a"),
    ])
    res = apply_dml_range(ev, t, None, None, wire=True)
    assert "quarantined" not in res
    assert {r["doc_id"]: r["tokens"] for r in t.read().collect()}["a"] == [9]


def test_streaming_dlq_metrics_and_state(spark, tmp_work):
    """End-to-end: a poisoned wire segment quarantines its bad winners,
    the metrics row counts them, and the good events still converge to the
    sequential oracle of the clean log."""
    spec = CdcLogSpec(n_events=1200, seed=33, events_per_file=400,
                      pk_change_frac=0.02)
    base = generate_base_table(150, seed=33)
    typed_dir = os.path.join(tmp_work, "typed")
    generate_cdc_log(typed_dir, spec, base)
    wire_dir = os.path.join(tmp_work, "wire")
    convert_log_to_wire(spark, typed_dir, wire_dir)

    # poison: an extra segment AFTER the log with two bad winners for keys
    # the clean log never deletes — quarantining them must leave the final
    # state exactly the clean-log oracle state
    write_poison_segment(spark, tmp_work, wire_dir)

    bdf = spark.createDataFrame(base.to_pandas(), SCHEMA)
    table = LakeTable.create(spark, os.path.join(tmp_work, "tokseq"), SCHEMA,
                             n_buckets=8, df=bdf)
    dlq = os.path.join(tmp_work, "dlq")
    sr = StreamingReplay(spark, wire_dir, table,
                         os.path.join(tmp_work, "ckpt"),
                         max_files_per_trigger=2, txn_aligned=False,
                         dlq_dir=dlq)
    sr.run_to_completion()
    assert sum(m.get("quarantined", 0) for m in sr.metrics.read()) == 2
    assert read_dlq(spark, dlq).count() == 2
    expected, cols = oracle_final_state(base, typed_dir)
    actual = rows_to_state(table.read().collect(), table.logical_columns())
    assert_state_equal(actual, expected, cols)


def test_poison_winner_does_not_shadow_good_event(spark, tmp_work):
    """Event-level screen semantics (code-review r03 #4): a corrupt LATEST
    event must not discard the earlier GOOD update for the same key — the
    good event wins the collapse and applies; the poison is quarantined.
    And a poison NON-winner (corrupt event below a good one) still leaves
    DLQ evidence instead of silently losing the collapse."""
    df = spark.createDataFrame(BASE, SCHEMA)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4, df=df)
    dlq = os.path.join(tmp_work, "dlq")
    ev = _wire_events(spark, [
        # key a: good update then corrupt later event — good one must land
        ("UPDATE", "lsn-02",
         '{"doc_id":"a"}', '{"doc_id":"a","tokens":[9],"n_tok":1,"source":"code"}',
         "a", "a"),
        ("UPDATE", "lsn-03", '{"doc_id":"a"}', '{"doc_id":"a","tokens":[1,',
         "a", "a"),
        # key c: corrupt event BELOW a good later update — both facts hold:
        # good update applies AND the poison non-winner is quarantined
        ("UPDATE", "lsn-04", '{"doc_id":"c"}', '{"doc_id":"c","tokens":[2,',
         "c", "c"),
        ("UPDATE", "lsn-05",
         '{"doc_id":"c"}', '{"doc_id":"c","tokens":[8],"n_tok":1,"source":"web"}',
         "c", "c"),
    ])
    res = apply_dml_range(ev, t, None, None, batch_id="b1", wire=True,
                          dlq=dlq)
    assert res["quarantined"] == 2
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["a"]["tokens"] == [9]       # good event not shadowed
    assert got["c"]["tokens"] == [8]       # later good update applied
    q = sorted((r["key"], r["lsn"]) for r in read_dlq(spark, dlq).collect())
    assert q == [("a", "lsn-03"), ("c", "lsn-04")]


def test_typed_null_key_events_each_leave_evidence(spark, tmp_work):
    """Typed-path screen (code-review r03 #3): N distinct unroutable typed
    events must yield N DLQ rows, not one collapsed winner."""
    from canal_spark.pipeline import apply_dml_range as adr

    df = spark.createDataFrame(BASE, SCHEMA)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4, df=df)
    dlq = os.path.join(tmp_work, "dlq")
    img = "struct<doc_id string, tokens array<int>, n_tok int, source string>"
    typed = spark.createDataFrame(
        [("ROWDATA", "INSERT", f"lsn-{i:02d}", False,
          None, (None, [i], 1, "web"))
         for i in range(3)],
        f"entry_type string, event_type string, lsn string, is_ddl boolean,"
        f" before {img}, after {img}")
    res = adr(typed, t, None, None, batch_id="b1", dlq=dlq)
    assert res["quarantined"] == 3
    rows = read_dlq(spark, dlq).collect()
    assert len(rows) == 3
    assert all(r["reason"] == "no_pk" and r["key"] is None for r in rows)
    assert {r["lsn"] for r in rows} == {"lsn-00", "lsn-01", "lsn-02"}


def test_dlq_redelivery_does_not_duplicate(spark, tmp_work):
    """Epoch-keyed DLQ directories (code-review r03 #2): redelivering a
    ledgered range rewrites the SAME dlq rows — never appends duplicates."""
    df = spark.createDataFrame(BASE, SCHEMA)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4, df=df)
    dlq = os.path.join(tmp_work, "dlq")
    ev = _wire_events(spark, [
        ("INSERT", "lsn-04", None, '{"n_tok":5}', None, None),
        ("UPDATE", "lsn-05",
         '{"doc_id":"a"}', '{"doc_id":"a","tokens":[9],"n_tok":1,"source":"web"}',
         "a", "a"),
    ])
    for _ in range(3):   # deliver, then redeliver the ledgered range twice
        res = apply_dml_range(ev, t, None, None, batch_id="e1", wire=True,
                              dlq=dlq)
    assert read_dlq(spark, dlq).count() == 1
    assert {r["doc_id"]: r["tokens"] for r in t.read().collect()}["a"] == [9]


def test_dlq_redelivery_reports_zero_quarantined(spark, tmp_work):
    """A ledger-skipped redelivery applied nothing, so its metrics row must
    report quarantined=0 — summing per-epoch counts would otherwise count
    the same poison rows on every redelivery (ADVICE r03 #5). The DLQ files
    themselves stay idempotent (same range dir, mode=overwrite)."""
    df = spark.createDataFrame(BASE, SCHEMA)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4, df=df)
    dlq = os.path.join(tmp_work, "dlq")
    ev = _wire_events(spark, [
        ("INSERT", "lsn-04", None, '{"n_tok":5}', None, None),
        ("UPDATE", "lsn-05", '{"doc_id":"a"}',
         '{"doc_id":"a","tokens":[8],"n_tok":1,"source":"web"}', "a", "a"),
    ])
    r1 = apply_dml_range(ev, t, None, None, batch_id="b1", wire=True, dlq=dlq)
    assert r1["quarantined"] == 1
    r2 = apply_dml_range(ev, t.refresh(), None, None, batch_id="b1",
                         wire=True, dlq=dlq)
    assert r2.get("skipped") and r2["quarantined"] == 0
    assert read_dlq(spark, dlq).count() == 1


def test_dlq_batch_dirs_injective(spark, tmp_work):
    """Two distinct batch ids that sanitize to the same string must land in
    DISTINCT DLQ directories — overwrite must never replace another range's
    evidence (ADVICE r03 #3)."""
    df = spark.createDataFrame(BASE, SCHEMA)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4, df=df)
    dlq = os.path.join(tmp_work, "dlq")
    ev1 = _wire_events(spark, [("INSERT", "lsn-04", None, '{"n_tok":5}',
                                None, None)])
    ev2 = _wire_events(spark, [("INSERT", "lsn-06", None, '{"n_tok":7}',
                                None, None)])
    apply_dml_range(ev1, t, None, None, batch_id="e1_r0", wire=True, dlq=dlq)
    apply_dml_range(ev2, t.refresh(), None, None, batch_id="e1/r0",
                    wire=True, dlq=dlq)
    assert len(os.listdir(dlq)) == 2
    assert read_dlq(spark, dlq).count() == 2


def test_dlq_poison_delete_keeps_before_image(spark, tmp_work):
    """A poison DELETE has no after-image; the evidence row keeps the
    BEFORE-image so the operator can still identify the row (ADVICE r03
    #2)."""
    df = spark.createDataFrame(BASE, SCHEMA)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4, df=df)
    dlq = os.path.join(tmp_work, "dlq")
    # DELETE with a before-image that carries no pk and no native pk cols
    ev = _wire_events(spark, [
        ("DELETE", "lsn-09", '{"n_tok":3,"source":"books"}', None,
         None, None),
    ])
    apply_dml_range(ev, t, None, None, batch_id="bd", wire=True, dlq=dlq)
    rows = read_dlq(spark, dlq).collect()
    assert len(rows) == 1
    assert rows[0]["reason"] == "no_pk" and rows[0]["op"] == "D"
    assert rows[0]["raw"] == '{"n_tok":3,"source":"books"}'
