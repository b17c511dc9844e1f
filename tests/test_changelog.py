"""The lake table as a CDC *source*: the changelog feed.

The reference's primary consumption mode is the client/MQ change feed —
consumers pull batches with positions and ack to advance
(server/.../CanalServerWithEmbedded.java:331-446 getWithoutAck/ack), with
at-least-once MQ delivery and idempotent adapters. These tests rebuild that
loop on the lake: a primary LakeTable created with ``changelog=True`` logs
every merge commit's net batch; a downstream LakeTable syncs by
``merge_apply(collapse_lww(read_changes(ack)))`` and must converge to the
primary's state across DDL-split ranges, incremental ack positions,
redelivery, merge-on-read commits, and feed expiry.
"""

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.operators.lww import collapse_lww
from canal_spark.pipeline import replay
from canal_spark.table.lake import LakeTable

TOKSEQ_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])
BASE_COLS = [f.name for f in TOKSEQ_SCHEMA]


def _state(table: LakeTable, cols=BASE_COLS) -> dict:
    return {
        r["doc_id"]: tuple(
            tuple(r[c]) if isinstance(r[c], list) else r[c] for c in cols)
        for r in table.refresh().read().select(*cols).collect()
    }


def _setup(spark, tmp_work, spec: CdcLogSpec, n_base=250, **table_kw):
    base = generate_base_table(n_base, seed=spec.seed)
    log_dir = os.path.join(tmp_work, "log")
    generate_cdc_log(log_dir, spec, base)
    bdf = spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA)
    primary = LakeTable.create(spark, os.path.join(tmp_work, "primary"),
                               TOKSEQ_SCHEMA, n_buckets=8, df=bdf,
                               changelog=True, **table_kw)
    consumer = LakeTable.create(spark, os.path.join(tmp_work, "consumer"),
                                TOKSEQ_SCHEMA, n_buckets=8, df=bdf)
    return base, log_dir, primary, consumer


def _sync(consumer: LakeTable, feed, batch_id=None) -> None:
    net = collapse_lww(feed.drop("_commit_version"), key="doc_id")
    consumer.merge_apply(net, batch_id=batch_id)


def test_changelog_relay_reproduces_primary(spark, tmp_work):
    """Full-feed relay: applying read_changes(0) to a second table seeded
    from the same base reproduces the primary's final state — across a
    DDL-split range (post-DDL commits carry the widened schema; parquet
    schema merge unions the feed)."""
    ddl = [(1100, "ALTER TABLE train.tokseq ADD COLUMN lang varchar")]
    spec = CdcLogSpec(n_events=2400, seed=91, events_per_file=650,
                      pk_change_frac=0.05, ddl_script=ddl)
    base, log_dir, primary, consumer = _setup(spark, tmp_work, spec)
    replay(spark, log_dir, primary, batch_id="full")

    feed = primary.refresh().read_changes(0)
    assert "_commit_version" in feed.columns and "lang" in feed.columns
    _sync(consumer, feed, batch_id="relay")
    assert _state(consumer) == _state(primary)


def test_changelog_ack_positions(spark, tmp_work):
    """Incremental consumption: a consumer that acked version V pulls only
    later commits and still converges; the feed below the ack can then be
    expired without breaking the remaining range."""
    spec = CdcLogSpec(n_events=2400, seed=92, events_per_file=400,
                      pk_change_frac=0.05)
    base, log_dir, primary, consumer = _setup(spark, tmp_work, spec)
    # split the segment files into two delivery windows
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    half = len(segs) // 2
    d1, d2 = os.path.join(tmp_work, "d1"), os.path.join(tmp_work, "d2")
    os.makedirs(d1), os.makedirs(d2)
    for f in segs[:half]:
        shutil.copy(os.path.join(log_dir, f), os.path.join(d1, f))
    for f in segs[half:]:
        shutil.copy(os.path.join(log_dir, f), os.path.join(d2, f))

    replay(spark, d1, primary, batch_id="w1")
    ack = primary.refresh().version
    _sync(consumer, primary.read_changes(0, until_version=ack), "c1")

    replay(spark, d2, primary.refresh(), batch_id="w2")
    tail = primary.refresh().read_changes(since_version=ack)
    assert tail.select(F.min("_commit_version")).first()[0] > ack
    _sync(consumer, tail, "c2")
    assert _state(consumer) == _state(primary)

    # every consumer is past `ack`: purge the acked feed, the tail survives
    dropped = primary.refresh().expire_changelog(upto_version=ack)
    assert dropped > 0
    assert primary.refresh().read_changes(0, until_version=ack).count() == 0
    again = primary.read_changes(since_version=ack)
    assert again.count() == tail.count()


def test_changelog_redelivery(spark, tmp_work):
    """Ledgered redelivery adds no feed entries (exactly-once stream path);
    un-ledgered redelivery may re-log rows, but the consumer's LWW fold by
    (key, max lsn) keeps the relayed state exact — the reference's
    idempotent-adapter contract under at-least-once MQ delivery."""
    spec = CdcLogSpec(n_events=1600, seed=93, events_per_file=800)
    base, log_dir, primary, consumer = _setup(spark, tmp_work, spec)
    replay(spark, log_dir, primary, batch_id="full")
    n_entries = len(primary.refresh().snap["changelog"])

    replay(spark, log_dir, primary.refresh(), batch_id="full")  # ledgered
    assert len(primary.refresh().snap["changelog"]) == n_entries

    replay(spark, log_dir, primary.refresh())                   # un-ledgered
    assert primary.refresh().read_changes(0).count() > 0
    _sync(consumer, primary.read_changes(0), "relay")
    assert _state(consumer) == _state(primary)


def test_changelog_under_merge_on_read(spark, tmp_work):
    """The delta-commit path logs the same feed: a MoR primary relays into
    a CoW consumer exactly."""
    spec = CdcLogSpec(n_events=1600, seed=94, events_per_file=500)
    base, log_dir, primary, consumer = _setup(spark, tmp_work, spec,
                                              merge_mode="mor")
    replay(spark, log_dir, primary, batch_id="full")
    assert primary.refresh().snap["deltas"]  # the MoR path actually ran
    _sync(consumer, primary.read_changes(0), "relay")
    assert _state(consumer) == _state(primary)


def test_relay_loop_atomic_ack_and_resume(spark, tmp_work):
    """The client loop (streaming/relay.py): the ack position rides the
    downstream ledger, so a relay that 'crashes' (fresh LakeTable handles,
    nothing passed between) resumes exactly where it acked; a drained feed
    polls as a no-op; redelivered polls are absorbed."""
    from canal_spark.streaming.relay import acked_version, relay_step, \
        relay_until_idle

    spec = CdcLogSpec(n_events=2400, seed=93, events_per_file=400,
                      pk_change_frac=0.04)
    base, log_dir, primary, consumer = _setup(spark, tmp_work, spec)
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))

    # window 1: two primary commits, then one relay poll
    replay(spark, log_dir, primary, files=segs[:2], batch_id="w1")
    replay(spark, log_dir, primary.refresh(), files=segs[2:4], batch_id="w2")
    r1 = relay_step(primary.refresh(), consumer)
    assert r1["applied"] and r1["ack"] == primary.refresh().version

    # crash: rebuild both handles from disk only
    primary2 = LakeTable(spark, primary.path)
    consumer2 = LakeTable(spark, consumer.path)
    assert acked_version(consumer2) == r1["ack"]

    # window 2: remaining commits, relay drains until idle
    replay(spark, log_dir, primary2, files=segs[4:], batch_id="w3")
    polls = relay_until_idle(primary2.refresh(), consumer2)
    assert polls[-1]["applied"] is False          # drained
    assert _state(consumer2) == _state(primary2)

    # idle poll is a metadata no-op (no new downstream version)
    v = consumer2.refresh().version
    relay_step(primary2.refresh(), consumer2)
    assert consumer2.refresh().version == v


def test_relay_mirrors_ddl_and_truncate(spark, tmp_work):
    """Upstream ALTER ADD COLUMN surfaces in the feed parquet; the relay
    mirrors it into the downstream schema before applying, and a metadata
    TRUNCATE fence (invisible to the row feed) propagates too."""
    from canal_spark.streaming.relay import relay_step, relay_until_idle

    ddl = [(1000, "ALTER TABLE train.tokseq ADD COLUMN lang varchar")]
    spec = CdcLogSpec(n_events=2000, seed=94, events_per_file=500,
                      pk_change_frac=0.03, ddl_script=ddl)
    base, log_dir, primary, consumer = _setup(spark, tmp_work, spec)
    replay(spark, log_dir, primary, batch_id="full")
    relay_until_idle(primary.refresh(), consumer)

    assert "lang" in consumer.refresh().logical_columns()
    cols = BASE_COLS + ["lang"]
    assert _state(consumer, cols) == _state(primary, cols)

    # metadata truncate upstream → fence mirrored downstream on next poll
    primary.truncate(lsn="zzz")
    relay_step(primary.refresh(), consumer)
    assert consumer.refresh().snap["truncate_lsn"] == "zzz"
    assert consumer.read().count() == 0


def test_relay_expire_acked_frees_feed(spark, tmp_work):
    """Single-consumer mode: each successful poll drops the feed files it
    just consumed (ring-buffer free-on-ack analog) without breaking later
    polls or convergence."""
    from canal_spark.streaming.relay import relay_step

    spec = CdcLogSpec(n_events=1800, seed=95, events_per_file=300)
    base, log_dir, primary, consumer = _setup(spark, tmp_work, spec)
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    half = len(segs) // 2
    replay(spark, log_dir, primary, files=segs[:half], batch_id="w1")
    r1 = relay_step(primary.refresh(), consumer, expire_acked=True)
    assert r1["applied"]
    assert primary.refresh().read_changes(0, r1["ack"]).count() == 0

    replay(spark, log_dir, primary.refresh(), files=segs[half:], batch_id="w2")
    r2 = relay_step(primary.refresh(), consumer, expire_acked=True)
    assert r2["applied"]
    assert _state(consumer) == _state(primary)


def test_relay_ack_survives_ledger_eviction(spark, tmp_work):
    """The exactly-once ledger keeps only LEDGER_KEEP batch ids; a relay
    idle across more downstream commits than that must NOT lose its ack
    and re-pull the feed from v0 — the durable ``relay_acks`` snapshot
    field carries the position past eviction."""
    import canal_spark.table.lake as lake
    from canal_spark.streaming.relay import acked_version, relay_step

    spec = CdcLogSpec(n_events=1200, seed=96, events_per_file=300)
    base, log_dir, primary, consumer = _setup(spark, tmp_work, spec)
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    replay(spark, log_dir, primary, files=segs[:2], batch_id="w1")
    r1 = relay_step(primary.refresh(), consumer)
    assert r1["applied"]
    ack1 = acked_version(consumer.refresh())
    assert ack1 == r1["ack"] > 0

    # flood the downstream ledger until the relay's batch id is evicted
    orig_keep = lake.LEDGER_KEEP
    lake.LEDGER_KEEP = 8
    try:
        for i in range(10):
            consumer.refresh().mark_applied(f"other-{i}")
        consumer2 = LakeTable(spark, consumer.path)
        assert not any(b.startswith("relay/")
                       for b in consumer2.snap["applied_batches"])
        # durable ack still knows the position
        assert acked_version(consumer2) == ack1

        # and the next poll pulls only the NEW window, not the whole feed
        replay(spark, log_dir, primary.refresh(), files=segs[2:],
               batch_id="w2")
        r2 = relay_step(primary.refresh(), consumer2)
        assert r2["applied"]
        assert _state(consumer2) == _state(primary)
    finally:
        lake.LEDGER_KEEP = orig_keep


def test_relay_survives_upstream_drop_column(spark, tmp_work):
    """Regression (probe finding): once the upstream DROPs a column, every
    later feed slice lacks it — the old feed-driven schema mirror then
    selected the dropped column from the feed and crashed EVERY poll
    (AnalysisException; the ack never advances, the relay is wedged for
    good). The mirror now follows the source snapshot: ADD and DROP are
    both mirrored metadata-only, a slice straddling the DROP applies
    without the dropped values, and the downstream converges to the
    source's final state."""
    from canal_spark.streaming.relay import relay_step, relay_until_idle

    def _mk(rows, fields):
        return spark.createDataFrame(rows, T.StructType(
            [T.StructField(n, t) for n, t in fields]))

    F_ = [("doc_id", T.StringType()), ("tokens", T.ArrayType(T.IntegerType())),
          ("n_tok", T.IntegerType()), ("source", T.StringType()),
          ("op", T.StringType()), ("lsn", T.StringType())]
    primary = LakeTable.create(spark, os.path.join(tmp_work, "p"),
                               TOKSEQ_SCHEMA, n_buckets=4, changelog=True)
    consumer = LakeTable.create(spark, os.path.join(tmp_work, "c"),
                                TOKSEQ_SCHEMA, n_buckets=4)
    primary.merge_apply(_mk([("a", [1], 1, "web", "U", "lsn-001")], F_),
                        batch_id="b1")
    relay_until_idle(primary.refresh(), consumer)

    # upstream ADD + a commit carrying the new column, NOT yet relayed
    primary.refresh().alter_add_column("lang", T.StringType())
    primary.refresh().merge_apply(
        _mk([("b", [2], 1, "web", "en", "U", "lsn-002")],
            F_[:4] + [("lang", T.StringType())] + F_[4:]), batch_id="b2")
    # upstream DROP + a post-drop commit: the next relay slice STRADDLES
    # both DDLs (its feed union carries lang from b2)
    primary.refresh().alter_drop_column("lang")
    primary.refresh().merge_apply(
        _mk([("c", [3], 1, "web", "U", "lsn-003")], F_), batch_id="b3")

    r = relay_step(primary.refresh(), consumer.refresh())
    assert r["applied"]
    assert consumer.refresh().logical_columns() == BASE_COLS  # drop mirrored
    assert _state(consumer) == _state(primary)

    # the poll loop stays healthy: next poll is a clean no-op
    r2 = relay_step(primary.refresh(), consumer.refresh())
    assert not r2["applied"]


def test_consumer_groups_two_cadences(spark, tmp_work):
    """N independent consumers off ONE feed (the reference's per-destination
    meta cursors, CanalServerWithEmbedded.java:191-222): a fast consumer
    polls every window, a slow one once at the end; both converge exactly,
    and ``expire_acked`` frees feed files only past the SLOWEST registered
    ack — the fast consumer's expiry polls must never drop what the slow
    one still needs."""
    from canal_spark.streaming.relay import (register_consumer, relay_step,
                                             relay_until_idle)

    spec = CdcLogSpec(n_events=2400, seed=97, events_per_file=300,
                      pk_change_frac=0.04)
    base, log_dir, primary, fast = _setup(spark, tmp_work, spec)
    slow = LakeTable.create(spark, os.path.join(tmp_work, "slow"),
                            TOKSEQ_SCHEMA, n_buckets=8,
                            df=spark.createDataFrame(base.to_pandas(),
                                                     TOKSEQ_SCHEMA))
    # both consumers registered up front: the feed retains for both
    register_consumer(primary, "fast")
    register_consumer(primary, "slow")

    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    for i in range(0, len(segs), 2):
        replay(spark, log_dir, primary.refresh(), files=segs[i:i + 2],
               batch_id=f"w{i}")
        r = relay_step(primary.refresh(), fast, prefix="fast",
                       consumer="fast", expire_acked=True)
        assert r["applied"]
        # slow hasn't moved: nothing may be expired past its ack (0)
        assert len(primary.refresh().snap["changelog"]) > 0
        assert min(int(v) for v in primary.snap["changelog"]) \
            > primary.consumer_acks()["slow"]

    # slow catches up in one drain; its expiry now frees the whole feed
    polls = relay_until_idle(primary.refresh(), slow, prefix="slow",
                             consumer="slow", expire_acked=True)
    assert any(p["applied"] for p in polls)
    assert _state(fast) == _state(primary)
    assert _state(slow) == _state(primary)
    assert primary.refresh().snap["changelog"] == {}  # slowest ack passed all

    # drained feed: idle polls ride the metadata fast path (no merge job),
    # bring both cursors to the head, and never wake each other (the
    # registry lives outside the snapshot chain, so acks don't bump the
    # source version)
    v = primary.refresh().version
    r1 = relay_step(primary.refresh(), fast, prefix="fast", consumer="fast")
    r2 = relay_step(primary.refresh(), slow, prefix="slow", consumer="slow")
    assert not r1["applied"] and not r2["applied"]
    assert primary.refresh().version == v
    acks = primary.consumer_acks()
    assert acks["slow"] == acks["fast"] == v


def test_consumer_group_resume_after_crash(spark, tmp_work):
    """A named consumer rebuilt from disk (fresh handles) resumes from its
    cursor; a crash BETWEEN the downstream data commit and the source-side
    ack write replays into a ledger no-op and then repairs the cursor."""
    from canal_spark.streaming.relay import _record_consumer_ack, relay_step

    spec = CdcLogSpec(n_events=1600, seed=98, events_per_file=400)
    base, log_dir, primary, consumer = _setup(spark, tmp_work, spec)
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    replay(spark, log_dir, primary, files=segs[:2], batch_id="w1")
    r1 = relay_step(primary.refresh(), consumer, consumer="c1")
    assert r1["applied"]
    assert primary.consumer_acks()["c1"] == r1["ack"]

    # simulate the crash window: roll the src-side cursor BACK (the dst
    # data commit + ledger entry survived) and re-poll — ledger no-op,
    # cursor repaired forward
    primary.set_consumer_ack("c1", 0)
    primary2, consumer2 = LakeTable(spark, primary.path), \
        LakeTable(spark, consumer.path)
    r2 = relay_step(primary2, consumer2, consumer="c1")
    assert not r2["applied"]                       # redelivery absorbed
    assert primary2.consumer_acks()["c1"] == r1["ack"]

    replay(spark, log_dir, primary2.refresh(), files=segs[2:], batch_id="w2")
    r3 = relay_step(primary2.refresh(), consumer2, consumer="c1")
    assert r3["applied"]
    assert _state(consumer2) == _state(primary2)
    # _record_consumer_ack is monotonic: a stale write never regresses
    _record_consumer_ack(primary2, "c1", 1)
    assert primary2.consumer_acks()["c1"] == r3["ack"]


def test_consumer_subscribe_joins_live_feed(spark, tmp_work):
    """A NEW consumer joins mid-stream via subscribe(): snapshot backfill +
    registration at the snapshot version; earlier feed files it never saw
    can already be gone (expired by older consumers), later churn arrives
    incrementally — final state exact."""
    from canal_spark.streaming.relay import (relay_step, relay_until_idle,
                                             subscribe)

    spec = CdcLogSpec(n_events=2000, seed=99, events_per_file=400,
                      pk_change_frac=0.03)
    base, log_dir, primary, veteran = _setup(spark, tmp_work, spec)
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    half = len(segs) // 2

    replay(spark, log_dir, primary, files=segs[:half], batch_id="w1")
    relay_until_idle(primary.refresh(), veteran, consumer="veteran",
                     expire_acked=True)
    assert primary.refresh().snap["changelog"] == {}  # early feed is GONE

    # newcomer subscribes: backfill from the snapshot, not the (expired) feed
    newcomer = LakeTable.create(spark, os.path.join(tmp_work, "newcomer"),
                                TOKSEQ_SCHEMA, n_buckets=8)
    ack0 = subscribe(primary.refresh(), newcomer, "newcomer")
    assert ack0 == primary.version
    assert _state(newcomer) == _state(primary)

    replay(spark, log_dir, primary.refresh(), files=segs[half:],
           batch_id="w2")
    relay_until_idle(primary.refresh(), newcomer, consumer="newcomer",
                     expire_acked=True)
    relay_until_idle(primary.refresh(), veteran, consumer="veteran",
                     expire_acked=True)
    assert _state(newcomer) == _state(primary)
    assert _state(veteran) == _state(primary)
    acks = primary.consumer_acks()
    assert set(acks) == {"veteran", "newcomer"}
    assert primary.refresh().snap["changelog"] == {}


def test_expire_guard_protects_lagging_consumer(spark, tmp_work):
    """A direct expire_changelog(head) with named consumers registered is
    CLAMPED to the slowest ack — the operator cannot silently drop feed a
    lagging consumer still needs; force=True overrides. maintain() bounds
    the feed the same way, and feed_status reports per-consumer lag."""
    from canal_spark.streaming.relay import (feed_status, register_consumer,
                                             relay_until_idle)

    spec = CdcLogSpec(n_events=1600, seed=101, events_per_file=300)
    base, log_dir, primary, fast = _setup(spark, tmp_work, spec)
    lag = LakeTable.create(spark, os.path.join(tmp_work, "lag"),
                           TOKSEQ_SCHEMA, n_buckets=8,
                           df=spark.createDataFrame(base.to_pandas(),
                                                    TOKSEQ_SCHEMA))
    register_consumer(primary, "fast")
    lag_ack0 = register_consumer(primary, "lag")
    replay(spark, log_dir, primary, batch_id="full")
    relay_until_idle(primary.refresh(), fast, prefix="fast", consumer="fast")

    # direct over-expiry clamps at the lagging consumer's ack (0)
    dropped = primary.refresh().expire_changelog(primary.version)
    assert dropped == 0
    assert primary.refresh().snap["changelog"]

    st = feed_status(primary)
    assert st["consumers"]["lag"]["ack"] == lag_ack0
    assert st["consumers"]["lag"]["lag_versions"] == st["head"] - lag_ack0 > 0
    assert st["consumers"]["fast"]["lag_versions"] <= 1
    assert st["retained_versions"]

    # maintain() on the changelog primary bounds the feed only to the
    # slowest ack (here: keeps everything for the lagger)
    m = primary.maintain()
    assert m["feed_expired"] == 0

    # the lagger catches up — now maintain() frees the whole feed
    relay_until_idle(primary.refresh(), lag, prefix="lag", consumer="lag")
    m2 = primary.refresh().maintain()
    assert m2["feed_expired"] > 0
    assert primary.refresh().snap["changelog"] == {}
    assert _state(fast) == _state(primary) == _state(lag)

    # force=True overrides the clamp (abandoning a dead consumer)
    replay(spark, log_dir, primary.refresh())  # un-ledgered: re-log rows
    assert primary.refresh().snap["changelog"]
    primary.set_consumer_ack("dead", 0)
    assert primary.expire_changelog(primary.version) == 0   # clamped
    assert primary.expire_changelog(primary.version, force=True) > 0
    assert primary.refresh().snap["changelog"] == {}


def test_subscribe_survives_historical_truncate(spark, tmp_work):
    """Regression (code-review r04 #1): a newcomer subscribing to a source
    with ANY historical TRUNCATE must keep its snapshot backfill — the
    first poll's truncate-fence mirror used to wipe the whole backfill and
    the feed never redelivers pre-subscription rows."""
    from canal_spark.streaming.relay import relay_until_idle, subscribe

    ddl = [(800, "TRUNCATE TABLE train.tokseq")]
    spec = CdcLogSpec(n_events=2000, seed=103, events_per_file=400,
                      ddl_script=ddl)
    base, log_dir, primary, _ = _setup(spark, tmp_work, spec)
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    half = len(segs) // 2
    replay(spark, log_dir, primary, files=segs[:half], batch_id="w1")
    assert primary.refresh().snap["truncate_lsn"]    # truncate happened

    newcomer = LakeTable.create(spark, os.path.join(tmp_work, "newcomer"),
                                TOKSEQ_SCHEMA, n_buckets=8)
    subscribe(primary.refresh(), newcomer, "newcomer")
    n_backfill = newcomer.refresh().read().count()
    assert n_backfill > 0

    # the first poll (idle or not) must NOT wipe the backfill
    replay(spark, log_dir, primary.refresh(), files=segs[half:],
           batch_id="w2")
    relay_until_idle(primary.refresh(), newcomer, consumer="newcomer")
    assert _state(newcomer) == _state(primary)


def test_retention_gap_raises_not_silent(spark, tmp_work):
    """An unnamed relay whose ack trails the feed's expired high-water mark
    must get FeedRetentionGapError, not a silent fast-forward (ADVICE r05
    #3: the metadata fast path used to advance the ack to head whenever no
    entries remained in (ack, head], even when the missing entries were
    EXPIRED rather than never-written — data loss dressed as an idle
    poll). Recovery via subscribe() then relays cleanly."""
    import pytest

    from canal_spark.streaming.relay import (FeedRetentionGapError,
                                             relay_until_idle, subscribe)

    spec = CdcLogSpec(n_events=1600, seed=104, events_per_file=400)
    base, log_dir, primary, fast = _setup(spark, tmp_work, spec)
    replay(spark, log_dir, primary, batch_id="full")
    # a registered consumer drains and frees the whole feed
    relay_until_idle(primary.refresh(), fast, prefix="fast", consumer="fast",
                     expire_acked=True)
    assert primary.refresh().snap["changelog"] == {}
    assert int(primary.snap.get("changelog_expired_upto", 0)) > 0

    # an unnamed late relay (ack=0) now has an unservable gap
    late = LakeTable.create(spark, os.path.join(tmp_work, "late"),
                            TOKSEQ_SCHEMA, n_buckets=8)
    with pytest.raises(FeedRetentionGapError):
        relay_until_idle(primary.refresh(), late, prefix="late")
    # the guard did not corrupt anything: subscribe() backfills and the
    # relay follows from the snapshot position
    subscribe(primary.refresh(), late, "late")
    relay_until_idle(primary.refresh(), late, prefix="late",
                     consumer="late")
    assert _state(late) == _state(primary)
