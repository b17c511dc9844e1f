"""Property-based fuzz: random log shapes replayed through the engine must
land in the sequential-apply oracle's state — token arrays exact.

Every prior correctness test fixes a handful of seeded specs; this harness
lets hypothesis drive the spec space (event counts incl. tiny logs, op-mix
extremes, heavy pk-change rates, hot-key skew, segment-roll sizes down to
a few transactions per file, DDL anywhere in the log including event 0)
and shrinks any failure to a minimal spec. The reference's analog is its
randomized DDL corpus test (parse/src/test/.../MemoryTableMeta_Random_
DDL_Test.java) — here the randomization covers the whole apply pipeline:
envelope filter → DDL-split ranges → LWW collapse → LSN-fenced MERGE.
"""

import itertools
import os
import shutil

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.oracle import oracle_final_state
from canal_spark.pipeline import replay
from canal_spark.table.lake import LakeTable
from tests.conftest import WORK, assert_state_equal, rows_to_state

# one work dir per EXAMPLE, never reused: Spark caches persisted plans by
# file path, so re-running a shrunk example at a path an earlier example
# used (same seed/n_events/epf, different op mix) would read the OLD
# table's cached rows — a harness artifact that looks exactly like an
# engine wrong-answer (diagnosed via a clean standalone repro of the
# "failing" spec)
_RUN = itertools.count()

TOKSEQ_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])

# one DDL drawn per example; positions clamp into the log. The group fuzz
# samples [:3] (ADD COLUMN shapes only); the tail entries widen the
# single-source pool with TRUNCATE, RENAME TABLE (subscription follow —
# the generator emits post-rename DML under the new name, the oracle
# follows the parsed rename) and a FOREIGN-table ALTER (must not split
# ranges or touch the subscribed fold on either engine or oracle).
_DDLS = [
    "ALTER TABLE train.tokseq ADD COLUMN q1 STRING",
    "ALTER TABLE train.tokseq ADD COLUMN s1 INT, ADD COLUMN s2 STRING",
    "ALTER TABLE train.tokseq ADD COLUMN tmp INT",
    "TRUNCATE TABLE train.tokseq",
    "RENAME TABLE train.tokseq TO train.tokseq2",
    "ALTER TABLE train.other_tbl ADD COLUMN x1 INT",
]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(20, 900),
    n_base=st.integers(5, 150),
    ins=st.integers(0, 10), upd=st.integers(0, 10), dele=st.integers(0, 10),
    hot_frac=st.sampled_from([0.0, 0.5, 0.95]),
    pk_change_frac=st.sampled_from([0.0, 0.1, 0.3]),
    events_per_file=st.integers(7, 500),
    txn_max=st.integers(1, 300),
    ddl=st.none() | st.tuples(st.integers(0, 900), st.sampled_from(_DDLS)),
)
def test_fuzz_replay_matches_oracle(spark, seed, n_events, n_base, ins, upd,
                                    dele, hot_frac, pk_change_frac,
                                    events_per_file, txn_max, ddl):
    tot = (ins + upd + dele) or 1
    spec = CdcLogSpec(
        n_events=n_events, seed=seed,
        op_mix=(ins / tot, upd / tot, dele / tot),
        hot_frac=hot_frac, pk_change_frac=pk_change_frac,
        events_per_file=events_per_file, txn_max=txn_max,
        other_table_frac=0.05,
        ddl_script=[(min(ddl[0], n_events - 1), ddl[1])] if ddl else [],
    )
    work = os.path.join(WORK, f"fuzz_{next(_RUN)}_{seed}_{n_events}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        log_dir = os.path.join(work, "log")
        generate_cdc_log(log_dir, spec, base)
        table = LakeTable.create(
            spark, os.path.join(work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=4,
            df=spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA))
        replay(spark, log_dir, table)
        table = table.refresh()

        expected, cols = oracle_final_state(base, log_dir)
        assert table.logical_columns() == cols
        actual = rows_to_state(table.read().collect(), cols)
        assert_state_equal(actual, expected, cols)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(20, 600),
    n_base=st.integers(5, 120),
    hot_frac=st.sampled_from([0.0, 0.95]),
    pk_change_frac=st.sampled_from([0.0, 0.3]),
    events_per_file=st.integers(11, 300),
    ddl=st.none() | st.tuples(st.integers(0, 600), st.sampled_from(_DDLS)),
    salt=st.sampled_from([None, 4]),
)
def test_fuzz_wire_replay_matches_oracle(spark, seed, n_events, n_base,
                                         hot_frac, pk_change_frac,
                                         events_per_file, ddl, salt):
    """Same property through the WIRE path (the streaming hot path: fused
    string-payload collapse → tolerant decode → sink-type cast), with the
    salted two-phase collapse in the mix."""
    from canal_spark.operators.decode import convert_log_to_wire

    spec = CdcLogSpec(
        n_events=n_events, seed=seed, hot_frac=hot_frac,
        pk_change_frac=pk_change_frac, events_per_file=events_per_file,
        other_table_frac=0.05,
        ddl_script=[(min(ddl[0], n_events - 1), ddl[1])] if ddl else [],
    )
    work = os.path.join(WORK, f"wfuzz_{next(_RUN)}_{seed}_{n_events}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        log_dir = os.path.join(work, "log")
        generate_cdc_log(log_dir, spec, base)
        wire_dir = os.path.join(work, "wire")
        convert_log_to_wire(spark, log_dir, wire_dir)
        table = LakeTable.create(
            spark, os.path.join(work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=4,
            df=spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA))
        replay(spark, wire_dir, table, wire=True, salt_partitions=salt)
        table = table.refresh()

        expected, cols = oracle_final_state(base, log_dir)
        assert table.logical_columns() == cols
        actual = rows_to_state(table.read().collect(), cols)
        assert_state_equal(actual, expected, cols)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(100, 1200),
    n_base=st.integers(10, 120),
    events_per_file=st.integers(23, 300),
    trigger=st.integers(1, 3),
    kill_after=st.integers(0, 4),
    ddl=st.none() | st.tuples(st.integers(0, 1200), st.sampled_from(_DDLS)),
)
def test_fuzz_streaming_kill_resume_matches_oracle(
        spark, seed, n_events, n_base, events_per_file, trigger, kill_after,
        ddl):
    """Same property through the STREAMING path with a random mid-stream
    kill: whatever micro-batch the first process dies after — including
    before the first commit, and after the log is already drained — a
    resume from the same checkpoint must land in the sequential oracle's
    state with no double-apply. Fuzzes the exactly-once machinery itself
    (checkpointed offsets + applied-batch ledger + LSN fence) rather than
    one seeded kill point like test_streaming_kill_and_resume."""
    import time

    from canal_spark.operators.decode import convert_log_to_wire
    from canal_spark.streaming.replay import StreamingReplay

    spec = CdcLogSpec(
        n_events=n_events, seed=seed, events_per_file=events_per_file,
        pk_change_frac=0.1, other_table_frac=0.05,
        ddl_script=[(min(ddl[0], n_events - 1), ddl[1])] if ddl else [],
    )
    work = os.path.join(WORK, f"sfuzz_{next(_RUN)}_{seed}_{n_events}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        log_dir = os.path.join(work, "log")
        generate_cdc_log(log_dir, spec, base)
        wire_dir = os.path.join(work, "wire")
        convert_log_to_wire(spark, log_dir, wire_dir)
        table = LakeTable.create(
            spark, os.path.join(work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=4,
            df=spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA))
        ckpt = os.path.join(work, "ckpt")

        # phase 1: let at most `kill_after` epochs commit, then hard-stop.
        # If the log drains first, the "kill" degrades to a clean finish and
        # the resume below must be a no-op — also a property worth holding.
        sr1 = StreamingReplay(spark, wire_dir, table, ckpt,
                              max_files_per_trigger=trigger)
        q = sr1.start(available_now=True)
        deadline = time.time() + 300
        while (q.isActive and len(sr1.metrics.read()) <= kill_after
               and time.time() < deadline):
            q.awaitTermination(0.2)
        q.stop()

        # phase 2: a new "process" resumes from the same checkpoint
        sr2 = StreamingReplay(spark, wire_dir, table.refresh(), ckpt,
                              max_files_per_trigger=trigger)
        sr2.run_to_completion()
        sr2.flush_tail()

        table = table.refresh()
        expected, cols = oracle_final_state(base, log_dir)
        assert table.logical_columns() == cols
        actual = rows_to_state(table.read().collect(), cols)
        assert_state_equal(actual, expected, cols)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    shard_events=st.lists(st.integers(60, 700), min_size=2, max_size=3),
    n_base=st.integers(10, 80),
    events_per_file=st.integers(31, 300),
    kill_after=st.integers(0, 3),
    ddl=st.none() | st.tuples(st.integers(0, 700), st.sampled_from(_DDLS[:3])),
)
def test_fuzz_group_streaming_kill_resume_matches_oracle(
        spark, seed, shard_events, n_base, events_per_file, kill_after, ddl):
    """The multi-source barrier under fuzz: random shard counts and UNEVEN
    shard sizes (the fast shard must be fenced behind the slow one), a
    shared DDL mirrored on every shard at a random position, and a random
    mid-stream kill — the resumed group stream must land in the merged-
    timeline sequential oracle's state."""
    import time

    import pyarrow as pa

    from canal_spark.operators.decode import convert_log_to_wire
    from canal_spark.oracle import oracle_group_final_state
    from canal_spark.streaming.group import GroupStreamingReplay

    work = os.path.join(WORK, f"gfuzz_{next(_RUN)}_{seed}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        bases, typed_dirs, wire_dirs = [], [], []
        for i, n_events in enumerate(shard_events):
            base = generate_base_table(n_base, seed=seed + i,
                                       id_offset=i * 1_000_000)
            spec = CdcLogSpec(
                n_events=n_events, seed=seed + i,
                events_per_file=events_per_file,
                pk_change_frac=0.05, other_table_frac=0.05,
                doc_offset=10_000_000 * (i + 1),
                # a sharded upstream emits the SAME DDL on every shard;
                # clamp the drawn position into each shard's log
                ddl_script=([(min(ddl[0], n_events - 1), ddl[1])]
                            if ddl else []),
            )
            typed = os.path.join(work, f"shard{i}", "typed")
            generate_cdc_log(typed, spec, base)
            wire = os.path.join(work, f"shard{i}", "wire")
            convert_log_to_wire(spark, typed, wire)
            bases.append(base)
            typed_dirs.append(typed)
            wire_dirs.append(wire)
        combined = pa.concat_tables(bases)
        table = LakeTable.create(
            spark, os.path.join(work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=4,
            df=spark.createDataFrame(combined.to_pandas(), TOKSEQ_SCHEMA))
        ckpt = os.path.join(work, "ckpt")

        gr1 = GroupStreamingReplay(spark, wire_dirs, table, ckpt,
                                   max_files_per_trigger=1)
        q = gr1.start(available_now=True)
        deadline = time.time() + 300
        while (q.isActive and len(gr1.metrics.read()) <= kill_after
               and time.time() < deadline):
            q.awaitTermination(0.2)
        q.stop()

        gr2 = GroupStreamingReplay(spark, wire_dirs, table.refresh(), ckpt,
                                   max_files_per_trigger=1)
        gr2.run_to_completion()
        gr2.flush_tail()

        table = table.refresh()
        expected, cols = oracle_group_final_state(bases, typed_dirs)
        assert table.logical_columns() == cols
        actual = rows_to_state(table.read().collect(), cols)
        assert_state_equal(actual, expected, cols)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(40, 600),
    n_base=st.integers(8, 120),
    ins=st.integers(0, 10), upd=st.integers(0, 10), dele=st.integers(0, 10),
    pk_change_frac=st.sampled_from([0.0, 0.1, 0.3]),
    events_per_file=st.integers(9, 250),
    n_chunks=st.integers(1, 3),
    redeliver=st.integers(0, 2),
    ddl=st.none() | st.tuples(st.integers(0, 600), st.sampled_from(_DDLS)),
)
def test_fuzz_views_match_recompute(spark, seed, n_events, n_base, ins, upd,
                                    dele, pk_change_frac, events_per_file,
                                    n_chunks, redeliver, ddl):
    """The maintained-view machinery under fuzz: a random log replayed in
    1-3 ledgered chunks with the three hardest views attached — the
    fingerprint TransformView (plain per-row derivation), PackIndexView
    (shard re-pack with '~p' carried-row restamping) and AggRollupView
    (retraction against the main table's parent snapshot) — must each land
    exactly in their independent recompute-from-scratch twin over the
    sequential oracle's final state; then one random chunk re-delivered
    UN-ledgered (the at-least-once pattern, including a stale non-tail
    chunk) must move none of them. Covers the three distinct fence
    mechanisms the seeded view tests pin one case each of."""
    from pyspark.sql import functions as F

    from canal_spark.views import (AggRollupView, PackIndexView,
                                   agg_rollup_frame, fingerprint_index_view,
                                   pack_index_frame)
    from tests.test_views import (INDEX_COLS, INDEX_SCHEMA, PACK_COLS,
                                  PACK_SCHEMA, ROLLUP_COLS, ROLLUP_SCHEMA,
                                  SEQ_LEN, SHARD_CHARS, _expected_index,
                                  _expected_pack, _expected_rollup,
                                  _pack_state, _rollup_state, _view_state)

    tot = (ins + upd + dele) or 1
    spec = CdcLogSpec(
        n_events=n_events, seed=seed,
        op_mix=(ins / tot, upd / tot, dele / tot),
        pk_change_frac=pk_change_frac,
        events_per_file=events_per_file, other_table_frac=0.05,
        ddl_script=[(min(ddl[0], n_events - 1), ddl[1])] if ddl else [],
    )
    work = os.path.join(WORK, f"vfuzz_{next(_RUN)}_{seed}_{n_events}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        log_dir = os.path.join(work, "log")
        generate_cdc_log(log_dir, spec, base)
        bdf = spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA)
        table = LakeTable.create(
            spark, os.path.join(work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=4,
            df=bdf)
        fp_vt = LakeTable.create(
            spark, os.path.join(work, "fp_idx"), INDEX_SCHEMA, n_buckets=4,
            df=bdf.select("doc_id", F.md5(F.to_json("tokens")).alias("fp_md5"),
                          "n_tok", "source"))
        pk_vt = LakeTable.create(
            spark, os.path.join(work, "pack_idx"), PACK_SCHEMA, n_buckets=4,
            df=pack_index_frame(bdf.select("doc_id", "n_tok"), SEQ_LEN,
                                shard_chars=SHARD_CHARS))
        ru_vt = LakeTable.create(
            spark, os.path.join(work, "rollup"), ROLLUP_SCHEMA,
            key_col="source", n_buckets=4,
            df=agg_rollup_frame(bdf, "source", ("n_tok",)))
        views = [fingerprint_index_view(fp_vt),
                 PackIndexView(pk_vt, SEQ_LEN, shard_chars=SHARD_CHARS),
                 AggRollupView(ru_vt, table, "source", ("n_tok",))]

        files = sorted(f for f in os.listdir(log_dir)
                       if f.endswith(".parquet"))
        k = min(n_chunks, len(files))
        bounds = [round(i * len(files) / k) for i in range(k + 1)]
        chunks = [files[bounds[i]:bounds[i + 1]] for i in range(k)]
        for i, chunk in enumerate(chunks):
            if chunk:
                replay(spark, log_dir, table.refresh(), files=chunk,
                       batch_id=f"c{i}", views=views)

        states = (_view_state(views[0]), _pack_state(views[1]),
                  _rollup_state(views[2]))
        assert_state_equal(states[0], _expected_index(base, log_dir),
                           INDEX_COLS)
        assert_state_equal(states[1], _expected_pack(base, log_dir),
                           PACK_COLS)
        assert_state_equal(states[2], _expected_rollup(base, log_dir),
                           ROLLUP_COLS)

        # at-least-once: one random chunk again, UN-ledgered — every view's
        # fence must absorb it (stale non-tail chunks included)
        again = chunks[min(redeliver, k - 1)]
        if again:
            replay(spark, log_dir, table.refresh(), files=again, views=views)
        assert _view_state(views[0]) == states[0]
        assert _pack_state(views[1]) == states[1]
        assert _rollup_state(views[2]) == states[2]
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(20, 700),
    n_base=st.integers(5, 150),
    ins=st.integers(0, 10), upd=st.integers(0, 10), dele=st.integers(0, 10),
    pk_change_frac=st.sampled_from([0.0, 0.2]),
    events_per_file=st.integers(7, 300),
    n_chunks=st.integers(2, 4),
    factor=st.sampled_from([2, 4]),
    start_after=st.integers(0, 3),
    step_k=st.integers(1, 3),
    merge_mode=st.sampled_from(["cow", "mor", "auto"]),
    ddl=st.none() | st.tuples(st.integers(0, 700), st.sampled_from(_DDLS[:4])),
)
def test_fuzz_replay_with_spec_migration(spark, seed, n_events, n_base, ins,
                                         upd, dele, pk_change_frac,
                                         events_per_file, n_chunks, factor,
                                         start_after, step_k, merge_mode,
                                         ddl):
    """Incremental bucket-spec migration under fuzz: a random log replayed
    in ledgered chunks with rebucket_start/step interleaved at a random
    point and pace (the migration may still be UNFINISHED at the end — the
    mixed-spec read must equal the oracle anyway), across all three merge
    modes and the DDL pool incl. TRUNCATE mid-migration; then a stale
    chunk redelivered un-ledgered must not move the state, and driving the
    migration to completion must leave it invariant."""
    tot = (ins + upd + dele) or 1
    spec = CdcLogSpec(
        n_events=n_events, seed=seed,
        op_mix=(ins / tot, upd / tot, dele / tot),
        pk_change_frac=pk_change_frac,
        events_per_file=events_per_file, other_table_frac=0.05,
        ddl_script=[(min(ddl[0], n_events - 1), ddl[1])] if ddl else [],
    )
    work = os.path.join(WORK, f"mgfuzz_{next(_RUN)}_{seed}_{n_events}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        log_dir = os.path.join(work, "log")
        generate_cdc_log(log_dir, spec, base)
        table = LakeTable.create(
            spark, os.path.join(work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=4,
            merge_mode=merge_mode,
            df=spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA))
        files = sorted(f for f in os.listdir(log_dir)
                       if f.endswith(".parquet"))
        k = min(n_chunks, len(files))
        bounds = [round(i * len(files) / k) for i in range(k + 1)]
        chunks = [files[bounds[i]:bounds[i + 1]] for i in range(k)]
        started = False
        for i, chunk in enumerate(chunks):
            if chunk:
                replay(spark, log_dir, table.refresh(), files=chunk,
                       batch_id=f"c{i}")
            if not started and i >= min(start_after, k - 1):
                table.refresh().rebucket_start(4 * factor)
                started = True
            elif started:
                table.refresh().rebucket_step(step_k)
        table = table.refresh()

        expected, cols = oracle_final_state(base, log_dir)
        assert table.logical_columns() == cols
        assert_state_equal(rows_to_state(table.read().collect(), cols),
                           expected, cols)
        # at-least-once mid-migration: a stale chunk, un-ledgered
        if chunks[-1]:
            replay(spark, log_dir, table.refresh(), files=chunks[-1])
            table = table.refresh()
            assert_state_equal(rows_to_state(table.read().collect(), cols),
                               expected, cols)
        # finish the migration: state invariant, spec flipped
        while table.next_n_buckets:
            table.rebucket_step(2)
        assert table.n_buckets == 4 * factor
        assert_state_equal(rows_to_state(table.read().collect(), cols),
                           expected, cols)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(20, 500),
    n_base=st.integers(5, 100),
    events_per_file=st.integers(7, 200),
    poisons=st.lists(st.sampled_from(["corrupt", "no_pk", "missing"]),
                     min_size=1, max_size=5),
    mid_log=st.booleans(),
)
def test_fuzz_dlq_quarantines_exactly_the_poison(spark, seed, n_events,
                                                 n_base, events_per_file,
                                                 poisons, mid_log):
    """DLQ under fuzz: inject 1-5 poison winners (unique keys, max LSN —
    guaranteed collapse winners) into a random wire log, as a mid-log OR
    trailing segment; the wire replay with dlq set must quarantine EXACTLY
    the poison (count and reasons), and the final state must equal the
    clean log's sequential oracle — poison never corrupts, never drops."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from canal_spark.operators.decode import convert_log_to_wire

    spec = CdcLogSpec(n_events=n_events, seed=seed,
                      events_per_file=events_per_file, other_table_frac=0.05)
    work = os.path.join(WORK, f"dlqfuzz_{next(_RUN)}_{seed}_{n_events}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        typed_dir = os.path.join(work, "typed")
        generate_cdc_log(typed_dir, spec, base)
        wire_dir = os.path.join(work, "wire")
        convert_log_to_wire(spark, typed_dir, wire_dir)

        rows = []
        for i, kind in enumerate(poisons):
            k = f"zz-poison-{i:02d}"
            if kind == "corrupt":
                rows.append(("UPDATE", None, f'{{"doc_id":"{k}","tokens":[7,',
                             None, k))
            elif kind == "no_pk":
                rows.append(("INSERT", None, '{"n_tok":5}', None, None))
            else:
                rows.append(("UPDATE", f'{{"doc_id":"{k}"}}', None, k, k))
        n = len(rows)
        import datetime
        seg = pa.table({
            "entry_type": pa.array(["ROWDATA"] * n),
            "event_type": pa.array([r[0] for r in rows]),
            "gtid_seq": pa.array([10 ** 9 + i for i in range(n)], pa.int64()),
            "binlog_file": pa.array(["mysql-bin.555555"] * n),
            "binlog_pos": pa.array([4 + i for i in range(n)], pa.int64()),
            "server_id": pa.array([1] * n, pa.int64()),
            "execute_ts": pa.array([datetime.datetime(2026, 1, 1)] * n,
                                   pa.timestamp("us")),
            "schema_name": pa.array(["train"] * n),
            "table_name": pa.array(["tokseq"] * n),
            "txn_id": pa.array(["txp"] * n),
            "is_ddl": pa.array([False] * n, pa.bool_()),
            "sql": pa.array([None] * n, pa.string()),
            "before": pa.array([r[1] for r in rows], pa.string()),
            "after": pa.array([r[2] for r in rows], pa.string()),
            "pk_before": pa.array([r[3] for r in rows], pa.string()),
            "pk_after": pa.array([r[4] for r in rows], pa.string()),
        })
        # mid-log: sorts between 000001 and any later segment; trailing:
        # sorts after everything — the collapse is order-free for unique
        # poison keys, so both placements must behave identically
        name = ("mysql-bin.000001a.parquet" if mid_log
                else "mysql-bin.999999.parquet")
        pq.write_table(seg, os.path.join(wire_dir, name))

        table = LakeTable.create(
            spark, os.path.join(work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=4,
            df=spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA))
        dlq = os.path.join(work, "dlq")
        replay(spark, wire_dir, table, wire=True, dlq=dlq)
        table = table.refresh()

        from canal_spark.pipeline import read_dlq

        got = read_dlq(spark, dlq).collect()
        assert len(got) == n
        want = sorted("corrupt_payload" if k == "corrupt"
                      else "no_pk" if k == "no_pk" else "missing_payload"
                      for k in poisons)
        assert sorted(r["reason"] for r in got) == want

        expected, cols = oracle_final_state(base, typed_dir)
        assert_state_equal(rows_to_state(table.read().collect(), cols),
                           expected, cols)
    finally:
        shutil.rmtree(work, ignore_errors=True)


_MIRROR_DDLS = [
    "ALTER TABLE train.tokseq ADD COLUMN q1 STRING",
    "ALTER TABLE train.tokseq ADD COLUMN s1 INT, ADD COLUMN s2 STRING",
    "TRUNCATE TABLE train.tokseq",
    "RENAME TABLE train.tokseq TO train.tokseq2",
    "ALTER TABLE train.other_tbl ADD COLUMN x1 INT",
    # rename CHAIN (two renames, the generator clamps both positions into
    # the log): a sink whose history spans several past names
    "RENAME TABLE train.tokseq TO train.tokseq2"
    "\x00RENAME TABLE train.tokseq2 TO train.tokseq3",
]


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(40, 700),
    n_base=st.integers(8, 100),
    other_frac=st.sampled_from([0.1, 0.3, 0.5]),
    pk_change_frac=st.sampled_from([0.0, 0.1]),
    events_per_file=st.integers(9, 300),
    conc=st.sampled_from([1, 4]),
    n_chunks=st.integers(1, 2),
    ddl=st.none() | st.tuples(st.integers(0, 700), st.sampled_from(_MIRROR_DDLS)),
)
def test_fuzz_mirror_matches_oracle(spark, seed, n_events, n_base,
                                    other_frac, pk_change_frac,
                                    events_per_file, conc, n_chunks, ddl):
    """Whole-database mirror under fuzz: a random two-table log fanned into
    per-table sinks (random concurrency — parallel fan-out must stay
    bit-identical) must land every sink in its per-subscription sequential
    oracle, across first-sight creation, foreign-vs-own DDL (incl. an
    other_tbl ALTER, RENAME TABLE and a rename CHAIN — none may fork a
    second sink), delivery split into 1-2 ledgered chunks (a chunk
    boundary can land mid-rename-chain), a ledgered whole-batch
    redelivery, and an UN-ledgered redelivery of the FIRST chunk (stale
    pre-rename events under a PAST subscription name — the first-sight
    router must send them to the existing sink's fenced no-op apply)."""
    from canal_spark.mirror import LakeDatabase, mirror_replay
    from canal_spark.oracle import oracle_mirror_final_state

    ddl_script = []
    if ddl:
        stmts = ddl[1].split("\x00")
        step = max(1, (n_events - 1 - min(ddl[0], n_events - 1))
                   // max(1, len(stmts)))
        ddl_script = [(min(ddl[0] + i * step, n_events - 1), s)
                      for i, s in enumerate(stmts)]
    spec = CdcLogSpec(
        n_events=n_events, seed=seed, events_per_file=events_per_file,
        pk_change_frac=pk_change_frac, other_table_frac=other_frac,
        ddl_script=ddl_script,
    )
    work = os.path.join(WORK, f"mfuzz_{next(_RUN)}_{seed}_{n_events}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        log_dir = os.path.join(work, "log")
        generate_cdc_log(log_dir, spec, base)
        db = LakeDatabase(spark, os.path.join(work, "lakedb"))
        db.create("train.tokseq", TOKSEQ_SCHEMA, n_buckets=4,
                  df=spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA))
        files = sorted(f for f in os.listdir(log_dir)
                       if f.endswith(".parquet"))
        k = min(n_chunks, len(files))
        bounds = [round(i * len(files) / k) for i in range(k + 1)]
        chunks = [files[bounds[i]:bounds[i + 1]] for i in range(k)]
        for i, chunk in enumerate(chunks):
            if chunk:
                mirror_replay(spark, log_dir, db, files=chunk,
                              batch_id=f"m{i}", max_concurrency=conc)

        names = db.names()
        assert "train.tokseq" in names and len(names) <= 2
        expected = oracle_mirror_final_state(
            {"train.tokseq": base, "train.other_tbl": None}, log_dir)

        def check_all():
            for name in names:
                t = db.get(name)
                exp_state, exp_cols = expected[name]
                assert t.logical_columns() == exp_cols, name
                actual = rows_to_state(t.read().collect(), exp_cols)
                assert_state_equal(actual, exp_state, exp_cols)

        check_all()

        # ledgered redelivery of the last chunk: metadata no-op per sink
        v = {n: db.get(n).version for n in names}
        again = mirror_replay(spark, log_dir, db, files=chunks[-1],
                              batch_id=f"m{k - 1}", max_concurrency=conc)
        assert all(s.ranges == 0 for s in again.values())
        assert {n: db.get(n).version for n in names} == v

        # UN-ledgered stale redelivery of the FIRST chunk: no fork (events
        # may arrive under a past subscription name), no state movement
        mirror_replay(spark, log_dir, db, files=chunks[0],
                      max_concurrency=conc)
        assert db.names() == names
        check_all()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(60, 900),
    n_base=st.integers(5, 120),
    events_per_file=st.integers(40, 300),
    pk_change_frac=st.sampled_from([0.0, 0.2]),
    n_windows=st.integers(1, 4),
    cadence_a=st.integers(1, 2),
    cadence_b=st.integers(1, 4),
    expire=st.booleans(),
)
def test_fuzz_consumer_groups(spark, seed, n_events, n_base, events_per_file,
                              pk_change_frac, n_windows, cadence_a,
                              cadence_b, expire):
    """Property: any interleaving of delivery windows and two consumers'
    poll cadences off one changelog feed converges BOTH consumers to the
    sequential oracle's final state, and expiry (retention = slowest ack)
    never drops feed a lagging consumer still needs."""
    from canal_spark.streaming.relay import register_consumer, relay_until_idle

    work = os.path.join(WORK, f"fuzz_cgrp_{next(_RUN)}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        log_dir = os.path.join(work, "log")
        generate_cdc_log(log_dir, CdcLogSpec(
            n_events=n_events, seed=seed, events_per_file=events_per_file,
            pk_change_frac=pk_change_frac), base)
        bdf = spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA)
        primary = LakeTable.create(spark, os.path.join(work, "p"), TOKSEQ_SCHEMA,
                                   n_buckets=4, df=bdf, changelog=True)
        ca = LakeTable.create(spark, os.path.join(work, "ca"), TOKSEQ_SCHEMA,
                              n_buckets=4, df=bdf)
        cb = LakeTable.create(spark, os.path.join(work, "cb"), TOKSEQ_SCHEMA,
                              n_buckets=4, df=bdf)
        register_consumer(primary, "a")
        register_consumer(primary, "b")

        segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
        per = max(1, len(segs) // n_windows)
        windows = [segs[i:i + per] for i in range(0, len(segs), per)]
        for i, win in enumerate(windows):
            replay(spark, log_dir, primary.refresh(), files=win,
                   batch_id=f"w{i}")
            if (i + 1) % cadence_a == 0:
                relay_until_idle(primary.refresh(), ca, prefix="a", consumer="a",
                                 expire_acked=expire)
            if (i + 1) % cadence_b == 0:
                relay_until_idle(primary.refresh(), cb, prefix="b", consumer="b",
                                 expire_acked=expire)
        # final drains
        relay_until_idle(primary.refresh(), ca, prefix="a", consumer="a",
                         expire_acked=expire)
        relay_until_idle(primary.refresh(), cb, prefix="b", consumer="b",
                         expire_acked=expire)

        expected, cols = oracle_final_state(base, log_dir)
        for t in (primary, ca, cb):
            assert_state_equal(
                rows_to_state(t.refresh().read().collect(), cols), expected, cols)
        if expire:
            assert primary.refresh().snap["changelog"] == {}
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(40, 800),
    n_base=st.integers(5, 120),
    events_per_file=st.integers(30, 300),
    pk_change_frac=st.sampled_from([0.0, 0.2]),
    op_ins=st.integers(0, 10), op_upd=st.integers(0, 10),
    op_del=st.integers(0, 10),
    n_parents=st.integers(1, 5),
    redeliver=st.booleans(),
)
def test_fuzz_child_agg_view(spark, seed, n_events, n_base, events_per_file,
                             pk_change_frac, op_ins, op_upd, op_del,
                             n_parents, redeliver):
    """Property: ChildAggView over any random log shape (op-mix extremes,
    pk changes, delete-heavy) equals a per-parent GROUP BY over the
    sequential oracle's final state, for any subset of registered parents;
    un-ledgered redelivery is a no-op."""
    from canal_spark.views import ChildAggView

    tot = (op_ins + op_upd + op_del) or 1
    mix = (op_ins / tot, op_upd / tot, op_del / tot)
    work = os.path.join(WORK, f"fuzz_cagg_{next(_RUN)}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        log_dir = os.path.join(work, "log")
        generate_cdc_log(log_dir, CdcLogSpec(
            n_events=n_events, seed=seed, events_per_file=events_per_file,
            pk_change_frac=pk_change_frac, op_mix=mix), base)
        bdf = spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA)
        table = LakeTable.create(spark, os.path.join(work, "t"), TOKSEQ_SCHEMA,
                                 n_buckets=4, df=bdf)
        parents = [("web", 1), ("books", 2), ("code", 3), ("wiki", 4),
                   ("forums", 5)][:n_parents]
        pdf = spark.createDataFrame(parents, "source string, w int")
        vschema = T.StructType([
            T.StructField("source", T.StringType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("n_child", T.LongType()),
            T.StructField("sum_n_tok", T.LongType()),
        ])
        vt = LakeTable.create(spark, os.path.join(work, "v"), vschema,
                              key_col="source", n_buckets=2)
        view = ChildAggView(vt, table, "source", ("n_tok",))
        vt.overwrite(view.seed_frame(pdf, bdf), batch_id="seed")
        replay(spark, log_dir, table, batch_id="b0", views=[view])
        if redeliver:
            replay(spark, log_dir, table.refresh(), views=[view])  # no ledger

        expected, _cols = oracle_final_state(base, log_dir)
        agg = {}
        for row in expected.values():
            g = row.get("source")
            if g is None:
                continue
            a = agg.setdefault(g, [0, 0])
            a[0] += 1
            a[1] += row.get("n_tok") or 0
        want = {p[0]: (p[1], *agg.get(p[0], [0, 0])) for p in parents}
        got = {r["source"]: (r["w"], r["n_child"], r["sum_n_tok"])
               for r in vt.refresh().read().collect()}
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    seed=st.integers(0, 2**20),
    n_events=st.integers(40, 800),
    n_base=st.integers(5, 120),
    events_per_file=st.integers(30, 300),
    pk_change_frac=st.sampled_from([0.0, 0.2]),
    ddl=st.none() | st.tuples(st.integers(0, 800), st.sampled_from(_DDLS[:3])),
    redeliver=st.booleans(),
)
def test_fuzz_multi_joined_view(spark, seed, n_events, n_base,
                                events_per_file, pk_change_frac, ddl,
                                redeliver):
    """Property: MultiJoinedView (two dims on different columns) over any
    random log shape equals a join-from-scratch of the oracle's final
    state; DDL-split ranges and un-ledgered redelivery don't move it."""
    from canal_spark.views import MultiJoinedView

    work = os.path.join(WORK, f"fuzz_mj_{next(_RUN)}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        base = generate_base_table(n_base, seed=seed)
        log_dir = os.path.join(work, "log")
        generate_cdc_log(log_dir, CdcLogSpec(
            n_events=n_events, seed=seed, events_per_file=events_per_file,
            pk_change_frac=pk_change_frac,
            ddl_script=[(min(ddl[0], n_events), ddl[1])] if ddl else []), base)
        bdf = spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA)
        table = LakeTable.create(spark, os.path.join(work, "t"), TOKSEQ_SCHEMA,
                                 n_buckets=4, df=bdf)
        dim1 = spark.createDataFrame(
            [("web", "crawl"), ("books", "curated"), ("code", "curated")],
            "source string, kind string")
        dim2 = spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(256)],
            "n_tok int, band string")
        vschema = T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("band", T.StringType()),
        ])
        from pyspark.sql import functions as F
        seeded = (bdf.select("doc_id", "n_tok", "source")
                  .join(F.broadcast(dim1), "source", "left")
                  .join(F.broadcast(dim2), "n_tok", "left"))
        vt = LakeTable.create(spark, os.path.join(work, "v"), vschema,
                              n_buckets=4,
                              df=seeded.select(*[f.name for f in vschema]))
        view = MultiJoinedView(vt, [(dim1, "source"), (dim2, "n_tok")])
        replay(spark, log_dir, table, batch_id="b0", views=[view])
        if redeliver:
            replay(spark, log_dir, table.refresh(), views=[view])  # no ledger

        expected, _cols = oracle_final_state(base, log_dir)
        d1 = {"web": "crawl", "books": "curated", "code": "curated"}
        want = {}
        for doc_id, row in expected.items():
            nt = row.get("n_tok")
            want[doc_id] = (
                nt, row.get("source"), d1.get(row.get("source")),
                None if nt is None or not (0 <= nt < 256)
                else ("even" if nt % 2 == 0 else "odd"))
        got = {r["doc_id"]: (r["n_tok"], r["source"], r["kind"], r["band"])
               for r in vt.refresh().read().collect()}
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)
