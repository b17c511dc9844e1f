"""The concurrent fan-out of one range's apply (pipeline.merge_with_views).

The main merge runs on the calling thread while a driver pool applies the
views that read only the net changes; views that read the source's
pre-merge snapshot (``View.reads_source``) start after the main merge
returned. These tests pin what that must not change: a failure that leaves
any subset of {main, each view} committed converges on redelivery, the
source-reading views still see the merge's parent snapshot, and the pool's
Spark jobs land in the caller's job group with a repeatable count.
"""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.oracle import oracle_final_state
from canal_spark.pipeline import apply_events, prepare_events, read_event_log, replay
from canal_spark.table.lake import LakeTable
from canal_spark.views import (AggRollupView, ChildAggView, FilteredView,
                               JoinedView, agg_rollup_frame,
                               fingerprint_index_view)
from tests.conftest import assert_state_equal, rows_to_state
from tests.test_views import (CHILD_AGG_COLS, CHILD_AGG_SCHEMA, DIM_ROWS,
                              DIM_SCHEMA, FILT_COLS, FILT_PRED, FILT_SCHEMA,
                              INDEX_COLS, INDEX_SCHEMA, PARENT_DDL,
                              PARENT_ROWS, ROLLUP_COLS, ROLLUP_SCHEMA,
                              TOKSEQ_SCHEMA, VIEW_COLS, VIEW_SCHEMA,
                              _child_agg_state, _expected_child_agg,
                              _expected_filtered, _expected_index,
                              _expected_rollup, _expected_view, _rollup_state,
                              _view_state)


def _log(work, spec, n_base=200):
    base = generate_base_table(n_base, seed=spec.seed)
    log_dir = os.path.join(work, "log")
    generate_cdc_log(log_dir, spec, base)
    return base, log_dir


def _main(spark, work, base):
    bdf = spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA)
    table = LakeTable.create(spark, os.path.join(work, "tokseq"),
                             TOKSEQ_SCHEMA, n_buckets=4, df=bdf)
    return bdf, table


def _fingerprint(spark, work, bdf):
    vt = LakeTable.create(
        spark, os.path.join(work, "fp_index"), INDEX_SCHEMA, n_buckets=4,
        df=bdf.select("doc_id", F.md5(F.to_json("tokens")).alias("fp_md5"),
                      "n_tok", "source"))
    return fingerprint_index_view(vt)


def _joined(spark, work, bdf):
    dim = spark.createDataFrame(DIM_ROWS, DIM_SCHEMA)
    seeded = bdf.select("doc_id", "n_tok", "source").join(
        F.broadcast(dim), on="source", how="left")
    vt = LakeTable.create(spark, os.path.join(work, "joined"), VIEW_SCHEMA,
                          n_buckets=4,
                          df=seeded.select(*[f.name for f in VIEW_SCHEMA]))
    return JoinedView(vt, dim, on="source")


def _rollup(spark, work, bdf, table):
    vt = LakeTable.create(spark, os.path.join(work, "rollup"), ROLLUP_SCHEMA,
                          key_col="source", n_buckets=4,
                          df=agg_rollup_frame(bdf, "source", ("n_tok",)))
    return AggRollupView(vt, table, "source", ("n_tok",))


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


# ------------------------------------------------- crash convergence

VICTIMS = ["main", "transform", "joined", "rollup"]


@pytest.mark.parametrize("victim", VICTIMS)
def test_failed_range_converges_on_redelivery(spark, tmp_work, monkeypatch,
                                              victim):
    """One of {main merge, each view} raises once, in the second range (the
    first is fully committed, the ADD COLUMN between them is applied): the
    replay raises after the other tasks finished, so any subset of the
    range's tables may have committed. Redelivering the same batch id
    converges: main equals the sequential oracle, every view equals its
    recompute from main, every ledger id is recorded once, and the failed
    call left no cached block behind."""
    ddl = [(700, "ALTER TABLE train.tokseq ADD COLUMN lang varchar")]
    spec = CdcLogSpec(n_events=1500, seed=71, events_per_file=500,
                      pk_change_frac=0.05, ddl_script=ddl)
    base, log_dir = _log(tmp_work, spec)
    bdf, table = _main(spark, tmp_work, base)
    fp = _fingerprint(spark, tmp_work, bdf)
    joined = _joined(spark, tmp_work, bdf)
    rollup = _rollup(spark, tmp_work, bdf, table)
    views = [fp, joined, rollup]

    owner, name = {"main": (table, "merge_apply"), "transform": (fp, "apply"),
                   "joined": (joined, "apply"),
                   "rollup": (rollup, "apply")}[victim]
    orig = getattr(owner, name)
    calls = []

    def fail_second_call(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError(f"injected {victim} failure")
        return orig(*args, **kwargs)

    monkeypatch.setattr(owner, name, fail_second_call)
    def cached():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # no NEW persistent RDD may outlive the failed call (earlier tests'
    # leftovers may be cleaned meanwhile, so the census may also shrink)
    before = cached()
    with pytest.raises(RuntimeError, match="injected"):
        replay(spark, log_dir, table, batch_id="b1", views=views)
    assert len(calls) == 2
    assert cached() <= before

    replay(spark, log_dir, table.refresh(), batch_id="b1", views=views)

    exp, cols = oracle_final_state(base, log_dir)
    main_df = table.refresh().read()
    assert_state_equal(rows_to_state(main_df.collect(), cols), exp, cols)
    assert _rows(fp.table.refresh().read(), INDEX_COLS) == \
        _rows(fp.transform(main_df), INDEX_COLS)
    assert _rows(joined.table.refresh().read(), VIEW_COLS) == _rows(
        main_df.join(F.broadcast(joined.dim), on="source", how="left"),
        VIEW_COLS)
    assert _rows(rollup.table.refresh().read(), ROLLUP_COLS) == _rows(
        agg_rollup_frame(main_df, "source", ("n_tok",)), ROLLUP_COLS)

    ledgers = {"": table.snap["applied_batches"]}
    ledgers.update({f"/v{i}": v.table.snap["applied_batches"]
                    for i, v in enumerate(views)})
    for suffix, ledger in ledgers.items():
        assert max(Counter(ledger).values()) == 1, (suffix, ledger)
        assert {f"b1/r0{suffix}", f"b1/tail{suffix}"} <= set(ledger)
    assert "b1" in ledgers[""]


# ----------------------------------------- ordering of source readers

def test_source_reading_views_see_the_merge_parent(spark, tmp_work):
    """Every view kind in one replay across an ADD COLUMN and a TRUNCATE:
    the views that read the source's pre-merge snapshot (rollup, child
    aggregate) run after the main merge, the others beside it, and each
    view equals its batch recompute over the final state. Submitting the
    source readers before the main merge fails this test."""
    ddl = [(600, "ALTER TABLE train.tokseq ADD COLUMN lang varchar"),
           (1200, "TRUNCATE TABLE train.tokseq")]
    spec = CdcLogSpec(n_events=2000, seed=73, events_per_file=400,
                      pk_change_frac=0.05, ddl_script=ddl)
    base, log_dir = _log(tmp_work, spec)
    bdf, table = _main(spark, tmp_work, base)
    fp = _fingerprint(spark, tmp_work, bdf)
    joined = _joined(spark, tmp_work, bdf)
    ft = LakeTable.create(spark, os.path.join(tmp_work, "filtered"),
                          FILT_SCHEMA, n_buckets=4,
                          df=bdf.where(F.expr(FILT_PRED)).select(*FILT_COLS))
    filtered = FilteredView(ft, FILT_PRED, input_types={"n_tok": "int",
                                                        "source": "string"})
    rollup = _rollup(spark, tmp_work, bdf, table)
    ct = LakeTable.create(spark, os.path.join(tmp_work, "child_agg"),
                          CHILD_AGG_SCHEMA, key_col="source", n_buckets=4)
    cagg = ChildAggView(ct, table, "source", ("n_tok",))
    ct.overwrite(cagg.seed_frame(spark.createDataFrame(PARENT_ROWS,
                                                       PARENT_DDL), bdf),
                 batch_id="seed")
    assert [v.reads_source for v in (fp, joined, filtered, rollup, cagg)] \
        == [False, False, False, True, True]

    # one un-ledgered replay per segment: each batch's first merge then
    # directly follows the previous batch's DATA commit, so a view that
    # read the source before this merge committed would take the previous
    # batch's pre-merge images as its old images. (A ledger or DDL commit
    # in between carries the same data as its parent and would hide it.)
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    ddls = 0
    for seg in segs:
        ddls += replay(spark, log_dir, table.refresh(), files=[seg],
                       views=[fp, joined, filtered, rollup, cagg]).ddls
    assert len(segs) >= 4 and ddls == 2

    assert_state_equal(_view_state(fp), _expected_index(base, log_dir),
                       INDEX_COLS)
    assert_state_equal(_view_state(joined), _expected_view(base, log_dir),
                       VIEW_COLS)
    assert_state_equal(_view_state(filtered),
                       _expected_filtered(base, log_dir), FILT_COLS)
    assert_state_equal(_rollup_state(rollup),
                       _expected_rollup(base, log_dir), ROLLUP_COLS)
    assert_state_equal(_child_agg_state(cagg),
                       _expected_child_agg(base, log_dir), CHILD_AGG_COLS)


# ------------------------------------------------ job attribution

def test_pool_jobs_land_in_the_callers_group(spark, tmp_work, monkeypatch):
    """Two identical fresh table sets, each applied under its own job
    group: the groups hold the same (non-zero) number of jobs, the views
    committed, and each view applied on a pool thread saw the caller's
    group but not a local property the other pool thread set meanwhile —
    so per-group job counts stay an exact, repeatable budget."""
    import threading

    spec = CdcLogSpec(n_events=1000, seed=75, events_per_file=500,
                      pk_change_frac=0.05)
    base, log_dir = _log(tmp_work, spec)
    sc = spark.sparkContext
    counts, seen = [], []
    for run in ("a", "b"):
        work = os.path.join(tmp_work, run)
        bdf, table = _main(spark, work, base)
        fp = _fingerprint(spark, work, bdf)
        joined = _joined(spark, work, bdf)
        both = threading.Barrier(2, timeout=120)

        def fp_apply(*args, _orig=fp.apply, **kwargs):
            sc.setLocalProperty("test.fanout.owner", "fp")
            both.wait()
            return _orig(*args, **kwargs)

        def joined_apply(*args, _orig=joined.apply, **kwargs):
            both.wait()
            seen.append((sc.getLocalProperty("spark.jobGroup.id"),
                         sc.getLocalProperty("test.fanout.owner")))
            return _orig(*args, **kwargs)

        monkeypatch.setattr(fp, "apply", fp_apply)
        monkeypatch.setattr(joined, "apply", joined_apply)
        group = f"test-fanout-{run}"
        sc.setJobGroup(group, group)
        try:
            ev = prepare_events(read_event_log(spark, log_dir))
            apply_events(ev, table, batch_id="b", views=[fp, joined])
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        assert seen[-1] == (group, None)
        for i, v in enumerate((fp, joined)):
            assert f"b/tail/v{i}" in v.table.refresh().snap["applied_batches"]
    assert sc.getLocalProperty("test.fanout.owner") is None
    assert counts[0] == counts[1] > 0, counts
