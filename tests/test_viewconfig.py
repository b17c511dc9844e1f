"""Declarative view config (``canal_spark.viewconfig.build_views``).

A dict config declares the views over a CDC'd main table; the factory
seeds each one from the main table's current state and returns views that
``replay(..., views=...)`` maintains. These tests replay a CDC log through
the built views and compare them with recompute-from-scratch twins.
"""

import os

import pytest

from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.pipeline import replay
from canal_spark.table.lake import LakeTable
from canal_spark.viewconfig import build_views
from tests.conftest import assert_state_equal
from tests.test_views import (BAND_ROWS, CHILD_AGG_COLS, DIM_ROWS, MJ_COLS,
                              PARENT_DDL, PARENT_ROWS, TOKSEQ_SCHEMA,
                              _child_agg_state, _expected_child_agg,
                              _expected_mj, _mj_state)


def _main(spark, tmp_work, spec):
    base = generate_base_table(300, seed=spec.seed)
    log_dir = os.path.join(tmp_work, "log")
    generate_cdc_log(log_dir, spec, base)
    table = LakeTable.create(
        spark, os.path.join(tmp_work, "tokseq"), TOKSEQ_SCHEMA, n_buckets=8,
        df=spark.createDataFrame(base.to_pandas(), TOKSEQ_SCHEMA))
    return base, log_dir, table


def test_viewconfig_joined_maintains_every_dim(spark, tmp_work):
    """A two-dim ``joined`` spec seeds both dims, so it must maintain both:
    after a replay the view equals join-from-scratch through each dim."""
    spec = CdcLogSpec(n_events=1500, seed=49, events_per_file=500,
                      pk_change_frac=0.05)
    base, log_dir, table = _main(spark, tmp_work, spec)
    band_pq = os.path.join(tmp_work, "band.parquet")
    spark.createDataFrame(BAND_ROWS, "n_tok int, ntok_band string") \
        .write.parquet(band_pq)
    cfg = {"views": [{
        "name": "enriched", "kind": "joined",
        "columns": "doc_id string, n_tok int, source string, "
                   "src_kind string, src_weight double, ntok_band string",
        "dims": [
            {"on": "source", "rows": [list(r) for r in DIM_ROWS],
             "ddl": "source string, src_kind string, src_weight double"},
            {"on": "n_tok", "parquet": band_pq}]}]}
    [view] = build_views(spark, cfg, table, os.path.join(tmp_work, "views"))
    replay(spark, log_dir, table, batch_id="full", views=[view])
    assert_state_equal(_mj_state(view), _expected_mj(base, log_dir), MJ_COLS)


def test_viewconfig_child_agg_rows_and_parents_parquet(spark, tmp_work):
    """A ``child_agg`` spec carrying both inline ``rows`` and a
    ``parents_parquet`` builds, with the inline rows as its parents."""
    spec = CdcLogSpec(n_events=1500, seed=51, events_per_file=500)
    base, log_dir, table = _main(spark, tmp_work, spec)
    other_parents = os.path.join(tmp_work, "parents.parquet")
    spark.createDataFrame([(p[0], "from-parquet", 0) for p in PARENT_ROWS],
                          PARENT_DDL).write.parquet(other_parents)
    cfg = {"views": [{
        "name": "parents", "kind": "child_agg", "key": "source",
        "fk": "source", "sums": ["n_tok"],
        "rows": [list(r) for r in PARENT_ROWS], "ddl": PARENT_DDL,
        "parents_parquet": other_parents}]}
    [view] = build_views(spark, cfg, table, os.path.join(tmp_work, "views"))
    replay(spark, log_dir, table, batch_id="full", views=[view])
    assert_state_equal(_child_agg_state(view),
                       _expected_child_agg(base, log_dir), CHILD_AGG_COLS)


@pytest.mark.parametrize("kind", ["minhash_index", "no_such_kind"])
def test_viewconfig_unknown_kind_raises(spark, tmp_work, kind):
    spec = CdcLogSpec(n_events=10, seed=50)
    _base, _log, table = _main(spark, tmp_work, spec)
    with pytest.raises(ValueError, match="unknown view kind"):
        build_views(spark, {"views": [{"name": "v", "kind": kind}]}, table,
                    os.path.join(tmp_work, "views"))
