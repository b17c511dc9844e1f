"""The benchmark's in-process wire encoder writes exactly the values the
engine's own ``convert_log_to_wire`` writes, segment by segment, across an
ADD COLUMN.

    python3 -m pytest perfbench/test_fixture.py -q   # about half a minute
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.operators.decode import convert_log_to_wire
from canal_spark.oracle import read_log_events
from canal_spark.session import get_spark

from perfbench import fixture


def test_wire_matches_engine_encoder(tmp_path):
    typed, ours, engine = (str(tmp_path / d) for d in ("typed", "ours", "engine"))
    base = generate_base_table(2_000, seed=3)
    generate_cdc_log(typed, CdcLogSpec(
        n_events=3_000, n_base_docs=2_000, seed=3, hot_frac=0.3, hot_keys=16,
        other_table_frac=0.02, pk_change_frac=0.02, events_per_file=1_000,
        ddl_script=[(1_500, fixture.ADD_COLUMN)]), base=base)
    events = read_log_events(typed)
    segments = sorted(os.path.basename(p) for p in
                      glob.glob(os.path.join(typed, fixture.SEGMENT_GLOB)))
    os.makedirs(ours)
    for s in segments:
        fixture.write_wire([e for e in events if e["_file"] == s],
                           pq.read_schema(os.path.join(typed, s)),
                           os.path.join(ours, s))
    spark = get_spark("perfbench-wire", master="local[2]", shuffle_partitions=2)
    try:
        assert convert_log_to_wire(spark, typed, engine) == segments
    finally:
        spark.stop()
    assert len(segments) > 2
    for s in segments:
        a = pq.read_table(os.path.join(ours, s))
        b = pq.read_table(os.path.join(engine, s))
        assert sorted(a.column_names) == sorted(b.column_names), s
        for c in a.column_names:
            assert a.column(c).type == b.column(c).type, (s, c)
            assert a.column(c).to_pylist() == b.column(c).to_pylist(), (s, c)
