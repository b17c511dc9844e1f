"""The shared cdc_agg_rollup inputs (``__spark_entry__._agg_rollup_artifacts``)
survive two builders racing for them: the query side and the oracle side
may both find the set missing and build it at once."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as ent
from canal_spark.fixtures import generator


def test_concurrent_builders_share_one_complete_set(tmp_work, monkeypatch):
    """Builder 1 is mid-build when builder 2 starts, builds and returns.
    Builder 2 must not delete builder 1's files in flight, both must return
    the same paths, and the set in place must be complete with no build
    directory left beside it."""
    sf = os.path.join(tmp_work, "sf")
    os.makedirs(sf)
    n = 60
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": [f"w{i} x{i % 7} y{i % 3} z" for i in range(n)],
        "source": [("web", "books", "code")[i % 3] for i in range(n)],
    }), os.path.join(sf, "documents.parquet"))
    monkeypatch.setattr(ent, "_WORK", os.path.join(tmp_work, "work"))

    real = generator.generate_cdc_log
    calls, second, survived = [], [], []

    def interleave(out_dir, *args, **kwargs):
        calls.append(out_dir)
        if len(calls) == 1:
            # builder 1 has written its base; builder 2 runs to completion
            marker = os.path.join(os.path.dirname(out_dir), "in_flight")
            open(marker, "w").close()
            second.append(ent._agg_rollup_artifacts(sf))
            survived.append(os.path.exists(marker))
        return real(out_dir, *args, **kwargs)

    monkeypatch.setattr(generator, "generate_cdc_log", interleave)
    first = ent._agg_rollup_artifacts(sf)

    assert len(calls) == 2 and survived == [True]
    assert second == [first]
    base_path, log_dir = first
    work = os.path.dirname(base_path)
    assert os.path.exists(os.path.join(work, "_DONE"))
    assert not os.path.exists(os.path.join(work, "in_flight"))
    assert pq.read_table(base_path).num_rows == n
    segs = [f for f in os.listdir(log_dir) if f.endswith(".parquet")]
    assert segs and sum(pq.read_metadata(os.path.join(log_dir, f)).num_rows
                        for f in segs) > 0
    assert os.listdir(os.path.dirname(work)) == [os.path.basename(work)]
    # a third call reuses the set in place without building
    assert ent._agg_rollup_artifacts(sf) == first and len(calls) == 2
