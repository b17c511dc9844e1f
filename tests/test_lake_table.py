"""LakeTable semantics: atomic snapshots, MERGE, DDL, idempotence."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from canal_spark.table.lake import LakeTable

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])


def _mk(spark, path, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return LakeTable.create(spark, path, SCHEMA, n_buckets=4, df=df)


def _chg(spark, rows):
    schema = T.StructType(SCHEMA.fields + [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.StringType()),
    ])
    return spark.createDataFrame(rows, schema)


BASE = [
    ("a", [1, 2], 2, "web"),
    ("b", [3], 1, "web"),
    ("c", [4, 5, 6], 3, "books"),
]


def test_create_read_roundtrip(spark, tmp_work):
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["c"]["tokens"] == [4, 5, 6]
    assert t.version == 1


def test_merge_upsert_delete(spark, tmp_work):
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    ch = _chg(spark, [
        ("a", [9, 9], 2, "code", "U", "lsn-002"),   # update
        ("b", None, None, None, "D", "lsn-003"),     # delete
        ("d", [7], 1, "wiki", "U", "lsn-004"),       # insert
    ])
    res = t.merge_apply(ch, batch_id="b1")
    assert not res["skipped"] and res["upserts"] == 2 and res["deletes"] == 1
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert set(got) == {"a", "c", "d"}
    assert got["a"]["tokens"] == [9, 9] and got["a"]["source"] == "code"

    # batch ledger: re-applying the same batch id is a metadata no-op
    v = t.version
    res2 = t.merge_apply(ch, batch_id="b1")
    assert res2["skipped"] and t.version == v

    # LSN fence: stale duplicate (lower lsn) must not regress values,
    # and must not resurrect the deleted key
    stale = _chg(spark, [
        ("a", [1, 2], 2, "web", "U", "lsn-001"),
        ("b", [3], 1, "web", "U", "lsn-001"),
    ])
    t.merge_apply(stale, batch_id="b2")
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["a"]["tokens"] == [9, 9]
    assert "b" not in got


def test_bucket_pruning_rewrites_only_touched(spark, tmp_work):
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    before = dict(t.snap["files"])
    ch = _chg(spark, [("a", [8], 1, "web", "U", "lsn-9")])
    res = t.merge_apply(ch)
    assert res["buckets"] == 1
    after = t.snap["files"]
    changed = [b for b in after if after[b] != before.get(b, [])]
    assert len(changed) == 1


def test_file_carry_forward_within_bucket(spark, tmp_work):
    """MERGE must rewrite only data files whose key range intersects the
    change set — other files in the SAME bucket carry forward by reference
    (Iceberg manifest lower/upper-bound pruning; keeps copy-on-write
    proportional to the batch, VERDICT r02 next #2)."""
    df = spark.createDataFrame(BASE, SCHEMA)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t1"), SCHEMA,
                         n_buckets=1, df=df)
    [f0] = t.snap["files"]["0"]
    assert t.snap["file_stats"][f0][:2] == ["a", "c"]

    # insert-only batch with keys beyond every file range: nothing is read,
    # the new keys land in a NEW file, f0 carries forward by reference
    ins = _chg(spark, [("x", [7], 1, "wiki", "U", "lsn-1"),
                       ("z", [8], 1, "wiki", "U", "lsn-1")])
    res = t.merge_apply(ins)
    assert res["files_read"] == 0 and res["files_carried"] == 1
    assert f0 in t.snap["files"]["0"] and len(t.snap["files"]["0"]) == 2
    f1 = next(f for f in t.snap["files"]["0"] if f != f0)
    assert t.snap["file_stats"][f1][:2] == ["x", "z"]

    # update hitting only f0's range: f1 carries forward, f0 is replaced
    upd = _chg(spark, [("b", [9], 1, "web", "U", "lsn-2")])
    res = t.merge_apply(upd)
    assert res["files_read"] == 1 and res["files_carried"] == 1
    assert f1 in t.snap["files"]["0"] and f0 not in t.snap["files"]["0"]

    got = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert got == {"a": [1, 2], "b": [9], "c": [4, 5, 6], "x": [7], "z": [8]}

    # compact folds the bucket back to one file and keeps its stats fresh
    t.compact()
    assert len(t.snap["files"]["0"]) == 1
    [fc] = t.snap["files"]["0"]
    assert t.snap["file_stats"][fc][:2] == ["a", "z"]
    assert set(t.snap["file_stats"]) == {fc}


def test_ddl_metadata_only_and_time_travel(spark, tmp_work):
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    v1 = t.version
    files_v1 = dict(t.snap["files"])
    t.alter_add_column("lang", T.StringType())
    assert t.logical_columns() == ["doc_id", "tokens", "n_tok", "source", "lang"]
    assert t.snap["files"] == files_v1  # no data rewrite
    # old rows read back with NULL lang
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["a"]["lang"] is None

    t.alter_rename_column("source", "src")
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["a"]["src"] == "web"  # physical column mapped, not rewritten

    t.alter_drop_column("lang")
    assert "lang" not in t.logical_columns()

    # time travel: old version still readable with old schema
    old = t.read(version=v1).collect()
    assert {r["doc_id"] for r in old} == {"a", "b", "c"}
    assert "source" in t.read(version=v1).columns

    t.truncate()
    assert t.read().count() == 0


def test_merge_after_add_column(spark, tmp_work):
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    t.alter_add_column("lang", T.StringType())
    schema = T.StructType(SCHEMA.fields + [
        T.StructField("lang", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.StringType()),
    ])
    ch = spark.createDataFrame(
        [("a", [5], 1, "web", "en", "U", "lsn-5"),
         ("e", [6], 1, "web", "de", "U", "lsn-6")], schema)
    t.merge_apply(ch)
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["a"]["lang"] == "en" and got["e"]["lang"] == "de"
    assert got["b"]["lang"] is None


def test_crash_safety_stale_files_invisible(spark, tmp_work):
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    # simulate a crashed commit: orphan data file not in any snapshot
    orphan = os.path.join(t.data_dir, "b00000-v999999-0000-deadbeef.parquet")
    spark.createDataFrame([("zz", [0], 1, "web")], SCHEMA).withColumn(
        "_source_lsn", F.lit("x")).withColumn("_deleted", F.lit(False)) \
        .coalesce(1).write.mode("overwrite").parquet(orphan + ".dir")
    # table reads only manifest-listed files — orphan invisible
    assert {r["doc_id"] for r in t.read().collect()} == {"a", "b", "c"}


def test_compact_and_expire(spark, tmp_work):
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    t.merge_apply(_chg(spark, [("b", None, None, None, "D", "lsn-2")]))
    raw = t.read_raw().collect()
    assert any(r["_deleted"] for r in raw)  # tombstone present
    t.compact()
    raw = t.read_raw().collect()
    assert not any(r["_deleted"] for r in raw)
    assert {r["doc_id"] for r in t.read().collect()} == {"a", "c"}
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert {r["doc_id"] for r in t.read().collect()} == {"a", "c"}


def test_modify_column_type_evolution(spark, tmp_work):
    """MODIFY COLUMN is metadata-only: old files keep the old physical
    column and convert lazily on read (coalesce + cast chain); buckets
    rewritten by later MERGEs materialize the new physical."""
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    files_v1 = dict(t.snap["files"])
    t.alter_modify_column("n_tok", T.LongType())
    assert t.snap["files"] == files_v1  # no data rewrite
    assert t.schema()["n_tok"].dataType == T.LongType()
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["a"]["n_tok"] == 2 and got["c"]["n_tok"] == 3  # values survive
    assert dict(t.read().dtypes)["n_tok"] == "bigint"

    # merge AFTER the modify: new rows land in the new physical; old rows
    # in untouched buckets still read through the cast chain
    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.StringType()),
    ])
    ch = spark.createDataFrame(
        [("a", [9], 5_000_000_000, "web", "U", "lsn-9")], schema)
    t.merge_apply(ch)
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["a"]["n_tok"] == 5_000_000_000  # needs the wider type
    assert got["b"]["n_tok"] == 1 and got["c"]["n_tok"] == 3


def test_change_column_rename_and_retype(spark, tmp_work):
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    t.alter_modify_column("n_tok", T.StringType(), new_name="n_tok_str")
    assert "n_tok_str" in t.logical_columns()
    assert "n_tok" not in t.logical_columns()
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["c"]["n_tok_str"] == "3"  # int → string cast on read


def test_add_column_position(spark, tmp_work):
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    t.alter_add_column("lead", T.IntegerType(), position=("FIRST", None))
    assert t.logical_columns()[0] == "lead"
    t.alter_add_column("mid", T.StringType(), position=("AFTER", "doc_id"))
    assert t.logical_columns()[:3] == ["lead", "doc_id", "mid"]
    # reads still resolve every column after the reordering
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert got["a"]["lead"] is None and got["a"]["tokens"] == [1, 2]


def _big(spark, path, n=400, **kw):
    rows = [(f"doc-{i:05d}", [i, i + 1], 2, "web") for i in range(n)]
    df = spark.createDataFrame(rows, SCHEMA)
    return LakeTable.create(spark, path, SCHEMA, n_buckets=4, df=df,
                            max_records_per_file=40, **kw)


def test_lookup_matches_filtered_read(spark, tmp_work):
    """lookup(keys) == read().filter(isin): updated, deleted, untouched and
    absent keys — across CoW and MoR commits."""
    t = _big(spark, os.path.join(tmp_work, "t"), merge_mode="mor")
    ch = _chg(spark, [
        ("doc-00007", [7, 7, 7], 3, "code", "U", "lsn-2"),
        ("doc-00011", None, None, None, "D", "lsn-3"),
        ("doc-99999", [1], 1, "new", "U", "lsn-4"),
    ])
    t.merge_apply(ch, batch_id="m1")   # mor → lands as delta files
    keys = ["doc-00007", "doc-00011", "doc-00123", "doc-99999", "doc-nope"]
    got = {r["doc_id"]: r.asDict() for r in t.lookup(keys).collect()}
    want = {r["doc_id"]: r.asDict()
            for r in t.read().where(F.col("doc_id").isin(keys)).collect()}
    assert got == want
    assert "doc-00011" not in got            # tombstoned
    assert got["doc-00007"]["tokens"] == [7, 7, 7]  # delta wins the fold
    assert got["doc-99999"]["source"] == "new"      # delta-only insert


def test_lookup_prunes_to_few_files(spark, tmp_work):
    """The point-read is manifest-pruned: a single key touches only its
    bucket's files whose [min,max] footer range can hold it — not the
    table's full file set (100 TB point-read invariant)."""
    t = _big(spark, os.path.join(tmp_work, "t"), n=800)
    total = sum(len(fl) for fl in t.snap["files"].values())
    assert total >= 20  # the roll cap actually sharded each bucket
    names = t._lookup_files(["doc-00123"], t.snap)
    assert 1 <= len(names) <= 2, names
    # and the pruned read still returns the row
    got = t.lookup(["doc-00123"]).collect()
    assert len(got) == 1 and got[0]["tokens"] == [123, 124]
    # multi-key: files grow with keys, not with table size
    names5 = t._lookup_files(
        [f"doc-{i:05d}" for i in (1, 100, 200, 300, 400)], t.snap)
    assert len(names5) <= 10


def test_merge_apply_leaves_no_cached_blocks(spark, tmp_work):
    """Regression (review finding): merge_apply persists the prefixed
    change frame but the finally-block unpersisted its PARENT — caches are
    per-plan, so every commit of a long-running stream leaked one cached
    DataFrame into the block manager. Both commit modes must leave the
    persistent-RDD census exactly where it was."""
    jsc = spark.sparkContext._jsc
    t = _mk(spark, os.path.join(tmp_work, "t"), BASE)
    m = LakeTable.create(spark, os.path.join(tmp_work, "m"), SCHEMA,
                         n_buckets=4, merge_mode="mor",
                         df=spark.createDataFrame(BASE, SCHEMA))
    before = jsc.getPersistentRDDs().size()
    for i in range(3):
        ch = _chg(spark, [("a", [i], 1, "web", "U", f"lsn-10{i}"),
                          ("zz", None, None, None, "D", f"lsn-10{i}")])
        t.merge_apply(ch, batch_id=f"cow-{i}")
        m.merge_apply(ch, batch_id=f"mor-{i}")
    assert jsc.getPersistentRDDs().size() == before


def test_every_commit_kind_extends_lineage(spark, tmp_work):
    """Every kind of commit — data, ledger-only, DDL, maintenance, spec
    migration, feed expiry — is one snapshot whose parent is the version
    before it, and every version of the chain stays loadable."""
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4, changelog=True)
    assert t.version == 0 and t.snap["parent"] is None

    def commit(fn, *args, **kw):
        prev = t.version
        fn(*args, **kw)
        assert t.version == prev + 1 and t.snap["parent"] == prev
        assert LakeTable(spark, t.path).snap == t.snap

    def rows():
        return {r["doc_id"]: tuple(r) for r in t.read().collect()}

    commit(t.overwrite, spark.createDataFrame(BASE, SCHEMA))
    commit(t.merge_apply, _chg(spark, [
        ("a", [9, 9], 2, "code", "U", "lsn-002"),
        ("b", None, None, None, "D", "lsn-003"),
        ("d", [7], 1, "wiki", "U", "lsn-004")]), batch_id="cow")
    commit(t.merge_apply, _chg(spark, [
        ("c", [1], 1, "web", "U", "lsn-005"),
        ("e", [2, 3], 2, "books", "U", "lsn-006")]), batch_id="mor",
        mode="mor")
    assert t.snap["deltas"]
    commit(t.merge_apply, _chg(spark, []), batch_id="empty")
    commit(t.mark_applied, "marked")
    assert t.snap["applied_batches"] == ["cow", "mor", "empty", "marked"]
    commit(t.alter_add_column, "lang", T.StringType())
    commit(t.alter_rename_column, "source", "origin")
    commit(t.alter_modify_column, "n_tok", T.LongType())
    commit(t.alter_drop_column, "lang")
    want = rows()
    assert set(want) == {"a", "c", "d", "e"}
    commit(t.compact)
    assert not t.snap["deltas"] and rows() == want
    commit(t.rebucket, 8)
    assert rows() == want
    commit(t.rebucket_start, 16)
    done = False
    while not done:
        prev = t.version
        done = t.rebucket_step(3)["done"]
        assert t.version == prev + 1 and t.snap["parent"] == prev
    assert t.n_buckets == 16 and t.next_n_buckets is None
    assert "migrated" not in t.snap and rows() == want
    commit(t.expire_changelog, t.version)
    assert t.snap["changelog"] == {}
    commit(t.truncate, lsn="lsn-100")
    assert rows() == {}

    for v in range(1, t.version + 1):
        snap = t.load_version(v)
        assert snap["version"] == v and snap["parent"] == v - 1


def test_ledger_window_holds_across_replays(spark, tmp_work, monkeypatch):
    """The exactly-once ledger keeps at most LEDGER_KEEP batch ids on every
    path that writes it — a replay's per-range merges and its own batch id
    alike — and the newest id always survives."""
    import canal_spark.table.lake as lake
    from canal_spark.fixtures import (CdcLogSpec, generate_base_table,
                                      generate_cdc_log)
    from canal_spark.pipeline import replay

    monkeypatch.setattr(lake, "LEDGER_KEEP", 4)
    base = generate_base_table(60, seed=31)
    log_dir = os.path.join(tmp_work, "log")
    generate_cdc_log(log_dir, CdcLogSpec(n_events=400, seed=31,
                                         events_per_file=60,
                                         txn_max=20), base)
    t = LakeTable.create(spark, os.path.join(tmp_work, "t"), SCHEMA,
                         n_buckets=4,
                         df=spark.createDataFrame(base.to_pandas(), SCHEMA))
    segs = sorted(f for f in os.listdir(log_dir) if f.endswith(".parquet"))
    assert len(segs) >= 4
    for i, seg in enumerate(segs[:4]):
        replay(spark, log_dir, t.refresh(), files=[seg], batch_id=f"s{i}")
        ledger = t.refresh().snap["applied_batches"]
        assert len(ledger) <= 4, ledger
        assert ledger[-1] == f"s{i}"
