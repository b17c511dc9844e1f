"""LakeTable — an Iceberg-style snapshot table over parquet.

The sandbox ships no Iceberg/Delta runtime jar, so the sink's table format is
implemented here with the same semantics the engine would get from
``MERGE INTO`` on an Iceberg v2 table:

- **Atomic snapshot commits**: every change (merge / DDL / truncate) writes
  new immutable data files plus a new ``metadata/v{N}.json`` manifest, then
  atomically swings the ``metadata/_current`` pointer (os.replace). Readers
  resolve the pointer first, so half-written commits are invisible and
  crash-safe (Iceberg's metadata-pointer swap).
- **Bucket partitioning**: data files are assigned by
  ``pmod(xxhash64(key), n_buckets)`` — Iceberg's ``bucket(N, doc_id)``
  transform. MERGE reads and rewrites ONLY buckets containing changed keys
  (manifest-level partition pruning), the property that keeps copy-on-write
  viable at 10^10-event scale.
- **Name-mapped schema evolution**: the manifest stores logical→physical
  column mappings, so ADD/RENAME/DROP COLUMN are metadata-only commits (no
  data rewrite) — Iceberg field-id semantics via a name map.
- **Tombstones**: DELETE writes a ``_deleted=true`` row carrying the delete
  LSN instead of physically dropping the key, so late/duplicate events for a
  deleted key are fenced by the LSN guard (Iceberg MoR delete-file analog).
  ``compact()`` purges tombstones when they are no longer needed.
- **Exactly-once ledger**: the manifest records recently applied batch ids;
  re-delivery of a whole micro-batch is a metadata no-op. This replaces the
  reference's at-least-once get/ack/rollback protocol
  (server/.../CanalServerWithEmbedded.java:350-490) with table-level
  exactly-once.

Single-writer by design (the streaming driver owns the table), matching the
reference's one-consumer-per-instance model (CanalServerWithEmbedded.java
one-outstanding-batch invariant).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SYS_COLS = ["_source_lsn", "_deleted"]
LEDGER_KEEP = 256
# snapshot fields of an in-progress incremental spec migration
# (rebucket_start); every commit that completes the migration drops them
_MIGRATION = ("next_n_buckets", "migrated")


def bucket_expr(key_col: str, n_buckets: int):
    """Iceberg bucket(N, key) analog: positive xxhash64 mod N (JVM-side)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _key_stats(path: str, key_col: str) -> list | None:
    """[min, max, num_rows] of ``key_col`` from the parquet footer (no data
    read) — the manifest-level per-file stats Iceberg keeps in its manifests
    (lower_bounds/upper_bounds + record_count) that make MERGE prune at FILE
    granularity and let the auto merge-mode estimate rewrite amplification
    without touching data."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = None
    for i in range(md.num_columns):
        if md.schema.column(i).name == key_col:
            idx = i
            break
    if idx is None or md.num_row_groups == 0:
        return None
    mins, maxs = [], []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        mins.append(st.min)
        maxs.append(st.max)
    return [min(mins), max(maxs), md.num_rows]


class LakeTable:
    """A bucketed snapshot table with MERGE/DDL/time-travel semantics."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.meta_dir = os.path.join(self.path, "metadata")
        self.data_dir = os.path.join(self.path, "data")
        self.snap = self._load_current()

    # ------------------------------------------------------------- creation
    @classmethod
    def create(cls, spark: SparkSession, path: str, schema: T.StructType,
               key_col: str = "doc_id", n_buckets: int = 16,
               df: DataFrame | None = None,
               max_records_per_file: int = 1_000_000,
               merge_mode: str = "cow",
               mor_amplification_limit: int = 16,
               subscribe: tuple[str, str] | None = None,
               changelog: bool = False) -> "LakeTable":
        """Create the table; optionally seed it with an initial full load
        (the reference's ETL import, client-adapter/rdb/.../RdbEtlService.java:30-60).

        ``subscribe``: the (schema, table) source this sink mirrors —
        persisted so every SchemaTracker built over the table resumes the
        right subscription (multi-table mirror routing and RENAME follow).
        None keeps the tracker's default subscription."""
        path = os.path.abspath(path)
        os.makedirs(os.path.join(path, "metadata"), exist_ok=False)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        snap = {
            "version": 0,
            "key_col": key_col,
            "n_buckets": n_buckets,
            # columns: list of {name (logical), physical, type (spark ddl)}
            "columns": [
                {"name": f.name, "physical": f.name, "type": f.dataType.json()}
                for f in schema.fields
            ],
            "files": {},              # bucket(str) -> [relative file names]
            # roll size for bucket rewrites: files stay key-range-DISJOINT
            # within a bucket (writes are key-sorted), so a rewrite cannot
            # produce one file whose [min,max] spans the whole bucket and
            # defeats file-level MERGE pruning forever after. Size it to the
            # target file bytes on a real cluster (~128 MB / avg row size).
            "max_records_per_file": max_records_per_file,
            # MERGE strategy (Iceberg write.merge.mode analog):
            #   "cow"  — copy-on-write: rewrite intersecting files (file-
            #            level pruned); best for temporally-local batches.
            #   "mor"  — merge-on-read: append the collapsed batch as delta
            #            files, fold by max LSN at read; O(batch) commit.
            #   "auto" — per-batch: CoW unless footer-stats rewrite rows
            #            exceed mor_amplification_limit × batch rows (the
            #            spread-key shape where pruning degrades toward a
            #            full bucket rewrite).
            "merge_mode": merge_mode,
            "mor_amplification_limit": mor_amplification_limit,
            "deltas": {},             # bucket(str) -> [delta file names]
            "applied_batches": [],
            "watermark_lsn": "",
            "parent": None,
        }
        if subscribe is not None:
            snap["subscribed"] = list(subscribe)
        if changelog:
            # downstream change feed (Canal client get/ack + MQ FlatMessage
            # consumption analog): every merge commit also lands its
            # submitted net batch under changelog/, keyed by commit version
            snap["changelog_enabled"] = True
            snap["changelog"] = {}    # version(str) -> relative dir
        tbl = object.__new__(cls)
        tbl.spark, tbl.path = spark, path
        tbl.meta_dir = os.path.join(path, "metadata")
        tbl.data_dir = os.path.join(path, "data")
        tbl.snap = snap
        tbl._write_snapshot(snap)
        if df is not None:
            tbl.overwrite(df)
        return tbl

    # ---------------------------------------------------------- snapshot io
    def _write_snapshot(self, snap: dict) -> None:
        v = snap["version"]
        p = os.path.join(self.meta_dir, f"v{v:06d}.json")
        tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)
        cur_tmp = os.path.join(self.meta_dir, f"_current.tmp-{uuid.uuid4().hex[:8]}")
        with open(cur_tmp, "w") as f:
            f.write(f"v{v:06d}.json")
            f.flush()
            os.fsync(f.fileno())
        os.replace(cur_tmp, os.path.join(self.meta_dir, "_current"))
        self.snap = snap

    def _commit_meta(self, drop=(), **updates) -> None:
        """The one snapshot commit: the current snapshot plus ``updates``,
        minus the ``drop`` fields, as version + 1 with this one as parent."""
        snap = {k: v for k, v in self.snap.items() if k not in drop}
        snap.update(updates, version=self.version + 1, parent=self.version)
        self._write_snapshot(snap)

    def _ledger(self, batch_id: str | None) -> dict:
        """The ledger field with ``batch_id`` appended, capped at the last
        LEDGER_KEEP ids (no field for None)."""
        if batch_id is None:
            return {}
        return {"applied_batches":
                (self.snap["applied_batches"] + [batch_id])[-LEDGER_KEEP:]}

    def mark_applied(self, batch_id: str | None) -> None:
        """Ledger ``batch_id`` without a data commit (a batch that changes
        no row), so a redelivery skips; a no-op for None."""
        if batch_id is not None:
            self._commit_meta(**self._ledger(batch_id))

    def _data_commit(self, batch_id: str | None) -> dict:
        """Bookkeeping every data commit carries: the ledger entry and the
        posting-table freshness chain (views.py) — this commit may land
        join values in new buckets, so a posting map not yet folded up to
        ``prev_pairs_version`` must rebuild, one folded to it extends
        incrementally."""
        return {**self._ledger(batch_id),
                "prev_pairs_version": int(self.snap.get("pairs_version", 0)),
                "pairs_version": self.version + 1}

    def _load_current(self) -> dict:
        with open(os.path.join(self.meta_dir, "_current")) as f:
            name = f.read().strip()
        with open(os.path.join(self.meta_dir, name)) as f:
            return json.load(f)

    def refresh(self) -> "LakeTable":
        self.snap = self._load_current()
        return self

    def load_version(self, version: int) -> dict:
        """Time travel: load an arbitrary committed snapshot."""
        with open(os.path.join(self.meta_dir, f"v{version:06d}.json")) as f:
            return json.load(f)

    # ------------------------------------------------------------- schema
    @property
    def key_col(self) -> str:
        return self.snap["key_col"]

    @property
    def n_buckets(self) -> int:
        return self.snap["n_buckets"]

    @property
    def next_n_buckets(self) -> int | None:
        """Target bucket count of an in-progress incremental spec
        migration (``rebucket_start``), else None."""
        return self.snap.get("next_n_buckets")

    def _bucket_col(self, col_name: str, snap: dict | None = None):
        """Bucket assignment for a key column under the snapshot's CURRENT
        routing. Plain ``bucket(N, key)`` normally; during an incremental
        spec migration, keys whose OLD bucket has already migrated route to
        their NEW-spec bucket. Decidable per key from the migrated set
        alone because N | M makes the specs nest:
        ``h mod M ≡ h mod N (mod N)``, so a key's new bucket always reduces
        to its old bucket — old bucket b splits into exactly
        {b, b+N, …, b+(M/N−1)·N} and nothing else."""
        snap = snap or self.snap
        n, m = snap["n_buckets"], snap.get("next_n_buckets")
        h = F.xxhash64(F.col(col_name))
        old = F.pmod(h, F.lit(n))
        mig = [int(b) for b in snap.get("migrated", [])] if m else []
        if not mig:
            return old.cast("int")
        return F.when(old.isin(mig),
                      F.pmod(h, F.lit(m))).otherwise(old).cast("int")

    @property
    def version(self) -> int:
        return self.snap["version"]

    def logical_columns(self) -> list[str]:
        return [c["name"] for c in self.snap["columns"]]

    def _physical_schema(self, snap: dict | None = None) -> T.StructType:
        snap = snap or self.snap
        fields = []
        for c in snap["columns"]:
            fields.append(
                T.StructField(c["physical"], _type_from_json(c["type"]), True))
            # superseded physicals from MODIFY/CHANGE (schema evolution):
            # old files still carry them under the pre-change type
            for p in c.get("prev", []):
                fields.append(
                    T.StructField(p["physical"], _type_from_json(p["type"]), True))
        fields.append(T.StructField("_source_lsn", T.StringType(), True))
        fields.append(T.StructField("_deleted", T.BooleanType(), True))
        return T.StructType(fields)

    def schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c["name"], _type_from_json(c["type"]), True)
             for c in self.snap["columns"]]
        )

    # --------------------------------------------------------------- reads
    def _all_files(self, snap: dict) -> list[str]:
        """Every data file a snapshot references — base AND delta files
        (expire_snapshots must never garbage-collect a live delta)."""
        return [f for fl in snap["files"].values() for f in fl] + [
            f for fl in snap.get("deltas", {}).values() for f in fl]

    def read_raw(self, buckets: list[int] | None = None,
                 version: int | None = None,
                 file_names: list[str] | None = None) -> DataFrame:
        """Physical rows (incl. tombstones + system cols), logical names.
        ``file_names`` narrows the scan to specific manifest files (the
        MERGE file-pruning path)."""
        snap = self.snap if version is None else self.load_version(version)
        if file_names is not None:
            # explicit file list = the MERGE CoW pruning path: base files
            # only, NO delta fold. Safe because LWW-by-LSN is associative:
            # rewriting a base file against a possibly-stale base row keeps
            # the read-time max-LSN fold correct wherever the true winner
            # lives (base or delta).
            return self._read_files(snap, list(file_names))
        # effective bucket ids come from the manifest, not range(n_buckets):
        # during an incremental spec migration the files map holds old-spec
        # ids (unmigrated) and new-spec ids ≥ N (migrated) side by side
        want = (sorted({int(b) for b in snap["files"]}
                       | {int(b) for b in snap.get("deltas", {})})
                if buckets is None else [int(b) for b in buckets])
        deltas = snap.get("deltas", {})
        hot = [b for b in want if deltas.get(str(b))]
        cold = [b for b in want if not deltas.get(str(b))]
        cold_df = self._read_files(
            snap, [f for b in cold for f in snap["files"].get(str(b), [])])
        if not hot:
            return cold_df
        # Merge-on-read fold, restricted to buckets that actually carry
        # deltas: base ∪ delta rows of those buckets, one winner per key
        # (_fold). Buckets without deltas stream through untouched — zero
        # read tax once compaction has folded a bucket.
        hot_names = [f for b in hot for f in snap["files"].get(str(b), [])] \
            + [f for b in hot for f in deltas.get(str(b), [])]
        return cold_df.unionByName(
            _fold(self._read_files(snap, hot_names), snap["key_col"]))

    def _read_files(self, snap: dict, names: list[str]) -> DataFrame:
        phys = self._physical_schema(snap)
        if not names:
            return self.spark.createDataFrame([], phys).select(
                *self._logical_select(snap)
            )
        paths = [os.path.join(self.data_dir, n) for n in names]
        df = self.spark.read.schema(phys).parquet(*paths)
        return df.select(*self._logical_select(snap))

    def _logical_select(self, snap: dict):
        # a MODIFY/CHANGE'd column reads as coalesce(new physical,
        # CAST(old physical)) — metadata-only type evolution (Iceberg-style
        # read-time promotion, generalized to any cast-able conversion);
        # rewritten buckets materialize the new physical, old files convert
        # lazily in the scan
        sel = []
        for c in snap["columns"]:
            cur = F.col(c["physical"])
            tgt = _type_from_json(c["type"])
            for p in c.get("prev", []):  # newest-first chain
                cur = F.coalesce(cur, F.col(p["physical"]).cast(tgt))
            sel.append(cur.alias(c["name"]))
        sel += [F.col(c) for c in SYS_COLS]
        return sel

    def read(self, version: int | None = None) -> DataFrame:
        """Live rows, logical schema (what a consumer queries)."""
        cols = (self.snap if version is None else self.load_version(version))["columns"]
        return (
            self.read_raw(version=version)
            .where(~F.coalesce(F.col("_deleted"), F.lit(False)))
            .select(*[c["name"] for c in cols])
        )

    def _lookup_files(self, keys: list, snap: dict) -> list[str]:
        """Manifest-only file pruning for a point read: hash each key to its
        bucket (same JVM ``bucket_expr`` the writes use), then keep only the
        bucket's base+delta files whose footer [min_key, max_key] can hold
        one of the keys. Returns manifest file names; never touches data."""
        key = snap["key_col"]
        ktype = next(_type_from_json(c["type"]) for c in snap["columns"]
                     if c["name"] == key)
        kdf = self.spark.createDataFrame(
            [(k,) for k in keys], T.StructType([T.StructField(key, ktype)]))
        brows = kdf.select(
            key, self._bucket_col(key, snap).alias("_b")).collect()
        by_bucket: dict[int, list] = {}
        for r in brows:
            by_bucket.setdefault(r["_b"], []).append(r[key])
        fstats = snap.get("file_stats", {})
        names: list[str] = []
        for b, ks in sorted(by_bucket.items()):
            cand = (snap["files"].get(str(b), [])
                    + snap.get("deltas", {}).get(str(b), []))
            for name in cand:
                st = fstats.get(name)
                if st is None or any(st[0] <= k <= st[1] for k in ks):
                    names.append(name)
        return names

    def lookup(self, keys: list, version: int | None = None) -> DataFrame:
        """Key-pruned point read: live rows for exactly ``keys``.

        The serving-side analog of the reference's adapters resolving the
        current sink row for a PK before applying a change (client-adapter/
        rdb/.../RdbSyncService.java keys every UPDATE/DELETE by pk), rebuilt
        on manifest stats: bucket hash + per-file [min,max] footer bounds
        (Iceberg manifest data skipping) prune the scan to the few files
        that can hold the keys, so cost is O(|keys|) files — independent of
        table size, the 100 TB point-read path. Buckets carrying
        merge-on-read deltas fold to one winner per key by max LSN, exactly
        like ``read_raw``; tombstoned keys return no row."""
        snap = self.snap if version is None else self.load_version(version)
        key = snap["key_col"]
        hit = (
            self._read_files(snap, self._lookup_files(keys, snap))
            .where(F.col(key).isin(list(keys)))
        )
        return (
            _fold(hit, key).where(~F.coalesce(F.col("_deleted"), F.lit(False)))
            .select(*[c["name"] for c in snap["columns"]])
        )

    # -------------------------------------------------------------- writes
    def _write_data(
        self, df: DataFrame, version: int, prefix: str = "b",
        n_buckets: int | None = None,
    ) -> tuple[dict[str, list[str]], dict[str, list]]:
        """Write df (physical names + sys cols + _b) bucket-partitioned;
        move files into data/ and return (bucket -> new file names,
        file name -> [min_key, max_key, rows] footer stats). ``prefix``
        distinguishes base data files ("b") from merge-on-read delta
        files ("d") in the data directory listing. ``n_buckets`` overrides
        the snapshot's bucket count for the shuffle width (the rebucket
        path, where ``_b`` was computed under the NEW spec)."""
        n_buckets = (n_buckets or self.snap.get("next_n_buckets")
                     or self.n_buckets)
        staging = os.path.join(self.path, f"_staging-v{version:06d}-{uuid.uuid4().hex[:8]}")
        key_phys = self._phys(self.key_col)
        sort_cols = ["_b"] + ([key_phys] if key_phys in df.columns else [])
        (
            df.repartition(n_buckets, "_b")
            .sortWithinPartitions(*sort_cols)
            # key-sorted rows + a roll cap ⇒ the rolled files of one bucket
            # carry DISJOINT key ranges, keeping file-level pruning sharp
            # across rewrites (Iceberg write.target-file-size analog)
            .write.option(
                "maxRecordsPerFile",
                str(self.snap.get("max_records_per_file") or 0))
            .partitionBy("_b").mode("overwrite").parquet(staging)
        )
        out: dict[str, list[str]] = {}
        moved: list[tuple[str, str]] = []
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith("_b="):
                continue
            b = entry.split("=", 1)[1]
            seq = 0
            for fn in sorted(os.listdir(os.path.join(staging, entry))):
                if not fn.endswith(".parquet"):
                    continue
                new = f"{prefix}{int(b):05d}-v{version:06d}-{seq:04d}-{uuid.uuid4().hex[:8]}.parquet"
                dst = os.path.join(self.data_dir, new)
                os.replace(os.path.join(staging, entry, fn), dst)
                out.setdefault(b, []).append(new)
                moved.append((new, dst))
                seq += 1
        # footer-only reads, metadata-sized per file — but serial they cost
        # ~5 ms each on the driver (≈0.5 s per 1M-event commit at 32
        # buckets × 2 ranges); pyarrow releases the GIL on IO, so a small
        # thread pool makes the stats pass O(slowest footer)
        from concurrent.futures import ThreadPoolExecutor

        stats: dict[str, list[str]] = {}
        if moved:
            with ThreadPoolExecutor(min(16, len(moved))) as pool:
                for (new, _dst), st in zip(
                        moved, pool.map(
                            lambda m: _key_stats(m[1], key_phys), moved)):
                    if st is not None:
                        stats[new] = st
        shutil.rmtree(staging, ignore_errors=True)
        return out, stats

    def _to_physical(self, df: DataFrame, *extra) -> DataFrame:
        """Logical rows → physical names + system columns (defaults for a
        frame without them) + ``extra`` columns, e.g. the bucket ``_b``."""
        sel = [F.col(c["name"]).alias(c["physical"]) for c in self.snap["columns"]]
        for c in SYS_COLS:
            sel.append(
                F.col(c) if c in df.columns
                else (F.lit(False) if c == "_deleted" else F.lit("")).alias(c)
            )
        return df.select(*sel, *extra)

    def _rewrite(self, rows: DataFrame, bucket, replace: list[int] | None,
                 n_buckets: int | None = None) -> dict:
        """The one bucket rewrite: write logical ``rows`` bucketed by the
        ``bucket`` column expression, and swap the new files in for every
        base and delta file of the ``replace`` buckets (None: every
        bucket). Returns the snapshot fields ``files``, ``deltas`` and
        ``file_stats`` for the caller's commit."""
        new_files, new_stats = self._write_data(
            self._to_physical(rows, bucket.alias("_b")), self.version + 1,
            n_buckets=n_buckets)
        if replace is None:
            return {"files": new_files, "deltas": {}, "file_stats": new_stats}
        files = dict(self.snap["files"])
        deltas = dict(self.snap.get("deltas", {}))
        fstats = dict(self.snap.get("file_stats", {}))
        for b in replace:
            for f in files.pop(str(b), []) + deltas.pop(str(b), []):
                fstats.pop(f, None)
        for b, fl in new_files.items():
            # a migration step moves old bucket b's keys only into
            # {b, b+N, ...}: the sole new id < N is b itself, just popped
            files[b] = files.get(b, []) + fl
        fstats.update(new_stats)
        return {"files": files, "deltas": deltas, "file_stats": fstats}

    def overwrite(self, df: DataFrame, batch_id: str | None = None) -> None:
        """Full replace (initial load / backfill). df has logical columns.
        An in-progress spec migration completes for free: everything is
        being rewritten anyway, so land it all under the target spec."""
        tgt_n = self.next_n_buckets or self.n_buckets
        swap = self._rewrite(df, bucket_expr(self.key_col, tgt_n), None,
                             n_buckets=tgt_n)
        self._commit_meta(drop=_MIGRATION, n_buckets=tgt_n, **swap,
                          **self._data_commit(batch_id))
        # pairs chain restarts: the whole population changed, so any stored
        # posting map is a lie either way — delete it outright (ADVICE r04
        # #2: a re-seeded table serving a pre-seed map under-lists buckets,
        # silently skipping live rows on dim refresh)
        shutil.rmtree(os.path.join(self.path, "postings"), ignore_errors=True)

    def _phys(self, logical: str) -> str:
        for c in self.snap["columns"]:
            if c["name"] == logical:
                return c["physical"]
        raise KeyError(logical)

    # --------------------------------------------------------------- MERGE
    def is_applied(self, batch_id: str) -> bool:
        return batch_id in self.snap["applied_batches"]

    def merge_apply(self, changes: DataFrame, batch_id: str | None = None,
                    max_lsn: str | None = None, mode: str | None = None) -> dict:
        """Apply net-effect changes: the Iceberg ``MERGE INTO`` equivalent.

        ``changes`` columns: key + logical data columns + ``op`` ('U' upsert
        / 'D' delete) + ``lsn`` (sortable string). One row per key (callers
        run the LWW collapse first, operators/lww.py).

        Semantics per key (RdbSyncService insert/update/delete analog):
        - op='U' & key absent  → INSERT (WHEN NOT MATCHED)
        - op='U' & key present → UPDATE if lsn > current _source_lsn
        - op='D'               → tombstone if lsn > current _source_lsn
        The LSN guard makes replays and duplicate deliveries no-ops
        (idempotent MERGE on (doc_id, source_lsn) — BASELINE.json).
        """
        if batch_id is not None and self.is_applied(batch_id):
            return {"skipped": True, "version": self.snap["version"],
                    "buckets": 0, "upserts": 0, "deletes": 0}

        key = self.key_col
        data_cols = self.logical_columns()
        trunc = self.snap.get("truncate_lsn", "")
        if trunc:
            changes = changes.where(F.col("lsn") > trunc)
        # prefix change columns so the full-outer join is unambiguous, and
        # cast each to the sink's CURRENT type (the target column-type cache
        # semantics of RdbSyncService — client-adapter/rdb/.../
        # RdbSyncService.java:318-340): a no-op when types already align,
        # and after a MODIFY it stops a narrower incoming value from
        # poisoning the physical file's declared type
        sink_types = {f.name: f.dataType for f in self.schema().fields}
        in_types = {f.name: f.dataType for f in changes.schema.fields}
        chg = changes.select(
            *[(F.col(c) if in_types.get(c) == sink_types[c]
               else F.col(c).cast(sink_types[c])).alias(f"_c_{c}")
              for c in data_cols],
            F.col("op").alias("_c_op"),
            F.col("lsn").alias("_c_lsn"),
            self._bucket_col(key).alias("_b"),
        )
        chg.persist()
        try:
            # ONE metadata action for touched buckets + op counts + max
            # applied LSN + the change-key HULL per bucket (min/max of the
            # batch's keys — measured free next to the count aggregate).
            # FILE-level pruning (Iceberg manifest lower/upper-bound
            # analog) is then a driver-side interval test: a data file is
            # read+rewritten only if its footer [min,max] key range
            # intersects its bucket's change hull; every other file
            # carries forward BY REFERENCE in the new snapshot. That keeps
            # copy-on-write proportional to the batch at 10^10 rows (the
            # reference's apply is batch-proportional JDBC DML,
            # client-adapter/rdb/.../support/BatchExecutor.java).
            # Precision: the hull over-selects a file that sits inside the
            # batch's key span but holds no actual change key — the
            # scattered-key shape, which is exactly where the auto
            # merge-mode flips to an O(batch) delta commit anyway (the
            # overestimate only flips it sooner, the safe direction). Two
            # rejected designs, both measured slower: a separate exact
            # probe action re-scanned the batch per commit (~0.9 s/range),
            # and fusing the probe as a broadcast join into this aggregate
            # paid ~0.5-0.7 s/commit for join duplication + countDistinct
            # (PERF.md #14).
            ckey = F.col(f"_c_{key}")
            mode = mode or self.snap.get("merge_mode", "cow")
            fstats = self.snap.get("file_stats", {})
            bstats = (
                chg.groupBy("_b", "_c_op")
                .agg(F.count("*").alias("count"),
                     F.max("_c_lsn").alias("mx"),
                     F.min(ckey).alias("klo"),
                     F.max(ckey).alias("khi"))
                .collect())
            touched = sorted({r["_b"] for r in bstats})
            if not touched:  # empty batch: no data, no version churn
                self.mark_applied(batch_id)
                return {"skipped": False, "version": self.snap["version"],
                        "buckets": 0, "upserts": 0, "deletes": 0}
            n_up = sum(r["count"] for r in bstats if r["_c_op"] == "U")
            n_del = sum(r["count"] for r in bstats if r["_c_op"] == "D")
            bucket_files = sum(
                len(self.snap["files"].get(str(b), [])) for b in touched)
            if mode == "mor":
                return self._delta_commit(chg, batch_id, max_lsn, bstats,
                                          touched, n_up, n_del, bucket_files)
            # per-bucket change-key hull (None = match-all: a NULL-key row
            # has no position in the range order, so its bucket keeps
            # every file)
            hull: dict[int, tuple | None] = {}
            for r in bstats:
                b = r["_b"]
                if r["klo"] is None or r["khi"] is None:
                    hull[b] = None
                elif b not in hull:
                    hull[b] = (r["klo"], r["khi"])
                elif hull[b] is not None:
                    lo, hi = hull[b]
                    hull[b] = (min(lo, r["klo"]), max(hi, r["khi"]))
            touched_files = []
            for b in touched:
                h = hull.get(b)
                for f in self.snap["files"].get(str(b), []):
                    st = fstats.get(f)
                    if st is None or h is None or not (
                            h[1] < st[0] or st[1] < h[0]):
                        touched_files.append(f)
            touched_files.sort()

            if mode == "auto" and touched_files:
                # rewrite amplification from manifest stats alone: rows the
                # CoW branch would read+rewrite vs rows in the batch. Above
                # the limit (spread keys hitting most file ranges) an
                # O(batch) delta commit beats rewriting the data many times
                # over; compaction folds the deltas back later.
                sizes = [fstats.get(f) for f in touched_files]
                if all(s and len(s) > 2 for s in sizes):
                    rewrite_rows = sum(s[2] for s in sizes)
                    limit = self.snap.get("mor_amplification_limit", 16)
                    if rewrite_rows > limit * (n_up + n_del):
                        return self._delta_commit(
                            chg, batch_id, max_lsn, bstats, touched,
                            n_up, n_del, bucket_files)

            tgt = self.read_raw(file_names=touched_files).drop("_b")
            # One scan, one join: full-outer MERGE with an LSN fence —
            # a change wins only if strictly newer than the stored row
            # (idempotent under replay/duplicate delivery). The change side
            # is hinted SHUFFLE_HASH: post-collapse it is one row per key
            # (batch-bounded — per-partition build = |batch keys|/P), and a
            # hash build beats sorting BOTH sides' array payloads for the
            # default SortMergeJoin (measured 15% on the 1M-event replay,
            # with far lower run-to-run variance). The target side is never
            # the build side, so table size doesn't bound memory.
            j = tgt.join(chg.hint("SHUFFLE_HASH"), tgt[key] == ckey,
                         "full_outer")
            win = ckey.isNotNull() & (
                F.col("_source_lsn").isNull() | (F.col("_c_lsn") > F.col("_source_lsn"))
            )
            out = j.select(
                *[
                    F.when(
                        win,
                        ckey if c == key
                        else F.when(F.col("_c_op") == "U", F.col(f"_c_{c}")),
                    ).otherwise(F.col(c)).alias(c)
                    for c in data_cols
                ],
                F.when(win, F.col("_c_lsn"))
                .otherwise(F.col("_source_lsn")).alias("_source_lsn"),
                F.when(win, F.col("_c_op") == "D")
                .otherwise(F.coalesce(F.col("_deleted"), F.lit(False)))
                .alias("_deleted"),
            ).where(F.col(key).isNotNull())
            version = self.version + 1
            new_files, new_stats = self._write_data(
                self._to_physical(out, self._bucket_col(key).alias("_b")),
                version)
            files = dict(self.snap["files"])
            file_stats = dict(fstats)
            replaced = set(touched_files)
            for b in touched:
                kept = [f for f in files.get(str(b), []) if f not in replaced]
                files[str(b)] = kept + new_files.get(str(b), [])
            for f in replaced:
                file_stats.pop(f, None)
            file_stats.update(new_stats)
            self._commit_merge(chg, bstats, batch_id, max_lsn,
                               files=files, file_stats=file_stats)
            return {"skipped": False, "version": version, "mode": "cow",
                    "buckets": len(touched), "upserts": n_up, "deletes": n_del,
                    "files_read": len(touched_files),
                    "files_carried": bucket_files - len(touched_files)}
        finally:
            # unpersist the DF that was persisted: caches are per-plan, so
            # unpersisting the parent `changes` would leak `chg`'s blocks on
            # every commit of a long-running stream
            chg.unpersist()

    def _delta_commit(self, chg: DataFrame, batch_id: str | None,
                      max_lsn: str | None, bstats: list, touched: list[int],
                      n_up: int, n_del: int, bucket_files: int) -> dict:
        """Merge-on-read commit: land the LWW-collapsed batch as per-bucket
        delta files — no target read, no join, commit cost O(batch) —
        matching the reference's batch-proportional apply (client-adapter/
        rdb/.../support/BatchExecutor.java). The per-key winner is resolved
        at read time by the max-LSN fold in ``read_raw`` (Iceberg v2
        merge-on-read with equality deletes, generalized to upserts);
        ``compact`` folds deltas back into base files, restoring the
        zero-tax scan. The CoW LSN fence is preserved by construction:
        a delta row older than the stored row simply loses the fold."""
        key = self.key_col
        data_cols = self.logical_columns()
        ckey = F.col(f"_c_{key}")
        is_del = F.col("_c_op") == "D"
        phys = {c["name"]: c["physical"] for c in self.snap["columns"]}
        out_p = chg.select(
            *[
                (ckey if c == key
                 else F.when(~is_del, F.col(f"_c_{c}"))).alias(phys[c])
                for c in data_cols
            ],
            F.col("_c_lsn").alias("_source_lsn"),
            is_del.alias("_deleted"),
            F.col("_b"),
        )
        version = self.version + 1
        new_files, new_stats = self._write_data(out_p, version, prefix="d")
        deltas = {b: list(fl) for b, fl in self.snap.get("deltas", {}).items()}
        for b, fl in new_files.items():
            deltas[b] = deltas.get(b, []) + fl
        file_stats = dict(self.snap.get("file_stats", {}))
        file_stats.update(new_stats)
        self._commit_merge(chg, bstats, batch_id, max_lsn,
                           deltas=deltas, file_stats=file_stats)
        return {"skipped": False, "version": version, "mode": "mor",
                "buckets": len(touched), "upserts": n_up, "deletes": n_del,
                "files_read": 0, "files_carried": bucket_files,
                "delta_files": sum(len(fl) for fl in new_files.values())}

    def _commit_merge(self, chg: DataFrame, bstats: list,
                      batch_id: str | None, max_lsn: str | None,
                      **updates) -> None:
        """The commit both merge modes end in: ``updates`` (the mode's new
        file lists) plus the watermark and, when enabled, the change feed
        entry, on top of the data-commit bookkeeping."""
        obs_lsn = max((r["mx"] for r in bstats if r["mx"]), default=None)
        wm = max(filter(None, [max_lsn, obs_lsn]), default=None)
        if wm:
            updates["watermark_lsn"] = max(
                self.snap.get("watermark_lsn", ""), wm)
        if self.snap.get("changelog_enabled"):
            version = self.version + 1
            updates["changelog"] = {
                **self.snap.get("changelog", {}),
                str(version): self._write_changelog(chg, version)}
        self._commit_meta(**updates, **self._data_commit(batch_id))

    # -------------------------------------------------------- change feed
    def _write_changelog(self, chg: DataFrame, version: int) -> str:
        """Land this commit's submitted net batch under ``changelog/`` —
        O(batch) extra write, only when the table was created with
        ``changelog=True``."""
        rel = f"v{version:08d}"
        out = chg.select(
            *[F.col(f"_c_{c}").alias(c) for c in self.logical_columns()],
            F.col("_c_op").alias("op"),
            F.col("_c_lsn").alias("lsn"),
            F.lit(version).cast("int").alias("_commit_version"),
        )
        # feed files are batch-bounded; coalesce so a 1 s-trigger stream
        # doesn't shed 32 tiny files per commit (chg is persisted upstream,
        # so the narrowed write re-reads cached blocks, not the pipeline)
        out.coalesce(8).write.mode("overwrite").parquet(
            os.path.join(self.path, "changelog", rel))
        return rel

    def read_changes(self, since_version: int = 0,
                     until_version: int | None = None) -> DataFrame:
        """The lake table as a CDC *source*: net changes committed in
        versions (since_version, until_version] — the Spark-first analog of
        the reference's client get/ack feed (server/.../CanalServerWith-
        Embedded.java:331-446 getWithoutAck/ack) and its MQ FlatMessage
        stream. A consumer remembers the last version it applied (its ack
        position) and pulls forward from there; rows are
        key + data columns + op ('U'/'D') + lsn + _commit_version, i.e.
        exactly the ``merge_apply`` contract, so a downstream LakeTable
        syncs with ``merge_apply(collapse_lww(read_changes(ack)))`` — the
        client-adapter loop rebuilt on the lake.

        Delivery is at-least-once per ROW (a re-delivered source range that
        the LSN fence turns into a per-key no-op still logs its submitted
        rows — matching Canal's MQ producers, which also re-send on retry;
        the reference requires idempotent consumers and so does this feed:
        the LWW fold by (key, max lsn) makes any consumer exact). Ledgered
        batches (streaming's batch_id path) are suppressed before commit,
        so the steady-state stream feed is exactly-once. Boundaries: DDL
        and TRUNCATE are metadata commits and do not appear in the feed —
        consumers track them via snapshot history (``load_version``).

        Columns follow the table's live schema per commit; commits straddling
        an ADD/RENAME are unioned by parquet schema merge (absent columns
        read NULL under their commit-time name)."""
        entries = sorted((int(v), rel) for v, rel in
                         self.snap.get("changelog", {}).items())
        paths = [os.path.join(self.path, "changelog", rel)
                 for v, rel in entries
                 if v > since_version
                 and (until_version is None or v <= until_version)]
        if not paths:
            schema = T.StructType(
                list(self.schema().fields)
                + [T.StructField("op", T.StringType()),
                   T.StructField("lsn", T.StringType()),
                   T.StructField("_commit_version", T.IntegerType())])
            return self.spark.createDataFrame([], schema)
        return (self.spark.read.option("mergeSchema", "true")
                .parquet(*paths))

    def consumer_acks(self) -> dict[str, int]:
        """Named consumer cursors on this table's feed: ``consumers/*.json``
        beside the data (written by ``set_consumer_ack`` — OUTSIDE the
        snapshot chain so an ack never looks like new upstream work to
        other consumers). The reference's per-destination meta
        (meta/.../FileMixedMetaManager.java)."""
        d = os.path.join(self.path, "consumers")
        out: dict[str, int] = {}
        if not os.path.isdir(d):
            return out
        for f in os.listdir(d):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out[f[:-5]] = int(json.load(fh)["ack"])
        return out

    def set_consumer_ack(self, name: str, ack: int) -> None:
        """Position the named consumer's cursor at feed version ``ack``
        (atomic write + rename, outside the snapshot chain)."""
        d = os.path.join(self.path, "consumers")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{name}.json")
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"ack": int(ack)}, fh)
        os.replace(tmp, p)

    def expire_changelog(self, upto_version: int, force: bool = False) -> int:
        """Purge feed entries with version ≤ ``upto_version`` — call once
        every consumer's ack position has passed it. The ack-frees-the-
        buffer semantics of the reference's event store
        (store/.../MemoryEventStoreWithBuffer.java:463-519), applied to the
        on-disk feed so a long tail stays bounded like every other
        maintenance surface.

        Guard: with named consumers registered, the expiry is CLAMPED to
        the slowest registered ack — a direct call above it would drop feed
        a lagging consumer still needs (silent data loss for that consumer,
        visible only as a re-bootstrap). ``force=True`` overrides (operator
        explicitly abandoning a dead consumer; pair with deleting its
        cursor file)."""
        if not force:
            acks = self.consumer_acks()
            if acks:
                upto_version = min(upto_version, min(acks.values()))
        cl = dict(self.snap.get("changelog", {}))
        drop = [v for v in list(cl) if int(v) <= upto_version]
        for v in drop:
            shutil.rmtree(os.path.join(self.path, "changelog", cl.pop(v)),
                          ignore_errors=True)
        if drop:
            # durable high-water mark of DROPPED feed entries: a consumer
            # whose ack trails it can never be served the gap — relay_step
            # detects this and raises instead of silently skipping to head
            # (ADVICE r05 #3: silent data loss must not look like an idle
            # poll)
            hwm = max(int(self.snap.get("changelog_expired_upto", 0)),
                      max(int(v) for v in drop))
            self._commit_meta(changelog=cl, changelog_expired_upto=hwm)
        return len(drop)

    # ----------------------------------------------------------------- DDL
    def alter_add_column(self, name: str, dtype: T.DataType,
                         position: tuple[str, str | None] | None = None) -> None:
        if name in self.logical_columns():
            return
        cols = list(self.snap["columns"])
        entry = {"name": name, "physical": f"{name}_{uuid.uuid4().hex[:6]}",
                 "type": dtype.json()}
        idx = len(cols)
        if position is not None:  # MySQL FIRST / AFTER col ordering
            if position[0] == "FIRST":
                idx = 0
            elif position[0] == "AFTER":
                names = [c["name"] for c in cols]
                if position[1] in names:
                    idx = names.index(position[1]) + 1
        cols.insert(idx, entry)
        self._commit_meta(columns=cols)

    def alter_rename_column(self, old: str, new: str) -> None:
        cols = [dict(c) for c in self.snap["columns"]]
        for c in cols:
            if c["name"] == old:
                c["name"] = new
        self._commit_meta(columns=cols)

    def alter_modify_column(self, name: str, dtype: T.DataType,
                            new_name: str | None = None) -> None:
        """MODIFY [or CHANGE, with new_name] a column's type in metadata
        only: the column moves to a fresh physical name of the new type and
        keeps its old physicals on a ``prev`` chain; reads coalesce through
        the chain with a cast (see _logical_select). No data rewrite — the
        change is one snapshot commit, like the reference's registry update
        (MemoryTableMeta.apply) + target-side ALTER mirror."""
        cols = [dict(c) for c in self.snap["columns"]]
        for c in cols:
            if c["name"] != name:
                continue
            if new_name:
                c["name"] = new_name
            if c["type"] != dtype.json():
                c["prev"] = ([{"physical": c["physical"], "type": c["type"]}]
                             + list(c.get("prev", [])))
                c["physical"] = f"{c['name']}_{uuid.uuid4().hex[:6]}"
                c["type"] = dtype.json()
        self._commit_meta(columns=cols)

    def alter_drop_column(self, name: str) -> None:
        cols = [c for c in self.snap["columns"] if c["name"] != name]
        self._commit_meta(columns=cols)

    def truncate(self, lsn: str | None = None) -> None:
        """Metadata-only truncate (RdbSyncService.truncate analog,
        client-adapter/rdb/.../RdbSyncService.java:392-400). Recording the
        TRUNCATE's LSN fences any late/duplicate pre-truncate DML from
        resurrecting wiped rows."""
        updates: dict = {"files": {}, "file_stats": {}, "deltas": {}}
        if lsn is not None:
            updates["truncate_lsn"] = max(self.snap.get("truncate_lsn", ""), lsn)
        self._commit_meta(**updates)
        # a wiped table's posting map only over-lists (harmless for
        # pruning) but is pure dead weight — drop it with the rows
        shutil.rmtree(os.path.join(self.path, "postings"), ignore_errors=True)

    # ------------------------------------------------------- maintenance
    def compact(self, buckets: list[int] | None = None) -> None:
        """Rewrite buckets dropping tombstones and folding merge-on-read
        deltas back into base files (snapshot-expire analog). Only safe once
        no replays can deliver events older than the tombstone LSNs (i.e.
        past the checkpointed watermark)."""
        buckets = buckets if buckets is not None else sorted(
            {int(b) for b in self.snap["files"]}
            | {int(b) for b in self.snap.get("deltas", {})})
        live = (
            self.read_raw(buckets=buckets)  # delta-folded: one winner/key
            .where(~F.coalesce(F.col("_deleted"), F.lit(False)))
        )
        self._commit_meta(
            **self._rewrite(live, self._bucket_col(self.key_col), buckets))

    def rebucket(self, new_n_buckets: int) -> dict:
        """Online bucket-count evolution: rewrite the table under
        ``pmod(xxhash64(key), new_n)`` as ONE atomic snapshot commit —
        the Iceberg partition-spec change (``bucket(N, key)`` →
        ``bucket(4N, key)``) plus ``rewrite_data_files`` in a single swap.

        Why it exists: the bucket count is the MERGE/lookup pruning unit
        AND the commit shuffle width, both sized to the table at creation.
        At 10^10-row scale a table that grew 100× since creation ends up
        with buckets far past the target file size — every CoW commit
        rewrites huge files, every point lookup scans a huge bucket. A
        real deployment must be able to widen the spec WITHOUT taking the
        stream down: readers keep resolving the old snapshot until the
        pointer swap, and the single writer calls this between batches
        (same online contract as ``compact``). Cost is one full-table
        shuffle+rewrite — schedule it like any other table-proportional
        maintenance (off-peak, or per-bucket-group on a real cluster).

        Semantics preserved across the swap:
        - tombstones and their ``_source_lsn`` fences are carried (NOT
          dropped like ``compact``), so late/duplicate pre-rebucket events
          still fence correctly — no watermark precondition needed;
        - merge-on-read delta chains fold into the new base files (the
          ``read_raw`` max-LSN winner per key is what gets rewritten);
        - MODIFY/CHANGE ``prev`` read-chains materialize into the current
          physical columns, so the new snapshot drops them (every data
          file now carries the live schema);
        - ledger / watermark / truncate fence / changelog ride along
          unchanged — the feed sees no phantom commit (data organization
          only, like compact).
        """
        if new_n_buckets == self.n_buckets and not self.snap.get("next_n_buckets"):
            return {"skipped": True, "n_buckets": self.n_buckets}
        swap = self._rewrite(
            self.read_raw(),  # delta-folded: one winner per key, tombstones kept
            bucket_expr(self.key_col, new_n_buckets), None,
            n_buckets=new_n_buckets)
        # the full rewrite subsumes any in-progress incremental migration
        self._commit_meta(
            drop=_MIGRATION, n_buckets=new_n_buckets,
            columns=[{k: v for k, v in c.items() if k != "prev"}
                     for c in self.snap["columns"]], **swap)
        return {"skipped": False, "n_buckets": new_n_buckets,
                "files": sum(len(fl) for fl in swap["files"].values()),
                "version": self.version}

    def rebucket_start(self, new_n_buckets: int) -> None:
        """Begin an INCREMENTAL spec migration to ``new_n_buckets`` — a
        metadata-only commit; data moves later, one ``rebucket_step`` at a
        time, while merges and reads stay live against the mixed spec.

        Why incremental: the one-shot ``rebucket`` is a full-table
        shuffle+rewrite in a single commit — at 10^10 rows that is a
        multi-hour job holding the maintenance slot. Because the new spec
        must be a MULTIPLE of the old (N | M), the specs nest: old bucket b
        splits into exactly {b, b+N, …} and no key ever crosses between old
        buckets. Each step therefore migrates a bounded set of old buckets
        as its own atomic commit; routing for merges/lookups is decided per
        key from the ``migrated`` set (``_bucket_col``). The stream never
        pauses, and a crash resumes from the manifest."""
        if self.snap.get("next_n_buckets"):
            raise ValueError("spec migration already in progress")
        if new_n_buckets == self.n_buckets:
            return
        # strict widening: N | M alone also admits 0 and negative multiples
        # (python: -4 % 4 == 0), which would commit nonsense routing specs
        if new_n_buckets < self.n_buckets or new_n_buckets % self.n_buckets:
            raise ValueError(
                f"incremental widening needs M > N with N | M "
                f"(got {self.n_buckets} -> {new_n_buckets}); "
                f"use rebucket() for an arbitrary respec incl. downscale")
        self._commit_meta(next_n_buckets=new_n_buckets, migrated=[])

    def rebucket_step(self, max_buckets: int = 1) -> dict:
        """Migrate up to ``max_buckets`` old-spec buckets to the target
        spec: rewrite their files (delta-folded, tombstones and fences
        kept) under ``bucket(M, key)`` as one atomic commit. When the last
        old bucket moves, the snapshot flips ``n_buckets`` to M and the
        migration fields disappear. Commit cost is bounded by the step's
        buckets — never the table."""
        m = self.next_n_buckets
        if not m:
            return {"done": True, "migrated": [], "remaining": 0}
        n = self.n_buckets
        mig = {int(b) for b in self.snap.get("migrated", [])}
        todo = [b for b in range(n) if b not in mig][:max_buckets]
        # no todo = everything already moved: the commit only flips the
        # spec (normally done by the final data step; this closes a
        # crash-between-commits window)
        swap = self._rewrite(
            self.read_raw(buckets=todo),  # folded winners, tombstones kept
            bucket_expr(self.key_col, m), todo, n_buckets=m) if todo else {}
        mig |= set(todo)
        remaining = n - len(mig)
        if remaining:
            self._commit_meta(migrated=sorted(mig), **swap)
        else:
            self._commit_meta(drop=_MIGRATION, n_buckets=m, **swap)
        return {"done": remaining == 0, "migrated": todo,
                "remaining": remaining}

    def maintain(self, max_files_per_bucket: int = 8,
                 snapshots_keep: int = 4,
                 target_rows_per_bucket: int | None = None,
                 rebucket_step_buckets: int = 2) -> dict:
        """Scheduled maintenance for a long-running apply loop: compact the
        buckets fragmented past ``max_files_per_bucket`` and expire
        superseded snapshots (the reference frees acked events from its ring
        buffer, store/.../MemoryEventStoreWithBuffer.java:463-519 — the lake
        analog is dropping superseded files and fenced tombstones so neither
        grows without bound over the streaming tail).

        Guard: a no-op until ``watermark_lsn`` is set. The watermark proves
        the applied range is committed behind the batch ledger + LSN fence:
        a redelivery replays the same epochs (ledger no-op) or newer events
        (the fence admits them anyway), so dropping a tombstone cannot let
        a redelivered older event resurrect the key. Callers doing manual
        un-ledgered replays of OLD segments must not interleave them with
        maintenance.

        Scale: the fragmentation probe is metadata-only (the snapshot's
        files map); compaction cost is proportional to actual churn, never
        table size; expire_snapshots is metadata + file deletes.
        """
        self.refresh()
        if not self.snap.get("watermark_lsn"):
            return {"skipped": True, "compacted_buckets": [], "files_removed": 0}
        deltas = self.snap.get("deltas", {})
        frag = sorted(
            {int(b) for b, fs in self.snap["files"].items()
             if len(fs) > max_files_per_bucket}
            # merge-on-read delta chains: fold a bucket back to plain base
            # files once its chain passes half the file cap (each delta in
            # the chain is an extra file in every read fold of that bucket)
            | {int(b) for b, fs in deltas.items()
               if len(fs) > max(1, max_files_per_bucket // 2)})
        if frag:
            self.compact(buckets=frag)
        if not self.snap.get("next_n_buckets") and target_rows_per_bucket:
            # spec-growth trigger, metadata-only probe: manifest row counts
            # say how far the table has outgrown its bucket count. Start an
            # incremental migration to the power-of-two multiple that brings
            # the average bucket back under target, capped at 4× per
            # migration (one migration should not buy an arbitrarily large
            # total rewrite).
            # BASE-file rows only: merge-on-read delta files duplicate base
            # rows they override, so counting them would overstate live
            # rows and start a migration (or pick a wider factor) on a
            # table actually under target (ADVICE r03 #1). Tombstone rows
            # still count — like describe(), we accept that small overcount
            # (they purge at compaction) rather than scan data here.
            delta_files = {f for fs in self.snap.get("deltas", {}).values()
                           for f in fs}
            total = sum(st[2] for name, st
                        in self.snap.get("file_stats", {}).items()
                        if st and len(st) > 2 and name not in delta_files)
            want = -(-total // target_rows_per_bucket) if total else 0
            if want > self.n_buckets:
                factor = -(-want // self.n_buckets)
                factor = min(4, 1 << (factor - 1).bit_length())
                self.rebucket_start(self.n_buckets * factor)
        rebucketed = None
        remaining = 0
        if self.snap.get("next_n_buckets"):
            # one bounded migration step per maintenance pass: commit cost
            # stays O(step buckets) while merges keep landing between passes
            st = self.rebucket_step(rebucket_step_buckets)
            remaining = st["remaining"]
            if st["done"]:
                rebucketed = self.n_buckets
        removed = self.expire_snapshots(keep_last=snapshots_keep)
        # bound the changelog feed over a long tail: with named consumers
        # registered, everything below the SLOWEST ack is consumed on every
        # cursor and safe to free (expire_changelog clamps there anyway);
        # with no registry there is no safe floor — an unknown consumer may
        # still need v1 — so the feed is left to explicit relay expiry
        feed_dropped = 0
        if self.snap.get("changelog"):
            acks = self.consumer_acks()
            if acks:
                feed_dropped = self.expire_changelog(min(acks.values()))
        return {"skipped": False, "compacted_buckets": frag,
                "files_removed": removed, "rebucketed_to": rebucketed,
                "migration_remaining": remaining,
                "feed_expired": feed_dropped}

    def describe(self) -> dict:
        """Operational table stats, METADATA-ONLY (no data scan, no Spark
        job) — the admin/metrics surface the reference exposes per instance
        (server/.../CanalServerWithEmbedded get metrics + the admin UI's
        instance overview). Row counts come from the manifest's per-file
        footer stats, so at 10^10 rows this still answers in milliseconds.
        ``delta_rows`` over-counts live rows (delta winners supersede base
        rows at read time) — it is the UNFOLDED physical count, the number
        compaction scheduling actually needs."""
        snap = self.snap
        fstats = snap.get("file_stats", {})

        def rows_of(names):
            return sum(fstats[f][2] for f in names
                       if f in fstats and len(fstats[f]) > 2)

        base_files = {b: fl for b, fl in snap["files"].items() if fl}
        deltas = {b: fl for b, fl in snap.get("deltas", {}).items() if fl}
        per_bucket = {b: len(fl) for b, fl in base_files.items()}
        return {
            "version": snap["version"],
            "key_col": snap["key_col"],
            "n_buckets": snap["n_buckets"],
            "migration": (
                {"target": snap["next_n_buckets"],
                 "migrated": len(snap.get("migrated", [])),
                 "remaining": snap["n_buckets"] - len(snap.get("migrated", []))}
                if snap.get("next_n_buckets") else None),
            "columns": [c["name"] for c in snap["columns"]],
            "base_files": sum(per_bucket.values()),
            "delta_files": sum(len(fl) for fl in deltas.values()),
            "delta_buckets": len(deltas),
            "max_files_per_bucket": max(per_bucket.values(), default=0),
            "base_rows": rows_of(f for fl in base_files.values() for f in fl),
            "delta_rows": rows_of(f for fl in deltas.values() for f in fl),
            "watermark_lsn": snap.get("watermark_lsn", ""),
            "truncate_lsn": snap.get("truncate_lsn", ""),
            "applied_batches": len(snap.get("applied_batches", [])),
            "changelog_entries": len(snap.get("changelog", {})),
            "merge_mode": snap.get("merge_mode", "cow"),
        }

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Delete data files referenced only by expired snapshots."""
        versions = sorted(
            int(f[1:7]) for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
        )
        keep = set(versions[-keep_last:])
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self._all_files(self.load_version(v)))
        removed = 0
        for fn in os.listdir(self.data_dir):
            if fn.endswith(".parquet") and fn not in referenced:
                os.remove(os.path.join(self.data_dir, fn))
                removed += 1
        for v in versions:
            if v not in keep:
                os.remove(os.path.join(self.meta_dir, f"v{v:06d}.json"))
        return removed


def _fold(df: DataFrame, key: str) -> DataFrame:
    """Merge-on-read fold: one winner per key by max ``_source_lsn`` (LSNs
    are unique per event, so ties only occur between byte-identical
    duplicate deliveries), columns in ``df``'s order."""
    others = [c for c in df.columns if c != key]
    return (
        df.groupBy(key)
        .agg(F.max_by(F.struct(*others), F.col("_source_lsn")).alias("_w"))
        .select(key, *[F.col(f"_w.{c}").alias(c) for c in others])
        .select(*df.columns)
    )


def _type_from_json(j: str) -> T.DataType:
    return T._parse_datatype_json_string(j)
