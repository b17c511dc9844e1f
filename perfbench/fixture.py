"""Seeded benchmark inputs, generated once per (workload, seed, size) and
cached under the work directory, outside every timing.

A fixture is a typed binlog from ``canal_spark.fixtures`` plus its wire
rendering (before/after images as JSON strings with native ``pk_before`` /
``pk_after`` columns, the shape ``operators.decode.to_wire`` produces and
the streaming source reads), the base table as parquet, and the
sequential-apply oracle's final state. The wire rendering is done with
pyarrow in this process rather than with ``convert_log_to_wire``: that
runs one Spark write job per segment, about 5 s per fresh seed in a cold
JVM, and it would give a run that builds its fixture a different JVM
history before the warm-up than a run that finds it cached.
``perfbench/test_fixture.py`` pins that both write the same values. The
engine only ever sees the wire segments, and every run compares its result
with the oracle fold of the typed log.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import pickle
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from canal_spark.fixtures import CdcLogSpec, generate_base_table, generate_cdc_log
from canal_spark.oracle import BASE_COLS, apply_events_py, read_log_events

SEGMENT_GLOB = "mysql-bin.*.parquet"
ADD_COLUMN = "ALTER TABLE train.tokseq ADD COLUMN quality_tier STRING"


def _wire_image(v) -> str | None:
    # Spark's to_json drops NULL fields; from_json reads them back as NULL
    if v is None:
        return None
    return json.dumps({k: x for k, x in v.items() if x is not None},
                      separators=(",", ":"))


def write_wire(events: list[dict], typed: pa.Schema, path: str) -> None:
    """One segment's events (oracle dicts, in log order) → a wire segment."""
    cols = {}
    for f in typed:
        vals = [ev[f.name] for ev in events]
        if f.name in ("before", "after"):
            cols[f.name] = pa.array([_wire_image(v) for v in vals], pa.string())
            cols[f"pk_{f.name}"] = pa.array(
                [None if v is None else v.get("doc_id") for v in vals],
                pa.string())
        else:
            cols[f.name] = pa.array(vals, f.type)
    pq.write_table(pa.table(cols), path)


class Fixture:
    """Paths of one cached fixture plus its oracle (loaded lazily)."""

    def __init__(self, root: str):
        self.root = root
        self.wire_dir = os.path.join(root, "wire")
        self.base_path = os.path.join(root, "base.parquet")
        with open(os.path.join(root, "fixture.json")) as f:
            self.info = json.load(f)

    @property
    def segments(self) -> list[str]:
        return self.info["segments"]

    @property
    def n_events(self) -> int:
        return self.info["n_events"]

    @property
    def segment_events(self) -> list[int]:
        """Events of the subscribed table in each segment, in log order."""
        return self.info["segment_events"]

    def oracle(self) -> dict:
        with open(os.path.join(self.root, "oracle.pkl"), "rb") as f:
            return pickle.load(f)

    def preread(self) -> None:
        """Pull every input file through the page cache before timing."""
        for p in glob.glob(os.path.join(self.wire_dir, "*")) + [self.base_path]:
            with open(p, "rb") as fh:
                while fh.read(1 << 20):
                    pass


def _oracle(base: pa.Table, events: list[dict],
            lookups: list[list[str]]) -> dict:
    """The sequential-apply oracle's final state and columns, and the
    expected answer of every staged lookup batch."""
    state = {}
    for row in base.to_pylist():
        row["tokens"] = tuple(row["tokens"])
        state[row["doc_id"]] = row
    state, cols = apply_events_py(state, events, list(BASE_COLS))
    return {"state": state, "cols": cols, "lookups": lookups,
            "expected_lookups": [{k: state[k] for k in batch if k in state}
                                 for batch in lookups]}


def _lookup_batches(base: pa.Table, events: list[dict], n: int,
                    keys_per_lookup: int, seed: int) -> list[list[str]]:
    """Seeded point-lookup batches: half the keys drawn from the rows the
    log touched last (some deleted since), half from the base table
    (mostly still live)."""
    rng = np.random.default_rng(seed + 7919)
    base_keys = base.column("doc_id").to_pylist()
    recent = [(e["after"] or e["before"])["doc_id"] for e in events
              if e["entry_type"] == "ROWDATA" and not e["is_ddl"]][-4000:]
    half = keys_per_lookup // 2
    return [sorted({*(recent[j] for j in rng.integers(0, len(recent), half)),
                    *(base_keys[j] for j in rng.integers(
                        0, len(base_keys), keys_per_lookup - half))})
            for _ in range(n)]


def ensure(work: str, name: str, seed: int, n_base: int, n_events: int,
           events_per_file: int, ddl_at: float | None, n_lookups: int,
           keys_per_lookup: int = 4) -> Fixture:
    """Build (or reuse) the fixture; ``ddl_at`` places one ADD COLUMN at
    that fraction of the log."""
    spec_key = json.dumps([name, seed, n_base, n_events, events_per_file,
                           ddl_at, n_lookups, keys_per_lookup])
    tag = hashlib.sha1(spec_key.encode()).hexdigest()[:12]
    root = os.path.join(work, "fixtures", f"{name}-{seed}-{tag}")
    if os.path.exists(os.path.join(root, "fixture.json")):
        return Fixture(root)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base = generate_base_table(n_base, seed=seed)
    pq.write_table(base, os.path.join(tmp, "base.parquet"))
    spec = CdcLogSpec(
        n_events=n_events, n_base_docs=n_base, seed=seed,
        hot_frac=0.3, hot_keys=16, other_table_frac=0.02,
        pk_change_frac=0.02, events_per_file=events_per_file,
        ddl_script=([(int(n_events * ddl_at), ADD_COLUMN)]
                    if ddl_at is not None else []))
    typed = os.path.join(tmp, "typed")
    generate_cdc_log(typed, spec, base=base)
    segments = sorted(os.path.basename(p)
                      for p in glob.glob(os.path.join(typed, SEGMENT_GLOB)))
    events = read_log_events(typed)
    os.makedirs(os.path.join(tmp, "wire"))
    for s in segments:
        write_wire([e for e in events if e["_file"] == s],
                   pq.read_schema(os.path.join(typed, s)),
                   os.path.join(tmp, "wire", s))
    lookups = _lookup_batches(base, events, n_lookups, keys_per_lookup, seed)
    with open(os.path.join(tmp, "oracle.pkl"), "wb") as f:
        pickle.dump(_oracle(base, events, lookups), f,
                    protocol=pickle.HIGHEST_PROTOCOL)
    per_seg = dict.fromkeys(segments, 0)
    for e in events:
        if (e["entry_type"] == "ROWDATA" and not e["is_ddl"]
                and (e["schema_name"], e["table_name"]) == ("train", "tokseq")):
            per_seg[e["_file"]] += 1
    with open(os.path.join(tmp, "fixture.json"), "w") as f:
        json.dump({"segments": segments, "n_events": sum(per_seg.values()),
                   "segment_events": [per_seg[s] for s in segments],
                   "spec": json.loads(spec_key)}, f)
    os.replace(tmp, root)
    return Fixture(root)
