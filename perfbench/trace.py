"""Layer spans and Spark job attribution for the traced run.

Spans are recorded from the benchmark's own files: wrappers installed on
the module and class attributes of the public entry points (``pipeline``,
``LakeTable``, views, sinks, transactions, metrics and the streaming
loop). Each span sets the Spark job group to its layer name, so the event
log attributes every Spark job to the innermost layer that launched it.
Spans live in memory until the run ends. A span's self time is its duration
minus the time its child spans cover. The unit's root span (the replay or
the epoch) keeps as self time whatever no layer below it accounts for.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

IDLE_GROUP = "bench"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self.active = False     # wrappers record spans only while set
        self.unit = None        # tag of the unit the next spans belong to
        sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)

    @contextmanager
    def span(self, layer: str):
        # one stack per thread: the stream's foreachBatch runs on its own
        st = self._local.__dict__.setdefault("stack", [])
        parent = st[-1] if st else None
        rec = {"layer": layer, "unit": self.unit, "root": parent is None,
               "child_s": 0.0, "counts": defaultdict(float)}
        with self._lock:
            self.spans.append(rec)
        st.append(rec)
        self.sc.setJobGroup(layer, layer)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            st.pop()
            if parent is not None:
                parent["child_s"] += rec["t1"] - rec["t0"]
            outer = parent["layer"] if parent is not None else IDLE_GROUP
            self.sc.setJobGroup(outer, outer)

    def wrap(self, owner, name: str, layer: str, on_result=None) -> None:
        """Replace ``owner.name`` by a spanned call; ``on_result(rec,
        result)`` adds counts from the call's returned value."""
        orig = vars(owner)[name]
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(layer) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        self.patch(owner, name, spanned)

    def patch(self, owner, name: str, new) -> None:
        """Install ``new`` as ``owner.name`` until ``uninstall()``."""
        self._patches.append((owner, name, vars(owner)[name]))
        setattr(owner, name, new)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()

    def _of(self, units) -> list[dict]:
        return [s for s in self.spans if units is None or s["unit"] in units]

    def layer_table(self, units=None) -> dict[str, dict]:
        """{layer: {calls, total_s, self_s, <counts>}} over the spans of
        ``units`` (all spans when None)."""
        out: dict[str, dict] = {}
        for s in self._of(units):
            row = out.setdefault(s["layer"], defaultdict(float))
            dur = s["t1"] - s["t0"]
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - s["child_s"]
            for k, v in s["counts"].items():
                row[k] += v
        return {k: dict(v) for k, v in out.items()}

    def attributed_s(self, units=None) -> float:
        """Time of ``units`` that a layer below the unit's root span covers:
        the root spans' durations minus their own self times."""
        return sum(s["child_s"] for s in self._of(units) if s["root"])


# --------------------------------------------------------------- installs

def _files_of(snap: dict) -> set[str]:
    out = set()
    for key in ("files", "deltas"):
        for names in snap.get(key, {}).values():
            out.update(names)
    return out


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap every layer entry point the timed units reach."""
    from canal_spark import pipeline
    from canal_spark.operators.transactions import TxnTailState
    from canal_spark.sinks import WireMessageSink
    from canal_spark.streaming import replay as sreplay
    from canal_spark.table.lake import LakeTable
    from canal_spark.views import JoinedView, TransformView

    tracer.wrap(pipeline, "replay", "pipeline.replay")
    tracer.wrap(pipeline, "apply_events", "pipeline.apply_events")
    tracer.wrap(sreplay, "apply_events", "pipeline.apply_events")
    tracer.wrap(pipeline, "apply_dml_range", "pipeline.apply_dml_range")

    merge_apply = vars(LakeTable)["merge_apply"]

    def merge_spanned(self, *args, **kwargs):
        """merge_apply plus its outcome counts: the returned dict's mode
        and file counts, and the bytes of the files the commit added."""
        if not tracer.active:
            return merge_apply(self, *args, **kwargs)
        with tracer.span("table.lake.merge_apply") as rec:
            before = _files_of(self.snap)
            res = merge_apply(self, *args, **kwargs)
            c = rec["counts"]
            c["merge_calls"] += 1
            if res.get("mode"):
                c[f"{res['mode']}_commits"] += 1
                for k in ("files_read", "files_carried", "delta_files"):
                    c[k] += res.get(k, 0)
            for n in _files_of(self.snap) - before:
                c["bytes_written"] += os.path.getsize(
                    os.path.join(self.data_dir, n))
            return res

    tracer.patch(LakeTable, "merge_apply",
                 functools.wraps(merge_apply)(merge_spanned))

    def maintain_counts(rec, res):
        rec["counts"]["files_rewritten"] += res.get("files_removed", 0)

    tracer.wrap(LakeTable, "maintain", "table.lake.maintain", maintain_counts)
    tracer.wrap(JoinedView, "apply", "views.JoinedView.apply")
    tracer.wrap(TransformView, "apply", "views.TransformView.apply")
    tracer.wrap(WireMessageSink, "publish", "sinks.publish")
    tracer.wrap(sreplay, "split_at_txn_boundary",
                "operators.transactions.split")
    tracer.wrap(TxnTailState, "save", "operators.transactions.save")
    tracer.wrap(sreplay, "batch_stats", "metrics.batch_stats")
    tracer.wrap(sreplay.StreamingReplay, "_apply_batch",
                "streaming.replay.epoch")


# ------------------------------------------------------------- event log

def spark_metrics(event_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Aggregate the Spark event log over the jobs submitted inside any of
    ``windows`` ((start, end) wall-clock seconds): job counts per job
    group, tasks, executor CPU, GC, scheduler delay, shuffle write, spill
    and task failures."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict, dict]] = []
    for name in sorted(os.listdir(event_dir)):
        path = os.path.join(event_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    jobs[jid] = {"t": e["Submission Time"] / 1000.0,
                                 "group": props.get("spark.jobGroup.id")
                                 or IDLE_GROUP}
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((e["Stage ID"], e.get("Task Info") or {},
                                  e.get("Task Metrics") or {}))
    inside = {j for j, v in jobs.items()
              if any(lo <= v["t"] <= hi for lo, hi in windows)}
    per_group: dict[str, int] = defaultdict(int)
    for j in inside:
        per_group[jobs[j]["group"]] += 1
    agg = defaultdict(float)
    for sid, info, m in tasks:
        if stage_job.get(sid) not in inside:
            continue
        agg["tasks"] += 1
        agg["task_failures"] += 1 if info.get("Failed") else 0
        run_ms = m.get("Executor Run Time", 0)
        wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        agg["scheduler_delay_s"] += max(
            0, wall_ms - run_ms - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - (info.get("Finish Time", 0) - info.get("Getting Result Time", 0)
               if info.get("Getting Result Time") else 0)) / 1000.0
        agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        agg["executor_run_s"] += run_ms / 1000.0
        agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sw = m.get("Shuffle Write Metrics") or {}
        agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
        agg["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)) / 2**20
    agg["jobs"] = float(len(inside))
    return {"totals": dict(agg), "jobs_per_group": dict(per_group)}
