"""Per-layer tracing for the benchmark's traced mode.

Spans are recorded from the benchmark's own code, around calls into the
engine's public functions: ``Tracer.install`` replaces each function on
its module or class with a wrapper for the life of the process. Spans
and counters stay in memory and are written out once, at the end.

Spark's own event log (``spark.eventLog.compress=false``: Spark 4.1
compresses it with zstd by default) is folded into ``spark.*`` metrics
by ``fold_event_log``: jobs and tasks are attributed to the epoch and
lookup spans whose wall-clock interval holds the job's submission.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# name, unit of every per-layer metric, in BENCHMARK.json order
PER_LAYER = [
    ("apply.calls", "count"), ("apply.wall_s", "s"), ("apply.rows_in", "count"),
    ("apply.winners", "count"), ("apply.winners_per_row", "ratio"),
    ("apply.dirty_buckets_per_epoch", "count"), ("apply.compaction_epochs", "count"),
    ("apply.compaction_deferred", "count"),
    ("apply.strategy.agg", "count"), ("apply.strategy.fused", "count"),
    ("apply.strategy.narrow", "count"), ("apply.strategy.narrow-sh", "count"),
    ("table.refresh_s", "s"), ("table.write_files_s", "s"), ("table.commit_delta_s", "s"),
    ("table.compact_s", "s"), ("table.compacted_buckets", "count"),
    ("table.plan_file_sets_s", "s"), ("table.file_sets_read", "count"),
    ("table.live_deltas_max", "count"), ("table.files_written", "count"),
    ("table.bytes_written", "bytes"), ("table.lookup_s", "s"), ("table.snapshot_s", "s"),
    ("table.changes_between_s", "s"), ("table.vacuum_s", "s"),
    ("table.vacuum_files_removed", "count"),
    ("metastore.publishes", "count"), ("metastore.publish_s", "s"),
    ("metastore.reads", "count"), ("metastore.read_s", "s"),
    ("metastore.bytes_per_commit", "bytes"),
    ("partitions.close_s", "s"), ("partitions.days_closed", "count"),
    ("rollups.refresh_s", "s"), ("rollups.days_recomputed", "count"),
    ("rollups.days_restated", "count"),
    ("maintenance.erase_s", "s"), ("maintenance.expunge_s", "s"),
    ("lineage.record_s", "s"), ("lineage.bytes", "bytes"),
    ("spark.jobs_per_epoch", "count"), ("spark.jobs_per_lookup", "count"),
    ("spark.tasks_per_epoch", "count"), ("spark.driver_gap_s", "s"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.deserialize_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.task_p50_ms", "ms"),
    ("spark.task_max_ms", "ms"), ("spark.codegen_compile_s", "s"),
]

# Spans the workloads open around one user-visible operation; the
# spark.* per-operation ratios are taken over these.
ROUND, EPOCH, LOOKUP = "op.round", "op.epoch", "op.lookup"


class Tracer:
    """Spans and counters, in memory, recorded between ``start`` and
    ``stop``. Disabled, ``span`` and the wrappers cost one branch."""

    def __init__(self):
        self.installed = False  # wrappers in place (traced mode)
        self.enabled = False  # recording: only while the rounds run
        self.codegen_s = 0.0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: Counter = Counter()
        self.maxes: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def high(self, name: str, v: float) -> None:
        self.maxes[name] = max(self.maxes.get(name, v), v)

    def wrap(self, owner, attr: str, span_name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``after(result, args,
        kwargs)`` records counts from the call's result."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)

    def start(self, spark) -> None:
        self.enabled = self.installed
        if self.installed:
            self.codegen_s = -codegen_compile_s(spark)

    def stop(self, spark) -> None:
        if self.installed:
            self.codegen_s += codegen_compile_s(spark)
        self.enabled = False

    def install(self) -> None:
        """Wrap the public calls of every layer the benchmark measures."""
        self.installed = True
        from etl_spark import rollups
        from etl_spark.cdc import apply, engine, lineage, maintenance, partitions
        from etl_spark.lake import metastore, table

        def after_apply(st, args, kwargs):
            if st.skipped:
                return
            self.add("apply.calls")
            self.add("apply.rows_in", st.rows_in)
            self.add("apply.winners", st.winners)
            self.add("apply.dirty_buckets", len(st.dirty_buckets))
            self.add("apply.compaction_epochs", bool(st.compacted_buckets))
            self.add("apply.compaction_deferred", bool(st.compaction_deferred))
            counts = args[0].delta_counts()
            self.high("table.live_deltas_max", max(counts.values(), default=0))

        def after_strategy(name, args, kwargs):
            self.add(f"apply.strategy.{name}")

        def after_write(rel, args, kwargs):
            root = os.path.join(args[0].path, rel)
            for dirpath, _dirs, files in os.walk(root):
                for f in files:
                    if f.endswith(".parquet"):
                        self.add("table.files_written")
                        self.add("table.bytes_written", os.path.getsize(os.path.join(dirpath, f)))

        def after_plan(res, args, kwargs):
            self.add("table.file_sets_read", len(res[0]))

        def after_compact(sid, args, kwargs):
            buckets = args[1] if len(args) > 1 else kwargs.get("buckets")
            if sid is not None and buckets:
                self.add("table.compacted_buckets", len(buckets))

        def after_vacuum(res, args, kwargs):
            self.add("table.vacuum_files_removed", res["removed_data_dirs"])

        def after_publish(_res, args, kwargs):
            self.add("metastore.publishes")
            self.add("metastore.published_bytes", len(args[2]))

        def after_read(_res, args, kwargs):
            self.add("metastore.reads")

        self.wrap(engine, "apply_batch", "apply.apply_batch", after_apply)
        self.wrap(apply, "resolve_dedup_strategy", "apply.resolve_dedup_strategy", after_strategy)
        LT = table.LakeTable
        self.wrap(LT, "refresh", "table.refresh")
        self.wrap(LT, "write_files", "table.write_files", after_write)
        self.wrap(LT, "commit_delta", "table.commit_delta")
        self.wrap(LT, "compact", "table.compact", after_compact)
        self.wrap(LT, "plan_file_sets", "table.plan_file_sets", after_plan)
        self.wrap(LT, "lookup", "table.lookup")
        self.wrap(LT, "snapshot_df", "table.snapshot_df")
        self.wrap(LT, "changes_between", "table.changes_between")
        self.wrap(LT, "vacuum", "table.vacuum", after_vacuum)
        PS = metastore.PosixMetadataStore
        self.wrap(PS, "publish_version", "metastore.publish", after_publish)
        self.wrap(PS, "read_version", "metastore.read", after_read)
        self.wrap(partitions, "close_due_partitions", "partitions.close",
                  lambda res, a, k: self.add("partitions.days_closed", len(res)))

        def after_rollups(res, args, kwargs):
            self.add("rollups.days_recomputed", len(res["days"]))
            self.add("rollups.days_restated", len(res["restated"]))

        self.wrap(rollups, "refresh_rollups", "rollups.refresh", after_rollups)
        self.wrap(maintenance, "delete_conversations", "maintenance.erase")
        self.wrap(maintenance, "expunge_tombstones", "maintenance.expunge")
        self.wrap(lineage.LineageLog, "record", "lineage.record")

    # -- folding -------------------------------------------------------------

    def busy(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def per_layer(self, spark_metrics: dict, lineage_bytes: int) -> dict[str, float]:
        c = self.counts
        calls = c["apply.calls"]
        out = {
            "apply.calls": calls,
            "apply.wall_s": self.busy("apply.apply_batch"),
            "apply.rows_in": c["apply.rows_in"],
            "apply.winners": c["apply.winners"],
            "apply.winners_per_row": c["apply.winners"] / c["apply.rows_in"] if c["apply.rows_in"] else 0.0,
            "apply.dirty_buckets_per_epoch": c["apply.dirty_buckets"] / calls if calls else 0.0,
            "apply.compaction_epochs": c["apply.compaction_epochs"],
            "apply.compaction_deferred": c["apply.compaction_deferred"],
            "table.refresh_s": self.busy("table.refresh"),
            "table.write_files_s": self.busy("table.write_files"),
            "table.commit_delta_s": self.busy("table.commit_delta"),
            "table.compact_s": self.busy("table.compact"),
            "table.compacted_buckets": c["table.compacted_buckets"],
            "table.plan_file_sets_s": self.busy("table.plan_file_sets"),
            "table.file_sets_read": c["table.file_sets_read"],
            "table.live_deltas_max": self.maxes.get("table.live_deltas_max", 0),
            "table.files_written": c["table.files_written"],
            "table.bytes_written": c["table.bytes_written"],
            "table.lookup_s": self.busy("table.lookup"),
            "table.snapshot_s": self.busy("table.snapshot_df"),
            "table.changes_between_s": self.busy("table.changes_between"),
            "table.vacuum_s": self.busy("table.vacuum"),
            "table.vacuum_files_removed": c["table.vacuum_files_removed"],
            "metastore.publishes": c["metastore.publishes"],
            "metastore.publish_s": self.busy("metastore.publish"),
            "metastore.reads": c["metastore.reads"],
            "metastore.read_s": self.busy("metastore.read"),
            "metastore.bytes_per_commit": (c["metastore.published_bytes"] / c["metastore.publishes"]
                                           if c["metastore.publishes"] else 0.0),
            "partitions.close_s": self.busy("partitions.close"),
            "partitions.days_closed": c["partitions.days_closed"],
            "rollups.refresh_s": self.busy("rollups.refresh"),
            "rollups.days_recomputed": c["rollups.days_recomputed"],
            "rollups.days_restated": c["rollups.days_restated"],
            "maintenance.erase_s": self.busy("maintenance.erase"),
            "maintenance.expunge_s": self.busy("maintenance.expunge"),
            "lineage.record_s": self.busy("lineage.record"),
            "lineage.bytes": lineage_bytes,
        }
        for name in ("agg", "fused", "narrow", "narrow-sh"):
            out[f"apply.strategy.{name}"] = c[f"apply.strategy.{name}"]
        out.update(spark_metrics)
        return out

    def unattributed_share(self, name: str = EPOCH) -> float:
        """Share of the ``name`` spans' wall time that no layer span below
        them covers: the spans under ``apply.apply_batch`` stand in for
        it, so apply's own work between those calls counts as unattributed."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        total = covered = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            total += s["end"] - s["start"]
            for c in kids[s["id"]]:
                layer = kids[c["id"]] if c["name"] == "apply.apply_batch" else [c]
                covered += sum(x["end"] - x["start"] for x in layer)
        return (total - covered) / total if total else 0.0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts),
                       "maxes": self.maxes, **extra}, f)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold_event_log(log_dir: str, spans: list[dict], codegen_s: float) -> dict[str, float]:
    """Spark's event log → the ``spark.*`` per-layer metrics, over the
    tasks launched while the workload's rounds ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    paths = sorted(os.path.join(d, n) for d, _dirs, names in os.walk(log_dir)
                   for n in names if n.startswith(("events_", "local-")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info.get("Launch Time", 0),
                        "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "deser_ms": m.get("Executor Deserialize Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "sw": sw.get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })

    rounds = [s for s in spans if s["name"] == ROUND and "end" in s]
    if rounds:
        lo, hi = rounds[0]["start"] * 1e3, rounds[-1]["end"] * 1e3
        tasks = [t for t in tasks if lo <= t["launch"] <= hi]

    def in_span(kind: str):
        ops = [s for s in spans if s["name"] == kind and "end" in s]
        hit = {jid for jid, j in jobs.items()
               if any(o["start"] <= j["start"] <= o["end"] for o in ops)}
        return ops, hit

    epochs, epoch_jobs = in_span(EPOCH)
    lookups, lookup_jobs = in_span(LOOKUP)
    epoch_tasks = sum(1 for t in tasks if stage_job.get(t["stage"]) in epoch_jobs)
    gaps = []
    for o in epochs:
        iv = [(max(j["start"], o["start"]), min(j["end"], o["end"]))
              for j in jobs.values() if j["end"] is not None
              and j["start"] < o["end"] and j["end"] > o["start"]]
        gaps.append((o["end"] - o["start"]) - _union(iv))
    durs = [t["ms"] for t in tasks]
    return {
        "spark.jobs_per_epoch": len(epoch_jobs) / len(epochs) if epochs else 0.0,
        "spark.jobs_per_lookup": len(lookup_jobs) / len(lookups) if lookups else 0.0,
        "spark.tasks_per_epoch": epoch_tasks / len(epochs) if epochs else 0.0,
        "spark.driver_gap_s": statistics.fmean(gaps) if gaps else 0.0,
        "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.deserialize_s": sum(t["deser_ms"] for t in tasks) / 1e3,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.shuffle_write_bytes": sum(t["sw"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["sr"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.task_p50_ms": statistics.median(durs) if durs else 0.0,
        "spark.task_max_ms": max(durs, default=0.0),
        "spark.codegen_compile_s": codegen_s,
    }


def codegen_compile_s(spark) -> float:
    """Catalyst compile time so far, from the JVM's CodegenMetrics
    histogram (milliseconds per compile; its reservoir keeps 1028
    samples, so past that the mean times the count)."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    snap = h.getSnapshot()
    return float(snap.getMean()) * int(h.getCount()) / 1e3
