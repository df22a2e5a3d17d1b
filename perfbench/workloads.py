"""The three workloads: one client, closed loop, whole rounds.

A run is one cold round, the first in the process, then a fixed number
of warm rounds (``planned_rounds``). A round is the unit a user waits
for:

* ``bulk_replay``: replay the whole multi-epoch log into a fresh table;
* ``micro_batches``: one simulated day, its small epochs then close,
  rollups, erase, expunge and vacuum;
* ``serve_reads``: one small epoch, then lookups, a window scan and the
  change feed since the version before the epoch.

Every call into the engine is one operation (``Result.attempt``): it is
counted, and an exception counts it as failed instead of ending the
run. Outputs a check needs are kept during the rounds; the checks
themselves run after the timed loop (``Result.collect``) against the
DuckDB oracle over the raw log.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads

import gen
import oracle
from tracing import EPOCH, LOOKUP, ROUND

# Workload sizes. A bulk epoch is large enough that its per-row work
# outweighs the ~0.85 s every epoch pays whatever its size. A day starts
# with no live deltas (the day before ended with an expunge that rebased
# every bucket) and its third epoch reaches ``DAY_COMPACT`` of them, so
# each day's last epoch compacts.
BULK_EPOCHS = [300_000, 300_000]
BULK_CONVS = 2_000
DAY_EPOCHS, DAY_EVENTS, DAY_CONVS, DAY_ERASE, DAY_COMPACT = 3, 1_000, 400, 2, 3
SERVE_BUILD, SERVE_EPOCH, SERVE_CONVS = [8_000], 1_000, 2_000
SERVE_LOOKUPS = 2
BUCKETS = 4
# Nominal seconds of one warm round, used only to turn ``--seconds``
# into a round count (``planned_rounds``).
BULK_ROUND_S, DAY_ROUND_S, SERVE_ROUND_S = 5.0, 8.0, 6.0


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object


@dataclass
class Result:
    rounds: list[float] = field(default_factory=list)
    epochs: list[tuple[int, float, int]] = field(default_factory=list)  # round, wall, events
    table_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    collect: object = None  # () -> list of check failures, runs after Spark stops

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run one operation. An exception counts it as failed, its
        message goes to ``errors``, and ``None`` is returned."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001  (counted, reported, run goes on)
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {e}")
            return None

    def metrics(self) -> dict[str, float]:
        warm = [(w, n) for r, w, n in self.epochs if r > 0]
        return {
            "cold_round_s": self.rounds[0],
            "round_p50_s": statistics.median(self.rounds[1:]),
            "epoch_commit_p50_s": statistics.median(w for w, _ in warm),
            "events_per_s": sum(n for _, n in warm) / sum(w for w, _ in warm),
            "table_bytes": float(self.table_bytes),
        }


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def planned_rounds(seconds: float, warm_round_s: float) -> int:
    """One cold round plus as many warm ones as ``seconds`` hold at the
    nominal ``warm_round_s`` each, at least two. The count depends on
    the arguments only, never on the clock, so a faster commit does the
    same work as a slower one and its warm rounds are as warm."""
    return 1 + max(2, int(seconds / warm_round_s))


def _rounds(ctx: Ctx, res: Result, one_round, n: int) -> None:
    """Run ``n`` whole rounds. Tracing stops with the last round, so the
    checks' reads do not count as the layers'."""
    ctx.tracer.start(ctx.spark)
    for r in range(n):
        with ctx.tracer.span(ROUND):
            start = time.perf_counter()
            one_round(r)
            res.rounds.append(time.perf_counter() - start)
    ctx.tracer.stop(ctx.spark)


def _apply_next(ctx: Ctx, engine, log: str, epoch: int, res: Result, r: int, n: int):
    """Apply the log's next epoch through the engine, timed from here;
    ``None`` if it failed."""
    def apply():
        with ctx.tracer.span(EPOCH):
            t = time.perf_counter()
            (st,) = engine.replay(log, stop_after=1)
            wall = time.perf_counter() - t
        if st.epoch != epoch:
            raise RuntimeError(f"replay applied epoch {st.epoch}, expected {epoch}")
        res.epochs.append((r, wall, n))
        return st

    return res.attempt(f"apply epoch {epoch}", apply)


# -- bulk_replay ---------------------------------------------------------------

def setup_bulk(ctx: Ctx) -> dict:
    log = os.path.join(ctx.work, "log")
    gen.random_log(log, ctx.seed, BULK_EPOCHS, BULK_CONVS, evolve_last=True)
    return {"log": log, "rounds": planned_rounds(ctx.seconds, BULK_ROUND_S)}


def run_bulk(ctx: Ctx, st: dict) -> Result:
    from etl_spark.cdc.engine import CdcEngine

    log, res = st["log"], Result()
    n_epochs = len(BULK_EPOCHS)
    last: dict = {}

    def one_round(r: int) -> None:
        path = os.path.join(ctx.work, f"table{r}")
        eng = CdcEngine(ctx.spark, path, num_buckets=BUCKETS)
        stats = [_apply_next(ctx, eng, log, e, res, r, BULK_EPOCHS[e]) for e in range(n_epochs)]
        if r == 0:
            res.table_bytes = dir_bytes(path)
        if last:
            shutil.rmtree(last["path"], ignore_errors=True)
        last.update(path=path, eng=eng, stats=stats)

    _rounds(ctx, res, one_round, st["rounds"])

    snap = last["eng"].table.snapshot_df().toPandas()
    rows_in = sum(s.rows_in for s in last["stats"] if s is not None)

    def collect(orc: oracle.Oracle) -> list[str]:
        w = "bulk_replay"
        return [f for f in (
            oracle.compare_rows(w, "snapshot_eq", snap, orc.state()),
            oracle.check_equal(w, "rows_in_sum", "sum(rows_in)", rows_in, orc.rows()),
            oracle.check_unique_keys(w, snap),
        ) if f]

    res.collect = collect
    return res


# -- micro_batches -------------------------------------------------------------

def setup_micro(ctx: Ctx) -> dict:
    sched = gen.DaySchedule(ctx.seed, DAY_EPOCHS, DAY_EVENTS, DAY_CONVS, DAY_ERASE)
    log = os.path.join(ctx.work, "log")
    days = planned_rounds(ctx.seconds, DAY_ROUND_S)
    for d in range(days):
        for k in range(DAY_EPOCHS):
            gen.write_epoch(log, d * DAY_EPOCHS + k, sched.epoch(d, k))
    return {"sched": sched, "log": log, "rounds": days}


def run_micro(ctx: Ctx, st: dict) -> Result:
    from etl_spark import rollups
    from etl_spark.cdc import maintenance, partitions
    from etl_spark.cdc.engine import CdcEngine

    sched, log, res = st["sched"], st["log"], Result()
    path, roll = os.path.join(ctx.work, "table"), os.path.join(ctx.work, "rollups")
    eng = CdcEngine(ctx.spark, path, num_buckets=BUCKETS, compact_threshold=DAY_COMPACT)
    erased: list[str] = []

    # day -> (last epoch applied, conversations erased) when its rollup
    # row was last computed
    recomputed: dict[str, tuple[int, tuple[str, ...]]] = {}

    def one_round(d: int) -> None:
        for k in range(DAY_EPOCHS):
            _apply_next(ctx, eng, log, d * DAY_EPOCHS + k, res, d, DAY_EVENTS)
        e = (d + 1) * DAY_EPOCHS - 1
        t = eng.table
        res.attempt("close_due_partitions", partitions.close_due_partitions, t,
                    now=sched.close_now(d))
        done = res.attempt("refresh_rollups", rollups.refresh_rollups, t, roll)
        if done is not None:
            recomputed.update({day: (e, tuple(erased)) for day in done["days"]})
        targets = sched.erase_targets(d)
        res.attempt("delete_conversations", maintenance.delete_conversations, t, targets,
                    request_id=d + 1)
        res.attempt("expunge_tombstones", maintenance.expunge_tombstones, t,
                    str(sched.expunge_horizon(d)))
        res.attempt("vacuum", t.vacuum, min_age_seconds=0)
        erased.extend(targets)
        if d == 0:
            res.table_bytes = dir_bytes(path)

    _rounds(ctx, res, one_round, st["rounds"])
    last_epoch = st["rounds"] * DAY_EPOCHS - 1
    table = eng.table
    table.refresh()
    snap = table.snapshot_df().toPandas()
    probes = {c: table.lookup(c).toPandas() for c in erased[-DAY_ERASE:]}
    closed = set(partitions.closed_partitions(table))
    daily = pads.dataset(os.path.join(roll, "daily"), partitioning="hive").to_table().to_pandas()
    daily["day_"] = daily["day_"].astype(str)

    def collect(orc: oracle.Oracle) -> list[str]:
        w = "micro_batches"
        out = [
            oracle.compare_rows(w, "snapshot_eq", snap, orc.state(last_epoch, erased)),
            oracle.check_absent(w, "erased_snapshot", snap, erased),
            oracle.check_closed(w, orc.event_days(last_epoch), closed),
        ]
        out += [oracle.check_absent(w, "erased_lookup", df, [c]) for c, df in probes.items()]
        # Each published day against the oracle as of the refresh that last
        # computed it. Against the end state it differs whenever expunge or
        # compaction folded a day's new delta before the next refresh saw
        # it (see CHANGES.md, FOUND on refresh_rollups).
        expected = {}
        for day, (e, gone) in sorted(recomputed.items()):
            if (e, gone) not in expected:
                expected[(e, gone)] = orc.daily(e, gone)
            exp = expected[(e, gone)]
            out.append(oracle.check_daily(w, daily[daily["day_"] == day], exp[exp["day_"] == day]))
        out.append(oracle.check_equal(w, "rollup_days", "published days",
                                      sorted(daily["day_"]), sorted(recomputed)))
        return [f for f in out if f]

    res.collect = collect
    return res


# -- serve_reads ---------------------------------------------------------------

def setup_serve(ctx: Ctx) -> dict:
    from etl_spark.cdc.engine import CdcEngine

    log = os.path.join(ctx.work, "log")
    rounds = planned_rounds(ctx.seconds, SERVE_ROUND_S)
    gen.random_log(log, ctx.seed, SERVE_BUILD + [SERVE_EPOCH] * rounds, SERVE_CONVS)
    eng = CdcEngine(ctx.spark, os.path.join(ctx.work, "table"), num_buckets=BUCKETS)
    eng.replay(log, stop_after=len(SERVE_BUILD))
    return {"log": log, "eng": eng, "rounds": rounds}


def run_serve(ctx: Ctx, st: dict) -> Result:
    from pyspark.sql import functions as F

    log, eng, res = st["log"], st["eng"], Result()
    rng = np.random.default_rng([ctx.seed, 5])
    lookups, windows, feeds = [], [], []

    def lookup(table, conv):
        with ctx.tracer.span(LOOKUP):
            return table.lookup(conv).toPandas()

    def window_count(table, lo, hi):
        with ctx.tracer.span("op.window_scan"):
            return table.snapshot_df(ts_min=lo, ts_max=hi).count()

    def change_counts(table, v_old):
        with ctx.tracer.span("op.change_feed"):
            rows = (table.changes_between(v_old).groupBy("_change_type")
                    .agg(F.count(F.lit(1)).alias("n")).collect())
        return {x["_change_type"]: x["n"] for x in rows}

    def one_round(r: int) -> None:
        e = len(SERVE_BUILD) + r
        table = eng.table
        v_old = table.version
        _apply_next(ctx, eng, log, e, res, r, SERVE_EPOCH)
        for conv in gen.conv_name(gen.zipf_rank(rng, SERVE_LOOKUPS, SERVE_CONVS)):
            df = res.attempt(f"lookup {conv}", lookup, table, conv)
            if df is not None:
                lookups.append((e, conv, df))
        day = int(rng.integers(0, gen.EVENT_DAYS))
        lo = gen.BASE + dt.timedelta(days=day)
        hi = lo + dt.timedelta(days=1) - dt.timedelta(microseconds=1)
        n = res.attempt(f"window scan {lo:%Y-%m-%d}", window_count, table, lo, hi)
        if n is not None:
            windows.append((e, lo, hi, n))
        counts = res.attempt(f"change feed since v{v_old}", change_counts, table, v_old)
        if counts is not None:
            feeds.append((e, v_old, table.version, counts))
        if r == 0:
            res.table_bytes = dir_bytes(table.path)

    _rounds(ctx, res, one_round, st["rounds"])
    table = eng.table
    # the program's live row counts at both ends of the last feed (a full
    # scan each, so one feed, not every round's)
    _e, v_old, v_new, _c = feeds[-1]
    live = {v: table.as_of(v).snapshot_df().count() for v in (v_old, v_new)}

    def collect(orc: oracle.Oracle) -> list[str]:
        w = "serve_reads"
        out = []
        for e, conv, df in lookups:
            out.append(oracle.compare_rows(w, "lookup_eq", df, orc.state(e, conv_id=conv)))
        for e, lo, hi, n in windows:
            out.append(oracle.check_equal(
                w, "window_count", f"epoch {e} window {lo:%Y-%m-%d}", n,
                orc.window_count(e, _us(lo), _us(hi))))
        for e, v_old, v_new, counts in feeds:
            out.append(oracle.check_equal(w, "change_feed_counts", f"epoch {e}", counts,
                                          orc.change_counts(e - 1, e)))
        e, v_old, v_new, counts = feeds[-1]
        net = counts.get("insert", 0) - counts.get("delete", 0)
        out.append(oracle.check_equal(w, "change_feed_balance", f"versions {v_old}->{v_new}",
                                      net, live[v_new] - live[v_old]))
        return [f for f in out if f]

    res.collect = collect
    return res


def _us(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1))


WORKLOADS = {
    "bulk_replay": (setup_bulk, run_bulk),
    "micro_batches": (setup_micro, run_micro),
    "serve_reads": (setup_serve, run_serve),
}
