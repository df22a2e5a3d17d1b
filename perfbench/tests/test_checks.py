"""Each benchmark check passes on the oracle's own answer and fails, naming
the first differing key, when one row of the program's output changes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402


@pytest.fixture(scope="module")
def orc(tmp_path_factory):
    d = tmp_path_factory.mktemp("log")
    gen.random_log(str(d / "log"), seed=7, epoch_sizes=[600, 600, 300], n_convs=40,
                   evolve_last=True)
    o = oracle.Oracle(str(d / "log"), str(d))
    yield o
    o.close()


def as_program(expected: pd.DataFrame) -> pd.DataFrame:
    """The oracle's state shaped like a Spark ``toPandas`` result."""
    return expected.assign(ts=pd.to_datetime(expected["ts"], unit="us"))


def test_oracle_matches_a_sort_based_argmax(orc):
    log = orc.con.execute("SELECT * FROM log").df()
    last = log.sort_values(["op_ts", "lsn"]).groupby(["conv_id", "turn_idx"]).tail(1)
    live = last[last["op"] != "D"]
    assert len(live) == len(orc.state())
    assert len(log) == orc.rows() == 1500


def test_snapshot_eq_names_the_altered_key(orc):
    exp = orc.state()
    prog = as_program(exp)
    assert oracle.compare_rows("bulk_replay", "snapshot_eq", prog, exp) is None
    bad = prog.copy()
    bad.loc[bad.index[5], "text"] = "altered"
    key = (bad.loc[bad.index[5], "conv_id"], int(bad.loc[bad.index[5], "turn_idx"]))
    msg = oracle.compare_rows("bulk_replay", "snapshot_eq", bad, exp)
    assert msg and "bulk_replay" in msg and "snapshot_eq" in msg and str(key) in msg


@pytest.mark.parametrize("change", ["drop", "ts", "lang", "drop_lang", "extra"])
def test_snapshot_eq_catches_missing_rows_and_columns(orc, change):
    exp = orc.state()
    bad = as_program(exp)
    if change == "drop":
        bad = bad.drop(bad.index[0])
    elif change == "ts":
        bad.loc[bad.index[0], "ts"] += pd.Timedelta(microseconds=1)
    elif change == "lang":
        i = bad["lang"].first_valid_index()
        bad.loc[i, "lang"] = None
    elif change == "drop_lang":
        bad = bad.drop(columns=["lang"])
    else:
        bad = bad.assign(_op_ts=0)
    msg = oracle.compare_rows("bulk_replay", "snapshot_eq", bad, exp)
    assert msg and "snapshot_eq" in msg
    if change == "drop_lang":
        assert "lang" in msg


def test_rows_in_sum(orc):
    assert oracle.check_equal("bulk_replay", "rows_in_sum", "sum(rows_in)", 1500, orc.rows()) is None
    assert "rows_in_sum" in oracle.check_equal("bulk_replay", "rows_in_sum", "sum(rows_in)",
                                               1499, orc.rows())


def test_unique_keys(orc):
    prog = as_program(orc.state())
    assert oracle.check_unique_keys("bulk_replay", prog) is None
    bad = pd.concat([prog, prog.iloc[[3]]])
    key = (prog.iloc[3]["conv_id"], int(prog.iloc[3]["turn_idx"]))
    assert str(key) in oracle.check_unique_keys("bulk_replay", bad)


def test_rollup_daily(orc):
    exp = orc.daily()
    assert oracle.check_daily("micro_batches", exp.copy(), exp) is None
    bad = exp.copy()
    bad.loc[bad.index[1], "n_turns"] += 1
    assert bad.loc[bad.index[1], "day_"] in oracle.check_daily("micro_batches", bad, exp)
    gone = exp.drop(exp.index[0])
    assert exp.loc[exp.index[0], "day_"] in oracle.check_daily("micro_batches", gone, exp)


def test_erased_absent(orc):
    prog = as_program(orc.state())
    victim = prog.iloc[0]["conv_id"]
    assert oracle.check_absent("micro_batches", "erased_snapshot", prog, ["conv_9999999"]) is None
    msg = oracle.check_absent("micro_batches", "erased_snapshot", prog, [victim])
    assert msg and victim in msg


def test_erased_snapshot_eq_excludes_the_erased(orc):
    victim = orc.state().iloc[0]["conv_id"]
    exp = orc.state(exclude_convs=[victim])
    assert victim not in set(exp["conv_id"])
    # a program that kept the erased conversation differs from the oracle
    msg = oracle.compare_rows("micro_batches", "snapshot_eq", as_program(orc.state()), exp)
    assert msg and victim in msg


def test_days_closed(orc):
    days = orc.event_days()
    assert oracle.check_closed("micro_batches", days, set(days)) is None
    first = sorted(days)[0]
    assert first in oracle.check_closed("micro_batches", days, set(days) - {first})


def test_lookup_eq(orc):
    conv = orc.state().iloc[0]["conv_id"]
    exp = orc.state(1, conv_id=conv)
    prog = as_program(exp)
    assert oracle.compare_rows("serve_reads", "lookup_eq", prog, exp) is None
    bad = prog.copy()
    bad.loc[bad.index[0], "role"] = "altered"
    assert conv in oracle.compare_rows("serve_reads", "lookup_eq", bad, exp)


def test_window_count(orc):
    lo = gen.BASE_US
    hi = lo + gen.DAY_US - 1
    n = orc.window_count(1, lo, hi)
    assert n == ((orc.state(1)["ts"] >= lo) & (orc.state(1)["ts"] <= hi)).sum()
    assert oracle.check_equal("serve_reads", "window_count", "w", n, n) is None
    assert "window_count" in oracle.check_equal("serve_reads", "window_count", "w", n + 1, n)


def test_change_feed_counts_and_balance(orc):
    counts = orc.change_counts(1, 2)
    assert counts and set(counts) <= {"insert", "delete", "update_postimage"}
    net = counts.get("insert", 0) - counts.get("delete", 0)
    assert net == len(orc.state(2)) - len(orc.state(1))
    assert oracle.check_equal("serve_reads", "change_feed_counts", "e", dict(counts), counts) is None
    bad = dict(counts)
    bad["update_postimage"] = bad.get("update_postimage", 0) + 1
    msg = oracle.check_equal("serve_reads", "change_feed_counts", "e", bad, counts)
    assert msg and "update_postimage" in msg
    assert "change_feed_balance" in oracle.check_equal(
        "serve_reads", "change_feed_balance", "v", net + 1, net)


def test_day_schedule_keeps_the_erasure_and_expunge_contracts():
    """Erased conversations get no later change, and no later change has
    an op_ts below the day's expunge horizon: the two conditions under
    which the oracle's end state is the program's."""
    s = gen.DaySchedule(5, epochs_per_day=3, events_per_epoch=400, convs_per_day=60,
                        erase_per_day=2)
    days = 5
    tables = {d: [s.epoch(d, k).to_pandas() for k in range(3)] for d in range(days)}
    for d in range(days):
        targets = set(s.erase_targets(d))
        assert len(targets) == 2
        horizon = pd.Timestamp(s.expunge_horizon(d), tz="UTC")
        for later in range(d + 1, days):
            for t in tables[later]:
                assert not targets & set(t["conv_id"])
                assert (t["op_ts"] >= horizon).all()


def test_fold_event_log_attributes_jobs_to_epochs(tmp_path):
    import json

    import tracing

    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_100, "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1_000_200, "Finish Time": 1_000_500},
         "Task Metrics": {"Executor Run Time": 250, "Executor CPU Time": 2e8,
                          "Executor Deserialize Time": 40, "JVM GC Time": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_005_000, "Stage IDs": [1]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_005_100},
    ]
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in ev) + "\n")
    spans = [{"name": tracing.ROUND, "start": 1000.0, "end": 1004.0},
             {"name": tracing.EPOCH, "start": 1000.0, "end": 1001.0},
             {"name": tracing.LOOKUP, "start": 1004.9, "end": 1005.2}]
    m = tracing.fold_event_log(str(tmp_path), spans, codegen_s=0.5)
    assert m["spark.jobs_per_epoch"] == 1 and m["spark.jobs_per_lookup"] == 1
    assert m["spark.tasks_per_epoch"] == 1
    assert abs(m["spark.driver_gap_s"] - 0.5) < 1e-9  # job covers 0.1-0.6 of the 1 s epoch
    assert m["spark.executor_run_s"] == 0.25 and m["spark.executor_cpu_s"] == 0.2
    assert m["spark.shuffle_read_bytes"] == 7 and m["spark.spill_bytes"] == 3
    assert m["spark.task_max_ms"] == 300 and m["spark.codegen_compile_s"] == 0.5


def test_a_raising_operation_is_counted_as_failed():
    import workloads

    res = workloads.Result()
    assert res.attempt("ok", lambda: 3) == 3
    assert res.attempt("boom", lambda: 1 / 0) is None
    assert (res.attempted, res.failed) == (2, 1)
    assert res.errors[0].startswith("boom: ZeroDivisionError")


def test_round_count_depends_on_the_arguments_only():
    import workloads

    assert workloads.planned_rounds(20, 8.0) == workloads.planned_rounds(20, 8.0) == 3
    assert workloads.planned_rounds(40, 8.0) == 6
    assert workloads.planned_rounds(1, 8.0) == 3  # at least two warm rounds
