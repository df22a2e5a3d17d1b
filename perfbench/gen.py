"""Seeded change-log generator for the benchmark workloads.

Writes epoch directories (``epoch=00000/part-0.parquet``, ...) in the
engine's ``CHANGE_SCHEMA`` layout with numpy + pyarrow only, so a change
to the program's own generator (``etl_spark.datagen``) cannot change a
workload. The same seed gives the same bytes.

Properties every log keeps (FIXTURES.md section 2):

* Zipf-skewed ``conv_id``: rank = floor(C * u**3.5), so the top 1% of
  conversations carry about a quarter of the events;
* about 10% duplicates: half verbatim copies of the previous row (same
  ``lsn``), half re-emissions of its key and payload at a newer
  ``(op_ts, lsn)``;
* about 5% late events whose ``op_ts`` lies below what earlier epochs
  already committed;
* deletes, a fifth of them of keys that never existed;
* ``ts`` is a function of the key ``(conv_id, turn_idx)`` alone, as the
  table's time-stats pruning requires (``LakeTable.stats_col``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY_US = 86_400 * US
BASE = dt.datetime(2025, 1, 6)  # a Monday
BASE_US = int((BASE - dt.datetime(1970, 1, 1)).total_seconds()) * US
TURNS = 40  # turn_idx of live keys lies in [0, TURNS); deletes of absent keys use more
SKEW_EXP = 3.5
EVENT_DAYS = 7  # event days a random log's conversations spread over
RESTATE_SHARE = 0.05  # share of a simulated day's changes to the two days before

_VOCAB = (
    "the quick spark stream merge upsert table scan filter window join "
    "group sort shuffle partition bucket salt skew epoch snapshot schema "
    "column row batch commit lineage offset replay checkpoint delta key "
    "value turn conversation agent tool user assistant system reply plan"
).split()
_ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
_TOOLS = np.array([f"tool_{i:02d}" for i in range(20)], dtype=object)
_LANGS = np.array(["en", "de", "fr", "es", "ja"], dtype=object)


def change_schema(with_lang: bool) -> pa.Schema:
    ts = pa.timestamp("us", tz="UTC")
    fields = [
        pa.field("op", pa.string(), nullable=False),
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", ts),
        pa.field("op_ts", ts, nullable=False),
        pa.field("lsn", pa.int64(), nullable=False),
    ]
    if with_lang:
        fields.append(pa.field("lang", pa.string()))
    return pa.schema(fields)


def conv_name(rank) -> np.ndarray:
    return np.array([f"conv_{int(r):07d}" for r in np.atleast_1d(rank)], dtype=object)


def event_ts_us(conv: np.ndarray, turn: np.ndarray, conv_day: np.ndarray) -> np.ndarray:
    """Event time of key (conv, turn): the conversation's day, a per-
    conversation start within the first ten hours, one minute per turn."""
    start = (conv.astype(np.int64) * 7919) % 36_000
    return BASE_US + conv_day.astype(np.int64) * DAY_US + (start + turn.astype(np.int64) * 60) * US


class Changes:
    """Column arrays of one slice of a change log (numpy, not yet arrow)."""

    def __init__(self, rng: np.random.Generator, conv, turn, op_ts, lsn, conv_day,
                 with_lang: bool = False):
        n = len(conv)
        self.conv = conv.astype(np.int64)
        self.turn = turn.astype(np.int32)
        self.op_ts = op_ts.astype(np.int64)
        self.lsn = lsn.astype(np.int64)
        self.conv_day = conv_day.astype(np.int64)
        r = rng.random(n)
        self.op = np.where(r < 0.7, "U", np.where(r < 0.9, "I", "D")).astype(object)
        absent = (self.op == "D") & (rng.random(n) < 0.2)
        self.turn = np.where(absent, TURNS + rng.integers(0, 10, n), self.turn).astype(np.int32)
        self.role_i = rng.integers(0, 4, n)
        self.tool_i = rng.integers(0, len(_TOOLS), n)
        self.text_i = rng.integers(0, 1 << 30, n)
        self.lang_i = rng.integers(0, len(_LANGS), n) if with_lang else None
        self._duplicate(rng)

    def _duplicate(self, rng: np.random.Generator) -> None:
        """~5% verbatim copies and ~5% newer re-emissions of the row before."""
        n = len(self.conv)
        kind = rng.random(n)
        dup = kind < 0.1
        dup[0] = False
        dup[1:] &= ~dup[:-1]  # only a non-duplicate row is copied
        src = np.where(dup, np.arange(n) - 1, np.arange(n))
        verbatim = dup & (kind < 0.05)
        for a in ("conv", "turn", "conv_day", "op", "role_i", "tool_i", "text_i"):
            arr = getattr(self, a)
            setattr(self, a, arr[src])
        if self.lang_i is not None:
            self.lang_i = self.lang_i[src]
        self.op_ts = np.where(verbatim, self.op_ts[src], self.op_ts)
        self.lsn = np.where(verbatim, self.lsn[src], self.lsn)

    def table(self, texts: np.ndarray) -> pa.Table:
        is_del = self.op == "D"
        role = _ROLES[self.role_i]
        tool = np.where((self.role_i == 1) | (self.role_i == 3), _TOOLS[self.tool_i], None)
        text = texts[self.text_i % len(texts)]
        ts = event_ts_us(self.conv, self.turn, self.conv_day)
        cols = {
            "op": self.op,
            "conv_id": conv_name(self.conv),
            "turn_idx": self.turn,
            "role": np.where(is_del, None, role),
            "text": np.where(is_del, None, text),
            "tool": np.where(is_del, None, tool),
            "ts": ts,
            "op_ts": self.op_ts,
            "lsn": self.lsn,
        }
        if self.lang_i is not None:
            cols["lang"] = np.where(is_del, None, _LANGS[self.lang_i])
        schema = change_schema(self.lang_i is not None)
        return pa.Table.from_arrays(
            [pa.array(cols[f.name], type=f.type) for f in schema], schema=schema
        )


def text_pool(rng: np.random.Generator, size: int = 2048) -> np.ndarray:
    vocab = np.array(_VOCAB, dtype=object)
    return np.array(
        [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(2, 24))]) for _ in range(size)],
        dtype=object,
    )


def zipf_rank(rng: np.random.Generator, n: int, n_convs: int) -> np.ndarray:
    return np.floor(n_convs * rng.random(n) ** SKEW_EXP).astype(np.int64)


def write_epoch(log_dir: str, epoch: int, table: pa.Table) -> str:
    path = os.path.join(log_dir, f"epoch={epoch:05d}")
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


def random_log(log_dir: str, seed: int, epoch_sizes: list[int], n_convs: int,
               evolve_last: bool = False) -> None:
    """Epochs of the given sizes over ``n_convs`` conversations spread on
    ``EVENT_DAYS`` event days. With ``evolve_last`` the last epoch adds
    the column ``lang``."""
    rng = np.random.default_rng([seed, 1])
    texts = text_pool(rng)
    n_events = sum(epoch_sizes)
    i = np.arange(n_events, dtype=np.int64)
    conv = zipf_rank(rng, n_events, n_convs)
    turn = rng.integers(0, TURNS, n_events)
    op_ts = BASE_US + 30 * DAY_US + i * 10_000  # 10 ms apart, after every event day
    # late: two of the largest epochs behind, so below the committed watermark
    late = rng.random(n_events) < 0.05
    op_ts = np.where(late, op_ts - 2 * max(epoch_sizes) * 10_000, op_ts)
    lo = 0
    for e, size in enumerate(epoch_sizes):
        hi = lo + size
        ch = Changes(rng, conv[lo:hi], turn[lo:hi], op_ts[lo:hi], i[lo:hi],
                     conv[lo:hi] % EVENT_DAYS,
                     with_lang=evolve_last and e == len(epoch_sizes) - 1)
        write_epoch(log_dir, e, ch.table(texts))
        lo = hi


class DaySchedule:
    """Simulated days of small epochs.

    Conversation ids are blocks per event day: day ``d`` owns
    ``[d * convs_per_day, (d + 1) * convs_per_day)``, so a conversation's
    event day is stable. Each day's epochs carry Zipf-skewed changes for
    that day's conversations plus ``RESTATE_SHARE`` of changes to
    conversations of the two days before (restating days already
    closed), and a late share whose ``op_ts`` lies up to three hours
    behind the epoch. The top ``2 * erase_per_day`` ranks of each day's
    block are never restated, so the ones erased at the end of their own
    day get no change afterwards.
    """

    def __init__(self, seed: int, epochs_per_day: int, events_per_epoch: int,
                 convs_per_day: int, erase_per_day: int):
        self.seed = seed
        self.epochs_per_day = epochs_per_day
        self.events_per_epoch = events_per_epoch
        self.convs_per_day = convs_per_day
        self.erase_per_day = erase_per_day
        self.texts = text_pool(np.random.default_rng([seed, 2]))

    def epoch(self, day: int, k: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 3, day, k])
        n = self.events_per_epoch
        cpd = self.convs_per_day
        conv = day * cpd + zipf_rank(rng, n, cpd)
        if day > 0:
            restate = rng.random(n) < RESTATE_SHARE
            back = np.minimum(rng.integers(1, 3, n), day)
            old = (day - back) * cpd + rng.integers(0, cpd - 2 * self.erase_per_day, n)
            conv = np.where(restate, old, conv)
        turn = rng.integers(0, TURNS, n)
        step = DAY_US // (self.epochs_per_day * n * 2)  # epochs span the day's first half
        op_ts = BASE_US + day * DAY_US + 3_600 * US + (k * n + np.arange(n)) * step
        late = rng.random(n) < 0.05
        op_ts = np.where(late, op_ts - rng.integers(1, 3 * 3_600, n) * US, op_ts)
        lsn = (day * self.epochs_per_day + k) * n + np.arange(n, dtype=np.int64)
        return Changes(rng, conv, turn, op_ts, lsn, conv // cpd).table(self.texts)

    def erase_targets(self, day: int) -> list[str]:
        """Conversations erased at the end of ``day``: from the top ranks
        of the day's own block, which no later epoch touches."""
        rng = np.random.default_rng([self.seed, 4, day])
        cpd = self.convs_per_day
        ranks = day * cpd + cpd - 1 - rng.choice(
            2 * self.erase_per_day, self.erase_per_day, replace=False)
        return conv_name(np.sort(ranks)).tolist()

    def expunge_horizon(self, day: int) -> dt.datetime:
        """Tombstones older than this may go at the end of ``day``: no
        later change has an ``op_ts`` below it (late events lag less than
        three hours behind an epoch that starts an hour into its day)."""
        return BASE + dt.timedelta(days=day + 1) - dt.timedelta(hours=2)

    def close_now(self, day: int) -> dt.datetime:
        """Simulated wall clock at the end of ``day``'s pipeline: twelve
        hours after the day's end, the engine's force-close horizon."""
        return BASE + dt.timedelta(days=day + 1, hours=12)
