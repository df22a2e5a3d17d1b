"""Independent expectations and the checks that compare against them.

The expectations come from DuckDB over the raw change log, never from
the program: last-writer-wins is a ``row_number()`` argmax ordered by
``(op_ts, lsn)`` descending. Each check takes the program's output as
a pandas frame and returns ``None`` when it holds, or one line naming
the workload, the check and the first key that differs.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

KEY = ["conv_id", "turn_idx"]
_META = {"op", "op_ts", "lsn", "epoch"}


class Oracle:
    """DuckDB views over one change log written by ``gen``."""

    def __init__(self, log_dir: str, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute(
            "CREATE VIEW log AS SELECT * REPLACE (CAST(epoch AS INTEGER) AS epoch) FROM read_parquet("
            f"'{log_dir}/epoch=*/*.parquet', hive_partitioning = true, "
            "union_by_name = true)"
        )

    def close(self) -> None:
        self.con.close()

    def rows(self, upto_epoch: int | None = None) -> int:
        where = "" if upto_epoch is None else f"WHERE epoch <= {int(upto_epoch)}"
        return self.con.execute(f"SELECT count(*) FROM log {where}").fetchone()[0]

    def _winners(self, upto_epoch: int | None) -> str:
        where = "" if upto_epoch is None else f"WHERE epoch <= {int(upto_epoch)}"
        return (
            "SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER ("
            "PARTITION BY conv_id, turn_idx ORDER BY op_ts DESC, lsn DESC) AS rn "
            f"FROM log {where}) WHERE rn = 1"
        )

    def state(self, upto_epoch: int | None = None, exclude_convs=(),
              conv_id: str | None = None) -> pd.DataFrame:
        """Live rows after the epochs ``<= upto_epoch``, payload columns,
        timestamps as epoch microseconds."""
        cols = [c for c in self.columns() if c not in _META]
        sel = ", ".join(
            f"epoch_us({c}) AS {c}" if c in self._ts_cols() else c for c in cols
        )
        where = ["op <> 'D'"]
        if exclude_convs:
            where.append("conv_id NOT IN (" + ", ".join(f"'{c}'" for c in exclude_convs) + ")")
        if conv_id is not None:
            where.append(f"conv_id = '{conv_id}'")
        sql = f"SELECT {sel} FROM ({self._winners(upto_epoch)}) WHERE {' AND '.join(where)}"
        return self.con.execute(sql).df()

    def window_count(self, upto_epoch: int, ts_lo_us: int, ts_hi_us: int) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM ({self._winners(upto_epoch)}) WHERE op <> 'D' "
            f"AND epoch_us(ts) BETWEEN {int(ts_lo_us)} AND {int(ts_hi_us)}"
        ).fetchone()[0]

    def change_counts(self, old_epoch: int, new_epoch: int) -> dict[str, int]:
        """The diff of two prefix states, typed the way a change feed
        types it: a key live only in the new state is an insert, live
        only in the old a delete, live in both with another winning
        ``(op_ts, lsn)`` an update."""
        sql = f"""
        WITH o AS ({self._winners(old_epoch)}), n AS ({self._winners(new_epoch)}),
        j AS (
          SELECT coalesce(o.op <> 'D', false) AS lo, coalesce(n.op <> 'D', false) AS ln,
                 o.op_ts AS ot, o.lsn AS ol, n.op_ts AS nt, n.lsn AS nl
          FROM o FULL OUTER JOIN n USING (conv_id, turn_idx))
        SELECT CASE WHEN NOT lo AND ln THEN 'insert'
                    WHEN lo AND NOT ln THEN 'delete'
                    ELSE 'update_postimage' END AS t, count(*)
        FROM j WHERE (lo <> ln) OR (lo AND ln AND (ot <> nt OR ol <> nl))
        GROUP BY t"""
        return {t: int(n) for t, n in self.con.execute(sql).fetchall()}

    def daily(self, upto_epoch: int | None = None, exclude_convs=()) -> pd.DataFrame:
        """Per event day of the end state: turns and distinct conversations."""
        st = self.state(upto_epoch, exclude_convs=exclude_convs)
        day = pd.to_datetime(st["ts"], unit="us").dt.strftime("%Y-%m-%d")
        return (
            st.assign(day_=day)
            .groupby("day_")
            .agg(n_turns=("conv_id", "size"), active_convs=("conv_id", "nunique"))
            .reset_index()
        )

    def event_days(self, upto_epoch: int | None = None) -> set[str]:
        """Days that received data: the UTC day of every event time."""
        where = "" if upto_epoch is None else f"AND epoch <= {int(upto_epoch)}"
        rows = self.con.execute(
            "SELECT DISTINCT strftime(ts AT TIME ZONE 'UTC', '%Y-%m-%d') FROM log "
            f"WHERE ts IS NOT NULL {where}"
        ).fetchall()
        return {r[0] for r in rows}

    def columns(self) -> list[str]:
        return [r[0] for r in self.con.execute("DESCRIBE log").fetchall()]

    def _ts_cols(self) -> set[str]:
        return {
            r[0] for r in self.con.execute("DESCRIBE log").fetchall()
            if r[1].startswith("TIMESTAMP")
        }


def as_micros(df: pd.DataFrame) -> pd.DataFrame:
    """A program frame with every datetime column as epoch microseconds."""
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            s = out[c]
            if s.dt.tz is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = s.astype("datetime64[us]").astype("int64").where(s.notna(), None)
    return out


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        return v.item()
    return v


def _records(df: pd.DataFrame, cols: list[str], key: list[str]) -> dict:
    out = {}
    for row in df[cols].itertuples(index=False, name=None):
        row = tuple(_norm(v) for v in row)
        out.setdefault(tuple(row[cols.index(k)] for k in key), []).append(row)
    return out


def _fail(workload: str, check: str, detail: str) -> str:
    return f"{workload}: check {check} failed: {detail}"


def compare_rows(workload: str, check: str, program: pd.DataFrame,
                 expected: pd.DataFrame, key: list[str] = KEY) -> str | None:
    """Row-for-row equality across all columns: the program and the
    oracle must have the same column set."""
    program = as_micros(program)
    extra = sorted(set(program.columns) - set(expected.columns))
    missing = sorted(set(expected.columns) - set(program.columns))
    if extra or missing:
        return _fail(workload, check, f"columns differ: program only {extra}, "
                     f"oracle only {missing}")
    cols = list(program.columns)
    p, e = _records(program, cols, key), _records(expected, cols, key)
    for k in sorted(set(p) | set(e), key=lambda t: tuple("" if v is None else v for v in t)):
        if p.get(k) != e.get(k):
            return _fail(workload, check, f"first differing key {k}: "
                         f"program {p.get(k)} vs oracle {e.get(k)}")
    return None


def check_unique_keys(workload: str, program: pd.DataFrame, key: list[str] = KEY) -> str | None:
    dup = program[program.duplicated(key, keep=False)]
    if len(dup):
        first = dup.sort_values(key).iloc[0]
        return _fail(workload, "unique_keys",
                     f"first differing key {tuple(_norm(first[k]) for k in key)} appears "
                     f"{int((program[key] == first[key]).all(axis=1).sum())} times")
    return None


def check_equal(workload: str, check: str, what, program, expected) -> str | None:
    """A scalar or a dict of counts."""
    if program != expected:
        if isinstance(program, dict):
            for k in sorted(set(program) | set(expected)):
                if program.get(k, 0) != expected.get(k, 0):
                    return _fail(workload, check, f"first differing key {what}/{k}: "
                                 f"program {program.get(k, 0)} vs oracle {expected.get(k, 0)}")
            return None
        return _fail(workload, check, f"first differing key {what}: "
                     f"program {program} vs oracle {expected}")
    return None


def check_daily(workload: str, program: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Published daily rollup vs the oracle's group-by; a day with no
    live rows counts as zero on either side."""
    cols = ["n_turns", "active_convs"]
    p = program.set_index("day_")[cols].astype("int64")
    e = expected.set_index("day_")[cols].astype("int64")
    for day in sorted(set(p.index) | set(e.index)):
        pv = tuple(int(x) for x in p.loc[day]) if day in p.index else (0, 0)
        ev = tuple(int(x) for x in e.loc[day]) if day in e.index else (0, 0)
        if pv != ev:
            return _fail(workload, "rollup_daily", f"first differing key {day}: "
                         f"program (n_turns, active_convs) {pv} vs oracle {ev}")
    return None


def check_absent(workload: str, check: str, program: pd.DataFrame, convs) -> str | None:
    hit = program[program["conv_id"].isin(list(convs))]
    if len(hit):
        first = hit.sort_values(KEY).iloc[0]
        return _fail(workload, check, f"first differing key {(first['conv_id'], int(first['turn_idx']))}: "
                     "an erased conversation is still returned")
    return None


def check_closed(workload: str, days_with_data, closed) -> str | None:
    open_days = sorted(set(days_with_data) - set(closed))
    if open_days:
        return _fail(workload, "days_closed", f"first differing key {open_days[0]}: day not closed")
    return None
