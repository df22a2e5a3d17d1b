"""Job-free read planning: building a LakeTable read starts no Spark job.

Three driver-side pieces make that hold, and each is pinned here:

* ``lake.bucketing`` routes a key to its bucket on the driver; it must
  agree with the write path's ``pmod(xxhash64(key), n)`` bit for bit;
* ``LakeTable._stored_struct`` hands the parquet reader the schema a file
  set was written with; it must equal what Spark would infer from the
  footers, for every schema version an evolved table has written;
* the session lists leaf directories on the driver, so a read of more
  than 32 leaves (Spark's default parallel-listing threshold) plans
  without a listing job.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.cdc.apply import apply_batch
from etl_spark.cdc.engine import CHANGE_SCHEMA, CdcEngine
from etl_spark.lake.bucketing import bucket_of, spark_xxhash64

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

TS = lambda s: dt.datetime.fromisoformat(s)

_KEY_SCHEMA = T.StructType([
    T.StructField("s", T.StringType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
])
_INT32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
_INT64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_row = st.tuples(st.none() | st.text(max_size=80),
                 st.none() | _INT32, st.none() | _INT64)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, min_size=1, max_size=60))
@example(rows=[("", 0, 0), (None, None, None), ("é", -1, -1),
               ("会話の記録", 2**31 - 1, 2**63 - 1), ("😀" * 9, -(2**31), -(2**63)),
               ("x" * 90, 7, 7), ("a" * 32, 1, 1), ("b" * 31, 2, 2)])
def test_driver_hash_matches_spark(spark, rows):
    """Driver XXH64 and pmod equal Spark's for string, int, long and NULL
    keys: empty, short, ≥32-byte (the striped path), accented, CJK and
    emoji strings; int keys hash 4 bytes, long keys 8."""
    df = spark.createDataFrame(rows, _KEY_SCHEMA)
    cols = []
    for c in ("s", "i", "l"):
        cols += [F.xxhash64(c).alias(f"h_{c}"),
                 F.pmod(F.xxhash64(c), F.lit(4)).alias(f"b4_{c}"),
                 F.pmod(F.xxhash64(c), F.lit(32)).alias(f"b32_{c}")]
    got = df.select("s", "i", "l", *cols).collect()
    for r in got:
        for c, ty in (("s", "string"), ("i", "int"), ("l", "bigint")):
            assert spark_xxhash64(r[c], ty) == r[f"h_{c}"], (c, r[c])
            assert bucket_of(r[c], 4, ty) == r[f"b4_{c}"], (c, r[c])
            assert bucket_of(r[c], 32, ty) == r[f"b32_{c}"], (c, r[c])


def test_uncovered_key_types_defer_to_spark():
    assert bucket_of(1.5, 4, "double") is None
    assert bucket_of(dt.date(2025, 1, 1), 4, "date") is None
    assert bucket_of(5, 4, "string") is None  # no implicit cast guessed


def _as_nullable(t: T.DataType) -> T.DataType:
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _as_nullable(f.dataType), True)
                             for f in t.fields])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


_BASE = ("conv_id string, turn_idx int, role string, text string,"
         " tool string, ts timestamp, params struct<paid:int, level:int>,"
         " op string, op_ts timestamp, lsn long")


def _evolved_table(spark, tmp_path):
    """One table through every schema change the engine supports, each
    schema version with file sets written under it: struct column added,
    rename, drop and readd, struct field added with an inner widen, an
    all-NULL (void) inner field, then compaction and an erase."""
    from etl_spark.cdc.maintenance import delete_conversations

    eng = CdcEngine(spark, str(tmp_path / "evolved"), num_buckets=2)
    t = eng.table

    def row(conv, i, text, params, lsn, tool=None):
        return (conv, i, "user", text, tool, TS("2025-01-01 00:00:00"),
                params, "I", TS(f"2025-01-01 00:00:{lsn:02d}"), lsn)

    apply_batch(t, spark.createDataFrame(
        [row("c1", 0, "a", {"paid": 1, "level": 3}, 1, tool="t")], _BASE), epoch=0)
    t.rename_column("tool", "tool_name")
    renamed = _BASE.replace("tool string", "tool_name string")
    apply_batch(t, spark.createDataFrame(
        [row("c2", 0, "b", None, 2, tool="u")], renamed), epoch=1)
    t.drop_column("text")
    apply_batch(t, spark.createDataFrame(
        [row("c6", 0, None, None, 6)[:3] + row("c6", 0, None, None, 6)[4:]],
        renamed.replace(" text string,", "")), epoch=2)
    apply_batch(t, spark.createDataFrame(  # readds `text` under a fresh id
        [row("c3", 0, "c", {"paid": 2, "level": 1}, 3)], renamed), epoch=3)
    apply_batch(t, spark.createDataFrame(
        [row("c4", 0, "d", {"paid": 2**40, "level": 4, "vip": True}, 4)],
        renamed.replace("struct<paid:int, level:int>",
                        "struct<paid:bigint, level:int, vip:boolean>")), epoch=4)
    apply_batch(t, spark.createDataFrame(
        [row("c5", 0, "e", {"paid": 5, "void_f": None}, 5)],
        renamed.replace("struct<paid:int, level:int>",
                        "struct<paid:int, void_f:void>")), epoch=5)
    t.compact([0])
    delete_conversations(t, ["c2", "c6"], request_id=1)
    t.refresh()
    return t


def _by_name(st: T.StructType) -> dict:
    return {f.name: f for f in st.fields}


def test_stored_schema_equals_inferred(spark, tmp_path):
    """The explicit read schema of every written schema version equals the
    schema Spark infers from that version's footers (made nullable, as
    Spark makes every file-source schema). Compared by column name:
    compaction writes the fold's column order, the reader resolves
    parquet columns by name, and inference takes the order of whichever
    footer it reads. Every file set any metadata version references is
    checked; merging their footers makes a file that disagrees with its
    siblings show up as a type conflict or an extra column."""
    t = _evolved_table(spark, tmp_path)
    by_sv: dict[int, set[str]] = {}
    for v in range(t.version + 1):
        for e in t.as_of(v).plan_file_sets()[0]:
            by_sv.setdefault(e["schema_version"], set()).add(f"{t.path}/{e['path']}")
    for sv, paths in by_sv.items():
        inferred = spark.read.option("mergeSchema", "true").parquet(*sorted(paths)).schema
        assert _by_name(t._stored_struct(sv)) == _by_name(_as_nullable(inferred)), sv
    # struct add, rename, drop, readd, inner widen: each written under
    assert sorted(by_sv) == [1, 2, 3, 4, 5], sorted(by_sv)
    got = {r.conv_id: r for r in t.snapshot_df().collect()}
    assert set(got) == {"c1", "c3", "c4", "c5"}  # c2, c6 erased
    assert got["c1"].tool_name == "t" and got["c1"].text is None
    assert got["c3"].text == "c" and got["c4"].params["paid"] == 2**40
    assert got["c5"].params["vip"] is None


def _jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()`` on this thread."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read planning probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_planning_starts_no_job(spark, tmp_path):
    """Over 72 leaf directories (4 buckets x 9 days x 2 deltas, above
    Spark's parallel-listing threshold of 32), building read_buckets,
    snapshot_df and changes_between starts no Spark job, and running a
    point lookup costs at most the fold's 2."""
    eng = CdcEngine(spark, str(tmp_path / "wide"), num_buckets=4)
    t = eng.table
    day0 = dt.datetime(2025, 1, 1)
    for epoch in range(2):
        rows = [("U", f"c{c}", d, "user", f"e{epoch}", None,
                 day0 + dt.timedelta(days=d, seconds=c),
                 day0 + dt.timedelta(days=20 + epoch, seconds=c), 1000 * epoch + 9 * c + d)
                for c in range(24) for d in range(9)]
        apply_batch(t, spark.createDataFrame(rows, CHANGE_SCHEMA), epoch=epoch)
    t.refresh()
    assert len(t.plan_file_sets()[0]) > 32
    v0 = t.version - 1

    assert _jobs(spark, lambda: t.read_buckets()) == 0
    assert _jobs(spark, lambda: t.read_buckets(fold=False)) == 0
    assert _jobs(spark, lambda: t.snapshot_df(ts_min="2025-01-03")) == 0
    assert _jobs(spark, lambda: t.changes_between(v0)) == 0
    assert _jobs(spark, lambda: t.lookup("c7")) == 0

    out = []
    assert _jobs(spark, lambda: out.extend(t.lookup("c7").collect())) <= 2
    assert sorted(r.turn_idx for r in out) == list(range(9))
    assert {r.text for r in out} == {"e1"}


def test_lookup_routes_int_bucket_keys(spark, tmp_path):
    """The write path hashes an ``int`` bucket key as 4 bytes. A lookup by
    a Python int must route the same way, not as the 8-byte long Spark
    would infer for a one-row frame of that int."""
    from etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "int_keys"),
        T.StructType([T.StructField("k", T.IntegerType()),
                      T.StructField("v", T.StringType()),
                      T.StructField("ts", T.TimestampType())]),
        key_cols=["k"], bucket_key="k", num_buckets=8)
    rows = [("I", k, f"v{k}", TS("2025-01-01 00:00:00"), TS("2025-01-01 00:00:01"), k)
            for k in range(40)]
    apply_batch(t, spark.createDataFrame(
        rows, "op string, k int, v string, ts timestamp, op_ts timestamp, lsn long"), epoch=0)
    for k in (0, 7, 39):  # buckets 3, 7, 2 as int; 4, 1, 1 as long
        assert [r.v for r in t.lookup(k).collect()] == [f"v{k}"]
