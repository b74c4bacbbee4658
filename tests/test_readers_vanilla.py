"""Regression: readers must be self-sufficient under ANY SparkSession
AND any ts storage encoding the driver testdata generator picks.

History: round 1's testdata stored events.ts as TIMESTAMP(NANOS)
(readable only as a raw long under nanosAsLong); round 2's regenerated
testdata switched to TIMESTAMP(MICROS, isAdjustedToUTC=0), which Spark
surfaces as TIMESTAMP_NTZ — and the nanos-only conversion silently
passed NTZ through, breaking every unix_micros/timestamp consumer.

These tests synthesize ALL THREE storage variants into tmp parquet and
assert load_table normalizes each to TimestampType with identical
instants under a vanilla session (conf unset first, reproducing the
driver's harness exactly). They cannot be invalidated by the next
testdata regeneration.
"""

import datetime as dt
import shutil
import sys
import threading
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from data_engineering_bootcamp_spark.sources import readers
from data_engineering_bootcamp_spark.sources.readers import (
    TESTDATA_TABLES,
    load_table,
    normalize_ts,
    parquet_schema,
)

# one unambiguous UTC instant: 2024-01-15T12:34:56.789Z
EPOCH_US = 1705322096_789000
WANT = dt.datetime(2024, 1, 15, 12, 34, 56, 789000)


def _unset(spark, key):
    try:
        spark.conf.unset(key)
    except Exception:
        pass


def _vanilla(spark):
    _unset(spark, "spark.sql.legacy.parquet.nanosAsLong")


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _write_variant(tmpdir, variant: str) -> str:
    """Write a one-table dir containing events.parquet with ts stored
    as the given encoding plus the other driver columns."""
    n = 4
    ts_us = [EPOCH_US + i * 60_000_000 for i in range(n)]
    if variant == "nanos":
        ts_arr = pa.array([u * 1000 for u in ts_us], pa.timestamp("ns"))
    elif variant == "micros_ntz":
        ts_arr = pa.array(ts_us, pa.timestamp("us"))
    elif variant == "micros_utc":
        ts_arr = pa.array(ts_us, pa.timestamp("us", tz="UTC"))
    else:
        raise ValueError(variant)
    table = pa.table(
        {
            "event_id": pa.array(list(range(n)), pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([1, 1, 2, None], pa.int64()),
            "event_type": pa.array(["click", "view", "click", "view"]),
            "value": pa.array([1.0, 2.0, 3.0, 4.0], pa.float64()),
            "props": pa.array(['{"a":1}'] * n),
        }
    )
    d = tmpdir / variant
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("variant", ["nanos", "micros_ntz", "micros_utc"])
def test_load_table_normalizes_every_ts_encoding(spark, tmp_path, variant):
    _vanilla(spark)
    d = _write_variant(tmp_path, variant)
    ev = load_table(spark, d, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # identical instants regardless of encoding — unix_micros must work
    # (the exact expression the NTZ regression killed) and agree
    first = ev.orderBy("event_id").select(
        F.unix_micros("ts").alias("us"), F.col("ts")
    ).first()
    assert first["us"] == EPOCH_US
    assert first["ts"] == WANT
    # end-to-end events query under the vanilla condition
    n = ev.where(F.col("user_id").isNotNull()).groupBy("event_type").count()
    assert n.count() > 0


def test_ntz_normalization_is_session_tz_scoped(spark, tmp_path):
    """Loading an NTZ table must (a) yield the same UTC instants under
    ANY session timezone and (b) leave spark.sql.session.timeZone
    untouched — the previous implementation pinned it to UTC as a side
    effect, silently changing unrelated queries' semantics."""
    _vanilla(spark)
    d = _write_variant(tmp_path, "micros_ntz")
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    try:
        for tz in ("UTC", "Asia/Kolkata", "America/Los_Angeles"):
            spark.conf.set(key, tz)
            ev = load_table(spark, d, "events")
            us = ev.orderBy("event_id").select(
                F.unix_micros("ts").alias("us")
            ).first()["us"]
            assert us == EPOCH_US, tz
            assert spark.conf.get(key) == tz  # no side-effect
    finally:
        spark.conf.set(key, old)


def test_load_table_on_driver_testdata(spark, sf_small):
    """Whatever encoding the CURRENT testdata uses, load_table must
    yield TimestampType and support unix_micros (sessionization's
    expression) under a vanilla session."""
    _vanilla(spark)
    ev = load_table(spark, sf_small, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert (
        ev.select(F.unix_micros("ts").alias("us")).where(F.col("us").isNotNull())
        .count()
        > 0
    )


def test_warm_load_table_launches_no_job(spark, sf_small):
    """A second load_table of an unchanged table reuses the schema
    resolved by the first (no inference job), and that schema is the
    one a cold spark.read.parquet inference gives under load_table's
    typing confs, nullability included."""
    _vanilla(spark)
    confs = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    for name in TESTDATA_TABLES:
        load_table(spark, sf_small, name)
        j0 = _jobs(spark)
        warm = load_table(spark, sf_small, name)
        assert _jobs(spark) == j0, name

        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            cold = normalize_ts(
                spark, spark.read.parquet(f"{sf_small}/{name}.parquet")
            )
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        # StructField equality covers name, type, nullability, metadata
        assert warm.schema == cold.schema, name


def test_rewritten_table_is_reinferred(spark, tmp_path):
    """Rewriting a table file in place with another ts encoding must
    not serve the schema resolved for the old file: load_table infers
    again and ts still normalizes to the same instant."""
    _vanilla(spark)
    d = _write_variant(tmp_path, "nanos")
    ev = load_table(spark, d, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    us = F.unix_micros("ts").alias("us")
    assert ev.orderBy("event_id").select(us).first()["us"] == EPOCH_US

    ntz = _write_variant(tmp_path, "micros_ntz")
    shutil.copyfile(f"{ntz}/events.parquet", f"{d}/events.parquet")
    j0 = _jobs(spark)
    ev = load_table(spark, d, "events")
    assert _jobs(spark) > j0  # inferred, not served from the cache
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.orderBy("event_id").select(us).first()["us"] == EPOCH_US


def _col_of(path: str) -> str:
    return path.rsplit("/", 1)[-1].replace(".", "_")


# just what parquet_schema touches: conf.get and read.parquet(path).schema,
# here a one-column schema named after the file, so a schema served for
# the wrong path is visible
_FAKE_SESSION = SimpleNamespace(
    conf=SimpleNamespace(get=lambda _key, default=None: default),
    read=SimpleNamespace(
        parquet=lambda path: SimpleNamespace(
            schema=StructType([StructField(_col_of(path), LongType())])
        )
    ),
)


def test_schema_cache_under_concurrent_eviction(tmp_path):
    """More threads than cores resolve more distinct files than the
    cache holds, with a shortened switch interval: every call must get
    its own file's schema (no lost or crossed update, no KeyError from
    an eviction racing a hit) and the cache must stay bounded."""
    n_files = readers._SCHEMA_CACHE_SIZE + 44
    paths = []
    for i in range(n_files):
        p = tmp_path / f"t{i}.parquet"
        p.write_bytes(b"x")
        paths.append(str(p))
    errors: list = []

    def work(offset: int) -> None:
        try:
            for k in range(2 * n_files):
                path = paths[(offset * 37 + k) % n_files]
                got = parquet_schema(_FAKE_SESSION, path)
                if got.fieldNames() != [_col_of(path)]:
                    errors.append((path, got.fieldNames()))
        except Exception as exc:  # reported through `errors`
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(readers._schemas) <= readers._SCHEMA_CACHE_SIZE


def test_streaming_gate_self_sufficient(spark, sf_small):
    from data_engineering_bootcamp_spark.plans.catalog_ext import (
        q_streaming_tumbling,
    )

    _vanilla(spark)
    out = q_streaming_tumbling(spark, sf_small)
    assert out.count() > 0
    assert set(out.columns) == {"window_start", "event_type", "num_hits"}


@pytest.mark.parametrize("encoding", ["date32", "timestamp_us"])
def test_orderdate_both_encodings(spark, tmp_path, encoding):
    """Dtype contract (schemas.py / VERDICT r8 #7): o_orderdate may
    arrive as DATE or TIMESTAMP; epoch_day and the range-frame query
    built on it must agree between the two encodings."""
    from data_engineering_bootcamp_spark.functions.datelist import epoch_day
    from data_engineering_bootcamp_spark.plans.catalog_mix import (
        q_rolling_time_revenue,
    )

    _vanilla(spark)
    days = [9496, 9497, 9505]  # 1996-01-01, -02, -10 as epoch days
    if encoding == "date32":
        od = pa.array(days, pa.date32())
    else:
        od = pa.array([d * 86_400_000_000 for d in days], pa.timestamp("us"))
    table = pa.table(
        {
            "o_orderkey": pa.array([1, 2, 3], pa.int64()),
            "o_custkey": pa.array([1, 1, 1], pa.int64()),
            "o_orderstatus": pa.array(["O"] * 3),
            "o_totalprice": pa.array([10.0, 20.0, 40.0], pa.float64()),
            "o_orderdate": od,
            "o_orderpriority": pa.array(["1-URGENT"] * 3),
        }
    )
    d = tmp_path / encoding
    d.mkdir()
    pq.write_table(table, str(d / "orders.parquet"))

    o = load_table(spark, str(d), "orders")
    ords = [
        r[0]
        for r in o.select(epoch_day(o, "o_orderdate")).orderBy(
            "o_orderkey"
        ).collect()
    ]
    assert sorted(ords) == days, encoding

    got = {
        r.d: r.rolling_7d_cents
        for r in q_rolling_time_revenue(spark, str(d)).collect()
    }
    assert got == {
        "1996-01-01": 1000,
        "1996-01-02": 3000,
        "1996-01-10": 4000,
    }, encoding
