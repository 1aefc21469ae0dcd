"""Memoized parquet schemas (``plans.registry.parquet_schema``).

``registry.table`` reads each file with a known schema, which launches
no Spark job: the schema is read from the footer in the session's JVM once and
then served from a memo. These tests pin that the schema and rows equal
plain inference (on the testdata tables and on nested, logical and
Spark-written files), that no read launches a job, that a rewritten file
or a changed inference conf infers again, and that events reads no
longer flip ``nanosAsLong`` for the rest of an engine session.
"""

from __future__ import annotations

import datetime as dt
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from medallion_delta_lake_spark.catalog import TESTDATA_TABLES
from medallion_delta_lake_spark.plans import registry
from medallion_delta_lake_spark.plans.registry import (
    _normalize_event_time,
    parquet_schema,
    read_parquet,
    table,
)
from tests.conftest import SF_SMOKE

SF_DIRS = [str(Path(SF_SMOKE).parent / f"sf{sf}") for sf in ("0.001", "0.01", "0.1")]


def _inferred(spark, sf_dir, name):
    """``table`` as it was built before the memo: plain inference."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _normalize_event_time(df) if name == "events" else df


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted under a job group of its own.

    The status tracker is fed asynchronously, so a fence job runs after
    ``fn`` in another group; once the fence is visible, every job ``fn``
    started (posted earlier on the same listener queue) is too.
    """
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setJobGroup(f"{group}-fence", "fence")
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(f"{group}-fence"):
        assert time.monotonic() < deadline, "fence job never reached the tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_memoized_schema_equals_inferred(spark, sf_dir):
    for name in TESTDATA_TABLES:
        table(spark, sf_dir, name)  # first call fills the memo
        assert table(spark, sf_dir, name).schema == _inferred(
            spark, sf_dir, name
        ).schema, name


def test_memoized_rows_equal_inferred(spark):
    sf_dir = SF_DIRS[0]
    for name in TESTDATA_TABLES:
        table(spark, sf_dir, name)
        assert _rows(table(spark, sf_dir, name)) == _rows(
            _inferred(spark, sf_dir, name)
        ), name


def test_reads_launch_no_job(spark, tmp_path):
    """The first read (footer read in-process, memo filled) and a
    repeat read (memo hit) both launch no job; plain inference does."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    sf_dir = str(tmp_path)
    before = len(registry._schema_memo)
    assert _jobs_launched(spark, lambda: table(spark, sf_dir, "t")) == 0
    assert len(registry._schema_memo) == before + 1
    assert _jobs_launched(spark, lambda: table(spark, sf_dir, "t")) == 0
    assert len(registry._schema_memo) == before + 1
    assert _jobs_launched(spark, lambda: spark.read.parquet(path)) >= 1
    assert [r.k for r in table(spark, sf_dir, "t").orderBy("k").collect()] == [1, 2, 3]


def test_footer_schema_equals_inferred_for_nested_and_logical_types(spark, tmp_path):
    path = str(tmp_path / "n.parquet")
    pq.write_table(
        pa.table(
            {
                "i8": pa.array([1], type=pa.int8()),
                "u32": pa.array([7], type=pa.uint32()),
                "f": pa.array([1.5], type=pa.float32()),
                "dec": pa.array([1], type=pa.decimal128(38, 4)),
                "d": pa.array([dt.date(2024, 3, 1)], type=pa.date32()),
                "ms": pa.array([dt.datetime(2024, 3, 1)], type=pa.timestamp("ms", tz="UTC")),
                "ok": pa.array([True]),
                "tags": pa.array([["a", None]], type=pa.list_(pa.string())),
                "kv": pa.array([[("k", 1)]], type=pa.map_(pa.string(), pa.int64())),
                "st": pa.array([{"x": 1, "y": [2.0]}]),
            }
        ),
        path,
    )
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema
    assert _rows(read_parquet(spark, path)) == _rows(spark.read.parquet(path))


def test_footer_schema_equals_inferred_for_spark_written_file(spark, tmp_path):
    """A Spark-written file carries Spark's own schema in its footer
    metadata (column comments, char/varchar); inference prefers it."""
    out = str(tmp_path / "w")
    spark.sql(
        "SELECT CAST(1 AS SMALLINT) AS s, CAST('ab' AS VARCHAR(4)) AS v, "
        "named_struct('a', 1L) AS st"
    ).coalesce(1).write.parquet(out)
    (part,) = Path(out).glob("part-*.parquet")
    assert parquet_schema(spark, str(part)) == spark.read.parquet(str(part)).schema


def test_rewritten_file_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    sf_dir = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert table(spark, sf_dir, "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = table(spark, sf_dir, "t")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


# conf → (column written, {conf value: inferred type, or None when
# inference rejects the file under that value})
_CONF_CASES = {
    "spark.sql.legacy.parquet.nanosAsLong": (
        pa.array([1_700_000_000_123_456_789], type=pa.timestamp("ns")),
        {"true": "bigint", "false": None},
    ),
    "spark.sql.parquet.inferTimestampNTZ.enabled": (
        pa.array([dt.datetime(2024, 3, 1, 10)], type=pa.timestamp("us")),
        {"true": "timestamp_ntz", "false": "timestamp"},
    ),
    "spark.sql.parquet.binaryAsString": (
        pa.array([b"xy"], type=pa.binary()),
        {"false": "binary", "true": "string"},
    ),
    "spark.sql.parquet.int96AsTimestamp": (
        pa.array([dt.datetime(2024, 3, 1, 10)], type=pa.timestamp("us")),
        {"true": "timestamp", "false": None},
    ),
}


@pytest.mark.parametrize("conf", sorted(_CONF_CASES))
def test_inference_conf_change_reinfers(spark, tmp_path, conf):
    col, expected = _CONF_CASES[conf]
    path = str(tmp_path / "c.parquet")
    pq.write_table(
        pa.table({"c": col}),
        path,
        use_deprecated_int96_timestamps=conf.endswith("int96AsTimestamp"),
    )
    saved = spark.conf.get(conf)
    try:
        # each value twice: the second read is served from the memo
        for value in [*expected, *expected]:
            spark.conf.set(conf, value)
            if expected[value] is None:
                with pytest.raises(AnalysisException):
                    read_parquet(spark, path)
            else:
                assert read_parquet(spark, path).dtypes == [("c", expected[value])]
    finally:
        spark.conf.set(conf, saved)


def test_unstattable_path_is_inferred_not_memoized(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1]}), str(path))
    before = len(registry._schema_memo)
    df = read_parquet(spark, path.as_uri())
    assert df.dtypes == [("k", "bigint")]
    assert len(registry._schema_memo) == before


def test_events_read_leaves_nanos_reads_unchanged(spark, tmp_path):
    """An events read must not change how a later TIMESTAMP(NANOS) read
    elsewhere in the session resolves (the conf is set at session build,
    not flipped by the first events read)."""
    nanos = str(tmp_path / "ticks.parquet")
    pq.write_table(
        pa.table({"t": pa.array([1_700_000_000_123_456_789], type=pa.timestamp("ns"))}),
        nanos,
    )
    events_dir = tmp_path / "sf"
    events_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], type=pa.int64()),
                "ts": pa.array([1_700_000_000_000_000_000], type=pa.timestamp("ns")),
            }
        ),
        str(events_dir / "events.parquet"),
    )

    def read_nanos():
        df = spark.read.parquet(nanos)
        return df.dtypes, [tuple(r) for r in df.collect()]

    before = read_nanos()
    table(spark, str(events_dir), "events").collect()
    assert read_nanos() == before == ([("t", "bigint")], [(1_700_000_000_123_456_789,)])
