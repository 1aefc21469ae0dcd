"""The one file-scoped MERGE executor.

The incremental upsert (``upsert_delta_log(delete_missing=False)``) is
the general MERGE with the SCD-1 clauses delta-spark gets, so it
matches NULL keys null-safely and writes ``_change_data`` files on a
CDF table. Every MERGE commit carries ``operationMetrics``; the Spark
job counts of an incremental upsert and of a general MERGE are pinned,
and no block of the materialized join outlives a MERGE that raises.
"""

from __future__ import annotations

import pytest

from medallion_delta_lake_spark.sources import delta_log as dl
from tests.test_path_keyed_files import (
    KV,
    _cached_rdds,
    _commit,
    _commit_info,
    _expect,
    _jobs_launched,
    _state,
)


def _upsert(spark, path, rows, schema=KV):
    return dl.upsert_delta_log(
        spark,
        spark.createDataFrame(rows, schema),
        path,
        keys=["k"],
        delete_missing=False,
    )


def test_incremental_upsert_null_key(spark, tmp_path):
    """A NULL key matches a NULL key (``<=>``, as on delta-spark): the
    second upsert updates the first one's row instead of adding one."""
    t = str(tmp_path / "nullkey")
    dl.write_delta(spark, spark.createDataFrame([(1, "a")], KV), t)
    _upsert(spark, t, [(None, "x")])
    v = _upsert(spark, t, [(None, "y")])
    assert _state(spark, t, ("k", "v")) == _expect([(None, "y"), (1, "a")])
    m = _commit_info(t, v)["operationMetrics"]
    assert (m["numTargetRowsUpdated"], m["numTargetRowsInserted"]) == ("1", "0")


def test_incremental_upsert_on_cdf_table(spark, tmp_path):
    """A changed key and an unchanged key share the rewritten file: the
    feed holds the changed key's paired images and nothing else."""
    t = str(tmp_path / "cdf")
    dl.write_delta(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], KV).coalesce(1),
        t,
    )
    dl.set_table_properties(t, {"delta.enableChangeDataFeed": "true"})
    v = _upsert(spark, t, [(1, "z"), (2, "b")])
    assert sum("remove" in a for a in _commit(t, v)) == 1
    feed = sorted(
        (r.k, r.v, r._change_type)
        for r in dl.table_changes(spark, t, v, v).collect()
    )
    assert feed == [(1, "a", "update_preimage"), (1, "z", "update_postimage")]
    assert _state(spark, t, ("k", "v")) == [(1, "z"), (2, "b"), (3, "c")]


@pytest.mark.parametrize("cdf", [False, True])
def test_general_merge_operation_metrics(spark, tmp_path, cdf):
    """1 insert + 1 update + 1 delete through ``merge_delta_log``."""
    t = str(tmp_path / "metrics")
    dl.write_delta(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], KV).coalesce(1),
        t,
    )
    if cdf:
        dl.set_table_properties(t, {"delta.enableChangeDataFeed": "true"})
    v = dl.merge_delta_log(
        spark,
        spark.createDataFrame([(1, "z"), (4, "d")], KV),
        t,
        keys=["k"],
        clauses=[
            {"when": "matched", "action": "update", "set": {"v": "s.v"}},
            {"when": "not_matched", "action": "insert"},
            {
                "when": "not_matched_by_source",
                "action": "delete",
                "condition": "d.k = 2",
            },
        ],
    )
    assert _state(spark, t, ("k", "v")) == [(1, "z"), (3, "c"), (4, "d")]
    acts = _commit(t, v)
    info = _commit_info(t, v)
    m = info["operationMetrics"]
    assert (
        m["numTargetRowsInserted"],
        m["numTargetRowsUpdated"],
        m["numTargetRowsDeleted"],
    ) == ("1", "1", "1")
    assert m["numTargetFilesAdded"] == str(sum("add" in a for a in acts))
    assert m["numTargetFilesRemoved"] == str(sum("remove" in a for a in acts))
    assert any("cdc" in a for a in acts) == cdf
    assert info["operationParameters"]["scope"] == "file-general"


def _four_file_table(spark, path):
    from pyspark.sql import functions as F

    dl.write_delta(
        spark,
        spark.range(1000)
        .withColumn("v", (F.col("id") * 10).cast("string"))
        .withColumnRenamed("id", "k")
        .repartitionByRange(4, "k"),
        path,
    )
    assert len(dl.resolve_snapshot(path)["files"]) == 4


def test_merge_job_counts(spark, tmp_path):
    """A 2-row incremental upsert into a 4-file, 1,000-row table (one
    update, one insert) runs 9 jobs: the source's key bounds (3: the
    deduplicating window's shuffle, the aggregate's shuffle, the
    result), the join's shuffle maps (3), the checkpoint job (which
    also yields the touched files and the metrics), the NOT NULL check
    of the written rows (``spark.range`` ids are non-nullable) and one
    write. A general MERGE of the same shape runs 9 too: its
    duplicate-key check (2) replaces the deduplication's shuffles."""
    t = str(tmp_path / "jobs")
    _four_file_table(spark, t)
    src = [(5, "changed"), (5000, "new")]
    assert _jobs_launched(spark, lambda: _upsert(spark, t, src)) == 9
    m = _commit_info(t, dl.resolve_snapshot(t)["version"])["operationMetrics"]
    assert (m["numTargetRowsUpdated"], m["numTargetRowsInserted"]) == ("1", "1")
    assert m["numTargetFilesRemoved"] == "1"
    assert _jobs_launched(
        spark,
        lambda: dl.merge_delta_log(
            spark,
            spark.createDataFrame([(6, "again"), (5001, "new")], KV),
            t,
            keys=["k"],
            clauses=[
                {"when": "matched", "action": "update", "set": {"v": "s.v"}},
                {"when": "not_matched", "action": "insert"},
            ],
        ),
    ) == 9
    assert dl.read_delta(spark, t).count() == 1002


def test_general_merge_releases_blocks_when_invariant_fails(spark, tmp_path):
    t = str(tmp_path / "leak")
    dl.write_delta(
        spark, spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), t
    )
    dl.add_check_constraint(spark, t, "v_pos", "v > 0")
    before = _cached_rdds(spark)
    with pytest.raises(dl.DeltaInvariantViolationError):
        dl.merge_delta_log(
            spark,
            spark.createDataFrame([(1, -1)], "k long, v long"),
            t,
            keys=["k"],
            clauses=[
                {"when": "matched", "action": "update", "set": {"v": "s.v"}}
            ],
        )
    assert _cached_rdds(spark) <= before
    assert _state(spark, t, ("k", "v")) == [(1, 10), (2, 20)]


@pytest.mark.parametrize("form", ["merge", "upsert"])
def test_key_pruning_reads_physical_stats_after_rename_swap(
    spark, tmp_path, form
):
    """File stats are keyed by physical names. After renaming k→t, v→k,
    t→v the logical key ``k`` is stored as physical ``v``, whose file
    ranges are not physical ``k``'s: pruning by the logical name would
    skip the file holding key 1005, so the MERGE would insert it a
    second time instead of updating it."""
    t = str(tmp_path / "swap")
    dl.write_delta(
        spark,
        spark.createDataFrame(
            [(i, 1000 + i) for i in range(40)], "k long, v long"
        ).repartitionByRange(4, "k"),
        t,
    )
    assert len(dl.resolve_snapshot(t)["files"]) == 4
    for old, new in (("k", "t"), ("v", "k"), ("t", "v")):
        dl.rename_column(t, old, new)
    src = [(1005, -1), (5000, -2)]
    df = spark.createDataFrame(src, "k long, v long")
    if form == "merge":
        dl.merge_delta_log(
            spark,
            df,
            t,
            keys=["k"],
            clauses=[
                {"when": "matched", "action": "update", "set": {"v": "s.v"}},
                {"when": "not_matched", "action": "insert"},
            ],
        )
    else:
        dl.upsert_delta_log(spark, df, t, keys=["k"], delete_missing=False)
    expected = {1000 + i: i for i in range(40)}
    expected.update(src)
    assert _state(spark, t, ("k", "v")) == _expect(expected.items())
