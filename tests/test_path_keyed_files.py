"""Data files keyed by their add action's table-relative path, and the
one-pass full-source sync MERGE.

One Spark task writing a hive table into several partitions gives every
partition directory the same data-file basename; ``convert_to_delta``
of such a table is the benchmark's seed layout. DELETE (deletion
vectors), general MERGE, UPDATE, both upsert forms and row-tracking
reads must all work on it, on timestamp partition values (``:`` and a
space in the directory name) and through another spelling of the table
root. Each result is compared with an expected state built in plain
Python. The sync MERGE's edge cases (a key held twice by the target, an
empty source, a target with no files, a NULL key, a changed partition
value), its ``operationMetrics``, its Spark job count and the release
of its materialized join are pinned here too, as are the
``operationMetrics`` of WRITE, DELETE, UPDATE and OPTIMIZE commits
and the job counts of the first three.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import uuid

import pyarrow.parquet as pq
import pytest

from medallion_delta_lake_spark.plans.queries_r18 import fold_changes
from medallion_delta_lake_spark.sources import delta_log as dl

SCHEMA = "id long, p string, v long"
BASE = [(i, f"p{i % 3}", i * 10) for i in range(24)]


def _one_task_hive_table(spark, path, rows, schema, parts):
    """Write ``rows`` as ONE task into hive partitions, then convert
    it: every partition directory holds the same basename."""
    spark.createDataFrame(rows, schema).coalesce(1).write.partitionBy(
        *parts
    ).parquet(path)
    dl.convert_to_delta(spark, path, partition_by=parts)
    rels = list(dl.resolve_snapshot(path)["files"])
    assert len(rels) > 1
    assert len({os.path.basename(r) for r in rels}) == 1, rels


def _state(spark, path, cols=("id", "p", "v")):
    return sorted(
        map(tuple, dl.read_delta(spark, path).select(*cols).collect()),
        key=repr,
    )


def _expect(rows):
    return sorted(rows, key=repr)


def _cached_rdds(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos))}


def _commit(path, version) -> list[dict]:
    log = os.path.join(path, "_delta_log", f"{version:020d}.json")
    with open(log) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _commit_info(path, version) -> dict:
    return next(
        a["commitInfo"] for a in _commit(path, version) if "commitInfo" in a
    )


@pytest.fixture
def shared_basenames(spark, tmp_path):
    t = str(tmp_path / "seed")
    _one_task_hive_table(spark, t, BASE, SCHEMA, ["p"])
    return t


def test_delete_with_deletion_vectors(spark, shared_basenames):
    t = shared_basenames
    res = dl.delete_delta_log(spark, t, [("id", "=", 4)])
    assert res["deleted_rows"] == 1 and res["files_with_new_dv"] == 1
    # a second delete reaching every partition, DVs merged with the first
    res = dl.delete_delta_log(spark, t, [("v", ">=", 150)])
    assert res["deleted_rows"] == 9
    assert _state(spark, t) == _expect(
        r for r in BASE if r[0] != 4 and r[2] < 150
    )


def test_general_merge(spark, shared_basenames):
    t = shared_basenames
    src = spark.createDataFrame([(1, "p1", 999), (100, "p0", 5)], SCHEMA)
    dl.merge_delta_log(
        spark,
        src,
        t,
        ["id"],
        [
            {"when": "matched", "action": "update", "set": {"v": "s.v"}},
            {
                "when": "not_matched",
                "action": "insert",
                "values": {c: f"s.{c}" for c in ("id", "p", "v")},
            },
        ],
    )
    expect = [(i, p, 999 if i == 1 else v) for i, p, v in BASE]
    assert _state(spark, t) == _expect(expect + [(100, "p0", 5)])


def test_update(spark, shared_basenames):
    t = shared_basenames
    res = dl.update_delta_log(spark, t, [("id", "<", 3)], {"v": "v + 1"})
    assert res["updated_rows"] == 3 and res["files_rewritten"] == 3
    assert _state(spark, t) == _expect(
        (i, p, v + 1 if i < 3 else v) for i, p, v in BASE
    )


@pytest.mark.parametrize("delete_missing", [True, False])
def test_upsert(spark, shared_basenames, delete_missing):
    t = shared_basenames
    rows = [
        (i, p, -1 if i == 5 else v) for i, p, v in BASE if i != 7
    ] + [(200, "p2", 1)]
    src = rows if delete_missing else [(5, "p2", -1), (200, "p2", 1)]
    v = dl.upsert_delta_log(
        spark,
        spark.createDataFrame(src, SCHEMA),
        t,
        keys=["id"],
        delete_missing=delete_missing,
    )
    info = _commit_info(t, v)
    assert info["operationParameters"]["scope"] == (
        "file-sync" if delete_missing else "file"
    )
    expect = rows if delete_missing else rows + [(7, "p1", 70)]
    assert _state(spark, t) == _expect(expect)
    removed = [a["remove"]["path"] for a in _commit(t, v) if "remove" in a]
    # only the files holding id 5 (p2) and, for the sync, id 7 (p1)
    assert sorted(os.path.dirname(r) for r in removed) == (
        ["p=p1", "p=p2"] if delete_missing else ["p=p2"]
    )


def test_row_ids_after_enable_row_tracking(spark, shared_basenames):
    t = shared_basenames
    dl.enable_row_tracking(t)
    snap = dl.resolve_snapshot(t)
    expect = {}
    for rel, add in snap["files"].items():
        ids = pq.read_table(os.path.join(t, rel), columns=["id"])["id"]
        for pos, i in enumerate(ids.to_pylist()):
            expect[i] = add["baseRowId"] + pos
    got = {
        r["id"]: r["_row_id"]
        for r in dl.read_delta_row_ids(spark, t).collect()
    }
    assert got == expect
    assert sorted(got.values()) == list(range(len(BASE)))


def test_timestamp_partition_values(spark, tmp_path):
    """Partition directories ``ts=2024-01-01 00%3A30%3A00``: the
    partitionValues are unescaped, reads, DELETE and sync MERGE work."""
    t = str(tmp_path / "ts")
    stamps = [dt.datetime(2024, 1, 1, h, 30) for h in (0, 7, 13)]
    rows = [(i, stamps[i % 3], i * 10) for i in range(12)]
    schema = "id long, ts timestamp, v long"
    _one_task_hive_table(spark, t, rows, schema, ["ts"])
    pvs = {
        a["partitionValues"]["ts"]
        for a in dl.resolve_snapshot(t)["files"].values()
    }
    assert pvs == {"2024-01-01 00:30:00", "2024-01-01 07:30:00", "2024-01-01 13:30:00"}
    cols = ("id", "ts", "v")
    assert _state(spark, t, cols) == _expect(rows)

    dl.delete_delta_log(spark, t, [("id", "=", 3)])
    rows = [r for r in rows if r[0] != 3]
    assert _state(spark, t, cols) == _expect(rows)

    rows = [(i, ts, -v if i == 4 else v) for i, ts, v in rows if i != 8]
    dl.upsert_delta_log(
        spark, spark.createDataFrame(rows, schema), t, keys=["id"]
    )
    assert _state(spark, t, cols) == _expect(rows)


@pytest.mark.parametrize("spelling", ["trailing-slash", "symlink"])
def test_other_root_spelling(spark, tmp_path, spelling):
    t = str(tmp_path / "seed")
    _one_task_hive_table(spark, t, BASE, SCHEMA, ["p"])
    if spelling == "symlink":
        alias = str(tmp_path / "alias")
        os.symlink(t, alias)
    else:
        alias = t + "/"
    dl.delete_delta_log(spark, alias, [("id", "=", 4)])
    rows = [(i, p, -v if i == 5 else v) for i, p, v in BASE if i not in (4, 7)]
    dl.upsert_delta_log(
        spark, spark.createDataFrame(rows, SCHEMA), alias, keys=["id"]
    )
    dl.enable_row_tracking(alias)
    ids = [r["_row_id"] for r in dl.read_delta_row_ids(spark, alias).collect()]
    assert len(ids) == len(set(ids)) == len(rows)
    assert _state(spark, alias) == _state(spark, t) == _expect(rows)


# ---------------------------------------------------------------------
# one-pass sync MERGE: edge cases, metrics, jobs, released blocks

KV = "k long, v string"


def _sync(spark, path, rows, schema=KV, keys=("k",)):
    return dl.upsert_delta_log(
        spark, spark.createDataFrame(rows, schema), path, keys=list(keys)
    )


@pytest.mark.parametrize("changed", [False, True])
def test_sync_target_key_held_twice(spark, tmp_path, changed):
    t = str(tmp_path / "dup")
    dl.write_delta(spark, spark.createDataFrame([(1, "a"), (2, "b")], KV), t)
    dl.write_delta(spark, spark.createDataFrame([(1, "a")], KV), t)
    rows = [(1, "z" if changed else "a"), (2, "b")]
    v = _sync(spark, t, rows)
    assert _state(spark, t, ("k", "v")) == _expect(rows)
    m = _commit_info(t, v)["operationMetrics"]
    assert m["numTargetRowsDeleted"] == "1"  # the second copy
    assert m["numTargetRowsUpdated"] == ("1" if changed else "0")


def test_sync_empty_source_then_target_without_files(spark, tmp_path):
    t = str(tmp_path / "empty")
    dl.write_delta(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], KV).repartition(2), t
    )
    v = _sync(spark, t, [])
    assert dl.resolve_snapshot(t)["files"] == {}
    assert _state(spark, t, ("k", "v")) == []
    m = _commit_info(t, v)["operationMetrics"]
    assert (m["numTargetRowsDeleted"], m["numTargetFilesAdded"]) == ("2", "0")
    # the target now has no files at all: everything is an insert
    v = _sync(spark, t, [(3, "c")])
    assert _state(spark, t, ("k", "v")) == [(3, "c")]
    assert _commit_info(t, v)["operationMetrics"]["numTargetRowsInserted"] == "1"


def test_sync_null_key(spark, tmp_path):
    t = str(tmp_path / "nullkey")
    dl.write_delta(spark, spark.createDataFrame([(None, "x"), (1, "a")], KV), t)
    rows = [(None, "y"), (1, "a")]
    _sync(spark, t, rows)
    assert _state(spark, t, ("k", "v")) == _expect(rows)


def test_sync_partition_value_change(spark, tmp_path):
    t = str(tmp_path / "moved")
    schema = "k long, p string, v string"
    dl.write_delta(
        spark,
        spark.createDataFrame([(1, "p0", "a"), (2, "p1", "b")], schema),
        t,
        partition_by=["p"],
    )
    rows = [(1, "p1", "a"), (2, "p1", "b")]
    v = _sync(spark, t, rows, schema)
    assert _state(spark, t, ("k", "p", "v")) == _expect(rows)
    acts = _commit(t, v)
    assert [os.path.dirname(a["remove"]["path"]) for a in acts if "remove" in a] == ["p=p0"]
    assert [os.path.dirname(a["add"]["path"]) for a in acts if "add" in a] == ["p=p1"]
    assert not any(
        a["partitionValues"]["p"] == "p0"
        for a in dl.resolve_snapshot(t)["files"].values()
    )


def test_sync_merge_operation_metrics(spark, tmp_path):
    """1 update + 1 delete + 1 insert against a ~10-file table."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "metrics")
    base = (
        spark.range(200)
        .withColumn("v", F.col("id") * 10)
        .repartitionByRange(10, "id")
    )
    dl.write_delta(spark, base, t, mode="overwrite")
    rows = [(i, 999 if i == 7 else i * 10) for i in range(200) if i != 150]
    v = dl.upsert_delta_log(
        spark,
        spark.createDataFrame(rows + [(1000, 1)], "id long, v long"),
        t,
        keys=["id"],
    )
    acts = _commit(t, v)
    adds = [a["add"] for a in acts if "add" in a]
    m = dl.table_history(t)[0]["operationMetrics"]
    assert {k: m[k] for k in m if k != "executionTimeMs"} == {
        "numTargetRowsInserted": "1",
        "numTargetRowsUpdated": "1",
        "numTargetRowsDeleted": "1",
        "numTargetFilesAdded": str(len(adds)),
        "numTargetFilesRemoved": str(sum("remove" in a for a in acts)),
        "numOutputRows": str(
            sum(json.loads(a["stats"])["numRecords"] for a in adds)
        ),
    }
    assert int(m["executionTimeMs"]) > 0
    assert _commit_info(t, v)["operationParameters"]["scope"] == "file-sync"


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted under a job group of its own
    (a fence job in another group makes the asynchronous tracker catch
    up; the same counting as tests/test_schema_memo.py)."""
    sc = spark.sparkContext
    group = f"sync-merge-{uuid.uuid4().hex}"
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


def test_sync_merge_jobs_and_released_blocks(spark, tmp_path, monkeypatch):
    """The join is computed once: its two shuffle-map jobs and the
    checkpoint job, which also yields the touched files and the
    metrics. The write is one job: 4 in all, 3 when nothing needs
    staging — the classification and the metrics add no job. No block
    of the checkpoint outlives the upsert, including one that raises
    while staging."""
    t = str(tmp_path / "jobs")
    dl.write_delta(spark, spark.createDataFrame([(1, "a"), (2, "b")], KV), t)
    before = _cached_rdds(spark)
    assert _jobs_launched(spark, lambda: _sync(spark, t, [(1, "a"), (2, "c")])) == 4
    assert _jobs_launched(spark, lambda: _sync(spark, t, [(1, "a"), (2, "c")])) == 3
    assert _cached_rdds(spark) <= before
    assert "operationMetrics" in _commit_info(t, dl.resolve_snapshot(t)["version"])

    def boom(*_a, **_k):
        raise RuntimeError("staging failed")

    monkeypatch.setattr(dl, "_stage_physical", boom)
    with pytest.raises(RuntimeError, match="staging failed"):
        _sync(spark, t, [(1, "x")])
    assert _cached_rdds(spark) <= before
    assert _state(spark, t, ("k", "v")) == [(1, "a"), (2, "c")]


def test_dml_operation_metrics_add_no_job(spark, shared_basenames):
    """WRITE, DELETE, UPDATE and OPTIMIZE commits carry Delta-named
    ``operationMetrics``, taken from what each op already holds: the
    staged adds' ``numRecords`` and ``size`` and the counts it
    collected. They add no Spark job: an append is still one job, a
    one-file deletion-vector DELETE five, a DELETE that removes,
    rewrites and deletion-vectors files eight, an UPDATE five."""
    t = shared_basenames

    def metrics():
        m = dict(dl.table_history(t)[0]["operationMetrics"])
        assert int(m.pop("executionTimeMs")) >= 0
        return m

    def commit_adds():
        return [
            a["add"]
            for a in _commit(t, dl.resolve_snapshot(t)["version"])
            if "add" in a
        ]

    rows = spark.createDataFrame([(100, "p1", 5), (101, "p2", 6)], SCHEMA)
    write = lambda: dl.write_delta(spark, rows.coalesce(1), t)  # noqa: E731
    assert _jobs_launched(spark, write) == 1
    adds = commit_adds()
    assert metrics() == {
        "numFiles": "2",
        "numOutputRows": "2",
        "numOutputBytes": str(sum(a["size"] for a in adds)),
    }

    res = {}
    dv = lambda: res.update(dl.delete_delta_log(spark, t, [("id", "=", 4)]))  # noqa: E731
    assert _jobs_launched(spark, dv) == 5
    assert metrics() == {
        "numRemovedFiles": "0",
        "numAddedFiles": "0",
        "numDeletedRows": "1",
        "numDeletionVectorsAdded": "1",
    }

    mixed = lambda: res.update(dl.delete_delta_log(spark, t, [("v", "<", 200)]))  # noqa: E731
    assert _jobs_launched(spark, mixed) == 8
    assert res["files_removed"] and res["files_rewritten"] and res["files_with_new_dv"]
    rewritten = [a for a in commit_adds() if not a.get("deletionVector")]
    assert metrics() == {
        "numRemovedFiles": str(res["files_removed"] + res["files_rewritten"]),
        "numAddedFiles": str(len(rewritten)),
        "numDeletedRows": str(res["deleted_rows"]),
        "numDeletionVectorsAdded": str(res["files_with_new_dv"]),
    }

    update = lambda: res.update(  # noqa: E731
        dl.update_delta_log(spark, t, [("id", ">", 20)], {"v": "v + 1"})
    )
    assert _jobs_launched(spark, update) == 5
    assert metrics() == {
        "numUpdatedRows": str(res["updated_rows"]),
        "numAddedFiles": str(len(commit_adds())),
        "numRemovedFiles": str(res["files_rewritten"]),
    }

    before = dl.resolve_snapshot(t)["files"]
    res = dl.optimize_delta_log(spark, t, zorder_by=["id"])
    adds = commit_adds()
    assert metrics() == {
        "numRemovedFiles": str(res["files_compacted"]),
        "numAddedFiles": str(res["files_written"]),
        "numRemovedBytes": str(sum(a["size"] for a in before.values())),
        "numAddedBytes": str(sum(a["size"] for a in adds)),
    }
    assert [h["operation"] for h in dl.table_history(t)[:5]] == [
        "OPTIMIZE", "UPDATE", "DELETE", "DELETE", "WRITE"
    ]


# ---------------------------------------------------------------------
# stream-cdf-replica's latest-wins fold


def test_fold_changes_ignores_partitioning(spark, tmp_path):
    """Two changes to one event_id in one commit version: the replica
    is the same however the feed is partitioned."""
    schema = "event_id long, event_type string, cents long"
    feed = [
        (1, "a", 10, "insert", 1),
        (1, "b", 20, "insert", 1),  # same key, same version
        (2, "a", 30, "update_postimage", 1),
        (2, "a", 30, "delete", 2),
        (2, "c", 40, "insert", 2),  # delete + insert in one version
        (3, "a", 50, "update_preimage", 2),
        (3, "a", 60, "update_postimage", 2),
        (4, "a", 70, "update_postimage", 1),
        (4, "a", 70, "delete", 2),
    ]
    feed_schema = f"{schema}, _change_type string, _commit_version long"
    cols = ["event_id", "event_type", "cents"]
    states = []
    for n, order in ((1, feed), (4, feed[::-1]), (3, feed[3:] + feed[:3])):
        rep = str(tmp_path / f"replica{n}")
        dl.write_delta(
            spark,
            spark.createDataFrame([(2, "z", 2), (4, "z", 1), (9, "q", 9)], schema),
            rep,
        )
        batch = spark.createDataFrame(order, feed_schema).repartition(n)
        fold_changes(spark, batch, rep, "event_id", cols)
        states.append(_state(spark, rep, cols))
    assert states[0] == states[1] == states[2] == [
        (1, "b", 20),
        (2, "c", 40),
        (3, "a", 60),
        (9, "q", 9),
    ]
