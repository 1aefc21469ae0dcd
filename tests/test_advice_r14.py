"""ADVICE r13 fixes, pinned:

1. (medium) a snapshot-default ``readChangeFeed`` stream over a log
   whose covered commit JSONs were CLEANED (checkpoint-v2 cleanup /
   post-compaction removal) resolves the snapshot's
   ``_commit_timestamp`` from the covering checkpoint or compaction
   artifact instead of crashing ``FileNotFoundError`` on the first
   batch (``delta_log._commit_timestamp`` fallback chain).
3. (low) ``test_bench_sees_full_registry`` now asserts on bench.py's
   MECHANISM (subprocess registry count + AST import-ladder lint) —
   that fix lives in tests/test_schema_lint.py.
4. (low) the CDF logical-name fallback fires only for files carrying
   no physical-name MARKER: after ``rename_column(v → amount)`` +
   ``add_column(v)``, a physically-named pre-rename cdc file missing
   new-``v``'s physical column reads NULL for ``v`` — not the old
   ``amount`` bytes under their stale physical name — in BOTH batch
   ``table_changes`` and the streaming source.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from medallion_delta_lake_spark.sources import delta_log as dl
from medallion_delta_lake_spark.sources import python_datasource as pds

import pytest

pytestmark = pytest.mark.slow  # heavy battery: excluded from the fast default tier (pytest.ini)


def _feed_all(spark, path: str, name: str, starting: int | None = None):
    r = (
        spark.readStream.format(pds.FORMAT_NAME)
        .option("path", path)
        .option("readChangeFeed", "true")
    )
    if starting is not None:
        r = r.option("startingVersion", str(starting))
    q = (
        r.load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _two_commit_table(spark, p: str) -> None:
    dl.write_delta(
        spark,
        spark.range(6)
        .select("id", (F.col("id") * 10).alias("v"))
        .coalesce(1),
        p,
        mode="overwrite",
    )
    dl.write_delta(
        spark,
        spark.range(6, 9)
        .select("id", (F.col("id") * 10).alias("v"))
        .coalesce(1),
        p,
        mode="append",
    )


def test_stream_cdf_default_on_cleaned_log(spark, tmp_path):
    """The ADVICE r13 medium: checkpoint at the head, clean every
    commit JSON (the engine's commit loop and resolve_snapshot both
    support such logs), then start a default (no startingVersion)
    change-feed stream — the first batch must emit the snapshot with
    a NON-NULL timestamp, not crash in _commit_timestamp."""
    pds.register(spark)
    p = str(tmp_path / "t")
    _two_commit_table(spark, p)
    dl.write_checkpoint(p)
    log = os.path.join(p, "_delta_log")
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))

    out = _feed_all(spark, p, "cdf_" + uuid.uuid4().hex[:8])
    rows = out.collect()
    assert len(rows) == 9
    assert {r["_change_type"] for r in rows} == {"insert"}
    assert {r["_commit_version"] for r in rows} == {1}
    assert all(r["_commit_timestamp"] is not None for r in rows)


def test_commit_timestamp_fallback_chain(spark, tmp_path):
    """_commit_timestamp on a cleaned commit: checkpoint mtime when a
    checkpoint sits at exactly that version, else the narrowest
    covering compaction file's mtime, else a clear error."""
    p = str(tmp_path / "t")
    _two_commit_table(spark, p)
    dl.write_log_compaction(p, 0, 1)
    dl.write_checkpoint(p)
    log = os.path.join(p, "_delta_log")
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))

    # v1: checkpointed at exactly 1 → checkpoint-file mtime
    ts1 = dl._commit_timestamp(log, 1)
    assert isinstance(ts1, float) and ts1 > 0
    # v0: no checkpoint at 0, but compaction [0,1] covers it
    ts0 = dl._commit_timestamp(log, 0)
    assert isinstance(ts0, float) and 0 < ts0 <= ts1
    # an uncovered cleaned version still raises (never silently 0)
    try:
        dl._commit_timestamp(log, 7)
    except FileNotFoundError:
        pass
    else:  # pragma: no cover - regression path
        raise AssertionError("uncovered version must raise")


def _rename_readd_table(spark, p: str) -> int:
    """(k, v) table → CDF + name-mapping → UPDATE (cdc file written
    with physical names, including physicalName 'v' for the column
    about to be renamed) → rename v→amount → add a NEW column v.
    Returns the UPDATE's commit version."""
    dl.write_delta(
        spark,
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
        .coalesce(1),
        p,
        mode="overwrite",
    )
    dl.set_table_properties(p, {"delta.enableChangeDataFeed": "true"})
    dl.enable_column_mapping(p)
    upd = dl.update_delta_log(
        spark, p, [("k", "=", 1)], {"v": "v + 5"}
    )
    dl.rename_column(p, "v", "amount")
    dl.add_column(p, "v", "int")
    return upd["version"]


def test_batch_cdc_commit_era_binding_after_rename_readd(
    spark, tmp_path
):
    """Batch ``table_changes`` decodes each commit against its OWN
    metaData (documented contract): the UPDATE commit predates the
    rename, so its frame carries the commit-era logical column ``v``
    bound through the commit-era mapping (physical 'v') — real
    values, no misbind, and no leak of the post-rename schema."""
    p = str(tmp_path / "t")
    upd_v = _rename_readd_table(spark, p)
    ch = dl.table_changes(spark, p, upd_v, upd_v)
    assert "v" in ch.columns and "amount" not in ch.columns
    rows = {
        (r["k"], r["_change_type"]): r
        for r in ch.collect()
    }
    assert set(rows) >= {
        (1, "update_preimage"),
        (1, "update_postimage"),
    }
    assert rows[(1, "update_preimage")]["v"] == 10
    assert rows[(1, "update_postimage")]["v"] == 15


def test_stream_cdc_no_logical_misbind_after_rename_readd(
    spark, tmp_path
):
    """Same corner through the streaming source: batch and stream
    must agree that the re-added v has no data in old cdc files."""
    pds.register(spark)
    p = str(tmp_path / "t")
    upd_v = _rename_readd_table(spark, p)
    out = _feed_all(
        spark, p, "cdf_" + uuid.uuid4().hex[:8], starting=upd_v
    )
    rows = [
        r
        for r in out.collect()
        if r["_commit_version"] == upd_v
        and r["_change_type"].startswith("update_")
    ]
    assert len(rows) == 2
    assert {r["amount"] for r in rows} == {10, 15}
    assert all(r["v"] is None for r in rows)
