"""Optimistic-concurrency rebase for mutations (VERDICT r7 #4).

Losing a commit race used to raise :class:`DeltaConcurrentWriteError`
unconditionally for every non-append transaction. Real Delta writers
re-attempt when the winner's commits provably don't overlap the
loser's read/write set (delta-spark ConflictChecker). These tests pin
the new behavior:

* two MERGEs into DISJOINT key ranges both commit (loser rebases);
* MERGEs into OVERLAPPING ranges still raise;
* DELETE/UPDATE/OPTIMIZE rebase under the same file-disjointness rule;
* a 3-thread live race where every disjoint writer lands.

The deterministic cases stage the race by wrapping ``_commit_version``
so a competitor's full transaction commits between the victim's
snapshot read and its first commit attempt — the exact window the
O_EXCL loop protects.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # heavy battery: excluded from the fast default tier (pytest.ini)

from medallion_delta_lake_spark.sources import delta_log


def _src(spark, rows):
    return spark.createDataFrame(rows, "k int, v int").coalesce(1)


def _rows(spark, path):
    return {(r.k, r.v) for r in delta_log.read_delta(spark, path).collect()}


def _two_file_table(spark, path):
    """File A holds keys 1-5, file B holds keys 101-105 — each append
    is one file, so the logged min/max stats give per-file key ranges
    the conflict check can reason from."""
    delta_log.write_delta(
        spark, _src(spark, [(k, k) for k in range(1, 6)]), path
    )
    delta_log.write_delta(
        spark,
        _src(spark, [(k, k) for k in range(101, 106)]),
        path,
        mode="append",
    )


def _race(monkeypatch, competitor):
    """Make the NEXT transaction lose the commit race to ``competitor``
    (a zero-arg callable running a full transaction), firing exactly
    once, between the victim's snapshot read and its commit attempt."""
    orig = delta_log._commit_version
    state = {"fired": False}

    def racing(path, build, read_version=None):
        if not state["fired"]:
            state["fired"] = True
            monkeypatch.setattr(delta_log, "_commit_version", orig)
            competitor()
            monkeypatch.setattr(delta_log, "_commit_version", racing)
        return orig(path, build, read_version=read_version)

    monkeypatch.setattr(delta_log, "_commit_version", racing)


def test_disjoint_merges_both_commit(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _two_file_table(spark, t)

    _race(
        monkeypatch,
        lambda: delta_log.upsert_delta_log(
            spark,
            _src(spark, [(101, -101), (106, -106)]),
            t,
            keys=["k"],
            delete_missing=False,
        ),
    )
    # victim merges keys 1-2: its file-A write set and [1,2] key range
    # are provably disjoint from the competitor's file-B rewrite
    delta_log.upsert_delta_log(
        spark,
        _src(spark, [(1, -1), (2, -2)]),
        t,
        keys=["k"],
        delete_missing=False,
    )
    got = _rows(spark, t)
    assert (1, -1) in got and (2, -2) in got  # victim's update landed
    assert (101, -101) in got and (106, -106) in got  # competitor's too
    assert (3, 3) in got and (103, 103) in got  # bystanders intact


def test_overlapping_merges_still_raise(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _two_file_table(spark, t)

    _race(
        monkeypatch,
        lambda: delta_log.upsert_delta_log(
            spark,
            _src(spark, [(2, 222)]),
            t,
            keys=["k"],
            delete_missing=False,
        ),
    )
    # victim also writes key range [1,3] — the competitor's new file
    # covers key 2, so the victim's matched/not-matched split is stale
    with pytest.raises(delta_log.DeltaConcurrentWriteError):
        delta_log.upsert_delta_log(
            spark,
            _src(spark, [(1, -1), (3, -3)]),
            t,
            keys=["k"],
            delete_missing=False,
        )
    assert (2, 222) in _rows(spark, t)  # competitor's commit stands


def test_delete_rebases_against_disjoint_merge(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _two_file_table(spark, t)
    _race(
        monkeypatch,
        lambda: delta_log.upsert_delta_log(
            spark,
            _src(spark, [(101, -101)]),
            t,
            keys=["k"],
            delete_missing=False,
        ),
    )
    out = delta_log.delete_delta_log(spark, t, [("k", "<=", 3)])
    assert out["deleted_rows"] == 3
    got = _rows(spark, t)
    assert {(4, 4), (5, 5), (101, -101)} <= got
    assert not any(k <= 3 for k, _ in got)


def test_update_rebases_against_disjoint_merge(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _two_file_table(spark, t)
    _race(
        monkeypatch,
        lambda: delta_log.upsert_delta_log(
            spark,
            _src(spark, [(105, -105)]),
            t,
            keys=["k"],
            delete_missing=False,
        ),
    )
    out = delta_log.update_delta_log(
        spark, t, [("k", "=", 1)], {"v": "v * 10"}
    )
    assert out["updated_rows"] == 1
    got = _rows(spark, t)
    assert (1, 10) in got and (105, -105) in got


def test_update_conflicts_with_overlapping_insert(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "t")
    _two_file_table(spark, t)
    _race(
        monkeypatch,
        lambda: delta_log.upsert_delta_log(
            spark,
            _src(spark, [(1, 999)]),
            t,
            keys=["k"],
            delete_missing=False,
        ),
    )
    with pytest.raises(delta_log.DeltaConcurrentWriteError):
        delta_log.update_delta_log(
            spark, t, [("k", "=", 1)], {"v": "v * 10"}
        )


def test_optimize_rebases_past_concurrent_append(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "t")
    _two_file_table(spark, t)
    _race(
        monkeypatch,
        lambda: delta_log.write_delta(
            spark,
            _src(spark, [(200, 200)]),
            t,
            mode="append",
        ),
    )
    out = delta_log.optimize_delta_log(spark, t)
    assert out["files_compacted"] >= 2
    assert (200, 200) in _rows(spark, t)  # the append survived


def test_three_thread_disjoint_merges_all_commit(spark, tmp_path):
    """Live race: 3 threads MERGE disjoint key ranges concurrently.
    Every writer must land (losers rebase); the final table is the
    union of all three updates."""
    import threading

    t = str(tmp_path / "t")
    delta_log.write_delta(
        spark, _src(spark, [(k, k) for k in range(1, 4)]), t
    )
    delta_log.write_delta(
        spark,
        _src(spark, [(k, k) for k in range(101, 104)]),
        t,
        mode="append",
    )
    delta_log.write_delta(
        spark,
        _src(spark, [(k, k) for k in range(201, 204)]),
        t,
        mode="append",
    )

    errors = []
    barrier = threading.Barrier(3)

    def worker(lo):
        try:
            barrier.wait()
            delta_log.upsert_delta_log(
                spark,
                _src(spark, [(lo, -lo), (lo + 1, -(lo + 1))]),
                t,
                keys=["k"],
                delete_missing=False,
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=worker, args=(lo,))
        for lo in (1, 101, 201)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    got = _rows(spark, t)
    for lo in (1, 101, 201):
        assert (lo, -lo) in got and (lo + 1, -(lo + 1)) in got
        assert (lo + 2, lo + 2) in got  # untouched bystander rows


def test_general_merge_rebase_and_conflict(spark, tmp_path, monkeypatch):
    """Clause-aware general-MERGE rebase: an update-only MERGE over a
    disjoint key range rebases past a concurrent disjoint merge; the
    SAME race with a by-source clause (which reads every target row)
    still raises."""
    upd_only = [
        {"when": "matched", "action": "update", "set": {"v": "s.v"}},
    ]
    t = str(tmp_path / "t")
    _two_file_table(spark, t)
    _race(
        monkeypatch,
        lambda: delta_log.upsert_delta_log(
            spark,
            _src(spark, [(101, -101)]),
            t,
            keys=["k"],
            delete_missing=False,
        ),
    )
    delta_log.merge_delta_log(
        spark, _src(spark, [(1, -1)]), t, keys=["k"], clauses=upd_only
    )
    got = _rows(spark, t)
    assert (1, -1) in got and (101, -101) in got

    t2 = str(tmp_path / "t2")
    _two_file_table(spark, t2)
    _race(
        monkeypatch,
        lambda: delta_log.upsert_delta_log(
            spark,
            _src(spark, [(101, -101)]),
            t2,
            keys=["k"],
            delete_missing=False,
        ),
    )
    with pytest.raises(delta_log.DeltaConcurrentWriteError):
        delta_log.merge_delta_log(
            spark,
            _src(spark, [(1, -1)]),
            t2,
            keys=["k"],
            clauses=upd_only
            + [{"when": "not_matched_by_source", "action": "delete",
                "condition": "d.k > 1000"}],
        )


def test_sync_upsert_rebases_only_past_file_free_commits(
    spark, tmp_path, monkeypatch
):
    """delete_missing sync reads every live file: a concurrent
    file-touching merge raises, a commitInfo-only interloper (e.g. a
    no-change merge) rebases."""
    t = str(tmp_path / "t")
    _two_file_table(spark, t)
    # no-change incremental merge commits commitInfo-only
    _race(
        monkeypatch,
        lambda: delta_log.upsert_delta_log(
            spark,
            _src(spark, [(999, 999)]),
            t,
            keys=["k"],
            delete_missing=False,
        ),
    )
    # interloper ADDED a file (insert of key 999) → sync must raise
    with pytest.raises(delta_log.DeltaConcurrentWriteError):
        delta_log.upsert_delta_log(
            spark,
            _src(spark, [(k, k) for k in range(1, 6)]),
            t,
            keys=["k"],
            delete_missing=True,
        )


def _swapped_table(spark, path):
    """``_two_file_table`` after renaming k→t, v→k, t→v: logical ``k``
    is now stored as physical ``v`` (and logical ``v`` as physical
    ``k``), so file stats name the other logical column."""
    _two_file_table(spark, path)
    for old, new in (("k", "t"), ("v", "k"), ("t", "v")):
        delta_log.rename_column(path, old, new)


def _append_logical_k2(spark, path):
    """Commit logical (k=2, v=500): its stats read
    ``minValues {"v": 2, "k": 500}`` under the physical names."""
    delta_log.write_delta(
        spark, _src(spark, [(2, 500)]), path, mode="append"
    )


def test_delete_rebase_reads_physical_stats_after_rename_swap(
    spark, tmp_path, monkeypatch
):
    """The interloper's file holds logical k=2, inside ``k <= 3``.
    Judging it under the logical name would read physical ``k``'s
    range (500) and rebase past it, leaving k=2 alive after a DELETE
    committed later."""
    t = str(tmp_path / "t")
    _swapped_table(spark, t)
    _race(monkeypatch, lambda: _append_logical_k2(spark, t))
    with pytest.raises(delta_log.DeltaConcurrentWriteError):
        delta_log.delete_delta_log(spark, t, [("k", "<=", 3)])
    assert (2, 500) in _rows(spark, t)  # the append's commit stands


def test_update_rebase_reads_physical_stats_after_rename_swap(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "t")
    _swapped_table(spark, t)
    _race(monkeypatch, lambda: _append_logical_k2(spark, t))
    with pytest.raises(delta_log.DeltaConcurrentWriteError):
        delta_log.update_delta_log(
            spark, t, [("k", "<=", 3)], {"v": "v * 10"}
        )
    assert (2, 500) in _rows(spark, t)
