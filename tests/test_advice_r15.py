"""ADVICE r14 fix, pinned:

1. (low) ``delta_log._commit_timestamp``'s cleaned-commit fallback
   (checkpoint/compaction artifact mtime) is clamped to the next
   RETAINED commit's own timestamp: an artifact written while newer
   commits already exist no longer stamps its covered versions with
   a time LATER than version+k's commitInfo.timestamp, so CDF rows
   can't carry decreasing ``_commit_timestamp`` across increasing
   ``_commit_version``.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from medallion_delta_lake_spark.sources import delta_log as dl

import pytest

pytestmark = pytest.mark.slow  # heavy battery: excluded from the fast default tier (pytest.ini)


def _three_commit_table(spark, p: str) -> None:
    for i, mode in ((0, "overwrite"), (1, "append"), (2, "append")):
        dl.write_delta(
            spark,
            spark.range(3 * i, 3 * i + 3)
            .select("id", (F.col("id") * 10).alias("v"))
            .coalesce(1),
            p,
            mode=mode,
        )


def test_cleaned_fallback_clamped_to_next_retained(spark, tmp_path):
    """ADVICE r14 #1: compaction [0,1] written AFTER v2 exists, with
    its mtime forced far past v2's commit time, then v0/v1 JSONs
    cleaned — the fallback for v0/v1 must clamp to v2's timestamp so
    the sequence ts(v0) <= ts(v1) <= ts(v2) stays non-decreasing."""
    p = str(tmp_path / "t")
    _three_commit_table(spark, p)
    log = os.path.join(p, "_delta_log")
    dl.write_log_compaction(p, 0, 1)
    comp = os.path.join(log, f"{0:020d}.{1:020d}.compacted.json")
    ts2 = dl._commit_timestamp(log, 2)
    # simulate late housekeeping: artifact mtime an hour after v2
    os.utime(comp, (ts2 + 3600, ts2 + 3600))
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))

    ts0 = dl._commit_timestamp(log, 0)
    ts1 = dl._commit_timestamp(log, 1)
    assert ts0 <= ts1 <= ts2, (ts0, ts1, ts2)
    # and the clamp bound is the NEXT RETAINED commit's time exactly
    # (the artifact mtime was deliberately later)
    assert ts1 == ts2

    # a cleaned version that is the NEWEST retained state (no later
    # JSON) keeps the raw artifact mtime — nothing to stay below
    dl.write_checkpoint(p)
    os.remove(os.path.join(log, f"{2:020d}.json"))
    ts2b = dl._commit_timestamp(log, 2)
    assert ts2b >= ts1


def test_cleaned_fallback_monotone_property(spark, tmp_path):
    """Property form of the ADVICE r14 #1 clamp: for ANY subset of
    cleaned commit JSONs and ANY forward drift of the covering
    artifacts' mtimes (housekeeping always runs at-or-after the
    commits it covers), the resolvable ``_commit_timestamp`` sequence
    stays non-decreasing in version. The staged log has 4 commits,
    compactions [0,1] and [0,2], and a checkpoint at the head —
    overlapping artifacts on purpose (narrowest-cover selection +
    clamp must agree)."""
    import shutil

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    p = str(tmp_path / "t")
    for i, mode in (
        (0, "overwrite"),
        (1, "append"),
        (2, "append"),
        (3, "append"),
    ):
        dl.write_delta(
            spark,
            spark.range(3 * i, 3 * i + 3)
            .select("id", (F.col("id") * 10).alias("v"))
            .coalesce(1),
            p,
            mode=mode,
        )
    dl.write_log_compaction(p, 0, 1)
    dl.write_log_compaction(p, 0, 2)
    dl.write_checkpoint(p)
    log = os.path.join(p, "_delta_log")

    artifacts = [
        n
        for n in os.listdir(log)
        if "compacted" in n or "checkpoint" in n
    ]
    assert len(artifacts) >= 3

    @settings(
        max_examples=20,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        cleaned=st.sets(st.integers(0, 2)),
        bumps=st.lists(
            st.integers(0, 7200), min_size=3, max_size=8
        ),
    )
    def run(cleaned, bumps):
        scratch = os.path.join(
            str(tmp_path), f"log_{len(cleaned)}_{sum(bumps)}"
        )
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.copytree(log, scratch)
        for i, name in enumerate(sorted(artifacts)):
            f = os.path.join(scratch, name)
            m = os.path.getmtime(f) + bumps[i % len(bumps)]
            os.utime(f, (m, m))
        for v in cleaned:
            os.remove(os.path.join(scratch, f"{v:020d}.json"))
        seq = []
        for v in range(4):
            try:
                seq.append((v, dl._commit_timestamp(scratch, v)))
            except FileNotFoundError:
                continue  # uncovered cleaned version — raising is OK
        ts = [t for _, t in seq]
        assert ts == sorted(ts), (cleaned, seq)

    run()
