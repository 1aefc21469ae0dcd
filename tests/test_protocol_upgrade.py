"""One protocol-upgrade rule for every feature the log engine adopts.

``delta_log._upgrade_protocol(proto, features)`` returns the protocol
action that adds ``features`` to ``proto``, or None when ``proto``
already supports them. The matrix below checks it without Spark over
legacy and table-features start protocols and every feature the engine
adopts: the result supports everything the start protocol supported
plus the request, it is a valid protocol, and it is None exactly when
nothing was missing. ``supported`` is restated here from PROTOCOL.md,
independently of the engine.

The end-to-end tests run the operations that used to drop a table's
features (a deletion-vector DELETE after column mapping or a CHECK
constraint, a v2 checkpoint and a type widening on a column-mapped
table) and the table properties that turn a feature on, then read the
rows back.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from medallion_delta_lake_spark.sources import delta_log as dl

# PROTOCOL.md: the features each legacy writer version adds
LEGACY_WRITER = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}
# reader-writer features: a reader must know them too
READER_WRITER = {
    "columnMapping",
    "deletionVectors",
    "timestampNtz",
    "typeWidening",
    "v2Checkpoint",
    "variantType",
    "vacuumProtocolCheck",
}


def supported(proto: dict) -> tuple[set[str], set[str]]:
    rv, wv = proto["minReaderVersion"], proto["minWriterVersion"]
    if rv >= 3:
        reader = set(proto.get("readerFeatures", []))
    else:
        reader = {"columnMapping"} if rv == 2 else set()
    if wv >= 7:
        writer = set(proto.get("writerFeatures", []))
    else:
        writer = set().union(*(LEGACY_WRITER[v] for v in range(2, wv + 1)))
    return reader, writer


def _proto(rv, wv, rf=None, wf=None):
    out = {"minReaderVersion": rv, "minWriterVersion": wv}
    if rf is not None:
        out["readerFeatures"] = rf
    if wf is not None:
        out["writerFeatures"] = wf
    return out


START = {
    "1-2": _proto(1, 2),
    "1-3": _proto(1, 3),
    "1-4": _proto(1, 4),
    "2-5": _proto(2, 5),
    "1-6": _proto(1, 6),
    "1-7": _proto(1, 7, wf=["appendOnly", "invariants", "rowTracking"]),
    "3-7": _proto(
        3,
        7,
        rf=["columnMapping", "deletionVectors"],
        wf=["appendOnly", "columnMapping", "deletionVectors", "invariants"],
    ),
}

# every feature set an engine operation asks for
REQUESTS = [
    {"checkConstraints"},  # add_check_constraint
    {"columnMapping"},  # enable_column_mapping
    {"changeDataFeed"},  # set_table_properties
    {"appendOnly"},  # set_table_properties
    {"deletionVectors"},  # DELETE
    {"v2Checkpoint"},  # write_checkpoint(v2=True)
    {"typeWidening"},  # alter_column_type
    {"typeWidening", "timestampNtz"},
    {"variantType"},  # write_delta schema types
    {"timestampNtz"},
    {"inCommitTimestamp"},  # ICT enablement
    {"clustering", "domainMetadata"},  # set_clustering_columns
    {"rowTracking", "domainMetadata"},  # enable_row_tracking
    {"allowColumnDefaults"},  # set_column_default
    {"changeDataFeed", "deletionVectors"},
    set(),
]


@pytest.mark.parametrize(
    "start, request_",
    list(itertools.product(START, REQUESTS)),
    ids=[
        f"{s}-{'+'.join(sorted(r)) or 'none'}"
        for s, r in itertools.product(START, REQUESTS)
    ],
)
def test_upgrade_keeps_features_and_adds_request(start, request_):
    before = START[start]
    r0, w0 = supported(before)
    missing = (request_ - w0) | ((request_ & READER_WRITER) - r0)
    up = dl._upgrade_protocol(before, request_)
    if not missing:
        assert up is None
        return
    assert up is not None
    r1, w1 = supported(up)
    assert w1 >= w0 | request_
    assert r1 >= r0 | (request_ & READER_WRITER)
    # a valid protocol: no version goes down, reader v3 needs writer
    # v7, and every listed reader feature is a writer feature too
    assert up["minReaderVersion"] >= before["minReaderVersion"]
    assert up["minWriterVersion"] >= before["minWriterVersion"]
    if up["minReaderVersion"] >= 3:
        assert up["minWriterVersion"] == 7
        assert set(up["readerFeatures"]) <= set(up["writerFeatures"])
    else:
        assert "readerFeatures" not in up
    # a legacy table that only needs legacy features stays legacy
    legacy = set().union(*LEGACY_WRITER.values())
    if before["minWriterVersion"] < 7 and request_ <= legacy:
        assert up["minWriterVersion"] < 7


def test_legacy_bumps_and_creation_protocols():
    assert dl._upgrade_protocol(None, {"checkConstraints"}) == _proto(1, 3)
    assert dl._upgrade_protocol(_proto(1, 2), {"columnMapping"}) == _proto(2, 5)
    assert dl._upgrade_protocol(_proto(1, 6), {"columnMapping"}) == _proto(2, 6)
    assert dl._upgrade_protocol(_proto(1, 4), {"variantType"}) == _proto(
        3,
        7,
        rf=["variantType"],
        wf=[
            "appendOnly",
            "changeDataFeed",
            "checkConstraints",
            "generatedColumns",
            "invariants",
            "variantType",
        ],
    )
    # a writer-only feature keeps a legacy reader and lists no reader side
    assert dl._upgrade_protocol(_proto(2, 5), {"inCommitTimestamp"}) == _proto(
        2,
        7,
        wf=[
            "appendOnly",
            "changeDataFeed",
            "checkConstraints",
            "columnMapping",
            "generatedColumns",
            "inCommitTimestamp",
            "invariants",
        ],
    )


# ---- end to end ------------------------------------------------------


def _table(spark, tmp_path, name="t"):
    t = str(tmp_path / name)
    df = spark.range(100).select("id", (F.col("id") * 2).cast("int").alias("v"))
    dl.write_delta(spark, df.coalesce(1), t, mode="overwrite")
    return t


def _rows(spark, t):
    return sorted(tuple(r) for r in dl.read_delta(spark, t).collect())


def _protocol(t):
    return dl.resolve_snapshot(t)["protocol"]


def _assert_keeps(proto, reader, writer):
    r, w = supported(proto)
    assert reader <= r, proto
    assert writer <= w, proto


def test_dv_delete_keeps_column_mapping(spark, tmp_path):
    t = _table(spark, tmp_path)
    dl.enable_column_mapping(t)
    dl.rename_column(t, "v", "w")
    res = dl.delete_delta_log(spark, t, [("id", "<", 5)])
    assert res["files_with_new_dv"] == 1
    _assert_keeps(
        _protocol(t),
        {"columnMapping", "deletionVectors"},
        LEGACY_WRITER[2] | LEGACY_WRITER[5] | {"deletionVectors"},
    )
    assert _rows(spark, t) == [(i, i * 2) for i in range(5, 100)]
    assert dl.read_delta(spark, t).columns == ["id", "w"]


def test_dv_delete_keeps_check_constraint(spark, tmp_path):
    t = _table(spark, tmp_path)
    dl.add_check_constraint(spark, t, "v_even", "v % 2 = 0")
    assert _protocol(t) == _proto(1, 3)
    res = dl.delete_delta_log(spark, t, [("id", "<", 5)])
    assert res["files_with_new_dv"] == 1
    _assert_keeps(
        _protocol(t),
        {"deletionVectors"},
        {"checkConstraints", "deletionVectors", "appendOnly", "invariants"},
    )
    assert _rows(spark, t) == [(i, i * 2) for i in range(5, 100)]
    with pytest.raises(dl.DeltaInvariantViolationError):
        dl.write_delta(
            spark, spark.createDataFrame([(1000, 3)], "id long, v int"), t
        )


def test_v2_checkpoint_keeps_column_mapping(spark, tmp_path):
    t = _table(spark, tmp_path)
    dl.enable_column_mapping(t)
    assert _protocol(t) == _proto(2, 5)
    dl.write_checkpoint(t, v2=True)
    _assert_keeps(
        _protocol(t),
        {"columnMapping", "v2Checkpoint"},
        LEGACY_WRITER[2] | LEGACY_WRITER[5] | {"v2Checkpoint"},
    )
    assert _rows(spark, t) == [(i, i * 2) for i in range(100)]


def test_type_widening_keeps_column_mapping(spark, tmp_path):
    t = _table(spark, tmp_path)
    dl.enable_column_mapping(t)
    dl.alter_column_type(t, "v", "bigint")
    _assert_keeps(
        _protocol(t),
        {"columnMapping", "typeWidening"},
        LEGACY_WRITER[2] | LEGACY_WRITER[5] | {"typeWidening"},
    )
    assert _rows(spark, t) == [(i, i * 2) for i in range(100)]
    assert dict(dl.read_delta(spark, t).dtypes)["v"] == "bigint"


def test_enabling_change_data_feed_adopts_the_feature(spark, tmp_path):
    t = _table(spark, tmp_path)
    assert _protocol(t) == _proto(1, 2)
    dl.set_table_properties(t, {"delta.enableChangeDataFeed": "true"})
    assert _protocol(t) == _proto(1, 4)
    # on a table-features table the feature is listed instead
    t2 = _table(spark, tmp_path, "t2")
    dl.set_column_default(spark, t2, "v", "0")
    dl.set_table_properties(t2, {"delta.enableChangeDataFeed": "true"})
    _assert_keeps(
        _protocol(t2), set(), {"allowColumnDefaults", "changeDataFeed"}
    )
    dl.update_delta_log(spark, t2, [("id", "=", 1)], {"v": "v + 1"})
    changes = dl.table_changes(spark, t2, 3, 3)
    assert sorted(
        (r.id, r.v, r._change_type) for r in changes.collect()
    ) == [(1, 2, "update_preimage"), (1, 3, "update_postimage")]
