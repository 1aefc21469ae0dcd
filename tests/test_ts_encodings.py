"""Event-time schema-drift robustness: the driver's testdata has shipped
``events.ts`` as TIMESTAMP(NANOS) (read as int64-nanos via legacy conf),
as TIMESTAMP(MICROS) without a timezone (Spark TIMESTAMP_NTZ — which
``withWatermark`` hard-rejects), and as TIMESTAMP(MICROS) with UTC.
Each regeneration can pick any of the three; both the batch reader
(``registry.table``) and the streaming reader (``read_events_stream``)
must normalize all of them to identical TIMESTAMP values so the
registered plans — watermarks included — keep working unchanged.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from medallion_delta_lake_spark.plans.registry import table
from medallion_delta_lake_spark.streaming import events as se

_ROWS = [
    (1, 101, "click", dt.datetime(2024, 3, 1, 10, 0, 0), 1.5),
    (2, 101, "click", dt.datetime(2024, 3, 1, 10, 20, 0), 2.5),
    (3, 102, "view", dt.datetime(2024, 3, 1, 11, 5, 0), 3.0),
    (4, 102, "view", dt.datetime(2024, 3, 1, 12, 40, 0), 4.0),
]


def _write_events(dirpath, ts_encoding: str) -> str:
    """Write the fixture as events.parquet in one of the three observed
    physical encodings; return the sf_dir-style directory path."""
    ids, users, types, tss, vals = zip(*_ROWS)
    if ts_encoding == "ns-int64":
        ts_arr = pa.array(
            [int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e9) for t in tss],
            type=pa.timestamp("ns"),
        )
    elif ts_encoding == "us-ntz":
        ts_arr = pa.array(list(tss), type=pa.timestamp("us"))
    elif ts_encoding == "us-utc":
        ts_arr = pa.array(
            [t.replace(tzinfo=dt.timezone.utc) for t in tss],
            type=pa.timestamp("us", tz="UTC"),
        )
    else:  # pragma: no cover
        raise ValueError(ts_encoding)
    t = pa.table(
        {
            "event_id": pa.array(ids, type=pa.int64()),
            "user_id": pa.array(users, type=pa.int64()),
            "event_type": pa.array(types, type=pa.string()),
            "ts": ts_arr,
            "value": pa.array(vals, type=pa.float64()),
        }
    )
    pq.write_table(t, str(dirpath / "events.parquet"))
    return str(dirpath)


ENCODINGS = ["ns-int64", "us-ntz", "us-utc"]


# Each reader runs twice per encoding: the first call infers the schema,
# the second reads with the memoized one (plans.registry.read_parquet);
# both must normalize identically.


@pytest.mark.parametrize("enc", ENCODINGS)
def test_batch_reader_normalizes(spark, tmp_path, enc):
    sf_dir = _write_events(tmp_path, enc)
    for _ in range(2):
        df = table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = sorted(r.ts for r in df.select("ts").collect())
        assert got == sorted(t for *_, t, _ in _ROWS)
        assert sorted(map(tuple, df.collect())) == sorted(_ROWS)


@pytest.mark.parametrize("enc", ENCODINGS)
def test_stream_reader_watermark_works(spark, tmp_path, enc):
    sf_dir = _write_events(tmp_path, enc)
    for _ in range(2):
        sdf = se.read_events_stream(spark, sf_dir)
        assert dict(sdf.dtypes)["ts"] == "timestamp"
        # complete mode, matching the registered stream-window-agg query
        # (append would require grouping by the window struct itself — the
        # watermark tag doesn't survive the .getField("start") extraction)
        out = se.run_available_now(se.windowed_agg(sdf), "complete", spark)
        rows = {(r.window_start, r.event_type): (r.n, r.total_value) for r in out.collect()}
        assert rows == {
            (dt.datetime(2024, 3, 1, 10, 0, 0), "click"): (2, 4.0),
            (dt.datetime(2024, 3, 1, 11, 0, 0), "view"): (1, 3.0),
            (dt.datetime(2024, 3, 1, 12, 0, 0), "view"): (1, 4.0),
        }


def test_all_encodings_agree(spark, tmp_path):
    """The three physical encodings must produce bit-identical batch
    frames — the normalization is a no-op on values, only on types."""
    frames = []
    for enc in ENCODINGS:
        d = tmp_path / enc
        d.mkdir()
        sf_dir = _write_events(d, enc)
        frames.append(
            sorted(map(tuple, table(spark, sf_dir, "events").collect()))
        )
    assert frames[0] == frames[1] == frames[2]
