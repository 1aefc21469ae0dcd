"""End-to-end medallion test (SURVEY.md §5.2): Enefit-shaped fixtures →
bronze → silver → gold, then the idempotency property the reference's
whole dedup+MERGE design exists to provide — a full re-run (including
bronze re-append) leaves gold byte-identical."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # heavy battery: excluded from the fast default tier (pytest.ini)
from pyspark.sql import functions as F

from medallion_delta_lake_spark.pipelines import medallion
from medallion_delta_lake_spark.sources import readers
from tests import enefit_fixtures


@pytest.fixture(scope="module")
def pipeline_dirs(tmp_path_factory):
    landing = tmp_path_factory.mktemp("landing")
    base = tmp_path_factory.mktemp("tables")
    enefit_fixtures.generate(str(landing))
    return str(landing), str(base)


def _gold_rows(spark, base):
    df = readers.scan_table(spark, f"{base}/gold/enefit")
    return sorted([tuple(r) for r in df.collect()], key=repr)


def test_medallion_end_to_end(spark, pipeline_dirs):
    landing, base = pipeline_dirs
    gold = medallion.run_all(spark, landing, base)

    # grain: one row per (datetime, county, product, business, consumption),
    # county 12 filtered, blocks 0-1 filtered
    n = gold.count()
    assert n > 0
    assert gold.select(
        "datetime", "county", "product_type", "is_business", "is_consumption"
    ).distinct().count() == n
    assert gold.filter(F.col("county") == 12).count() == 0
    assert gold.filter(F.col("data_block_id").isin(0, 1)).count() == 0

    # electricity/gas/weather enrichment actually landed
    assert gold.filter(F.col("euros_per_mwh").isNotNull()).count() > 0
    assert gold.filter(F.col("lowest_price_per_mwh").isNotNull()).count() > 0
    assert gold.filter(F.col("historical_temperature").isNotNull()).count() > 0

    # the skipped client combo produces NULL client measures, not lost rows
    missing = gold.filter(
        (F.col("county") == 1)
        & (F.col("is_business") == 1)
        & (F.col("product_type") == 1)
    )
    assert missing.count() > 0
    assert missing.filter(F.col("eic_count").isNull()).count() == missing.count()


def test_station_nn_assignment(spark, pipeline_dirs):
    landing, base = pipeline_dirs
    sm = readers.scan_table(spark, f"{base}/silver/station_map")
    # every station (including the two with NULL county in the raw map)
    # carries a county after silver
    assert sm.filter(F.col("county_id").isNull()).count() == 0
    assert sm.count() == len(enefit_fixtures.STATIONS)


def test_rerun_idempotent(spark, pipeline_dirs):
    landing, base = pipeline_dirs
    before = _gold_rows(spark, base)
    medallion.run_all(spark, landing, base)  # bronze appends dups again
    after = _gold_rows(spark, base)
    assert before == after


def test_incremental_new_day_flows_through(spark, tmp_path_factory):
    """Incremental semantics: after landing an extended feed (one more
    day), a re-run adds the new day's gold rows and keeps prior rows
    intact — the medallion increment path (bronze append + keyed merge,
    partition-pruned by data_block_id)."""
    import tests.enefit_fixtures as fx

    landing = str(tmp_path_factory.mktemp("landing_inc"))
    base = str(tmp_path_factory.mktemp("tables_inc"))
    fx.generate(landing)
    gold1 = medallion.run_all(spark, landing, base)
    rows1 = {tuple(r) for r in gold1.collect()}
    blocks1 = {r.data_block_id for r in gold1.select("data_block_id").distinct().collect()}
    # materialize now: the snapshot swap of the next run replaces the
    # files under gold1's lazy plan
    per_block1 = {
        r.data_block_id: r["count"]
        for r in gold1.groupBy("data_block_id").count().collect()
    }

    # extend the feed by one day and re-land (bronze appends; silver
    # dedup absorbs the overlap)
    fx.generate(landing, days=fx.N_DAYS + 1)
    gold2 = medallion.run_all(spark, landing, base)
    rows2 = {tuple(r) for r in gold2.collect()}
    blocks2 = {r.data_block_id for r in gold2.select("data_block_id").distinct().collect()}

    assert len(rows2) > len(rows1)
    assert blocks2 > blocks1  # strictly more batches
    # prior batches' gold coverage is preserved (per-block row counts
    # can only grow: keyed merge never drops old batches)
    per_block2 = {
        r.data_block_id: r["count"]
        for r in gold2.groupBy("data_block_id").count().collect()
    }
    for b, n in per_block1.items():
        assert per_block2[b] >= n
