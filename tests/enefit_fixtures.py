"""Deterministic Enefit-shaped fixture generator (FIXTURES.md).

Writes the reference pipeline's raw landing files (7 CSVs + 1 JSON) to
a directory: hourly grids over ``days`` (default N_DAYS) days, counties
including the filtered id 12, ~1% planted exact duplicates, ~1% NULL
measures, unlabeled stations for the nn-assignment, duplicate weather
grain rows for the silver averaging step.
"""

from __future__ import annotations

import csv
import json
import random
from datetime import datetime, timedelta

N_DAYS = 4
COUNTIES = [0, 1, 2, 12]  # 12 is filtered in silver
PRODUCTS = [0, 1]
T0 = datetime(2024, 1, 1)

# station grid: 1-decimal coordinates; last two unlabeled (NULL county)
STATIONS = [
    (59.4, 24.7, 0, "Alpha"),
    (58.4, 26.7, 1, "Beta"),
    (59.4, 27.4, 2, "Gamma"),
    (58.9, 23.5, 0, "Alpha"),
    (58.2, 22.5, None, None),
    (59.0, 25.5, None, None),
]


def _w(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def generate(landing_dir: str, seed: int = 7, days: int | None = None) -> None:
    """Write the landing files for ``days`` days (default: ``N_DAYS``,
    read at call time so a caller that patches the global still works)."""
    n_days = N_DAYS if days is None else days
    rng = random.Random(seed)
    hours = [T0 + timedelta(hours=h) for h in range(n_days * 24)]
    dates = [T0 + timedelta(days=d) for d in range(n_days)]

    # train: hourly × county × business × product × consumption
    rows = []
    row_id = 0
    for ts in hours:
        day = (ts - T0).days
        for county in COUNTIES:
            for biz in (0, 1):
                for prod in PRODUCTS:
                    for cons in (0, 1):
                        target = (
                            None
                            if rng.random() < 0.01
                            else round(rng.uniform(0, 500), 2)
                        )
                        unit = COUNTIES.index(county) * 4 + biz * 2 + prod
                        rows.append(
                            [
                                row_id,
                                county,
                                biz,
                                prod,
                                target,
                                cons,
                                ts.isoformat(sep=" "),
                                day + 2,
                                unit,
                            ]
                        )
                        row_id += 1
    rows += rng.sample(rows, max(1, len(rows) // 100))  # exact dups
    _w(
        f"{landing_dir}/train.csv",
        [
            "row_id",
            "county",
            "is_business",
            "product_type",
            "target",
            "is_consumption",
            "datetime",
            "data_block_id",
            "prediction_unit_id",
        ],
        rows,
    )

    # client: daily dimension (skip one combo to create post-join nulls)
    rows = []
    for d, day in enumerate(dates):
        for county in COUNTIES:
            for biz in (0, 1):
                for prod in PRODUCTS:
                    if county == 1 and biz == 1 and prod == 1:
                        continue
                    rows.append(
                        [
                            prod,
                            county,
                            rng.randint(5, 500),
                            round(rng.uniform(10, 2000), 1),
                            biz,
                            day.date().isoformat(),
                            d + 2,
                        ]
                    )
    _w(
        f"{landing_dir}/client.csv",
        [
            "product_type",
            "county",
            "eic_count",
            "installed_capacity",
            "is_business",
            "date",
            "data_block_id",
        ],
        rows,
    )

    # electricity: hourly price feed (1-day publication delay)
    rows = [
        [
            ts.isoformat(sep=" "),
            round(rng.uniform(20, 300), 2),
            (ts - timedelta(days=1)).isoformat(sep=" "),
            (ts - T0).days + 1,
        ]
        for ts in hours
    ]
    _w(
        f"{landing_dir}/electricity_prices.csv",
        ["forecast_date", "euros_per_mwh", "origin_date", "data_block_id"],
        rows,
    )

    # gas: one row per day
    rows = []
    for d, day in enumerate(dates):
        lo = round(rng.uniform(20, 60), 2)
        rows.append(
            [
                day.date().isoformat(),
                lo,
                round(lo + rng.uniform(1, 30), 2),
                (day - timedelta(days=1)).date().isoformat(),
                d + 1,
            ]
        )
    _w(
        f"{landing_dir}/gas_prices.csv",
        [
            "forecast_date",
            "lowest_price_per_mwh",
            "highest_price_per_mwh",
            "origin_date",
            "data_block_id",
        ],
        rows,
    )

    # historical weather: hourly per station; some duplicate grain rows
    hdr = [
        "datetime",
        "latitude",
        "longitude",
        "temperature",
        "dewpoint",
        "rain",
        "snowfall",
        "surface_pressure",
        "cloudcover_total",
        "windspeed_10m",
        "data_block_id",
    ]
    rows = []
    for ts in hours:
        day = (ts - T0).days
        block = day + 1 if ts.hour < 11 else day + 2
        for lat, lon, _, _ in STATIONS:
            reports = 2 if rng.random() < 0.05 else 1  # dup grain → avg
            for _ in range(reports):
                rows.append(
                    [
                        ts.isoformat(sep=" "),
                        lat,
                        lon,
                        round(rng.uniform(-20, 30), 1),
                        round(rng.uniform(-25, 20), 1),
                        round(rng.uniform(0, 5), 2),
                        round(rng.uniform(0, 3), 2),
                        round(rng.uniform(980, 1040), 1),
                        round(rng.uniform(0, 100), 1),
                        round(rng.uniform(0, 25), 1),
                        block,
                    ]
                )
    _w(f"{landing_dir}/historical_weather.csv", hdr, rows)

    # forecast weather: daily origins × horizons 0..72 step 6
    hdr = [
        "latitude",
        "longitude",
        "origin_datetime",
        "hours_ahead",
        "forecast_datetime",
        "temperature",
        "dewpoint",
        "snowfall",
        "cloudcover_total",
        "data_block_id",
    ]
    rows = []
    for d, day in enumerate(dates):
        for lat, lon, _, _ in STATIONS:
            for ha in range(0, 73, 6):
                rows.append(
                    [
                        lat,
                        lon,
                        day.isoformat(sep=" "),
                        ha,
                        (day + timedelta(hours=ha)).isoformat(sep=" "),
                        round(rng.uniform(-20, 30), 1),
                        round(rng.uniform(-25, 20), 1),
                        round(rng.uniform(0, 3), 2),
                        round(rng.uniform(0, 100), 1),
                        d,
                    ]
                )
    _w(f"{landing_dir}/forecast_weather.csv", hdr, rows)

    # station map (mixed precision lat; NULL county for unassigned)
    rows = [
        [name, lon, lat + 0.04 if name is None else lat, cid]
        for (lat, lon, cid, name) in STATIONS
    ]
    _w(
        f"{landing_dir}/weather_station_to_county_mapping.csv",
        ["county_name", "longitude", "latitude", "county"],
        rows,
    )

    with open(f"{landing_dir}/county_id_to_name_map.json", "w") as f:
        json.dump({"0": "Alpha", "1": "Beta", "2": "Gamma", "12": "Omega"}, f)
