"""The Enefit landing generator's length: ``days`` when given, else the
module global ``N_DAYS`` read at call time."""

from __future__ import annotations

import csv

from tests import enefit_fixtures as fx


def _train_hours(landing_dir) -> set[str]:
    with open(f"{landing_dir}/train.csv", newline="") as f:
        return {row["datetime"] for row in csv.DictReader(f)}


def test_days_parameter(tmp_path):
    fx.generate(str(tmp_path), days=5)
    assert len(_train_hours(tmp_path)) == 5 * 24


def test_global_drives_default(tmp_path, monkeypatch):
    monkeypatch.setattr(fx, "N_DAYS", 2)
    fx.generate(str(tmp_path))
    assert len(_train_hours(tmp_path)) == 2 * 24
