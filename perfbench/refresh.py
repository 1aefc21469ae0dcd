"""The medallion-delta workload: one daily refresh of log-backed Delta
tables, then the reads an analyst makes after it.

Set-up builds an Enefit-shaped landing of ``days`` days
(``tests/enefit_fixtures.generate``) and the same landing without its
last day. The shorter landing goes through bronze -> silver -> gold
into parquet tables, which are then converted in place into log-backed
Delta tables: the seed state. Each pass restores the seed state outside
the timed region, appends the full landing to bronze, upserts silver
and gold, and reads gold at its new and previous versions, its history
and its change feed.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb

from check import canon, close_rows, multiset

GOLD_KEYS = ["datetime", "county", "product_type", "is_business", "is_consumption"]
# landing CSV -> the column whose date places a row on a day
DAY_COLUMN = {
    "train": "datetime",
    "client": "date",
    "electricity_prices": "forecast_date",
    "gas_prices": "forecast_date",
    "historical_weather": "datetime",
    "forecast_weather": "origin_datetime",
}
OPS = (
    "bronze",
    "silver",
    "gold",
    "read_current",
    "read_previous",
    "changes",
)
_COMMIT = re.compile(r"\d{20}\.json$")
_ADDED = ("insert", "update_postimage")


def make_landing(full_dir: Path, short_dir: Path, days: int, seed: int) -> None:
    """``full_dir``: the fixture over ``days`` days; ``short_dir``: the
    same rows without the last day, so the full landing extends it."""
    import tests.enefit_fixtures as fx

    full_dir.mkdir(parents=True)
    short_dir.mkdir(parents=True)
    saved = fx.N_DAYS
    fx.N_DAYS = days
    try:
        fx.generate(str(full_dir), seed=seed)
    finally:
        fx.N_DAYS = saved
    last_day = (fx.T0 + dt.timedelta(days=days - 1)).date().isoformat()
    for src in full_dir.iterdir():
        table = src.name.removesuffix(".csv")
        if table not in DAY_COLUMN:
            shutil.copy(src, short_dir / src.name)
            continue
        with open(src, newline="") as fin, open(short_dir / src.name, "w", newline="") as fout:
            reader, writer = csv.reader(fin), csv.writer(fout)
            header = next(reader)
            writer.writerow(header)
            col = header.index(DAY_COLUMN[table])
            writer.writerows(r for r in reader if r[col][:10] < last_day)


def gold_keys_duckdb(landing: Path) -> set[tuple]:
    """Gold's key set computed by DuckDB straight from the landing CSV:
    complete train rows, county 12 and data blocks 0-1 left out."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT DISTINCT CAST(datetime AS TIMESTAMP), county::INTEGER,
                   product_type::INTEGER, is_business::INTEGER,
                   is_consumption::INTEGER
            FROM read_csv('{landing}/train.csv', header = true)
            WHERE COLUMNS(*) IS NOT NULL
              AND county <> 12 AND data_block_id NOT IN (0, 1)
            """
        ).fetchall()
    finally:
        con.close()
    return {canon(r) for r in rows}


def _files(base: Path) -> dict[str, int]:
    return {
        str(p.relative_to(base)): p.stat().st_size
        for p in base.rglob("*")
        if p.is_file()
    }


def _data_lines(csv_path: Path) -> int:
    with open(csv_path) as f:
        return sum(1 for _ in f) - 1


class RefreshWorkload:
    name = "medallion-delta"
    ops = OPS
    # the two parquet-path pipeline runs of set-up (seed state and the
    # reference build) warm the JVM; a warm-up refresh would take 15 s
    # the run budget does not have (README, "Warm-up" and "Run budget")
    warmup_passes = 0

    def __init__(self, days: int):
        self.days = days

    def _pipeline(self, ctx, landing: Path, base: Path) -> tuple[list[str], list]:
        from medallion_delta_lake_spark.pipelines import medallion

        gold = medallion.run_all(ctx.spark, str(landing), str(base))
        return gold.columns, gold.collect()

    def setup(self, ctx) -> dict:
        from medallion_delta_lake_spark.sources import delta_log

        w = ctx.work
        self.landing = w / "landing_full"
        short = w / "landing_short"
        make_landing(self.landing, short, self.days, ctx.seed)
        # the seed state and the reference build are independent; their
        # driver-side waits overlap when they run side by side
        with ThreadPoolExecutor(2) as pool:
            seed = pool.submit(self._pipeline, ctx, short, w / "seed")
            ref = pool.submit(self._pipeline, ctx, self.landing, w / "reference")
            self.seed_gold = multiset(*seed.result())
            cols, rows = ref.result()
        # seed state: the parquet tables converted in place to Delta
        for table in sorted((w / "seed").glob("*/*")):
            parts = ["data_block_id"] if any(table.glob("data_block_id=*")) else None
            delta_log.convert_to_delta(ctx.spark, str(table), partition_by=parts)
        self.seed_version = delta_log.resolve_snapshot(str(w / "seed/gold/enefit"))["version"]
        # the reference: the full landing built from scratch through the
        # parquet-snapshot path of operators.upsert
        key_idx = [cols.index(k) for k in GOLD_KEYS]
        self.ref_cols = cols
        self.reference = {
            tuple(canon(r[i]) for i in key_idx): tuple(canon(v) for v in r) for r in rows
        }
        self.duck_keys = gold_keys_duckdb(self.landing)
        return {
            "fixture_days": self.days,
            "landing_rows": {p.name: _data_lines(p) for p in sorted(self.landing.glob("*.csv"))},
            "gold_rows_seed": sum(self.seed_gold[1].values()),
            "gold_rows_refreshed": len(self.reference),
        }

    def prepare(self, ctx) -> None:
        self.base = ctx.work / "tables"
        shutil.rmtree(self.base, ignore_errors=True)
        shutil.copytree(ctx.work / "seed", self.base)
        self.files_before = _files(self.base)

    def run_pass(self, ctx, label: str) -> list[dict]:
        from medallion_delta_lake_spark.pipelines import medallion
        from medallion_delta_lake_spark.sources import delta_log

        spark, base, gold = ctx.spark, str(self.base), str(self.base / "gold/enefit")
        v0 = self.seed_version
        steps = {
            "bronze": lambda: medallion.bronze(spark, str(self.landing), base),
            "silver": lambda: medallion.silver(spark, base),
            "gold": lambda: medallion.gold(spark, base),
            "read_current": lambda: ctx.collect(lambda: delta_log.read_delta(spark, gold)),
            "read_previous": lambda: ctx.collect(
                lambda: delta_log.read_delta(spark, gold, version_as_of=v0)
            ),
            "changes": lambda: self._changes(ctx, gold),
        }
        return [ctx.run_op(label, op, steps[op]) for op in self.ops]

    def _changes(self, ctx, gold: str):
        """What a reader of the feed does: find the versions in the
        history, then read the changes between the previous and the
        newest."""
        from medallion_delta_lake_spark.sources import delta_log

        history = delta_log.table_history(gold)
        newest = history[0]["version"]
        cols, rows = ctx.collect(
            lambda: delta_log.table_changes(ctx.spark, gold, self.seed_version + 1, newest)
        )
        return history, cols, rows

    def check(self, ctx, records: list[dict]) -> None:
        rec = {r["op"]: r for r in records}

        def fail(op, why):
            rec[op]["mismatch"] = why

        if rec["read_current"]["error"] is None:
            cols, rows = rec["read_current"]["out"]
            by_name = [cols.index(c) for c in self.ref_cols]
            got = {}
            for r in rows:
                row = tuple(canon(r[i]) for i in by_name)
                got[tuple(row[self.ref_cols.index(k)] for k in GOLD_KEYS)] = row
            if len(got) != len(rows) or set(got) != self.duck_keys:
                fail("read_current", "gold keys differ from DuckDB over the landing")
            elif set(got) != set(self.reference) or not all(
                close_rows(got[k], self.reference[k]) for k in got
            ):
                fail("read_current", "gold differs from the parquet-path build")
        if rec["read_previous"]["error"] is None:
            if multiset(*rec["read_previous"]["out"]) != self.seed_gold:
                fail("read_previous", "previous version differs from the seed gold")
        if all(rec[o]["error"] is None for o in ("changes", "read_current", "read_previous")):
            history, cols, rows = rec["changes"]["out"]
            versions = [h["version"] for h in history]
            keep = [c for c in cols if not c.startswith("_")]
            kind = cols.index("_change_type")
            ins = multiset(cols, [r for r in rows if r[kind] in _ADDED], keep)[1]
            dele = multiset(cols, [r for r in rows if r[kind] not in _ADDED], keep)[1]
            prev = multiset(*rec["read_previous"]["out"], keep)[1]
            cur = multiset(*rec["read_current"]["out"], keep)[1]
            if versions != sorted(versions, reverse=True) or versions[0] <= self.seed_version:
                fail("changes", "history does not show the refresh commits")
            elif (dele - prev) or (prev - dele + ins) != cur:
                fail("changes", "change feed does not account for the new version")

    def pass_layers(self, ctx, records: list[dict]) -> dict[str, float]:
        """Step times of the pass, and the bytes and files the refresh
        wrote, read from the table directories before and after it."""
        wall = {r["op"]: r["wall"] for r in records}
        after = _files(self.base)
        new = {p: s for p, s in after.items() if self.files_before.get(p) != s}
        out = {
            "medallion.bronze_s": wall["bronze"],
            "medallion.silver_s": wall["silver"],
            "medallion.gold_s": wall["gold"],
            "medallion.read_s": wall["read_current"] + wall["read_previous"] + wall["changes"],
            "delta_log.commits": 0.0,
            "delta_log.files_added": 0.0,
            "delta_log.files_removed": 0.0,
            "delta_log.data_bytes_written": 0.0,
            "delta_log.log_bytes_written": 0.0,
            "delta_log.table_bytes": float(sum(after.values())),
        }
        for path, size in new.items():
            if "_delta_log" not in Path(path).parts:
                out["delta_log.data_bytes_written"] += size
                continue
            out["delta_log.log_bytes_written"] += size
            if _COMMIT.search(path):
                out["delta_log.commits"] += 1
                with open(self.base / path) as f:
                    for line in f:
                        action = json.loads(line) if line.strip() else {}
                        out["delta_log.files_added"] += "add" in action
                        out["delta_log.files_removed"] += "remove" in action
        return out
