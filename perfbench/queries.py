"""The two query workloads: registered faces over generated tables,
each result checked against the face's DuckDB oracle."""

from __future__ import annotations

import duckdb

import datagen
from check import multiset

# Build- and planning-bound TPC-H faces: each registry.table call runs a
# schema-inference job, and q1-sql-entry registers views over all ten
# tables. Trimmed from the 23 faces so a run fits the benchmark's time
# budget (README: "Run budget").
SHORT_OPS = (
    "q1-pricing-summary",
    "q1-sql-entry",
    "q3-shipping-priority",
    "q5-local-supplier",
    "q6-forecast-revenue",
)
# Execution-bound operator faces (graph peeling and triangle listing,
# hyperplane-LSH similarity); trimmed from twelve for the same reason.
HEAVY_OPS = (
    "graph-kcore-peel",
    "sim-ann-self-topk",
    "graph-triangle-count",
)


def oracle_rows(sql: str, data_dir: str):
    from medallion_delta_lake_spark.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


class QueryWorkload:
    """One pass runs every op once: build the DataFrame through the
    registry, plan it (traced run only), collect its rows."""

    def __init__(self, name: str, ops: tuple[str, ...], sf: float, warmup_passes: int):
        self.name = name
        self.ops = ops
        self.sf = sf
        self.warmup_passes = warmup_passes
        self.expected: dict[str, tuple] = {}

    def setup(self, ctx) -> dict:
        import __spark_entry__  # noqa: F401 — registers every plans module
        from medallion_delta_lake_spark.plans import registry

        self.data_dir = str(ctx.work / "data")
        rows = datagen.generate(self.data_dir, self.sf, ctx.seed)
        self.queries = registry.QUERIES
        for op in self.ops:
            self.expected[op] = multiset(*oracle_rows(registry.ORACLES[op], self.data_dir))
        return {"sf": self.sf, "table_rows": rows}

    def prepare(self, ctx) -> None:
        pass

    def _run(self, ctx, op: str):
        fn = self.queries[op]
        return ctx.collect(lambda: fn(ctx.spark, self.data_dir))

    def run_pass(self, ctx, label: str) -> list[dict]:
        return [ctx.run_op(label, op, lambda op=op: self._run(ctx, op)) for op in self.ops]

    def check(self, ctx, records: list[dict]) -> None:
        for rec in records:
            if rec["error"] is None and multiset(*rec["out"]) != self.expected[rec["op"]]:
                rec["mismatch"] = "result differs from the DuckDB oracle"

    def pass_layers(self, ctx, records: list[dict]) -> dict[str, float]:
        return {}
