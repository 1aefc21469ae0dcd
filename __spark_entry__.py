"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the op-id registry defined in
``medallion_delta_lake_spark.plans`` (each §2 operator of SURVEY.md as a
(PySpark callable, DuckDB oracle SQL) pair).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from medallion_delta_lake_spark.plans import registry as _registry  # noqa: E402

# Each plans module registers its faces through @query on import. An
# import error fails here, loudly: a broken module must not drop its
# faces from the registry without a word.
from medallion_delta_lake_spark.plans import queries_core  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_text  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_ml  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_stream  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_rel  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_multimodal  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_tpch  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_feature  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_mleval  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_r10  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_r11  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_r12  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_r13  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_r14  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_r15  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_r16  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_r17  # noqa: F401,E402
from medallion_delta_lake_spark.plans import queries_r18  # noqa: F401,E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _registry.QUERIES["q1-pricing-summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_registry.ORACLES)
