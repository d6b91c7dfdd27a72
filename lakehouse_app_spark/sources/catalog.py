"""Catalog/metadata queries as DataFrames — the engine analog of the
reference's console `list()`/`details()` (`lakehouse_app_helpers.py:
27-58,102-118`): enumerate resources, inspect one resource's schema,
render at the presentation edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def list_tables(spark: SparkSession) -> DataFrame:
    """SHOW TABLES as a queryable DataFrame (console `list()` analog)."""
    return spark.sql("SHOW TABLES").select(
        F.col("tableName").alias("name"), "isTemporary"
    )


def describe_table(spark: SparkSession, name: str) -> DataFrame:
    """DESCRIBE as a (column, type) DataFrame (console `details()`
    analog — the dict→rows transpose shape). The identifier is
    backtick-quoted (and embedded backticks rejected) so nonstandard
    names describe cleanly and a caller-supplied string can never
    smuggle SQL into the statement."""
    if "`" in name:
        raise ValueError(f"invalid table name: {name!r}")
    return spark.sql(f"DESCRIBE TABLE `{name}`").select(
        F.col("col_name").alias("column"), F.col("data_type").alias("dtype")
    )


def render_html(df: DataFrame) -> str:
    """Presentation edge only (ref `to_html` + style prepend,
    `lakehouse_app_helpers.py:37,54-58`): never part of a plan."""
    style = "<style>table{border-collapse:collapse}td,th{padding:4px}</style>"
    return style + df.limit(100).toPandas().to_html(index=False)
