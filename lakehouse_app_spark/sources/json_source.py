"""JSON / in-memory row ingestion (reference ops R18, R27).

The reference turns REST JSON into tables with pandas
(`lakehouse_app_helpers.py:28-31` — ``json["apps"]`` →
``pd.DataFrame.from_dict(orient="columns")``; `:102-107` —
``orient="index"`` transpose). Here the same payload shapes become
DataFrames: records → ``spark.createDataFrame``, nested structs stay
queryable with dotted paths (``status.state``), and the dict→rows
transpose is an explicit (key, value) unpivot.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def records_to_df(spark: SparkSession, records: list[dict[str, Any]]) -> DataFrame:
    """REST-style ``[{...}, ...]`` payload → DataFrame with inferred
    nested schema (ref `lakehouse_app_helpers.py:28-31`)."""
    # Route through the JSON reader so nested dicts become StructType
    # (createDataFrame on raw dicts maps them to MapType).
    rdd = spark.sparkContext.parallelize([json.dumps(r) for r in records])
    return spark.read.json(rdd)


def dict_to_kv_df(spark: SparkSession, payload: dict[str, Any]) -> DataFrame:
    """Dict → one row per key: the reference's ``orient="index"``
    transpose (`lakehouse_app_helpers.py:102-107`)."""
    rows = [(k, json.dumps(v) if isinstance(v, (dict, list)) else str(v))
            for k, v in payload.items()]
    return spark.createDataFrame(rows, "key string, value string")


def extract_status_fields(df: DataFrame) -> DataFrame:
    """Nested-struct extraction + drop + reorder (ref R19-R21,
    `lakehouse_app_helpers.py:32-35`)."""
    cols = [c for c in df.columns if c != "status"]
    return df.select(
        *cols,
        F.col("status.state").alias("state"),
        F.col("status.message").alias("status_message"),
    )
