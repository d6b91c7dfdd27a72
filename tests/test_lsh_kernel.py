"""The one band-join kernel (dedup.lsh_candidates) on literal frames,
and the guard that every declared key carries an exact oracle with no
MLlib model behind it."""

from __future__ import annotations

import ast
import pathlib

import lakehouse_app_spark
from lakehouse_app_spark import ORACLES, QUERIES
from lakehouse_app_spark.operators.dedup import lsh_candidates

PKG = pathlib.Path(lakehouse_app_spark.__file__).parent
SCHEMA = "id long, bands array<long>, tag string"


def test_lsh_candidates_self_and_two_frame_pairs(spark):
    docs = spark.createDataFrame(
        [
            (2, [10, 20, 30], "x"),
            (1, [10, 20, 31], "y"),  # collides with 2 in bands 0 and 1
            (3, [11, 10, 32], "z"),  # 10 in band 1 is not band 0's 10
        ],
        SCHEMA,
    )
    cols = ("a_id", "b_id", "a_tag", "b_tag")
    self_pairs = lsh_candidates(docs, carry=("tag",)).select(*cols).collect()
    assert [tuple(r) for r in self_pairs] == [(1, 2, "y", "x")]

    probe = spark.createDataFrame([(0, [11, 99, 30], "q")], SCHEMA)
    two = lsh_candidates(docs, probe).select("a_id", "b_id").collect()
    # no a_id < b_id filter across two frames; 1 shares no bucket
    assert sorted(tuple(r) for r in two) == [(2, 0), (3, 0)]


def test_every_key_has_an_exact_oracle_and_no_mllib():
    assert set(QUERIES) == set(ORACLES)
    mllib = []
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            if any(n == "pyspark.ml" or n.startswith("pyspark.ml.") for n in names):
                mllib.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert mllib == []
