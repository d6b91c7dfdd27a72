"""The oracle-parity comparator that the tests, the benchmark and the
``drive`` console command all trust, exercised on plain pandas frames."""

import numpy as np
import pandas as pd
import pytest

from lakehouse_app_spark.parity import assert_frames_match


def test_row_count_mismatch_fails():
    with pytest.raises(AssertionError, match="row count 2 .* != 3"):
        assert_frames_match(
            pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [1, 2, 3]}), "k"
        )


def test_column_set_mismatch_fails():
    with pytest.raises(AssertionError, match="columns"):
        assert_frames_match(
            pd.DataFrame({"a": [1], "b": [2]}), pd.DataFrame({"a": [1], "c": [2]}), "k"
        )


def test_hugeint_sum_as_float_fails_against_int64():
    # DuckDB's SUM(int) is a HUGEINT that pandas receives as float64;
    # equal values must still fail on the dtype class.
    spark = pd.DataFrame({"s": np.array([3, 7], dtype="int64")})
    duck = pd.DataFrame({"s": np.array([3.0, 7.0], dtype="float64")})
    with pytest.raises(AssertionError, match="dtype mismatch on s"):
        assert_frames_match(spark, duck, "k")


def test_nan_matches_nan_and_none_matches_nan_in_object_columns():
    spark = pd.DataFrame({
        "f": [1.5, np.nan],
        "o": pd.Series(["x", None], dtype=object),
    })
    duck = pd.DataFrame({
        "f": [1.5, np.nan],
        "o": pd.Series(["x", np.nan], dtype=object),
    })
    assert_frames_match(spark, duck, "k")


def test_row_and_column_order_do_not_matter():
    spark = pd.DataFrame({"a": [3, 1, 2], "b": ["z", "x", "y"]})
    duck = pd.DataFrame({"b": ["x", "y", "z"], "a": [1, 2, 3]})
    assert_frames_match(spark, duck, "k")


def test_single_cell_difference_names_its_column():
    spark = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    duck = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "w"]})
    with pytest.raises(AssertionError, match="k: column b mismatch"):
        assert_frames_match(spark, duck, "k")
