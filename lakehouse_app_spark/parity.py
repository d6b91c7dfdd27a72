"""The oracle-parity check shared by the tests, the benchmark and the
``drive`` console command: a DuckDB connection over the corpus tables
and the comparator that judges a result against its oracle (row count +
column set + dtype class + exact values, order-insensitive)."""

from __future__ import annotations

import pandas as pd

from lakehouse_app_spark.sources.tables import TABLE_NAMES


def oracle_connection(sf_dir: str):
    """A fresh DuckDB connection with one view per corpus table over
    ``sf_dir``'s parquet files — the namespace every oracle SQL reads."""
    import duckdb

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values; unify dtypes."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif s.dtype == object:
            s = s.where(s.notna(), None)
        out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    """Raise ``AssertionError`` naming ``name`` unless the two frames
    hold the same rows in any order. Explicit raises, not ``assert``
    statements, so the check also holds under ``python -O``."""
    if len(spark_pdf) != len(duck_pdf):
        raise AssertionError(
            f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
        )
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        raise AssertionError(
            f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
        )
    a = normalize_frame(spark_pdf)
    b = normalize_frame(duck_pdf)
    for c in a.columns:
        # dtype class must agree post-normalization (catches e.g. DuckDB
        # HUGEINT sums arriving as float64 vs Spark's int64)
        if str(a[c].dtype) != str(b[c].dtype):
            raise AssertionError(
                f"{name}: dtype mismatch on {c}: spark={a[c].dtype} duckdb={b[c].dtype}"
            )
    for c in a.columns:
        av, bv = a[c], b[c]
        eq = (av == bv) | (av.isna() & bv.isna())
        if not bool(eq.all()):
            bad = (~eq).idxmax()
            raise AssertionError(
                f"{name}: column {c} mismatch at sorted row {bad}: "
                f"spark={av[bad]!r} duckdb={bv[bad]!r}\n"
                f"spark head:\n{a.head()}\nduck head:\n{b.head()}"
            )
