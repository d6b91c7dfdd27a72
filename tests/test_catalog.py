"""Catalog/metadata surface tests (console list()/details() analogs)."""

import re

from lakehouse_app_spark.sources.catalog import (
    describe_table,
    list_tables,
    render_html,
)
from lakehouse_app_spark.sources.tables import TABLE_NAMES, load_tables


def test_list_tables_shows_registered_views(spark, sf_dir):
    load_tables(spark, sf_dir)
    names = {r["name"] for r in list_tables(spark).collect()}
    assert set(TABLE_NAMES) <= names


def test_describe_table_columns(spark, sf_dir):
    load_tables(spark, sf_dir)
    cols = {r["column"]: r["dtype"] for r in describe_table(spark, "lineitem").collect()}
    assert cols["l_orderkey"] == "bigint"
    assert cols["l_shipdate"].startswith("timestamp")


def test_render_html_is_presentation_only(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    html = render_html(t.region)
    assert html.startswith("<style>") and "<table" in html


def test_cli_console_list_run_explain_oracle(spark, sf_dir, capsys, tmp_path):
    """The __main__ console (reference console analog, R29): list
    enumerates the surface, run executes a query, explain prints a
    physical plan (or writes one file per key with --out), oracle
    prints SQL — all through main() with the shared test session."""
    from lakehouse_app_spark.__main__ import main

    assert main(["list"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "q_tpch_q3" in out and "exact" in out

    assert main(["run", "q_scan_count", "--sf-dir", sf_dir], spark=spark) == 0
    assert re.search(r"\|tbl\s*\|n\s*\|", capsys.readouterr().out)

    assert main(["explain", "q_orderby_limit", "--sf-dir", sf_dir], spark=spark) == 0
    assert "TakeOrderedAndProject" in capsys.readouterr().out

    # --out writes one file per key and records a failed explain in it
    argv = ["explain", "q_orderby_limit", "q_nope", "--sf-dir", sf_dir, "--out", str(tmp_path)]
    assert main(argv, spark=spark) == 1
    assert "TakeOrderedAndProject" in (tmp_path / "q_orderby_limit.txt").read_text()
    assert (tmp_path / "q_nope.txt").read_text().startswith("EXPLAIN FAILED")

    assert main(["oracle", "q_tpch_q3"], spark=spark) == 0
    assert "SELECT" in capsys.readouterr().out

    assert main(["run", "q_nope", "--sf-dir", sf_dir], spark=spark) == 1
