"""The console's ``drive`` parity check, ``explain``'s memo header and
the sf1 scale study's corpus replication."""

import re

import duckdb

from lakehouse_app_spark import ORACLES
from lakehouse_app_spark.__main__ import main
from lakehouse_app_spark.scale import build_corpus


def test_drive_matches_and_fails_loudly(spark, sf_dir, capsys, monkeypatch):
    assert main(["drive", "q_scan_count", "--sf-dir", sf_dir], spark=spark) == 0
    out = capsys.readouterr().out
    assert "MATCH" in out and "FAILURES: none" in out

    monkeypatch.setitem(
        ORACLES, "q_scan_count",
        f"SELECT tbl, n + 1 AS n FROM ({ORACLES['q_scan_count']})",
    )
    assert main(["drive", "q_scan_count", "--sf-dir", sf_dir], spark=spark) == 1
    out = capsys.readouterr().out
    assert "MISMATCH" in out and "FAILURES: q_scan_count" in out

    assert main(["drive", "q_nope", "--sf-dir", sf_dir], spark=spark) == 1
    assert "FAILURES: q_nope" in capsys.readouterr().out


def test_explain_reports_build_jobs_and_memo(spark, sf_dir, capsys):
    assert main(["explain", "q_mmr_diversify", "--sf-dir", sf_dir], spark=spark) == 0
    assert capsys.readouterr().out.startswith("-- build jobs: 0, memoized: yes\n")

    assert main(["explain", "q_sink_roundtrip", "--sf-dir", sf_dir], spark=spark) == 0
    m = re.match(r"-- build jobs: (\d+), memoized: (\w+)\n", capsys.readouterr().out)
    assert m and int(m[1]) > 0 and m[2] == "no", m


def _count(path, sql="SELECT count(*) FROM read_parquet('{p}')"):
    return duckdb.sql(sql.format(p=path)).fetchone()[0]


def test_build_corpus_replicates_facts_and_keeps_fixed_dims(sf_dir, tmp_path):
    build_corpus(sf_dir, str(tmp_path), copies=2)
    for t in ("lineitem", "orders", "events"):
        assert _count(tmp_path / f"{t}.parquet") == 2 * _count(f"{sf_dir}/{t}.parquet"), t
    for t in ("nation", "region"):
        assert _count(tmp_path / f"{t}.parquet") == _count(f"{sf_dir}/{t}.parquet"), t
    join = (
        "SELECT count(*) FROM read_parquet('{p}/lineitem.parquet') l "
        "JOIN read_parquet('{p}/orders.parquet') o ON l.l_orderkey = o.o_orderkey"
    )
    assert _count(tmp_path, join) == 2 * _count(sf_dir, join)
