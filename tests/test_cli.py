"""The console's ``drive`` parity check, ``explain``'s memo header,
the sf1 scale study's corpus replication and ``bench.py``'s per-key
record."""

import ast
import json
import os
import re

import duckdb

import bench
from lakehouse_app_spark import ORACLES
from lakehouse_app_spark.__main__ import ROOT, main
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


def test_bench_times_every_key_under_one_rule(spark, sf_dir, tmp_path):
    keys = ["q_scan_count", "q_stream_tumbling"]
    out = tmp_path / "bench.json"
    assert bench.main(keys, sf_dir, str(out)) == 0
    rec = json.loads(out.read_text())
    assert rec["n_failed"] == 0 and rec["n_queries"] == 2
    for k in keys:
        assert len(rec["reps"][k]) == 3 and min(rec["reps"][k]) > 0, rec["reps"]
        assert rec["queries"][k] > 0 and rec["duckdb_queries"][k] > 0, k
    assert "tws_watch" not in rec
    floors = {k for k in rec if "floor" in k}
    assert floors == {"floor_per_query_sec", "floor_adjusted_ratio"}, floors


def test_bench_unknown_key_exits_1(sf_dir, tmp_path):
    out = tmp_path / "bench.json"
    assert bench.main(["q_nope"], sf_dir, str(out)) == 1
    assert not out.exists()


def _env_reads(path: str) -> list[str]:
    """Every environment read in ``path``: the key when it is a
    literal, else the source of the whole access."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    reads = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv")):
            continue
        use = parents[node]
        if node.attr == "environ" and isinstance(use, ast.Attribute):
            use = parents[use]  # os.environ.get(...) / .setdefault(...)
        key = None
        if isinstance(use, ast.Subscript):
            key = use.slice
        elif isinstance(use, ast.Call) and use.args:
            key = use.args[0]
        reads.append(key.value if isinstance(key, ast.Constant) else ast.unparse(use))
    return reads


def test_timer_reads_no_env_knob_but_the_sf_dir():
    reads = {
        f: _env_reads(os.path.join(ROOT, f))
        for f in ("bench.py", os.path.join("lakehouse_app_spark", "scale.py"))
    }
    assert "SPARK_GRAFT_SF_DIR" in reads["bench.py"], reads
    assert all(set(r) <= {"SPARK_GRAFT_SF_DIR"} for r in reads.values()), reads
