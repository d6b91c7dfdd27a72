"""Command-line console for the engine — the analog of the
reference's notebook console (`Lakehouse Apps console.py:6-39`,
which drives list/create/deploy by hand): list the declared query
surface, run any query against a scale-factor directory, show its
optimized physical plan, print its DuckDB oracle, check every key
against its oracle through the ``__spark_entry__`` contract, or time
the sf1 scale subset with ``bench.py``.

Usage:
    python -m lakehouse_app_spark list
    python -m lakehouse_app_spark run q_tpch_q3 [--sf-dir DIR] [-n 20]
    python -m lakehouse_app_spark explain KEY ... | --all [--sf-dir DIR] [--out DIR]
    python -m lakehouse_app_spark oracle q_tpch_q3
    python -m lakehouse_app_spark drive [KEY ...] [--sf-dir DIR] [--perturbed]
    python -m lakehouse_app_spark scale

``explain`` heads each plan with ``-- build jobs: N, memoized: yes|no``:
the Spark jobs the builder scheduled (tables already loaded) and
whether the prepared-plan memo now holds the plan, i.e. whether repeat
calls skip the builder.

``drive`` calls the contract the way its external caller does: on a
bare SparkSession (none of the engine's confs; ``--perturbed`` for
local[3], an odd width, and ANSI off) it runs ``entry``, then
judges every key against its DuckDB oracle with the comparator the
tests use. Naming keys runs only those, without ``entry``. It exits 1
on any mismatch, error or unknown key.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Source corpus of the sf1 scale study (replicated 10x).
SCALE_SRC = "/root/testdata/sf0.1"


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="lakehouse_app_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list declared queries")
    for c in ("run", "explain", "drive"):
        s = sub.add_parser(c)
        s.add_argument("query", nargs=None if c == "run" else "*")
        s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if c == "run":
            s.add_argument("-n", "--rows", type=int, default=20)
        elif c == "explain":
            s.add_argument("--all", action="store_true", help="every declared query")
            s.add_argument("--out", help="write DIR/<key>.txt instead of printing")
        else:
            s.add_argument(
                "--perturbed", action="store_true",
                help="local[3] (odd width), ANSI off",
            )
    s = sub.add_parser("oracle", help="print the DuckDB oracle SQL")
    s.add_argument("query")
    sub.add_parser("scale", help="build the sf1 corpus and time the scale subset")
    return p


def _bare_session(perturbed: bool):
    """A session with none of the engine's confs, as the contract's caller builds it."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("contract-caller")
    if perturbed:
        b = b.master("local[3]").config("spark.sql.ansi.enabled", "false")
    else:
        b = b.master("local[8]")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _drive_key(name, query, oracle, spark, sf_dir, con) -> tuple[bool, str]:
    try:
        got = query(spark, sf_dir).toPandas()
        want = con.execute(oracle).fetchdf()
    except Exception as ex:  # noqa: BLE001 - one key's error must not end the run
        traceback.print_exc()
        first = (str(ex).strip().splitlines() or [""])[0]
        return False, f"ERROR {type(ex).__name__}: {first[:300]}"
    from lakehouse_app_spark.parity import assert_frames_match

    try:
        assert_frames_match(got, want, name)
    except AssertionError as ex:
        return False, f"{len(got):7d} rows  MISMATCH\n{ex}"
    return True, f"{len(got):7d} rows  MATCH"


def _from_root(module: str):
    """Import a module that lives at the checkout root, not in the package."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return importlib.import_module(module)


def _drive(args, spark) -> int:
    from lakehouse_app_spark.parity import oracle_connection

    e = _from_root("__spark_entry__")
    if spark is None:
        spark = _bare_session(args.perturbed)
    q, o = e.queries(), e.oracle_sql()
    if not args.query:
        rows = e.entry(spark).collect()
        print("ENTRY rows:", len(rows))
        for r in rows:
            print("  ", r.asDict())
        print(f"{len(q)} queries, {len(o)} oracles", flush=True)
    fails = []
    with oracle_connection(args.sf_dir) as con:
        for name in args.query or sorted(q):
            if name in q:
                ok, status = _drive_key(name, q[name], o[name], spark, args.sf_dir, con)
            else:
                ok, status = False, "UNKNOWN KEY"
            if not ok:
                fails.append(name)
            print(f"  {name:24s} {status}", flush=True)
    print("FAILURES:", " ".join(fails) or "none")
    return 1 if fails else 0


def _explain(args, spark) -> int:
    from lakehouse_app_spark import QUERIES, release_caches
    from lakehouse_app_spark.runtime_cache import _jobs_scheduled, lookup
    from lakehouse_app_spark.sources.tables import load_tables

    names = sorted(QUERIES) if args.all else args.query
    if not names:
        print("explain: name a query or pass --all", file=sys.stderr)
        return 1
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    failed = 0
    for name in names:
        try:
            load_tables(spark, args.sf_dir)  # one-time ingest, not part of the build
            before = _jobs_scheduled(spark)
            df = QUERIES[name](spark, args.sf_dir)
            jobs = "?" if before is None else _jobs_scheduled(spark) - before
            hit = lookup("plans", (args.sf_dir, name), spark=spark)
            memo = "no" if hit is None else "yes"
            plan = f"-- build jobs: {jobs}, memoized: {memo}\n" + (
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as ex:  # noqa: BLE001 - recorded in the output
            plan = f"EXPLAIN FAILED: {type(ex).__name__}: {ex}"
            failed += 1
        if args.out:
            path = os.path.join(args.out, f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path}", file=sys.stderr)
        else:
            print(plan)
        release_caches()
    return 1 if failed else 0


def main(argv: list[str] | None = None, spark=None) -> int:
    from lakehouse_app_spark import ORACLES, QUERIES, load_all_queries

    load_all_queries()
    args = _build_parser().parse_args(argv)

    if args.cmd == "list":
        print("\n".join(sorted(QUERIES)))
        print(f"{len(QUERIES)} queries ({len(ORACLES)} exact oracles)")
        return 0

    if args.cmd == "drive":
        return _drive(args, spark)

    if args.cmd in ("run", "oracle") and args.query not in QUERIES:
        print(f"unknown query {args.query!r} (try: list)", file=sys.stderr)
        return 1
    if args.cmd == "oracle":
        print(ORACLES[args.query])
        return 0

    if args.cmd == "scale":
        from lakehouse_app_spark.scale import COPIES, KEYS, build_corpus

        dst = os.path.join(ROOT, "spark-warehouse", "scale_sf1")
        build_corpus(SCALE_SRC, dst, COPIES)
        return _from_root("bench").main(KEYS, dst, os.path.join(ROOT, "SCALE_SF1.json"))
    if spark is None:
        from lakehouse_app_spark import get_spark

        spark = get_spark()
    if args.cmd == "explain":
        return _explain(args, spark)
    QUERIES[args.query](spark, args.sf_dir).show(args.rows, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
