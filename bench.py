"""Benchmark harness: wall-clock per declared query.

Runs every registered query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], 2 iterations each (min recorded — steady
state), executing via the noop sink so timings measure computation,
not result transfer. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

The driver records only the last ~2 KB of output, so the printed line
must stay compact: "queries" carries the headline (slowest) queries
only; the full per-query breakdown (all queries + per-query DuckDB
oracle timings) is written to BENCH_full_local.json alongside this
script. Also times the DuckDB oracle per query (same machine, same
data) — BASELINE.md's comparator — totalled under "duckdb_total".
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lakehouse_app_spark as eng

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# 3 reps (min recorded), raised from 2 in round 8: the bench host
# throttles on a minutes timescale, and a third sample materially
# tightens the min toward the true floor on BOTH engines (the same
# constant times the DuckDB side, so the protocol stays symmetric).
ITERATIONS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
RUN_DUCKDB = os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") == "1"


def _sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else -1.0


# The two TWS-family stateful queries whose r9 score-of-record doubled
# WHILE the in-band floor instruments fell (driver-host throttling
# signature). They get min-of-5 and their full per-rep wall-times plus
# an ADJACENT floor re-probe recorded in the printed line, so a
# throttle window during their reps is visible in the record itself —
# the duck_pairing_bias treatment applied to the stateful tail.
TWS_WATCH = (
    "q_stream_state_v2",
    "q_stream_user_state",
    "q_stream_state_timers",
)


def time_spark_query(spark, name: str, fn) -> tuple[float, list[float]]:
    # streaming queries are dominated by per-query startup floors
    # (state-store init, checkpoint WAL, TWS worker fork) whose
    # variance is a large fraction of the measurement — the r7
    # driver round recorded a 2.7× swing on unchanged streaming code.
    # They get at least 3 reps even under a lowered ITERS env; with
    # the round-8 default of 3 everywhere this is a floor, not an
    # extra rep (stream replays are wall-clock-expensive). The two
    # TWS_WATCH queries get min-of-5 (round-9 verdict item 1).
    if name in TWS_WATCH:
        reps = max(ITERATIONS, 5)
    elif name.startswith("q_stream"):
        reps = max(ITERATIONS, 3)
    else:
        reps = ITERATIONS
    times: list[float] = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        df.write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
    # scoped caches (signature/posting tables) are per-query; release
    # so one query's blocks never linger under the rest of the session
    eng.release_caches()
    return round(min(times), 4), [round(t, 3) for t in times]


def time_duckdb(con, sql: str) -> float:
    best = float("inf")
    for _ in range(ITERATIONS):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _measure_stream_floor(
    spark, runs: int = 5, stateful_only: bool = False
) -> tuple[float, float]:
    """(stateless, stateful) medians of a minimal 1-row availableNow
    stream into a memory sink. Stateless = passthrough append (bare
    micro-batch machinery). Stateful = watermark + windowed count in
    append mode, which adds the state store, the shuffle, and the
    no-data eviction batch — the fixed startup cost of every
    stateful streaming query here, measured on a stream whose DATA
    is one row."""
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_app_spark.streaming.stream_queries import (
        _checkpoint_root,
        run_to_memory,
    )

    src = tempfile.mkdtemp(prefix="stream_floor_src_", dir=_checkpoint_root())
    spark.range(1).select(
        F.col("id"), F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts")
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def once(stateful: bool) -> float:
        raw = spark.readStream.schema(schema).parquet(src)
        if stateful:
            df = (
                raw.withWatermark("ts", "1 minute")
                .groupBy(F.window("ts", "1 hour"))
                .count()
            )
        else:
            df = raw
        name = f"_floor_probe_{'s' if stateful else 'p'}"
        # the trailing no-data batch stays, it is the eviction the
        # stateful arm measures
        t0 = time.perf_counter()
        run_to_memory(df, name, output_mode="append")
        return time.perf_counter() - t0

    # the adjacent re-probe only reads the stateful median; skip the
    # passthrough arm there (one full streaming startup saved per
    # use). The skipped arm reports -1.0 — the codebase's explicit
    # "not measured" sentinel (same as tws_floor when unavailable) —
    # never a fabricated 0.0 a future reader could mistake for a
    # measured floor (review r10).
    plain = (
        [-1.0] if stateful_only else sorted(once(False) for _ in range(runs))
    )
    stateful = sorted(once(True) for _ in range(runs))
    return plain[len(plain) // 2], stateful[len(stateful) // 2]


def _measure_tws_floor(spark, runs: int = 3) -> float:
    """Median wall-clock of a MINIMAL (1-row, 1-key, trivial state)
    transformWithStateInPandas query — the fixed startup of the
    arbitrary-state-v2 API, which is structurally higher than the
    applyInPandasWithState floor: the JVM forks a dedicated Python
    driver-worker per query (fresh interpreter + pyspark + protobuf
    imports), starts the state server, and initializes the RocksDB
    provider. Decomposes q_stream_state_v2's residual the same way
    stream_floor_stateful_sec decomposes the other stateful streams.
    Returns -1.0 when the v2 API is unavailable (no protobuf source)."""
    from lakehouse_app_spark.streaming.stream_queries import _twsp_available

    if not _twsp_available():
        return -1.0
    import pandas as pd  # noqa: F401
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor

    from lakehouse_app_spark.sources.pb_vendor import (
        inject_worker_pythonpath,
        protobuf_runtime_dir,
    )
    from lakehouse_app_spark.streaming.stream_queries import (
        _checkpoint_root,
        run_tws,
    )

    pb_dir = protobuf_runtime_dir()
    if pb_dir:
        inject_worker_pythonpath(spark, pb_dir)

    src = tempfile.mkdtemp(prefix="tws_floor_src_", dir=_checkpoint_root())
    spark.range(1).select(F.col("id").alias("k"), F.col("id").alias("v")).write.mode(
        "overwrite"
    ).parquet(src)
    schema = spark.read.parquet(src).schema

    class _One(StatefulProcessor):
        def init(self, handle):
            self.s = handle.getValueState("s", "n long")

        def handleInputRows(self, key, rows, timer_values):
            import pandas as _pd

            n = sum(len(p) for p in rows)
            self.s.update((int(n),))
            yield _pd.DataFrame({"k": [key[0]], "n": [n]})

        def close(self):
            pass

    def once() -> float:
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream.groupBy("k").transformWithStateInPandas(
            statefulProcessor=_One(),
            outputStructType="k long, n long",
            outputMode="Update",
            timeMode="None",
        )
        t0 = time.perf_counter()
        run_tws(spark, out, "_tws_floor")
        return time.perf_counter() - t0

    ts = sorted(once() for _ in range(runs))
    return ts[len(ts) // 2]


def _measure_timer_floor(spark, runs: int = 3) -> float:
    """Median wall-clock of a MINIMAL (1-row, 1-key) EventTime
    transformWithStateInPandas replay whose single registered timer
    fires in the mandatory no-data batch — exactly
    q_stream_state_timers' two-micro-batch lifecycle with zero data
    volume. Recorded in-band (r12, verdict item 3) so the driver
    record itself carries the irreducibility decomposition:
    state_timers_min − timer_floor is the data-scaled cost; the floor
    is the API-mandated 2-batch price (driver-worker fork + 2×
    state-store open/commit + no-data batch planning). Returns -1.0
    when the v2 API is unavailable."""
    from lakehouse_app_spark.streaming.stream_queries import _twsp_available

    if not _twsp_available():
        return -1.0
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor

    from lakehouse_app_spark.sources.pb_vendor import (
        inject_worker_pythonpath,
        protobuf_runtime_dir,
    )
    from lakehouse_app_spark.streaming.stream_queries import (
        _checkpoint_root,
        run_tws,
    )

    pb_dir = protobuf_runtime_dir()
    if pb_dir:
        inject_worker_pythonpath(spark, pb_dir)

    src = tempfile.mkdtemp(prefix="timer_floor_src_", dir=_checkpoint_root())
    spark.range(1).select(
        F.col("id").alias("k"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts_l"),
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    class _OneTimer(StatefulProcessor):
        def init(self, handle):
            self.h = handle
            self.s = handle.getValueState("s", "n long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            n = sum(len(p) for p in rows)
            self.s.update((int(n),))
            self.h.registerTimer(0)  # fires at the final watermark floor
            yield _pd.DataFrame({"k": [key[0]], "n": [n]})

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as _pd

            self.s.clear()
            yield _pd.DataFrame({"k": [key[0]], "n": [-1]})

        def close(self):
            pass

    def once() -> float:
        stream = spark.readStream.schema(schema).parquet(src)
        keyed = (
            stream.withWatermark("ts_l", "0 seconds")
            .groupBy("k")
            .transformWithStateInPandas(
                statefulProcessor=_OneTimer(),
                outputStructType="k long, n long",
                outputMode="Update",
                timeMode="EventTime",
            )
        )
        t0 = time.perf_counter()
        run_tws(spark, keyed, "_timer_floor")
        return time.perf_counter() - t0

    ts = sorted(once() for _ in range(runs))
    return ts[len(ts) // 2]


def main() -> None:
    eng.load_all_queries()
    spark = eng.get_spark(app_name="lakehouse-app-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM / codegen paths once
    eng.load_tables(spark, SF_DIR)
    spark.sql("SELECT count(*) FROM lineitem").collect()

    # Scheduling-floor probe: a no-op query (1 row, 1 task, nothing to
    # compute) measures the fixed per-query cost of local-mode job
    # submission — Py4J command, DAG scheduling, task launch, commit.
    # This cost is constant in data volume (amortizes to noise on a
    # real cluster at real scale) but is paid by every one of the ~200
    # sub-second bench queries here, so the recorded JSON carries it
    # for the (total − floor) decomposition in BASELINE.md.
    noop_df = spark.range(1)
    floor_samples = []
    for _ in range(20):
        t0 = time.perf_counter()
        noop_df.write.mode("overwrite").format("noop").save()
        floor_samples.append(time.perf_counter() - t0)
    floor_per_query = sorted(floor_samples)[len(floor_samples) // 2]

    # Streaming-floor probe (round-5 verdict item 4): a minimal
    # 1-row availableNow file stream into a memory sink measures the
    # API-mandated per-stream startup (checkpoint dir, state-store
    # init, micro-batch planner, replay bookkeeping) that every
    # streaming query pays regardless of data volume. The recorded
    # value decomposes the streaming family's residual the same way
    # floor_per_query_sec decomposes the batch tail.
    stream_floor, stream_floor_stateful = _measure_stream_floor(spark)
    tws_floor = _measure_tws_floor(spark)
    timer_floor = _measure_timer_floor(spark)

    # DuckDB comparator set up BEFORE the loop so each oracle is
    # timed immediately after its Spark twin (paired measurement):
    # this host throttles on a timescale of minutes, and the old
    # run-all-Spark-then-all-DuckDB ordering let a late-run (or
    # early-run) slowdown land entirely on one side of the ratio.
    # Pairing makes the recorded ratio robust to monotonic host
    # drift — the within-run protocol BASELINE.md already mandates
    # for A/Bs, applied to the score of record itself.
    con = None
    duck: dict[str, float] = {}
    if RUN_DUCKDB:
        from lakehouse_app_spark.parity import oracle_connection

        con = oracle_connection(SF_DIR)

    per_query: dict[str, float] = {}
    tws_watch: dict[str, dict] = {}
    for name in sorted(eng.QUERIES):
        try:
            per_query[name], rep_times = time_spark_query(
                spark, name, eng.QUERIES[name]
            )
            print(f"bench: {name} {per_query[name]}s", file=sys.stderr, flush=True)
        except Exception as ex:  # a broken query must not sink the bench
            print(f"bench: {name} failed: {ex}", file=sys.stderr, flush=True)
            per_query[name] = -1.0
            rep_times = []
        if name in TWS_WATCH and per_query[name] > 0:
            # adjacent floor re-probe: one sample of the SAME floor
            # instrument this query's residual is read against, taken
            # seconds after its reps — if the host throttled the reps,
            # it throttles this probe too, and the record shows it
            # (reps high + floor_adj high = host; reps high +
            # floor_adj normal = regression in the query). OUTSIDE the
            # query's try, with its own guard: a probe hiccup must
            # neither discard the valid measurement it annotates nor
            # shrink the recorded Spark total (review r10).
            try:
                if name == "q_stream_state_v2":
                    floor_adj = _measure_tws_floor(spark, runs=1)
                elif name == "q_stream_state_timers":
                    floor_adj = _measure_timer_floor(spark, runs=1)
                else:
                    floor_adj = _measure_stream_floor(
                        spark, runs=1, stateful_only=True
                    )[1]
            except Exception as ex:
                print(f"bench(probe): {name} {ex}", file=sys.stderr)
                floor_adj = -1.0
            tws_watch[name] = {
                "reps": rep_times,
                "floor_adj": round(floor_adj, 3),
            }
        if con is not None and name in eng.ORACLES:
            try:
                duck[name] = time_duckdb(con, eng.ORACLES[name])
            except Exception as ex:
                print(f"bench(duckdb): {name} failed: {ex}", file=sys.stderr)
                duck[name] = -1.0

    full = {
        "metric": "sum_query_wall_sec",
        "value": round(sum(v for v in per_query.values() if v > 0), 4),
        "unit": "sec",
        "queries": per_query,
        "sf": _sf_from_dir(SF_DIR),
        "n_queries": len(per_query),
        "n_failed": sum(1 for v in per_query.values() if v < 0),
        "floor_per_query_sec": round(floor_per_query, 4),
        "stream_floor_per_query_sec": round(stream_floor, 4),
        "stream_floor_stateful_sec": round(stream_floor_stateful, 4),
        "tws_floor_sec": round(tws_floor, 4),
        "tws_timer_floor_sec": round(timer_floor, 4),
        "tws_watch": tws_watch,
    }

    if RUN_DUCKDB:
        full["duckdb_queries"] = duck
        full["duckdb_total"] = round(sum(v for v in duck.values() if v > 0), 4)
        # Pairing-bias bound (ADVICE r8): each paired DuckDB timing
        # runs while the Spark JVM may still be doing post-action
        # background work (GC, AQE cleanup), which could inflate
        # duckdb_total and flatter the recorded ratio. Re-time the 20
        # most expensive oracles now — every Spark action long done,
        # JVM quiescent after a settle — and record paired/unpaired
        # on that sample. A ratio near 1.0 certifies the paired
        # protocol; a high one means the score of record was
        # flattered and must be read against this bound.
        sample = [
            k
            for k, v in sorted(duck.items(), key=lambda kv: -kv[1])
            if v > 0
        ][:20]
        if sample:
            time.sleep(1.0)  # JVM settle
            paired_s = sum(duck[k] for k in sample)
            unpaired_s = 0.0
            for k in sample:
                try:
                    unpaired_s += time_duckdb(con, eng.ORACLES[k])
                except Exception:
                    unpaired_s += duck[k]  # neutral on a flaky oracle
            bias = round(paired_s / unpaired_s, 3) if unpaired_s > 0 else 1.0
            full["duckdb_pairing_check"] = {
                "paired_sample_sec": round(paired_s, 4),
                "unpaired_sample_sec": round(unpaired_s, 4),
                "paired_over_unpaired": bias,
            }
        # Headline ratios, derived so the record is self-attributing:
        # `ratio` is the raw suite-sum comparison; `floor_adjusted_
        # ratio` subtracts the measured per-query scheduling floor
        # (constant in data volume — local-mode job submission paid
        # once per query, ~12% of the Spark total at 260 keys) from
        # the numerator, tracking plan quality as coverage grows.
        # Both are reported; neither replaces the raw totals.
        if full["duckdb_total"] > 0:
            full["ratio"] = round(full["value"] / full["duckdb_total"], 3)
            adj = full["value"] - full["n_queries"] * floor_per_query
            full["floor_adjusted_ratio"] = round(
                adj / full["duckdb_total"], 3
            )

    # Full breakdown → sidecar file (the driver keeps only ~2 KB of
    # output, so the printed line must be small).
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_full_local.json"), "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)

    headline_n = int(os.environ.get("SPARK_GRAFT_BENCH_HEADLINE", "20"))
    slowest = dict(
        sorted(
            ((k, v) for k, v in per_query.items() if v > 0),
            key=lambda kv: -kv[1],
        )[:headline_n]
    )
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in slowest.items()},
        "sf": full["sf"],
        "n_queries": full["n_queries"],
        "n_failed": full["n_failed"],
        "floor_per_query_sec": full["floor_per_query_sec"],
        "stream_floor_per_query_sec": full["stream_floor_per_query_sec"],
        "stream_floor_stateful_sec": full["stream_floor_stateful_sec"],
        "tws_floor_sec": full["tws_floor_sec"],
        "tws_timer_floor_sec": full["tws_timer_floor_sec"],
        "tws_watch": tws_watch,
    }
    if RUN_DUCKDB:
        compact["duckdb_total"] = full["duckdb_total"]
        for k in ("ratio", "floor_adjusted_ratio"):
            if k in full:
                compact[k] = full[k]
        if "duckdb_pairing_check" in full:
            compact["duck_pairing_bias"] = full["duckdb_pairing_check"][
                "paired_over_unpaired"
            ]
    line = json.dumps(compact)
    # Hard guard: never exceed the driver's tail-capture budget.
    while len(line) > 1800 and compact["queries"]:
        compact["queries"].pop(next(iter(reversed(compact["queries"]))))
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
