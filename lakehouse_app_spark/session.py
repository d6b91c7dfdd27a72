"""SparkSession factory and runtime configuration.

Mirrors the reference's session bootstrap role (`app/app.py:34-94`
builds its chain once per session; we build a SparkSession once per
process) but targets Spark's execution model: AQE on, UTC, Arrow for
pandas interchange, and the load-bearing ns-timestamp legacy flag
(SURVEY.md §A.1) without which the `events` table is unreadable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs that every entry point must guarantee,
# even when handed a SparkSession it did not create (the driver's).
RUNTIME_CONFS = {
    # events.parquet carries timestamp[ns]; Spark 4 hard-fails without this.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Determinism: timezone-free comparisons against the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Measured both ways at sf0.1: single-shuffle floor queries run
    # 30-50% faster without AQE (the stage barrier dominates), but
    # multi-shuffle queries (chained windows/aggregates: scd2_lookup,
    # bm25, count-min) regress ~2x without it, and the full suite is
    # net faster with it on. Results are AQE-invariant
    # (tests/test_plan_shapes.py).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow-accelerated pandas UDFs / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def width(spark: SparkSession) -> int:
    """The session's one parallelism width: the cores it runs on.

    Batch shuffles and state stores (``spark.sql.shuffle.partitions``,
    set by :func:`ensure_runtime_confs`), ``spread()`` and the staged
    stream files all use it; results are width-invariant."""
    return spark.sparkContext.defaultParallelism


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs on an existing session (idempotent),
    and its shuffle width to :func:`width`.

    Floor-shaving attempt recorded (round 8, negative result): the
    transformWithStateInPandas driver-worker is a fresh interpreter
    per query (StreamingPythonRunner → createSimpleWorker, no daemon)
    whose cold `import pyspark` from pyspark.zip costs ~0.95 s vs
    ~0.55 s from the unzipped source tree (zipimport cannot cache
    .pyc). Prepending $SPARK_HOME/python to the worker PYTHONPATH via
    SparkContext.environment does NOT capture the saving — the JVM
    prepends sparkPythonPath (the zips) ahead of user PYTHONPATH at
    worker launch, so the zip still wins resolution, while the env
    mutation re-keys the daemon worker pool and forfeits warm
    workers (A/B: floor 1.94-2.01 s stock vs 2.12-2.46 s injected)."""
    confs = {**RUNTIME_CONFS, "spark.sql.shuffle.partitions": str(width(spark))}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this session; builder path covers it
    return spark


def get_spark(
    app_name: str = "lakehouse-app-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    The master defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]``
    when unset); on a real cluster ``SPARK_GRAFT_MASTER`` names it. The
    width follows the master's cores (:func:`width`), and every
    operator is declared against the DataFrame API, so scaling is a
    config change, not a code change.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if SparkSession.getActiveSession() is None:
        # managed tables (bucketed writers) land in a scratch dir, not
        # cwd. Created only when a session will actually be BUILT —
        # getOrCreate ignores configs on an existing session, so a
        # per-call mkdtemp leaked one orphan dir per get_spark call
        # (review r6)
        import tempfile

        builder = builder.config(
            "spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark_wh_")
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return ensure_runtime_confs(builder.getOrCreate())
