"""The session's one parallelism width (``session.width``, the cores):
table loads set the shuffle width to it, bounded replays run their
state stores at it, and a guard that no module picks a width of its
own again, nor a replay shape beyond q_stream_dedup's skipped trailing
batch, nor a stream source or foreachBatch sink of its own."""

from __future__ import annotations

import ast
import pathlib
import time

from lakehouse_app_spark import session

PKG = pathlib.Path(session.__file__).parent
ROOT = PKG.parent
WIDTH_CONF = "spark.sql.shuffle.partitions"
REPLAY_HELPERS = {"bounded_replay", "run_to_memory", "run_tws", "run_to_parquet"}


def test_load_tables_sets_the_session_width(spark, sf_dir):
    """A session handed in with its own shuffle width (the driver's)
    runs at the cores once its tables load."""
    from lakehouse_app_spark.sources.tables import load_tables

    caller = spark.newSession()  # its own confs and table memo
    caller.conf.set(WIDTH_CONF, "7")
    load_tables(caller, sf_dir)
    assert int(caller.conf.get(WIDTH_CONF)) == spark.sparkContext.defaultParallelism


def test_stateful_replay_runs_state_stores_at_session_width(spark, tmp_path):
    """A bounded replay scopes no width: a fresh checkpoint pins its
    state stores at the session width."""
    from pyspark.sql.streaming import StreamingQueryListener

    from lakehouse_app_spark.streaming.stream_queries import run_to_memory

    stores: list[int] = []

    class Probe(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            ops = e.progress.stateOperators
            if ops:
                stores.append(ops[0].numShufflePartitions)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    src = str(tmp_path / "src")
    spark.range(40).selectExpr("id % 5 AS k").write.parquet(src)
    session.ensure_runtime_confs(spark)
    probe = Probe()
    spark.streams.addListener(probe)
    try:
        stream = spark.readStream.schema("k long").parquet(src)
        out = run_to_memory(stream.groupBy("k").count(), "width_probe")
        assert out.count() == 5
        for _ in range(40):  # listener callbacks are async
            if stores:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(probe)
    assert stores and set(stores) == {spark.sparkContext.defaultParallelism}, stores


def _sources():
    yield from PKG.rglob("*.py")
    yield from (ROOT / "tests").glob("*.py")
    yield ROOT / "bench.py"


def test_no_module_picks_a_width():
    """Only session.py names the shuffle-width conf, and no call passes
    a width to a replay helper."""
    found = set()
    for path in _sources():
        rel = path.relative_to(ROOT).as_posix()
        in_pkg = path.is_relative_to(PKG)
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                in_pkg and rel != "lakehouse_app_spark/session.py"
                and isinstance(node, ast.Constant) and isinstance(node.value, str)
                and WIDTH_CONF in node.value
            ):
                found.add((rel, node.lineno, WIDTH_CONF))
            elif isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in REPLAY_HELPERS and any(
                    k.arg == "partitions" for k in node.keywords
                ):
                    found.add((rel, node.lineno, name))
    assert found == set()


def _nodes_by_function(tree: ast.AST, fn: str | None = None):
    """Every node in ``tree`` with the name of its innermost enclosing
    function (None at module level)."""
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _nodes_by_function(node, node.name)
            continue
        yield fn, node
        yield from _nodes_by_function(node, fn)


def _calls_by_function(tree: ast.AST):
    """Every call in ``tree`` with the name of its innermost enclosing
    function (None at module level)."""
    return ((fn, n) for fn, n in _nodes_by_function(tree) if isinstance(n, ast.Call))


def test_no_call_picks_a_replay_shape():
    """No call passes ``unload_state=`` (every replay closes its state
    stores in one teardown), and in the engine only q_stream_dedup
    chooses ``final_no_data_batch=``; a helper that takes the flag may
    forward it. Tests pass the flag to exercise the switch itself."""
    found = set()
    for path in _sources():
        rel = path.relative_to(ROOT).as_posix()
        in_tests = path.parent.name == "tests"
        for fn, call in _calls_by_function(ast.parse(path.read_text())):
            for k in call.keywords:
                forwarded = isinstance(k.value, ast.Name) and k.value.id == k.arg
                if k.arg == "unload_state" or (
                    k.arg == "final_no_data_batch" and not in_tests
                    and fn != "q_stream_dedup" and not forwarded
                ):
                    found.add((rel, call.lineno, fn, k.arg))
    assert found == set()


def test_one_stream_source_and_one_file_sink():
    """In the engine only file_stream opens a stream source
    (``readStream``) and only run_to_parquet opens a foreachBatch
    sink, so every replay shares one schema rule and one scratch
    protocol."""
    owner = {"readStream": "file_stream", "foreachBatch": "run_to_parquet"}
    found = set()
    for path in PKG.rglob("*.py"):
        for fn, node in _nodes_by_function(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and owner.get(node.attr, fn) != fn:
                found.add((path.relative_to(ROOT).as_posix(), node.lineno, fn, node.attr))
    assert found == set()
