"""session.local_frame: driver rows -> DataFrame through Arrow.

Parity with ``spark.createDataFrame(<list>, schema)`` (schema with
nullability, rows, NaN vs null, empty input, the manifest and centroid
shapes), no Python worker in the lineage, and the pipeline API running
without a ``PythonRDD`` in any job it launches. A source scan keeps
``createDataFrame`` on Python rows from coming back outside local_frame.
"""

import ast
import math
import os
from datetime import datetime, timezone

import pandas as pd
import pytest
from pyspark.sql import Row

from indexlab_spark.schemas import MANIFESTS_SCHEMA
from indexlab_spark.session import local_frame

ENGINE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "indexlab_spark")

_NOW = datetime(2026, 10, 17, 12, 30, 5, 123456, tzinfo=timezone.utc)

CASES = {
    "query_row": ([(0, "what is alpha")], "query_id long, query string"),
    "offsets": ([(0, 0), (1, 17), (3, 40)], "_pid int, _off long"),
    "centroids": (
        [(0, [0.5, -1.25, float("nan")]), (1, [None, 2.0]), (2, None), (3, [])],
        "cluster_id int, centroid array<double>",
    ),
    "manifest": (
        [(
            "idx", "20261017-123005", 64, 1234, "hash-ngram-64", True, "flat",
            {"nlist": "32", "text_column": ""}, ("fixed_chars", 200, 40), "ip",
            _NOW, {"docs.csv": (1234, "ab12", _NOW, "docs.csv")},
        )],
        MANIFESTS_SCHEMA,
    ),
    "nan_vs_null": (
        [(1, float("nan"), "a"), (2, None, None), (3, 0.0, "")],
        "k int, v double, s string",
    ),
    "empty": ([], "day date, distinct_keys long, window_days int"),
}


def _canon(v):
    """Row values with NaN made comparable (NaN != NaN) and kept
    distinct from None."""
    if isinstance(v, Row):
        return ("row", tuple(_canon(x) for x in v))
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, float) and math.isnan(v):
        return "<nan>"
    return v


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    ref = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == ref.schema  # StructType equality includes nullability
    assert [f.nullable for f in got.schema.fields] == [f.nullable for f in ref.schema.fields]
    assert _canon(got.collect()) == _canon(ref.collect())
    assert "PythonRDD" not in _lineage(got)
    assert "PythonRDD" in _lineage(ref)  # the path local_frame replaces


def test_local_frame_keeps_nan_apart_from_null(spark):
    rows, schema = CASES["nan_vs_null"]
    got = local_frame(spark, rows, schema).orderBy("k").collect()
    assert math.isnan(got[0]["v"]) and got[1]["v"] is None and got[2]["v"] == 0.0
    cents = local_frame(spark, *CASES["centroids"]).orderBy("cluster_id").collect()
    assert math.isnan(cents[0]["centroid"][2])
    assert cents[1]["centroid"][0] is None and cents[2]["centroid"] is None
    assert cents[3]["centroid"] == []


def test_local_frame_empty_and_generator_input(spark):
    empty = local_frame(spark, [], "a int, b string")
    assert empty.count() == 0 and empty.columns == ["a", "b"]
    gen = local_frame(spark, ((i, str(i)) for i in range(3)), "a int, b string")
    assert sorted(map(tuple, gen.collect())) == [(0, "0"), (1, "1"), (2, "2")]


def test_one_row_is_one_partition(spark):
    df = local_frame(spark, [(0, "q")], "query_id long, query string")
    assert df._jdf.queryExecution().toRdd().getNumPartitions() == 1


# ---------------------------------------------------------------- pipeline
def _jobs(spark) -> list:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return [jobs.apply(i) for i in range(jobs.size())]


def _next_stage(spark) -> int:
    """Stage ids grow monotonically: every stage a later job creates has
    an id >= this one."""
    ids = [j.stageIds().apply(i) for j in _jobs(spark) for i in range(j.stageIds().size())]
    return 1 + max(ids, default=-1)


def _python_rdd_stages(spark, first_stage: int) -> tuple[list, int]:
    """Stages run since ``first_stage`` whose RDD graph holds a PythonRDD
    (a frame parallelized from Python rows), and how many stages were
    checked. Skipped stages ran nothing, and the store evicts them first
    once it is past ``spark.ui.retainedStages``: those are not checked."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()

    def names(cluster, out):
        nodes, subs = cluster.childNodes(), cluster.childClusters()
        out += [nodes.apply(i).name() for i in range(nodes.size())]
        for i in range(subs.size()):
            names(subs.apply(i), out)
        return out

    bad, checked = [], 0
    sids = {j.stageIds().apply(i) for j in _jobs(spark) for i in range(j.stageIds().size())}
    for sid in sorted(s for s in sids if s >= first_stage):
        try:
            graph = store.operationGraphForStage(sid)
        except Py4JJavaError:
            continue
        checked += 1
        if "PythonRDD" in names(graph.rootCluster(), []):
            bad.append(sid)
    return bad, checked


def test_pipeline_runs_without_python_rdd(spark, tmp_path):
    from indexlab_spark.config import EngineConfig, IngestConfig
    from indexlab_spark.pipeline import append_to_index, build_index, evaluate, search

    eng = EngineConfig(warehouse_dir=str(tmp_path / "wh"))
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    docs = spark.createDataFrame(pd.DataFrame({
        "text": [" ".join(words[(i + j) % 8] for j in range(12)) + f" doc{i}" for i in range(40)],
    }))
    more = spark.createDataFrame(pd.DataFrame({"text": [f"iota kappa doc{i}" for i in range(8)]}))
    gold = spark.createDataFrame(pd.DataFrame({
        "question": ["alpha beta", "kappa doc3"], "expected_id": ["0#0", "40#0"],
    }))
    assert "PythonRDD" not in _lineage(docs)  # pandas input is Arrow already

    first = _next_stage(spark)
    build_index(spark, docs, IngestConfig(index_name="flat", chunk_size=60, chunk_overlap=10),
                eng, version="v1")
    build_index(spark, docs, IngestConfig(index_name="ivf", chunk_size=60, chunk_overlap=10,
                                          backend="ivf", nlist=4, nprobe=2), eng, version="v1")
    append_to_index(spark, more, "flat", eng, version="v2")
    outs = [
        search(spark, "flat", "alpha gamma", k=3, engine=eng),
        search(spark, "flat", "alpha gamma", k=3, hybrid=True, engine=eng),
        search(spark, "ivf", "alpha gamma", k=3, engine=eng),
        *evaluate(spark, "flat", gold, k=3, engine=eng),
    ]
    for df in outs:
        assert "PythonRDD" not in _lineage(df)
        assert df.collect()
    bad, checked = _python_rdd_stages(spark, first)
    assert bad == [] and checked >= 20, (bad, checked)


def test_search_reads_a_caller_query_frame_once(spark, tmp_path):
    """A caller-supplied query frame (here parallelized from Python rows)
    is computed by one stage per search, not once per embed, BM25 and
    hydrate branch."""
    from indexlab_spark.config import EngineConfig, IngestConfig
    from indexlab_spark.pipeline import build_index, search

    eng = EngineConfig(warehouse_dir=str(tmp_path / "wh"))
    docs = spark.createDataFrame(pd.DataFrame({"text": [f"alpha beta doc{i}" for i in range(20)]}))
    build_index(spark, docs, IngestConfig(index_name="q"), eng, version="v1")
    queries = spark.createDataFrame([(1, "alpha doc3"), (2, "beta doc7")], "query_id long, query string")
    first = _next_stage(spark)
    out = search(spark, "q", queries, k=2, hybrid=True, engine=eng)
    assert sorted({r["query_id"] for r in out.collect()}) == [1, 2]
    bad, checked = _python_rdd_stages(spark, first)
    assert len(bad) == 1 and checked >= 5, (bad, checked)


# ---------------------------------------------------------------- CI guard
#: createDataFrame calls that stay, keyed (file, enclosing function,
#: first argument), with the reason each one is not local_frame's job
ALLOWED = {
    ("sources/reader.py", "_read_excel_driver", "pdf"):
        "pandas input: Spark already converts it through Arrow",
    ("sources/reader.py", "_read_excel_driver", "data"):
        "stdlib-only fallback without pandas: column types are inferred, so there is no schema",
    ("session.py", "local_frame", "table"):
        "local_frame itself: the Arrow table",
}


class _Calls(ast.NodeVisitor):
    """createDataFrame calls with their innermost enclosing function."""

    def __init__(self, rel: str) -> None:
        self.rel, self.stack, self.found = rel, ["<module>"], []

    def visit_FunctionDef(self, node) -> None:
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node) -> None:
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            arg = ast.unparse(node.args[0]) if node.args else ""
            self.found.append(((self.rel, self.stack[-1], arg), node.lineno))
        self.generic_visit(node)


def _create_dataframe_calls():
    for base, _, files in os.walk(ENGINE):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                calls = _Calls(os.path.relpath(path, ENGINE))
                calls.visit(ast.parse(open(path).read(), path))
                yield from calls.found


def test_driver_rows_go_through_local_frame():
    found = {}
    for key, line in _create_dataframe_calls():
        found.setdefault(key, []).append(line)
    stray = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not stray, (
        "build frames from driver rows with session.local_frame, not "
        f"createDataFrame (one Python task per slice on every scan): {stray}"
    )
    assert set(ALLOWED) <= set(found), f"stale allow-list entries: {set(ALLOWED) - set(found)}"
