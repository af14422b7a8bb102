"""Session factory: host-derived defaults and the Arrow-built driver frame."""

import ast
from pathlib import Path

import pytest

from graph_rag_agent_spark.session import host_mem_total_mb, local_frame

PACKAGE = Path(__file__).resolve().parents[1] / "graph_rag_agent_spark"
# the two modules allowed to call createDataFrame: the helper itself, and
# the corpus source, whose input is a pandas frame (already Arrow-built)
CREATE_DATAFRAME_ALLOWED = {"session.py", "sources/corpus.py"}


def _leaf_classes(df):
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def _row_key(row):
    return tuple((v is None, repr(v)) for v in row)


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([], "entity_id string, component string"),
        (
            [("a", [0, 3]), ("b", []), ("c", [1, 2, 2])],
            "entity_id string, communities array<bigint>",
        ),
        (
            [("x", None, 7), ("y", 1.5, None), ("z", None, None)],
            "metric string, value double, n bigint",
        ),
        ([(1, "ab", "c", 4)], "rank int, left string, right string, pair_count long"),
    ],
    ids=["empty", "array_bigint", "null_double_bigint", "long_alias"],
)
def test_local_frame_matches_create_dataframe(spark, rows, ddl):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=_row_key) == sorted(want.collect(), key=_row_key)
    assert _leaf_classes(got) == ["LocalRelation"]
    assert _leaf_classes(want) == ["LogicalRDD"]


def test_session_heap_at_most_half_of_physical_ram(spark):
    jvm = spark.sparkContext._jvm
    heap_mb = jvm.java.lang.Runtime.getRuntime().maxMemory() / (1024 * 1024)
    assert heap_mb <= host_mem_total_mb() / 2


def test_create_dataframe_only_in_session_and_corpus():
    """Driver rows become frames through session.local_frame only: the
    list-of-tuples createDataFrame path runs Python tasks on every use."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel in CREATE_DATAFRAME_ALLOWED:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders
