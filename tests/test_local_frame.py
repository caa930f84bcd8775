"""`sources.local_frame`: driver-built rows enter Spark as a
LocalRelation with the same schema, values and type checks as
``createDataFrame(rows, schema)``, and no other code in the package
calls ``createDataFrame``."""

import ast
import pathlib

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    _parse_datatype_string,
)

from jobx_spark.sources import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "jobx_spark"

# every schema the package builds driver-side frames with
SITE_SCHEMAS = [
    "row_type string, inv string, parent_inv string, step string, "
    "seq long, k string, v string",
    "cent_id bigint, cv array<double>",
    "vec_id long, cell bigint, cosine double",
    "query_id long, vec_id long, rank int, cosine double",
    "k string, v long",
    "k string, v_min long, v_max long, n long, v_sum long",
    "query_id long, bucket long, base_bucket long",
    "query_id long, qv array<double>",
    "query_id long, pick_order int, vec_id long, rel_ppm long,"
    " max_sim_ppm long, score_x long",
    "query_id bigint, s int, cell bigint, part bigint",
    "query_id bigint, s int, pq_cell bigint, part bigint",
    "query_id bigint, cell bigint",
    "query_id bigint, cell bigint, s int, pq_cell bigint, part bigint",
    "query_id INT, term STRING",
    "band string, lo double, hi double",
    "query_id INT, qtext STRING",
    "rank int, lhs string, rhs string, pair_n bigint",
]

_SAMPLES = {
    StringType(): ["ünï", ""],
    LongType(): [2**40 + 3, -1],
    IntegerType(): [7, 0],
    DoubleType(): [1.5, -0.0],
    ArrayType(DoubleType()): [[0.25, -1.0], []],
}


def _rows(schema: str) -> list[tuple]:
    """Two value rows (arrays: one filled, one empty) and an all-null row."""
    types = [f.dataType for f in _parse_datatype_string(schema).fields]
    return [
        tuple(_SAMPLES[t][0] for t in types),
        tuple(_SAMPLES[t][1] for t in types),
        tuple(None for _ in types),
    ]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "rows",
    [[("a", 1)], [{"k": "a", "v": 1}, {"k": "b"}], []],
    ids=["tuples", "dicts", "empty"],
)
def test_local_frame_plans_as_local_relation(spark, rows):
    plan = _optimized(local_frame(spark, rows, "k string, v long"))
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def test_dict_rows_match_by_name(spark):
    got = local_frame(spark, [{"v": 2, "k": "a"}, {"k": "b"}], "k string, v long")
    assert [tuple(r) for r in got.collect()] == [("a", 2), ("b", None)]


@pytest.mark.parametrize("schema", SITE_SCHEMAS)
def test_local_frame_equals_create_data_frame(spark, schema):
    rows = _rows(schema)
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    empty = local_frame(spark, [], schema)
    assert empty.schema == want.schema
    assert empty.collect() == []


@pytest.mark.parametrize(
    "schema, row",
    [("k string, v bigint", ("a", 1.5)), ("qv array<double>", ([1.0, 2],))],
    ids=["float-in-bigint", "int-in-array-double"],
)
def test_local_frame_rejects_what_create_data_frame_rejects(spark, schema, row):
    with pytest.raises(TypeError):
        spark.createDataFrame([row], schema)
    with pytest.raises(TypeError):
        local_frame(spark, [row], schema)


def test_create_data_frame_only_inside_local_frame():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        if path == PACKAGE / "sources" / "__init__.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert offenders == []
