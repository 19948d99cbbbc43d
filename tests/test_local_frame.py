"""session.local_frame: driver-held rows become a JVM LocalRelation with
the same rows and schema ``createDataFrame(<list>)`` gives, and the engine
layers build driver-held frames through it alone (and run their pandas
kernels through session.pandas_kernel alone)."""

import ast
import datetime
import decimal
import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from predicting_hospital_readmission_using_mimic_database_spark.session import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "predicting_hospital_readmission_using_mimic_database_spark",
)

SCHEMA = T.StructType([
    T.StructField("s", T.StringType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("arr", T.ArrayType(T.StringType())),
    T.StructField("m", T.MapType(T.StringType(), T.StringType())),
    T.StructField("st", T.StructType([
        T.StructField("x", T.LongType()), T.StructField("y", T.StringType()),
    ])),
    T.StructField("dt", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("dec", T.DecimalType(12, 3)),
    T.StructField("bin", T.BinaryType()),
])

ROWS = [
    ("a", 1, 2**40, 1.5, True, ["p", None], {"k": "v", "z": None}, (7, "q"),
     datetime.date(2024, 2, 29), datetime.datetime(2024, 2, 29, 23, 59, 1, 5),
     decimal.Decimal("-12.345"), b"\x00\xff"),
    Row(s="", i=-3, l=0, d=-0.0, b=False, arr=[], m={}, st=Row(x=None, y="r"),
        dt=datetime.date(1970, 1, 1), ts=datetime.datetime(1999, 12, 31),
        dec=decimal.Decimal("0.001"), bin=b""),
    (None,) * 12,
]


def _is_local_relation(df):
    return df._jdf.queryExecution().optimizedPlan().toString().startswith(
        "LocalRelation"
    )


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_matches_create_dataframe(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        got = local_frame(spark, ROWS, SCHEMA)
        want = spark.createDataFrame(ROWS, SCHEMA)
        assert got.schema == want.schema == SCHEMA
        assert got.collect() == want.collect()
        assert _is_local_relation(got)
        ddl = local_frame(spark, [{"n": 1, "w": "x"}, (None, 2)], "w string, n long")
        assert ddl.collect() == [Row(w="x", n=1), Row(w=None, n=2)]
        assert _is_local_relation(ddl)
    finally:
        spark.conf.set(key, before)


def test_local_frame_empty_keeps_schema_and_writes_a_part_file(spark, tmp_path):
    empty = local_frame(spark, [], SCHEMA)
    assert empty.schema == SCHEMA and empty.collect() == []
    assert _is_local_relation(empty)
    # the zero-row change-file write in sources.delta relies on this
    stage = str(tmp_path / "stage")
    empty.coalesce(1).write.mode("overwrite").parquet(stage)
    parts = glob.glob(os.path.join(stage, "part-*.parquet"))
    assert len(parts) == 1
    assert spark.read.parquet(*parts).schema.names == SCHEMA.names


def test_engine_layers_build_frames_only_through_local_frame():
    """Source lint (no Spark): outside ``session.local_frame`` no engine
    module, and neither the core nor the ML registry module, calls
    ``createDataFrame``, whose list form pickles the rows into a Python
    RDD."""
    offenders = []
    layers = ["operators", "ml", "plans", "sources", "streaming", "functions"]
    files = [os.path.join(PKG, f) for f in ("session.py", "qdefs_core.py", "qdefs_ml.py")]
    for layer in layers:
        files += sorted(glob.glob(os.path.join(PKG, layer, "*.py")))
    for path in files:
        tree = ast.parse(open(path).read())
        allowed = set()
        if path.endswith("session.py"):
            fn = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
            )
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert offenders == []


def test_engine_kernels_run_only_through_pandas_kernel():
    """Source lint (no Spark): in ``sources/`` and the kNN module,
    ``mapInPandas(`` and ``applyInPandas(`` appear only inside
    ``session.pandas_kernel``, which runs small kernels on the driver."""
    files = [os.path.join(PKG, "session.py"), os.path.join(PKG, "operators", "similarity.py")]
    files += sorted(glob.glob(os.path.join(PKG, "sources", "*.py")))
    offenders = []
    for path in files:
        tree = ast.parse(open(path).read())
        allowed = set()
        if path.endswith("session.py"):
            fn = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "pandas_kernel"
            )
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("mapInPandas", "applyInPandas")
                and id(node) not in allowed
            ):
                offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert offenders == []
