"""Column expressions built as Spark SQL text: the literal and identifier
helpers, and the py4j round-trip budget of plan construction."""

import math
import struct
import threading

from pyspark.sql import functions as F

from fozzie_spark.util import sql_ident, sql_lit

#: py4j commands per warm call: 1.25x the count measured with SQL-text
#: expressions (217 and 620 on Spark 4.1.2). Built node by node with the
#: DSL, the same calls sent 1,281 and 5,801.
JACCARD_PLAN_BUDGET = 272
ER_RUN_BUDGET = 775
#: the er_pipeline run on its tiny cross route: 1.25x the measured 515
ER_TINY_RUN_BUDGET = 644


def test_sql_lit_round_trips(spark):
    vals = [0.1 + 0.2, 1 / 3, 1e-9, -0.0, math.inf, -math.inf, math.nan, 2**40,
            -(2**31), 2**31, 7, True, "it's a \\ test"]
    got = spark.range(1).selectExpr(*[f"{sql_lit(v)} AS c{i}" for i, v in enumerate(vals)])
    want = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(vals)])
    assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
    row = got.first()
    for v, x in zip(vals, row):
        if isinstance(v, float) and math.isnan(v):
            assert math.isnan(x)
        elif isinstance(v, float):
            assert struct.pack("<d", x) == struct.pack("<d", v), (v, x)
        else:
            assert x == v and type(x) is type(v), (v, x)


def test_sql_ident_quotes_dots_spaces_backticks(spark):
    odd = "a.b c`d"
    df = spark.createDataFrame([(1,)], "x int").toDF(odd)
    assert df.selectExpr(f"{sql_ident(odd)} + 1 AS {sql_ident(odd + '2')}").columns == [odd + "2"]


def _send_count(spark, fn) -> int:
    """py4j commands this thread sends on the active connection while
    `fn` runs."""
    client = spark.sparkContext._gateway._gateway_client
    me, n = threading.get_ident(), [0]
    send = client.send_command

    def counting(*a, **k):
        if threading.get_ident() == me:
            n[0] += 1
        return send(*a, **k)

    client.send_command = counting
    try:
        fn()
    finally:
        del client.send_command
    return n[0]


def test_jaccard_plan_build_round_trips(spark):
    # a warm fuzzy_string_join plan build (gate decisions memoized, no
    # action) past the tiny-cross gate, so the gram-index builder runs
    import fozzie_spark as fz

    names = spark.createDataFrame(
        [(f"name {i} token{i % 7}",) for i in range(1500)], "name string"
    )

    def build():
        fz.fuzzy_string_join(names, names, by="name", method="jaccard", max_distance=0.3)

    build()
    n = _send_count(spark, build)
    print("jaccard plan build py4j commands:", n)
    assert n <= JACCARD_PLAN_BUDGET, n


def _er_run_count(spark, tmp_path) -> int:
    """py4j commands of one warm er_pipeline run (defaults: jaccard, q 4)
    on a small corpus."""
    from fozzie_spark.pipeline import er_pipeline
    from fozzie_spark.synth import synth_documents

    docs = synth_documents(spark, 60, seed=1)

    def run(d):
        er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / d), resume=False)

    run("cold")
    return _send_count(spark, lambda: run("warm"))


def test_er_pipeline_run_round_trips(spark, tmp_path, monkeypatch):
    # the id-keyed index builders: the tiny cross route pinned off
    from fozzie_spark import blocking

    monkeypatch.setattr(blocking, "TINY_CROSS_KEY_THRESHOLD", 0)
    n = _er_run_count(spark, tmp_path)
    print("er_pipeline run py4j commands:", n)
    assert n <= ER_RUN_BUDGET, n


def test_er_pipeline_tiny_route_round_trips(spark, tmp_path):
    # the same corpus on the tiny cross route it takes by default
    n = _er_run_count(spark, tmp_path)
    print("er_pipeline tiny-route run py4j commands:", n)
    assert n <= ER_TINY_RUN_BUDGET, n
