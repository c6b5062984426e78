"""StageRunner: a parquet stage reads back with the schema it just wrote,
so neither a fresh nor a resumed stage starts a schema-inference job."""

import time

from pyspark.sql import functions as F

from fozzie_spark.checkpoint import StageRunner


def _group_job_names(spark, group):
    """Names of the finished jobs of a job group, once the listener bus
    has delivered their end events."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 10
    while True:
        ids = sorted(tracker.getJobIdsForGroup(group))
        infos = [tracker.getJobInfo(j) for j in ids]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        assert time.monotonic() < deadline, f"job group {group} did not settle"
        time.sleep(0.02)
    store = sc._jsc.sc().statusStore()
    return [store.job(j).name() for j in ids]


def _in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_parquet_stage_reads_back_without_schema_inference(spark, tmp_path):
    df = spark.range(40, numPartitions=3).select(
        "id",
        F.when(F.col("id") % 4 > 0, (F.col("id") % 3).cast("string")).alias("s"),
        F.struct(F.xxhash64("id").alias("h1"), F.xxhash64("id", F.lit(7)).alias("h2")).alias("kid"),
        F.array("id", F.col("id") * 2).alias("arr"),
    )
    ckpt = str(tmp_path)
    runner = StageRunner(spark, ckpt, run_config={"case": "readback"})
    out = _in_group(spark, "fz-stage-fresh", lambda: runner.stage("t", lambda: df))
    path = runner.manifests["t"]["path"]

    assert out.schema == spark.read.parquet(path).schema
    names = _group_job_names(spark, "fz-stage-fresh")
    assert names and not [n for n in names if n.startswith("load at")], names
    rows = sorted(out.collect())
    assert rows == sorted(df.collect())

    def no_rerun():
        raise AssertionError("a resumed stage must not recompute")

    resumed_runner = StageRunner(spark, ckpt, run_config={"case": "readback"})
    resumed = _in_group(
        spark, "fz-stage-resumed", lambda: resumed_runner.stage("t", no_rerun)
    )
    assert resumed.schema == out.schema
    assert _group_job_names(spark, "fz-stage-resumed") == []
    assert sorted(resumed.collect()) == rows
