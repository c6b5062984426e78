"""spark-submit entry for the ER pipeline.

    spark-submit --py-files fozzie_spark.zip -m ... fozzie_spark/job.py \
        --synth-entities 100000 --checkpoint-dir /tmp/er_ckpt \
        --method jaccard --max-distance 0.45 --q 3 --output /tmp/entities

or with an existing corpus (parquet/iceberg table with doc_id + spans):

    ... job.py --input /path/docs.parquet --checkpoint-dir ...

Prints one JSON line with throughput metrics (candidate pairs scored/sec,
docs/sec, per-stage wall seconds) — the bench harness consumes it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def build_session(app: str, cpus: str | None = None, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app)
    if cpus:
        b = b.master(f"local[{cpus}]")
        # local mode: executors live in the driver JVM — size it accordingly
        # (must be set before the JVM starts; no-op under spark-submit).
        # ParallelGC measured ~5% faster than G1 on this batch workload, and
        # a moderate heap beats a huge one (64g heap measured 2.5x SLOWER
        # than 24g end-to-end — late-run G1 mixed collections).
        b = b.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # ActiveProcessorCount makes local[N] emulate an N-core machine
        # (GC/JIT thread pools sized to N, not to the host's core count) —
        # without it a local[8] run on a 32-core host gets 32 GC threads,
        # skewing any N-vs-4N scaling measurement in local[8]'s favor.
        b = b.config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:ActiveProcessorCount={cpus}",
        )
        # local mode funnels broadcast builds through the driver's
        # task-result path; with document-sized keys the default 1g cap is
        # the first thing to break at large corpus sizes
        b = b.config("spark.driver.maxResultSize", "3g")
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    # experiment/ops passthrough: FZ_SPARK_CONFS="key=value;key=value"
    for kv in os.environ.get("FZ_SPARK_CONFS", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            b = b.config(k.strip(), v.strip())
    return b.getOrCreate()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="fozzie_spark ER pipeline")
    p.add_argument("--input", help="parquet path with (doc_id, spans) docs")
    p.add_argument("--synth-entities", type=int, help="generate a synthetic corpus instead")
    p.add_argument("--synth-hot-docs", type=int, default=0,
                   help="add a hot-key entity: N near-dup docs sharing one boilerplate text")
    p.add_argument("--synth-hot-exact", type=int, default=0,
                   help="add N exact-duplicate docs (one entity, identical text)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--output", help="write final entities table here")
    p.add_argument("--method", default="jaccard")
    p.add_argument("--max-distance", type=float, default=0.6)
    p.add_argument("--q", type=int, default=4)
    p.add_argument(
        "--max-gram-df",
        default="auto",
        help="hot-gram df cap: integer, 'none', or 'auto' = max(10000, n_keys//8)",
    )
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--no-partition-metrics",
        action="store_true",
        help="skip the per-partition row-count job per stage (full-scale runs)",
    )
    p.add_argument("--no-f1", action="store_true",
                   help="skip the post-run pairwise-F1 evaluation on synthetic corpora")
    p.add_argument("--reliable-cc", action="store_true",
                   help="checkpoint CC rounds to parquet stage tables (cluster mode)")
    p.add_argument("--cpus", help="local[N] master override (omit under spark-submit)")
    p.add_argument("--shuffle-partitions", type=int)
    args = p.parse_args(argv)

    from fozzie_spark.pipeline import er_pipeline
    from fozzie_spark.synth import synth_documents

    spark = build_session("fozzie-er", args.cpus, args.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")

    input_fp = None
    if args.synth_entities:
        # synth plans embed pickled mapInPandas functions, so their
        # semanticHash is not stable across JVM restarts — the generator
        # args ARE the input identity, so pass them explicitly and the
        # kill/resume contract holds across processes (pipeline.py
        # _input_fingerprint documents the general rule)
        input_fp = (
            f"synth:{args.synth_entities}:{args.seed}"
            f":{args.synth_hot_docs or 0}:{args.synth_hot_exact or 0}"
        )
        if args.synth_hot_docs or args.synth_hot_exact:
            from fozzie_spark.synth import synth_documents_skewed

            docs = synth_documents_skewed(
                spark, args.synth_entities, hot_docs=args.synth_hot_docs,
                hot_exact=args.synth_hot_exact, seed=args.seed,
            )
        else:
            docs = synth_documents(spark, args.synth_entities, seed=args.seed)
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        p.error("one of --input / --synth-entities is required")

    mgd = args.max_gram_df
    if isinstance(mgd, str) and mgd.lower() != "auto":
        mgd = None if mgd.lower() in ("none", "0") else int(mgd)

    t0 = time.time()
    out = er_pipeline(
        spark,
        docs,
        checkpoint_dir=args.checkpoint_dir,
        method=args.method,
        max_distance=args.max_distance,
        q=args.q,
        max_gram_df=mgd,
        resume=not args.no_resume,
        reliable_cc=args.reliable_cc,
        collect_metrics=not args.no_partition_metrics,
        input_fingerprint=input_fp,
    )
    runner = out["runner"]
    wall = time.time() - t0

    if args.output:
        out["entities"].write.mode("overwrite").parquet(args.output)

    def _rows(stage):
        # with --no-partition-metrics the manifest has no row counts; a
        # count() on the materialized parquet stage is metadata-only
        return runner.metric(stage, "rows") or out[stage].count()

    n_entities_rows = _rows("entities")
    n_survivors = _rows("pairs")
    n_edges = _rows("edges")
    n_docs = _rows("keys")
    n_pairs = runner.metric("pairs", "raw_candidates") or n_survivors or 0
    stage_wall = {s: m["wall_s"] for s, m in runner.manifests.items()}
    # pairs/sec counts every raw candidate evaluated: the fused blocking +
    # JVM-refine stage evaluates each raw candidate exactly once, the Arrow
    # scoring stage re-scores survivors
    score_wall = (stage_wall.get("pairs", 0.0) + stage_wall.get("edges", 0.0)) or 1e-9
    result = {
        "docs": n_docs,
        "candidate_pairs": n_pairs,
        "surviving_pairs": n_survivors,
        "edges": n_edges,
        "entities_rows": n_entities_rows,
        "wall_s": round(wall, 3),
        "stage_wall_s": stage_wall,
        "pairs_scored_per_sec": round(n_pairs / score_wall, 1),
        "docs_per_sec": round((n_docs or 0) / wall, 1),
    }

    if args.synth_entities and not args.no_f1:
        # the north metric: pairwise F1 vs the corpus's ground-truth
        # entity ids. Computed AFTER wall_s is closed so evaluation never
        # pollutes the throughput numbers; three sum-of-squares
        # aggregations, no pair materialization (pairwise_f1). This scores
        # ALL doc pairs, a strict superset of the rule's "labeled pairs
        # sharing a blocking key" — cross-block true pairs count as recall
        # misses here, so the reported recall is a lower bound.
        from pyspark.sql import functions as F

        from fozzie_spark.pipeline import pairwise_f1

        truth = docs.select("doc_id", F.col("entity_id").alias("__truth"))
        pred = out["entities"].select("doc_id", F.col("entity_id").alias("__pred"))
        m = pairwise_f1(truth.join(pred, "doc_id"), truth_col="__truth", pred_col="__pred")
        result["pairwise_f1"] = round(m["f1"], 6)
        result["pairwise_precision"] = round(m["precision"], 6)
        result["pairwise_recall"] = round(m["recall"], 6)

    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
