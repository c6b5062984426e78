"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is total wall seconds over the headline set; `pairs_scored_per_sec`
(the BASELINE.json metric) and per-query seconds are included alongside.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("fozzie-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 16)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from fozzie_spark import (
        ann,
        difference_join,
        fuzzy_string_join,
        interval_join,
        temporal_join,
        textops,
    )
    from fozzie_spark.checkpoint import _shuffle_totals
    from fozzie_spark.pipeline import er_pipeline
    from fozzie_spark.synth import synth_documents

    def rd(name):
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    shuffle_bytes: dict[str, dict[str, int]] = {}

    # per-query shuffle deltas catch plan regressions wall time can hide
    def bench(name, fn):
        r0, w0 = _shuffle_totals(spark)
        t0 = time.time()
        n = fn()
        timings[name] = round(time.time() - t0, 3)
        r1, w1 = _shuffle_totals(spark)
        shuffle_bytes[name] = {"read": r1 - r0, "write": w1 - w0}
        print(
            f"{name}: {timings[name]}s ({n} rows, "
            f"shuffle r/w {(r1-r0)>>20}/{(w1-w0)>>20} MiB)",
            file=sys.stderr,
        )

    # 1. fuzzy string join, lv tau=1 over distinct part names
    names = rd("part").select(F.col("p_name").alias("name")).distinct()
    bench(
        "string_lv",
        lambda: fuzzy_string_join(
            names, names, by="name", method="lv", max_distance=1, distance_col="d"
        ).count(),
    )
    # 2. jaccard string join (ngram blocking path)
    bench(
        "string_jaccard",
        lambda: fuzzy_string_join(
            names, names, by="name", method="jaccard", max_distance=0.4, q=2, distance_col="d"
        ).count(),
    )
    # 3. banded difference join
    bench(
        "difference",
        lambda: difference_join(
            rd("customer"), rd("supplier"), by={"c_acctbal": "s_acctbal"}, max_distance=0.5
        ).count(),
    )
    # 4. temporal self-join on events (error type)
    ev = rd("events").where(F.col("event_type") == "error").select("event_id", "ts")
    bench(
        "temporal",
        lambda: temporal_join(
            ev, ev.withColumnRenamed("event_id", "event_id2"),
            by="ts", max_distance=1, unit="seconds",
        ).count(),
    )
    # 5. interval overlap join on orders totalprice windows
    o = (
        rd("orders")
        .where(F.col("o_orderkey") % 100 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("s"),
            (F.col("o_totalprice") + 20000.0).alias("e"),
        )
    )
    bench(
        "interval",
        lambda: interval_join(o, o, by={"s": "s", "e": "e"}, interval_mode="real").count(),
    )
    # 6. dedup family over documents
    docs = rd("documents")
    bench("exact_dedup", lambda: textops.exact_dedup(docs, "doc_id", "text").count())
    bench(
        "minhash_dedup",
        lambda: textops.minhash_dedup_pairs(
            docs, "doc_id", "text", num_hashes=64, bands=16, shingle_w=3, max_distance=0.6
        ).count(),
    )
    # 6b. end-to-end near-dup grouping (minhash path + CC + canonicals)
    bench(
        "near_dedup",
        lambda: textops.near_dedup(
            docs, "doc_id", "text", method="minhash", shingle_w=3, max_distance=0.6
        ).count(),
    )
    # 7. ANN top-k (100 probes against the full corpus)
    emb = rd("embeddings").select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    probes = emb.where(F.col("vec_id") < 100)
    bench("cosine_topk", lambda: ann.cosine_topk(probes, emb, "vec_id", "v", k=10).count())
    # 7b. LSH near-pair recall vs exact, on a bounded 500-vector sample —
    # the exact all-pairs baseline is quadratic BY DESIGN (that is the point
    # of the LSH path), so the recall probe must not itself go quadratic
    # with sf
    emb_s = emb.where(F.col("vec_id") < 500)
    r0, w0 = _shuffle_totals(spark)
    t0 = time.time()
    exact_pairs = {
        (r["id1"], r["id2"])
        for r in ann.cosine_pairs(emb_s, "vec_id", "v", min_cosine=0.4,
                                  strategy="exact").collect()
    }
    lsh_pairs = {
        (r["id1"], r["id2"])
        for r in ann.lsh_cosine_pairs(emb_s, "vec_id", "v", min_cosine=0.4,
                                      n_planes=16, bands=8).collect()
    }
    timings["lsh_pairs"] = round(time.time() - t0, 3)
    r1, w1 = _shuffle_totals(spark)
    shuffle_bytes["lsh_pairs"] = {"read": r1 - r0, "write": w1 - w0}
    extras["lsh_recall"] = round(len(lsh_pairs & exact_pairs) / max(len(exact_pairs), 1), 4)
    print(f"lsh_pairs: {timings['lsh_pairs']}s recall={extras['lsh_recall']}", file=sys.stderr)

    # 7c. the qgram/cosine ER blocking path (id-keyed: kids + grams shuffle,
    # never key strings) on a sf-scaled corpus — its shuffle_read delta is
    # the regression alarm for the round-5 kid refactor. Reported OUTSIDE
    # the headline `queries`/total: it is NEW round-5 coverage, and folding
    # a fresh ~90 s query into the suite total would read as a regression
    # against earlier rounds' totals instead of added coverage.
    n_cos = max(int(200_000 * float(sf)), 500)
    ckpt_cos = tempfile.mkdtemp(prefix="fz_bench_ercos_")
    bench(
        "er_cosine",
        lambda: er_pipeline(
            spark, synth_documents(spark, n_cos), checkpoint_dir=ckpt_cos,
            method="cosine", max_distance=0.25, q=3, resume=False,
        )["entities"].count(),
    )
    extras["er_cosine_wall_s"] = timings.pop("er_cosine")
    extras["er_cosine_docs"] = n_cos

    # 8. the ER pipeline on a synthetic corpus scaled by sf
    n_entities = max(int(500_000 * float(sf)), 500)
    ckpt = tempfile.mkdtemp(prefix="fz_bench_er_")
    r0, w0 = _shuffle_totals(spark)
    t0 = time.time()
    out = er_pipeline(
        spark, synth_documents(spark, n_entities), checkpoint_dir=ckpt, resume=False
    )
    runner = out["runner"]
    timings["er_pipeline"] = round(time.time() - t0, 3)
    r1, w1 = _shuffle_totals(spark)
    shuffle_bytes["er_pipeline"] = {"read": r1 - r0, "write": w1 - w0}
    stage_walls = {
        st: runner.manifests[st]["wall_s"]
        for st in ("keys", "pairs", "edges", "clusters", "entities")
    }
    print(f"er stage walls: {stage_walls}", file=sys.stderr)
    n_pairs = (
        runner.metric("pairs", "raw_candidates") or runner.metric("pairs", "rows") or 0
    )
    score_wall = (
        runner.manifests["pairs"]["wall_s"] + runner.manifests["edges"]["wall_s"]
    ) or 1e-9
    extras["er_docs"] = runner.metric("keys", "rows")
    extras["er_candidate_pairs"] = n_pairs
    extras["er_pairs_scored_per_sec"] = round(n_pairs / score_wall, 1)
    print(f"er_pipeline: {timings['er_pipeline']}s {extras}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline suite wall clock (fozzie_spark)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cpus": int(cpus),
        "er_pairs_scored_per_sec": extras["er_pairs_scored_per_sec"],
        "er_candidate_pairs": extras["er_candidate_pairs"],
        "er_docs": extras["er_docs"],
        "lsh_recall": extras["lsh_recall"],
        # round-5 coverage, reported outside the suite total (see 7c)
        "er_cosine_wall_s": extras["er_cosine_wall_s"],
        "er_cosine_docs": extras["er_cosine_docs"],
        "shuffle_bytes": shuffle_bytes,
    }
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
