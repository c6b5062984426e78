"""ANN operators: exact/LSH agreement, recall pin, and auto-routing."""

import pytest
from pyspark.sql import functions as F

from fozzie_spark import ann

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .cache()
    )


def _pairs(df):
    return {(r["id1"], r["id2"]) for r in df.collect()}


def test_lsh_recall_vs_exact(emb):
    exact = _pairs(ann.cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4,
                                    strategy="exact"))
    lsh = _pairs(ann.lsh_cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4,
                                      n_planes=16, bands=8))
    assert exact, "test corpus must contain near pairs"
    assert lsh <= exact  # exact verification => precision 1.0
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.3f} < 0.95 ({len(lsh)}/{len(exact)})"


def test_auto_routes_small_to_exact(emb):
    # below the threshold auto == exact (bit-identical pair set)
    auto = _pairs(ann.cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4))
    exact = _pairs(ann.cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4,
                                    strategy="exact"))
    assert auto == exact


def test_auto_routes_large_to_lsh(emb):
    routed = _pairs(
        ann.cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4, auto_threshold=10)
    )
    lsh = _pairs(ann.lsh_cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4,
                                      n_planes=16, bands=8))
    assert routed == lsh


def test_strategy_validation(emb):
    with pytest.raises(ValueError):
        ann.cosine_pairs(emb, "vec_id", "embedding", strategy="bogus")
    with pytest.raises(ValueError):
        ann.cosine_topk(emb, emb, "vec_id", "embedding", strategy="bogus")


def test_two_table_cosine_pairs_auto_routes(emb):
    # other=-style two-table calls must also escape the crossJoin at scale
    other = emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    exact = _pairs(ann.cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4,
                                    other=other, strategy="exact"))
    routed = ann.cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4,
                              other=other, auto_threshold=10)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = _pairs(routed)
    assert got <= exact  # exact verification => precision 1.0
    assert len(got) >= 0.95 * len(exact)


def test_topk_auto_routes_large_probe_to_lsh(emb):
    # corpus-scale probe set: auto must route to the LSH band probe (no
    # probes x corpus crossJoin in the plan) with top-k recall >= 0.95
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.cosine_topk(emb, emb, "vec_id", "embedding", k=3,
                                 strategy="exact").collect()
    }
    routed = ann.cosine_topk(emb, emb, "vec_id", "embedding", k=3, auto_threshold=10)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {(r["query_id"], r["neighbor_id"]) for r in routed.collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.95, f"LSH top-k recall {recall:.3f} < 0.95"


def test_topk_auto_small_probe_stays_exact(emb):
    probes = emb.where(F.col("vec_id") < 10)
    auto = ann.cosine_topk(probes, emb, "vec_id", "embedding", k=5).collect()
    exact = ann.cosine_topk(probes, emb, "vec_id", "embedding", k=5,
                            strategy="exact").collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, exact))


def test_topk_multiprobe_fills_sparse_buckets(emb):
    # 16 planes / 2 bands => 256 hashes per band over a 500-vector corpus:
    # single-probe leaves most queries with < k candidates and drops some
    # entirely; the starved-query Hamming-1 re-probe must strictly improve
    # fill for every starved query (one distance-1 pass MITIGATES
    # under-fill, it cannot guarantee k everywhere), with a crossJoin-free
    # plan
    k, n = 10, emb.count()
    single = ann.cosine_topk(emb, emb, "vec_id", "embedding", k=k, strategy="lsh",
                             n_planes=16, bands=2, multiprobe=False)
    s_counts = {r["query_id"]: r["count"] for r in single.groupBy("query_id").count().collect()}
    assert len(s_counts) < n or min(s_counts.values()) < k  # starvation exists
    multi = ann.cosine_topk(emb, emb, "vec_id", "embedding", k=k, strategy="lsh",
                            n_planes=16, bands=2, multiprobe=True)
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    m_counts = {r["query_id"]: r["count"] for r in multi.groupBy("query_id").count().collect()}
    # the multi-probe result dominates single-probe per query, never loses
    # a query, and fills strictly more rows overall
    assert len(m_counts) >= len(s_counts)
    for qid, cnt in s_counts.items():
        assert m_counts.get(qid, 0) >= cnt
    assert sum(m_counts.values()) > sum(s_counts.values())
    assert min(m_counts.values()) >= min(s_counts.values()) if s_counts else True


def test_lsh_topk_matches_exact_on_found(emb):
    probes = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["rank"]
        for r in ann.cosine_topk(probes, emb, "vec_id", "embedding", k=5).collect()
    }
    lsh_rows = ann.cosine_topk(
        probes, emb, "vec_id", "embedding", k=5, strategy="lsh", n_planes=16, bands=8
    ).collect()
    assert lsh_rows, "lsh topk returned nothing"
    # every (query, neighbor) LSH returns must carry the EXACT cosine; the
    # top-1 of each query should usually survive bucketing — require >= 70%
    found_top1 = 0
    queries = {q for q, _ in exact}
    for q in queries:
        t1 = min((r for r in exact if r[0] == q), key=lambda r: exact[r])
        if any(row["query_id"] == q and row["neighbor_id"] == t1[1] and row["rank"] == 1
               for row in lsh_rows):
            found_top1 += 1
    assert found_top1 / len(queries) >= 0.7


def test_auto_routing_plan_stats_skip_count(spark, monkeypatch):
    # parquet inputs carry plan statistics; when those are CONFIDENTLY on
    # one side of the threshold, auto routing must not run any count job —
    # any count here raises
    from pyspark.sql import DataFrame

    pq = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assert ann._exceeds_rows.__module__ == "fozzie_spark.ann"

    def _boom(self):
        raise AssertionError("count job ran despite known plan stats")

    # NOTE: patch the INSTANCE class — in Spark 4 `pyspark.sql.DataFrame`
    # is the abstract parent and classic frames override count(), so
    # patching the parent arms nothing (r5's version of this test was
    # vacuous for exactly that reason)
    monkeypatch.setattr(DataFrame, "count", _boom)
    monkeypatch.setattr(type(pq), "count", _boom)
    # est >> 4x threshold  -> large without counting
    assert ann._exceeds_rows(pq, 1, row_bytes=1) is True
    # est << threshold/4 -> small without counting
    assert ann._exceeds_rows(pq, 10_000, row_bytes=1 << 40) is False
    # WITHOUT a schema-derived row_bytes there is no bytes fast path at all
    # (the r5 generic 512 B/row guess silently LSH-routed wide embedding
    # rows): the gray zone falls through to the count, which boom()s here
    ann._COUNT_CACHE.clear()
    with pytest.raises(AssertionError, match="count job ran"):
        ann._exceeds_rows(pq, 1)


def test_vec_row_bytes_schema_derived(spark):
    # bytes/row comes from the actual vector width + element type, so a
    # 768-dim float64 row (~6 KB) can never be mistaken for 12 rows' worth
    # of 512 B guesses
    d = spark.createDataFrame(
        [(1, [0.0] * 768)], "id long, v array<double>"
    )
    rb, empty = ann._vec_row_bytes(d, "v")
    assert not empty and rb == 768 * 8 + 16
    f = spark.createDataFrame([(1, [0.0] * 64)], "id long, v array<double>").select(
        "id", F.col("v").cast("array<float>").alias("v")
    )
    rb, empty = ann._vec_row_bytes(f, "v")
    assert not empty and rb == 64 * 4 + 16
    e = d.where(F.lit(False))
    rb, empty = ann._vec_row_bytes(e, "v")
    assert empty


def test_count_cache_freshness_on_overwrite(spark, tmp_path):
    # overwriting the same external path in place must NOT serve a stale
    # routing count (the cache key carries the plan's sizeInBytes)
    p = str(tmp_path / "emb.parquet")
    spark.range(50).select(
        F.col("id"), F.array(*[F.rand(7)] * 4).alias("v")
    ).write.mode("overwrite").parquet(p)
    ann._COUNT_CACHE.clear()
    assert ann._exceeds_rows(spark.read.parquet(p), 100) is False
    spark.range(500).select(
        F.col("id"), F.array(*[F.rand(7)] * 4).alias("v")
    ).write.mode("overwrite").parquet(p)
    assert ann._exceeds_rows(spark.read.parquet(p), 100) is True


def test_auto_routing_count_memoized(spark, monkeypatch):
    # unknown-stats plans (createDataFrame) pay ONE count, then cache-hit
    from pyspark.sql import DataFrame

    ann._COUNT_CACHE.clear()
    local = spark.createDataFrame([(i, [float(i)] * 4) for i in range(50)],
                                  "vec_id long, embedding array<double>")
    assert ann._exceeds_rows(local, 10) is True
    assert ann._exceeds_rows(local, 100) is False
    assert len(ann._COUNT_CACHE) == 1

    def _boom(self):
        raise AssertionError("count re-ran instead of cache-hit")

    monkeypatch.setattr(DataFrame, "count", _boom)
    monkeypatch.setattr(type(local), "count", _boom)  # see note above
    assert ann._exceeds_rows(local, 10) is True


# ---- IVF -----------------------------------------------------------------


def test_ivf_empty_corpus(spark):
    # empty corpus: trivially empty top-k with the typed output schema,
    # not an opaque ValueError out of the kmeans sampler
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    probes = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    out = ann.ivf_topk(probes, empty, "vec_id", "embedding", k=3)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0


def test_ivf_full_probe_matches_exact(emb):
    # probing every cell degenerates IVF to exhaustive search: results must
    # EQUAL the exact brute-force top-k, ranks and all (deterministic
    # tie-break on (cosine desc, neighbor_id asc) in both paths)
    probes = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("vec_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann.cosine_topk(probes, emb, "vec_id", "embedding", k=5,
                                 strategy="exact").collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann.ivf_topk(probes, emb, "vec_id", "embedding", k=5,
                              n_cells=8, n_probe=8).collect()
    }
    assert ivf == exact


def test_ivf_partial_probe_recall(emb):
    # the parquet test corpus is near-uniform on the sphere — the hardest
    # case for any space-partitioning index (recall tracks the probed
    # fraction); pin the half-probe configuration against exact top-k
    probes = emb.where(F.col("vec_id") < 50)
    exact = ann.cosine_topk(probes, emb, "vec_id", "embedding", k=5,
                            strategy="exact")
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.ivf_topk(probes, emb, "vec_id", "embedding", k=5,
                              n_cells=16, n_probe=8).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"IVF recall {recall:.3f} < 0.8"
    # every returned neighbor's cosine is EXACT (verified re-rank), so any
    # returned pair that is also in truth carries the same rank semantics


def test_ivf_clustered_corpus_low_probe_recall(spark):
    # IVF's value proposition: on CLUSTERABLE data (the realistic shape
    # for trained embeddings) a 2/16 probe fraction — scanning ~1/8 of
    # the corpus per query — keeps high recall
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((16, 32)) * 4.0
    rows = []
    for i in range(1600):
        c = i % 16
        rows.append((i, (centers[c] + rng.standard_normal(32) * 0.4).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    probes = df.where(F.col("vec_id") < 40)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.cosine_topk(probes, df, "vec_id", "embedding", k=5,
                                 strategy="exact").collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.ivf_topk(probes, df, "vec_id", "embedding", k=5,
                              n_cells=16, n_probe=2, sample_size=800).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"IVF clustered recall {recall:.3f} < 0.9"
    df.unpersist()


def test_ivf_deterministic_and_no_crossjoin(emb):
    probes = emb.where(F.col("vec_id") < 10)
    df = ann.ivf_topk(probes, emb, "vec_id", "embedding", k=3, n_cells=8, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, ann.ivf_topk(probes, emb, "vec_id", "embedding", k=3,
                                       n_cells=8, n_probe=2).collect()))
    assert a == b


def test_embedding_near_dedup(spark):
    # grouping contract matches textops near_dedup: transitive closure of
    # the >= min_cosine graph, min-id canonical rows, singletons self-group
    import numpy as np

    rng = np.random.RandomState(11)
    base1 = rng.standard_normal(16)
    base2 = rng.standard_normal(16)
    rows = [
        (0, base1.tolist()),
        (1, (base1 * 2.0).tolist()),            # same direction => cos 1.0
        (2, (base1 + rng.standard_normal(16) * 0.01).tolist()),
        (3, base2.tolist()),
        (4, (-base2).tolist()),                 # opposite => cos -1
        (5, rng.standard_normal(16).tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["dup_group"], r["group_size"], r["is_canonical"])
           for r in ann.embedding_near_dedup(df, "vec_id", "embedding",
                                             min_cosine=0.95,
                                             strategy="exact").collect()}
    assert out[0] == (0, 3, True)
    assert out[1] == (0, 3, False) and out[2] == (0, 3, False)
    # 3, 4, 5 are singletons grouping with themselves
    for i in (3, 4, 5):
        assert out[i] == (i, 1, True), out[i]


# ---- id-pair candidates ----------------------------------------------------


def _final_plan(df):
    """The executed (AQE final) physical plan of `df`, after collecting it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _audit():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "scripts", "explain_audit.py")
    spec = importlib.util.spec_from_file_location("explain_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_lsh_pairs_emitted_once(emb):
    # every candidate survives a verify at min_cosine -1, so any duplicate
    # band emission would show as a repeated (id1, id2) row
    other = emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    for kw in ({}, {"other": other}):
        rows = [(r["id1"], r["id2"]) for r in ann.lsh_cosine_pairs(
            emb, "vec_id", "embedding", min_cosine=-1.0, n_planes=16, bands=4, **kw
        ).collect()]
        assert rows and len(rows) == len(set(rows)), kw


def test_lsh_pairs_equal_numpy_brute_force(emb):
    # the pairs are exactly those sharing >= 1 band with cosine >= tau,
    # over the same signatures (pairs within 1e-9 of tau may go either way)
    import numpy as np

    n_planes, bands, tau, shift = 16, 4, 0.2, 10_000
    r = n_planes // bands
    bs = {  # each id's set of (band, band hash) buckets
        row["id"]: {(b, (row["sig"] >> (b * r)) & ((1 << r) - 1)) for b in range(bands)}
        for row in ann.lsh_signatures(emb, "vec_id", "embedding", n_planes).collect()
    }
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    unit = {i: v / np.linalg.norm(v) for i, v in vecs.items()}

    def want(pairs):
        keep, edge = set(), set()
        for a, b in pairs:
            c = float(unit[a] @ unit[b])
            if bs[a] & bs[b] and c >= tau - 1e-9:
                (edge if abs(c - tau) < 1e-9 else keep).add((a, b))
        return keep, edge

    ids = sorted(vecs)
    keep, edge = want((a, b) for a in ids for b in ids if a < b)
    got = _pairs(ann.lsh_cosine_pairs(emb, "vec_id", "embedding", min_cosine=tau,
                                      n_planes=n_planes, bands=bands))
    assert keep and not (got ^ keep) - edge

    other = emb.select((F.col("vec_id") + shift).alias("vec_id"), "embedding")
    keep, edge = want((a, b) for a in ids for b in ids)
    got = {(a, b - shift) for a, b in _pairs(ann.lsh_cosine_pairs(
        emb, "vec_id", "embedding", min_cosine=tau, n_planes=n_planes, bands=bands,
        other=other))}
    assert keep and not (got ^ keep) - edge


def test_lsh_self_join_one_signature_pass(emb):
    plan = _final_plan(ann.lsh_cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4,
                                            n_planes=16, bands=8))
    assert plan.count("ArrowEvalPython") == 1, plan


def test_bucketed_ann_no_array_keys_or_repeated_udfs(emb):
    # candidates are id pairs: no aggregate or hash shuffle keyed on a
    # vector, and each input's signature / cell UDF evaluated once
    audit = _audit()
    probes = emb.where(F.col("vec_id") < 50)
    for df in (
        ann.lsh_cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4),
        ann.lsh_cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4, other=probes),
        ann.cosine_topk(probes, emb, "vec_id", "embedding", k=5, strategy="lsh"),
        ann.cosine_topk(probes, emb, "vec_id", "embedding", k=5, strategy="lsh",
                        multiprobe=False),
        ann.ivf_topk(probes, emb, "vec_id", "embedding", k=5, n_cells=8, n_probe=2),
    ):
        jplan = df._jdf.queryExecution().executedPlan()
        assert audit._array_keyed(jplan) == []
        assert audit._repeated_udfs(_final_plan(df)) == []


def test_ann_leaves_no_persisted_rdd(emb):
    emb.count()
    jsc = emb.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    probes = emb.where(F.col("vec_id") < 50)
    ann.lsh_cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4).collect()
    ann.cosine_topk(probes, emb, "vec_id", "embedding", k=5, strategy="lsh").collect()
    ann.ivf_topk(probes, emb, "vec_id", "embedding", k=5, n_cells=8, n_probe=2).collect()
    assert set(jsc.getPersistentRDDs().keys()) <= before


@pytest.fixture(scope="module")
def with_null(spark):
    import numpy as np

    rng = np.random.RandomState(5)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(20)]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return base, base.unionByName(
        spark.createDataFrame([(100, None)], "vec_id long, embedding array<double>")
    )


@pytest.mark.parametrize("run", [
    lambda d: ann.cosine_pairs(d, "vec_id", "embedding", min_cosine=0.0, strategy="exact"),
    lambda d: ann.lsh_cosine_pairs(d, "vec_id", "embedding", min_cosine=0.0),
    lambda d: ann.lsh_cosine_pairs(d, "vec_id", "embedding", min_cosine=0.0, other=d),
    lambda d: ann.cosine_topk(d, d, "vec_id", "embedding", k=3, strategy="exact"),
    lambda d: ann.cosine_topk(d, d, "vec_id", "embedding", k=3, strategy="lsh"),
    lambda d: ann.ivf_topk(d, d, "vec_id", "embedding", k=3, n_cells=4, n_probe=2),
], ids=["exact_pairs", "lsh_pairs", "lsh_pairs_two_table", "exact_topk", "lsh_topk", "ivf"])
def test_null_vector_matches_nothing(with_null, run):
    # a NULL vector has no cosine to anything: it appears in no output row
    # and leaves every other row as it is without it
    base, nulled = with_null
    got = sorted(map(tuple, run(nulled).collect()))
    assert got and all(100 not in r[:2] for r in got)
    assert got == sorted(map(tuple, run(base).collect()))


def test_spread_small_keeps_enough_partitions(spark):
    # a frame with at least defaultParallelism partitions is returned
    # unchanged; an under-partitioned small one is spread. Reading the
    # partition count runs no job.
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, 1, par * 2)
    assert ann._spread_small(wide) is wide
    narrow = spark.range(0, 100, 1, 1)
    assert ann._spread_small(narrow) is not narrow
    pq = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("fz_plan_partitions", "partition probe")
    try:
        assert ann._plan_partitions(pq) == 1
        assert ann._plan_partitions(wide) == par * 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fz_plan_partitions")) == []


# ---- exact route: range-sliced broadcast join -----------------------------

_EXACT_RUNS = {
    "topk": lambda e: ann.cosine_topk(e.where(F.col("vec_id") < 60), e, "vec_id",
                                      "embedding", k=5, strategy="exact"),
    "pairs_self": lambda e: ann.cosine_pairs(e, "vec_id", "embedding", min_cosine=0.3,
                                             strategy="exact"),
    "pairs_two_table": lambda e: ann.cosine_pairs(
        e.where(F.col("vec_id") < 200), "vec_id", "embedding", min_cosine=0.3,
        other=e.where(F.col("vec_id") >= 100), strategy="exact"),
}


def _rows_hex(df):
    """Sorted output rows, each float by its exact bits."""
    return sorted(tuple(v.hex() if isinstance(v, float) else v for v in r)
                  for r in df.collect())


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", list(_EXACT_RUNS))
def test_sliced_route_equals_spread_route(spark, emb, name):
    # under the broadcast budget the exact paths take the range-sliced
    # plan; with broadcasting off they take the spread plan. Same rows,
    # same cosine bits.
    run = _EXACT_RUNS[name]
    sliced = run(emb)
    got = _rows_hex(sliced)
    assert "pmod(xxhash64" in _plan(sliced)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        spread = run(emb)
        want = _rows_hex(spread)
        assert "pmod(xxhash64" not in _plan(spread)
    finally:
        spark.conf.set(key, old)
    assert got and got == want


@pytest.mark.parametrize("name", list(_EXACT_RUNS))
def test_sliced_plan_shuffles_no_vector(spark, emb, name):
    # no shuffle exchange carries an array column, and the join stage runs
    # one task per slice
    sc = spark.sparkContext
    df = _EXACT_RUNS[name](emb)
    group = f"fz_sliced_{name}"
    sc.setJobGroup(group, "sliced exact route")
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jplan = df._jdf.queryExecution().executedPlan()
    assert "pmod(xxhash64" in jplan.toString()
    assert _audit()._vector_exchanges(jplan) == []
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(s) for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    assert sc.defaultParallelism in [s.numTasks for s in stages if s is not None]


def test_sliced_spreads_ids_sharing_a_stride(spark):
    # every id a multiple of P: pmod(id, P) would send them all to slice
    # 0; the hashed slice key reaches every slice, each row exactly once
    p = spark.sparkContext.defaultParallelism
    ids = list(range(0, 64 * p, p))
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = ann._sliced(df, "id").selectExpr(
        "id", "spark_partition_id() AS part", f"pmod(xxhash64(id), {p}) AS slice"
    ).collect()
    assert sorted(r["id"] for r in got) == ids
    assert all(r["part"] == r["slice"] for r in got)
    assert {r["part"] for r in got} == set(range(p))


def _computed(spark, n):
    """`n` rows of 64-dim vectors computed in the plan: Catalyst prices
    each array at its element's default width (8 bytes), not at 512."""
    return spark.range(n).selectExpr(
        "id AS vec_id", "transform(sequence(1, 64), x -> CAST(x + id AS DOUBLE)) AS embedding"
    )


def test_underpriced_arrays_keep_spread_route(spark):
    # 2,000 computed vectors: Catalyst's own size fits a 256 KB budget,
    # their real payload (~1 MB) does not, so the exact path keeps the
    # spread plan; under the default budget it slices
    comp = _computed(spark, 2000)
    assert "pmod(xxhash64" in _plan(ann.cosine_pairs(comp, "vec_id", "embedding",
                                                     strategy="exact"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(256 << 10))
    try:
        for df in (
            ann.cosine_pairs(comp, "vec_id", "embedding", strategy="exact"),
            ann.cosine_topk(comp.where("vec_id < 10"), comp, "vec_id", "embedding",
                            k=3, strategy="exact"),
        ):
            assert "pmod(xxhash64" not in _plan(df)
    finally:
        spark.conf.set(key, old)


def test_topk_auto_routes_computed_probe_set_to_lsh(spark, emb):
    # 50k computed probes: Catalyst's default array width must not make
    # them look like ~2k rows, which would plan 50k x corpus exactly
    probes = _computed(spark, 50_000)
    assert ann._exceeds_rows(probes, 10_000, row_bytes=64 * 8 + 16) is True
    routed = ann.cosine_topk(probes, emb, "vec_id", "embedding", k=3)
    plan = _plan(routed)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_topk_auto_parquet_probes_route_without_count(spark, monkeypatch, tmp_path):
    # a 100-probe parquet frame routes to exact, and its exact plan to the
    # sliced route, on plan statistics alone: no count job. The file is
    # read from a copy, so the cached `emb` fixture cannot stand in for it.
    import shutil

    from pyspark.sql import DataFrame

    path = str(tmp_path / "embeddings.parquet")
    shutil.copy(f"{SF_DIR}/embeddings.parquet", path)
    pq = spark.read.parquet(path).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def _boom(self):
        raise AssertionError("count job ran despite known plan stats")

    monkeypatch.setattr(DataFrame, "count", _boom)
    monkeypatch.setattr(type(pq), "count", _boom)  # see test_auto_routing_plan_stats_skip_count
    out = ann.cosine_topk(pq.where(F.col("vec_id") < 100), pq, "vec_id", "embedding", k=10)
    assert "pmod(xxhash64" in _plan(out)
