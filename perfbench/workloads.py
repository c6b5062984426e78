"""The workloads: their inputs, their calls into the public entry
points, and each call's output check.

A workload's unit of work is one pass over its call list. Each call runs a
public entry point and fetches its result (the projected rows a caller
would read), all inside the timed region; its check runs afterwards.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle

TOL = 1e-9
#: surviving key pairs timed through distances.score_batch in a traced ER run
SCORE_SAMPLE = 20_000


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Call:
    span: str  # per-layer span name, e.g. "joins.string_lv"
    run: object  # () -> result
    check: object  # (result) -> value hash; raises CheckFailed
    route: bool = False  # record the physical route of the result plan


@dataclass
class Workload:
    name: str
    calls: list
    f1: object  # (results of one unit: {span: result}) -> pairwise F1
    extras: object = None  # (results of one unit) -> per-layer metrics


def _read(spark, path, name):
    return spark.read.parquet(os.path.join(path, f"{name}.parquet"))


# --------------------------------------------------------------------------
# ER pipeline
# --------------------------------------------------------------------------


ER_PARAMS = {
    "er_jaccard": {},  # the er_pipeline defaults: jaccard, max_distance 0.6, q 4
    "er_cosine": {"method": "cosine", "max_distance": 0.25, "q": 3},
}


def er_workload(spark, name: str, n_entities: int, seed: int, cache: str, work: str) -> Workload:
    from fozzie_spark.pipeline import er_pipeline

    def build():
        docs, truth = gen.er_corpus(n_entities, seed)
        return {"docs": docs, "truth": truth}

    path = gen.cached(cache, f"er-{n_entities}-{seed}", build)
    docs = _read(spark, path, "docs")
    truth_t = pq.read_table(os.path.join(path, "truth.parquet")).to_pydict()
    truth = dict(zip(truth_t["doc_id"], truth_t["entity_id"]))
    ckpt = os.path.join(work, "er_ckpt")
    kw = ER_PARAMS[name]

    def run():
        shutil.rmtree(ckpt, ignore_errors=True)
        return er_pipeline(spark, docs, checkpoint_dir=ckpt, resume=False, **kw)

    def check(out):
        rows = out["entities"].select("doc_id", "entity_id").collect()
        pred = {r["doc_id"]: r["entity_id"] for r in rows}
        expect(len(rows) == len(truth) and pred.keys() == truth.keys(),
               "entities must hold every input doc exactly once")
        out["pred"] = pred
        out["f1"] = oracle.pairwise_f1(pred, truth)
        expect(out["f1"] >= 0.9, f"pairwise F1 {out['f1']:.4f} < 0.9")
        return oracle.partition_hash(pred)

    def f1(results):
        return results["er_pipeline"]["f1"]

    return Workload(name, [Call("er_pipeline", run, check)], f1, er_extras)


def er_extras(results) -> dict:
    """ER counts and ratios, read from the stage manifests and tables."""
    from pyspark.sql import functions as F

    from fozzie_spark.distances import score_batch

    out = results["er_pipeline"]
    runner = out["runner"]
    m = {}
    raw = runner.metric("pairs", "raw_candidates") or runner.metric("pairs", "rows") or 0
    pairs_rows = runner.metric("pairs", "rows") or 0
    edges_rows = runner.metric("edges", "rows") or 0
    m["blocking.raw_candidates"] = raw
    m["blocking.survivor_ratio"] = pairs_rows / raw if raw else 0.0
    m["scoring.edge_ratio"] = edges_rows / pairs_rows if pairs_rows else 0.0
    m["cluster.components"] = len(set(out["pred"].values()))
    ckpt = os.path.dirname(runner.manifests["keys"]["path"])
    size = 0
    for dirpath, _, files in os.walk(ckpt):
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    m["checkpoint.bytes_written_mb"] = size / float(1 << 20)

    # distances.score_batch on a fixed sample of this run's surviving pairs
    cfg = runner.manifests["pairs"]["config"]["params"]
    keys = out["keys"].select("kid", "key").dropDuplicates(["kid"])
    sample = (
        out["pairs"].select("kid", "kid2").orderBy("kid", "kid2").limit(SCORE_SAMPLE)
        .join(keys.select("kid", F.col("key").alias("a")), "kid")
        .join(keys.select(F.col("kid").alias("kid2"), F.col("key").alias("b")), "kid2")
        .orderBy("a", "b").select("a", "b").collect()
    )
    if sample:
        left = [r["a"] for r in sample]
        right = [r["b"] for r in sample]
        params = {"q": cfg["q"], "max_distance": cfg["max_distance"]}
        t0 = time.perf_counter()
        score_batch(cfg["method"], left, right, **params)
        m["distances.score_batch_pairs_per_s"] = len(sample) / (time.perf_counter() - t0)
    else:
        m["distances.score_batch_pairs_per_s"] = 0.0
    return m


# --------------------------------------------------------------------------
# string joins
# --------------------------------------------------------------------------


#: the string joins over the name tables: (span, method, how, tau, extra
#: arguments, oracle distance)
STRING_JOINS = (
    ("joins.string_lv", "lv", "left", 1, {}, oracle.lv),
    ("joins.string_osa", "osa", "inner", 2, {}, oracle.osa),
    ("joins.string_jaccard", "jaccard", "inner", 0.3, {"q": 2},
     lambda a, b: oracle.jaccard(a, b, 2)),
)


def _expected_pairs(left: pa.Table, right: pa.Table) -> dict:
    """Every (lid, rid, d) within each string join's tau, from the oracles."""
    lnames = dict(zip(left.column("lid").to_pylist(), left.column("name").to_pylist()))
    rnames = dict(zip(right.column("rid").to_pylist(), right.column("name").to_pylist()))
    out = {}
    for span, method, _, tau, kw, dist in STRING_JOINS:
        if method == "jaccard":
            pairs = oracle.jaccard_pairs(lnames, rnames, kw["q"], tau)
        else:
            pairs = oracle.edit_pairs(lnames, rnames, dist, tau)
        out[f"expect_{method}"] = pa.table({
            "lid": pa.array([a for a, _ in pairs], pa.int64()),
            "rid": pa.array([b for _, b in pairs], pa.int64()),
            "d": pa.array(list(pairs.values()), pa.float64())})
    return out


def string_workload(spark, n_entities: int, seed: int, cache: str, work: str) -> Workload:
    import fozzie_spark as fz

    def build():
        left, right, truth = gen.name_tables(n_entities, seed)
        return {"left": left, "right": right, "truth": truth, "parts": gen.part_names(seed),
                **_expected_pairs(left, right)}

    path = gen.cached(cache, f"names-{n_entities}-{seed}", build)

    def table(name):
        return pq.read_table(os.path.join(path, f"{name}.parquet")).to_pydict()

    L, R, P = (_read(spark, path, n) for n in ("left", "right", "parts"))
    lnames = dict(zip(*table("left").values()))
    rnames = dict(zip(*table("right").values()))
    tt = table("truth")
    links = set(zip(tt["lid"], tt["rid"]))
    parts = table("parts")["name"]
    if n_entities >= 500 and len(set(lnames.values())) + len(set(rnames.values())) <= 1000:
        # below the tiny-cross gate (blocking.TINY_CROSS_KEY_THRESHOLD) the
        # joins would take the scored cross product, not the gram index
        raise ValueError(f"string_joins input at {n_entities} entities is under the 1k-key gate")

    def join(method, how, tau, kw):
        def run():
            out = fz.fuzzy_string_join(L, R, by="name", method=method, how=how,
                                       max_distance=tau, distance_col="d", **kw)
            return out.select("lid", "rid", "d").collect()
        return run

    def checker(method, how, tau, dist):
        """The returned pairs are exactly the oracle's pairs within tau
        (up to pairs on the boundary), each with the oracle's distance; a
        left join also keeps every left row."""
        ex = table(f"expect_{method}")
        want = set(zip(ex["lid"], ex["rid"]))

        def check(rows):
            if how == "left":
                expect({r["lid"] for r in rows} == set(lnames),
                       "left join must keep every left row")
            pairs = [r for r in rows if r["rid"] is not None]
            got = {(r["lid"], r["rid"]) for r in pairs}
            expect(len(got) == len(pairs), "duplicate output rows")
            for r in pairs:
                d = dist(lnames[r["lid"]], rnames[r["rid"]])
                expect(abs(d - r["d"]) <= 1e-6,
                       f"pair {r['lid']},{r['rid']}: distance {r['d']} vs oracle {d}")
            for a, b in got ^ want:
                d = dist(lnames[a], rnames[b])
                expect(abs(d - tau) <= TOL, f"pair {a},{b} at distance {d}: "
                       f"{'returned' if (a, b) in got else 'missing'} for tau {tau}")
            return oracle.rows_hash((r["lid"], r["rid"], r["d"]) for r in rows)
        return check

    def run_tiny():
        out = fz.fuzzy_string_join(P, P, by="name", method="lv", max_distance=1,
                                   distance_col="d")
        return out.select("`name.x`", "`name.y`", "d").collect()

    tiny_expected = {(a, b, float(oracle.lv(a, b))) for a in parts for b in parts
                     if oracle.lv(a, b) <= 1}

    def check_tiny(rows):
        got = {(r[0], r[1], r[2]) for r in rows}
        expect(len(rows) == len(got) and got == tiny_expected,
               "tiny lv join differs from the all-pairs oracle")
        return oracle.rows_hash(rows)

    calls = [Call("joins.string_lv_tiny", run_tiny, check_tiny, route=True)]
    calls += [Call(span, join(method, how, tau, kw), checker(method, how, tau, dist), route=True)
              for span, method, how, tau, kw, dist in STRING_JOINS]

    def f1(results):
        found = {(r["lid"], r["rid"]) for r in results["joins.string_osa"]}
        return oracle.link_f1(found, links)

    return Workload("string_joins", calls, f1)


# --------------------------------------------------------------------------
# small calls
# --------------------------------------------------------------------------


def small_workload(spark, scale: float, seed: int, cache: str, work: str,
                   trimmed: bool = False) -> Workload:
    """`trimmed`: only the calls api_calls adds to the string joins (one
    band join, near_dedup, cosine_topk, a 200-vector LSH probe); else also
    the temporal and interval joins, and a 500-vector LSH probe."""
    from pyspark.sql import functions as F

    import fozzie_spark as fz
    from fozzie_spark import ann, textops

    path = gen.cached(cache, f"small-{scale}-{seed}", lambda: gen.small_tables(seed, scale))

    def arr(name, *cols):
        t = pq.read_table(os.path.join(path, f"{name}.parquet"), columns=list(cols))
        return [t.column(c).to_numpy() for c in cols]

    cust = _read(spark, path, "customer")
    supp = _read(spark, path, "supplier")
    ev = _read(spark, path, "events").select("event_id", "ts")
    o = _read(spark, path, "orders").where(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("s"),
        (F.col("o_totalprice") + 20000.0).alias("e"),
    )
    docs = _read(spark, path, "documents")
    emb = _read(spark, path, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    probes = emb.where(F.col("vec_id") < 100)
    n_lsh = 200 if trimmed else 500
    emb_s = emb.where(F.col("vec_id") < n_lsh)

    def band_check(x, y, tau, pair_ids):
        """Exact |x_i - y_j| <= tau pairs, up to pairs on the boundary."""
        want = oracle.band_pairs(x, y, -tau - 1e-6, tau + 1e-6)

        def check(res):
            got = {pair_ids(r) for r in res}
            expect(len(got) == len(res), "duplicate output rows")
            for i, j in got ^ want:
                expect(abs(abs(x[i] - y[j]) - tau) < 1e-6, f"pair {i},{j} wrong")
            return oracle.rows_hash(got)
        return check

    c_bal, = arr("customer", "c_acctbal")
    s_bal, = arr("supplier", "s_acctbal")
    ts_us, = arr("events", "ts")
    ts = ts_us.astype("datetime64[us]").astype(np.int64) / 1e6
    okey, oprice = arr("orders", "o_orderkey", "o_totalprice")
    sel = okey % 100 == 0
    oprice, okey = oprice[sel], okey[sel]
    opos = {int(k): i for i, k in enumerate(okey)}
    vid, vecs = arr("embeddings", "vec_id", "embedding")
    V = np.stack(vecs).astype(np.float64)
    dt = pq.read_table(os.path.join(path, "doc_truth.parquet")).to_pydict()
    doc_truth = dict(zip(dt["doc_id"], dt["group"]))

    def run_diff():
        out = fz.difference_join(cust, supp, by={"c_acctbal": "s_acctbal"}, max_distance=0.5)
        return out.select("c_custkey", "s_suppkey").collect()

    def run_temporal():
        out = fz.temporal_join(ev, ev.withColumnRenamed("event_id", "event_id2"), by="ts",
                               max_distance=1, unit="seconds")
        return out.select("event_id", "event_id2").collect()

    def run_interval():
        out = fz.interval_join(o, o, by={"s": "s", "e": "e"}, interval_mode="real")
        return out.select("`k.x`", "`k.y`").collect()

    def run_dedup():
        # 16 hashes in 8 bands of 2: a quarter of the default's signature
        # aggregates (64 in 16 bands of 4); a pair at the 0.4 similarity
        # bound still collides with probability 0.75, at 0.65 with 0.99
        out = textops.near_dedup(docs, "doc_id", "text", method="minhash", shingle_w=3,
                                 max_distance=0.6, num_hashes=16, bands=8)
        return out.select("doc_id", "dup_group", "group_size", "is_canonical").collect()

    def check_dedup(res):
        expect(sorted(r["doc_id"] for r in res) == sorted(doc_truth),
               "near_dedup must return every doc once")
        groups: dict = {}
        for r in res:
            groups.setdefault(r["dup_group"], []).append(r["doc_id"])
        for r in res:
            g = groups[r["dup_group"]]
            expect(r["dup_group"] == min(g) and r["group_size"] == len(g)
                   and r["is_canonical"] == (r["doc_id"] == min(g)),
                   f"near_dedup row {r['doc_id']} inconsistent with its group")
        pred = {r["doc_id"]: r["dup_group"] for r in res}
        return oracle.partition_hash(pred)

    cos = oracle.cosine_matrix(V)
    cos_other = cos.copy()
    np.fill_diagonal(cos_other, -np.inf)  # cosine_topk never returns the probe itself

    def run_topk():
        out = ann.cosine_topk(probes, emb, "vec_id", "v", k=10)
        return out.select("query_id", "neighbor_id", "cosine", "rank").collect()

    def check_topk(res):
        by_q: dict = {}
        for r in res:
            expect(abs(cos[r["query_id"], r["neighbor_id"]] - r["cosine"]) <= 1e-6,
                   "cosine_topk cosine differs from oracle")
            by_q.setdefault(r["query_id"], []).append(r["cosine"])
        expect(sorted(by_q) == list(range(100)), "cosine_topk must answer every probe")
        for q, got in by_q.items():
            want = np.sort(cos_other[q])[::-1][:10]
            expect(len(got) == 10 and np.allclose(sorted(got, reverse=True), want, atol=1e-6),
                   f"cosine_topk probe {q} is not the exact top 10")
        return oracle.rows_hash((r["query_id"], r["neighbor_id"], r["rank"]) for r in res)

    sub = cos[:n_lsh, :n_lsh]
    iu = np.triu_indices(len(sub), 1)
    want_lsh = {(int(a), int(b)) for a, b, c in zip(*iu, sub[iu]) if c >= 0.4 + 1e-9}
    edge_lsh = {(int(a), int(b)) for a, b, c in zip(*iu, sub[iu]) if abs(c - 0.4) < 1e-9}

    def run_lsh():
        out = ann.lsh_cosine_pairs(emb_s, "vec_id", "v", min_cosine=0.4, n_planes=16, bands=8)
        return out.select("id1", "id2", "cosine").collect()

    def check_lsh(res):
        got = {(r["id1"], r["id2"]) for r in res}
        expect(len(got) == len(res), "duplicate output rows")
        expect(not got - want_lsh - edge_lsh, "lsh pairs must be verified exact pairs")
        for r in res:
            expect(abs(cos[r["id1"], r["id2"]] - r["cosine"]) <= 1e-6,
                   "lsh pair cosine differs from oracle")
        recall = len(got & want_lsh) / max(len(want_lsh), 1)
        expect(recall >= 0.9, f"lsh recall {recall:.4f} < 0.9")
        return oracle.rows_hash(sorted(got))

    band_joins = [
        Call("joins.difference", run_diff, band_check(
            c_bal, s_bal, 0.5 + 2.220446049250313e-16, lambda r: (r[0], r[1]))),
    ]
    if not trimmed:
        band_joins += [
            Call("joins.temporal", run_temporal, band_check(ts, ts, 1.0, lambda r: (r[0], r[1]))),
            Call("joins.interval", run_interval, band_check(
                oprice, oprice, 20000.0, lambda r: (opos[r[0]], opos[r[1]]))),
        ]
    calls = band_joins + [
        Call("textops.near_dedup", run_dedup, check_dedup),
        Call("ann.cosine_topk", run_topk, check_topk),
        Call("ann.lsh_pairs", run_lsh, check_lsh),
    ]

    def f1(results):
        pred = {r["doc_id"]: r["dup_group"] for r in results["textops.near_dedup"]}
        return oracle.pairwise_f1(pred, doc_truth)

    def extras(results):
        got = {(r["id1"], r["id2"]) for r in results["ann.lsh_pairs"]}
        groups = {r["dup_group"] for r in results["textops.near_dedup"]}
        return {"ann.lsh_recall": len(got & want_lsh) / max(len(want_lsh), 1),
                "cluster.components": len(groups)}

    return Workload("small_calls", calls, f1, extras)


def api_workload(spark, sizes: dict, seed: int, cache: str, work: str) -> Workload:
    """The string joins, then the trimmed small calls, in one pass; F1 is
    the string joins' (the osa join's links)."""
    strings = string_workload(spark, sizes["string_joins"], seed, cache, work)
    small = small_workload(spark, sizes["small_calls"], seed, cache, work, trimmed=True)
    return Workload("api_calls", strings.calls + small.calls, strings.f1, small.extras)


def build(spark, name: str, sizes: dict, seed: int, cache: str, work: str) -> Workload:
    if name == "api_calls":
        return api_workload(spark, sizes[name], seed, cache, work)
    if name in ER_PARAMS:
        return er_workload(spark, name, sizes[name], seed, cache, work)
    if name == "small_calls":
        return small_workload(spark, sizes[name], seed, cache, work)
    raise ValueError(f"unknown workload {name!r}")
