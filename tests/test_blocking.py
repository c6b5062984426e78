"""Blocking-layer unit tests: candidate generation must be a SUPERSET of
true matches (never lose recall) while staying sub-quadratic."""

import pytest
from pyspark.sql import functions as F

from fozzie_spark import blocking
from fozzie_spark import distances as D


def kdf(spark, vals, col):
    return spark.createDataFrame([(v,) for v in vals], f"{col} string")


def test_edit_candidates_superset(spark):
    lvals = ["Liam", "Noah", "Oliver", "Theodore", "James", "Olivia", "Emma", "Amelia"]
    rvals = ["Laim", "No, ahhh", "Olive", "Jams", "A-A-ron", "Oliv HEE-YAH", "Emma", "Smelia", "x"]
    for method in ("levenshtein", "osa", "damerau_levenshtein", "lcs", "hamming"):
        for tau, mode in ((1, "simple"), (1, "prefix"), (2, "auto")):
            cand = blocking.edit_candidates(
                kdf(spark, lvals, "__fz_l0"), kdf(spark, rvals, "__fz_r0"),
                "__fz_l0", "__fz_r0", tau, method=method, prefix_mode=mode,
            )
            got = {tuple(r) for r in cand.collect()}
            true = {
                (a, b)
                for a in lvals
                for b in rvals
                if D.score_batch(method, [a], [b], max_distance=tau)[0] <= tau
            }
            missing = true - got
            assert not missing, (method, tau, mode, missing)


def test_ngram_candidates_superset(spark):
    lvals = ["Liam", "Olivia", "Emma", "ab", "x", ""]
    rvals = ["Laim", "Olive", "Emma", "xy", "", "Smelia"]
    for mode in ("simple", "prefix"):
        for method, tau in (("jaccard", 0.9), ("jaccard", 0.4), ("qgram", 2), ("cosine", 0.6)):
            cand = blocking.ngram_candidates(
                kdf(spark, lvals, "__fz_l0"), kdf(spark, rvals, "__fz_r0"),
                "__fz_l0", "__fz_r0", method, tau, q=2, prefix_mode=mode,
            )
            got = {tuple(r) for r in cand.collect()}
            true = {
                (a, b)
                for a in lvals
                for b in rvals
                if D.score_batch(method, [a], [b], max_distance=tau, q=2)[0] <= tau
            }
            assert true <= got, (method, mode, true - got)


def test_ngram_prefix_superset_randomized(spark):
    # randomized recall safety net for the prefix builders (especially the
    # weighted AllPairs cosine unindexing): across seeds and thresholds,
    # 'prefix' candidates must contain every true match that 'simple' finds
    import random

    for seed, (method, tau) in (
        (11, ("cosine", 0.35)), (12, ("cosine", 0.6)),
        (13, ("jaccard", 0.45)), (14, ("qgram", 3)),
    ):
        rng = random.Random(seed)
        vals = list({
            "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 12)))
            for _ in range(80)
        })
        ldf, rdf = kdf(spark, vals, "__fz_l0"), kdf(spark, vals, "__fz_r0")
        cand = blocking.ngram_candidates(
            ldf, rdf, "__fz_l0", "__fz_r0", method, tau, q=2, prefix_mode="prefix"
        )
        got = {tuple(r) for r in cand.collect()}
        true = {
            (a, b)
            for a in vals
            for b in vals
            if D.score_batch(method, [a], [b], max_distance=tau, q=2)[0] <= tau
        }
        missing = true - got
        assert not missing, (method, tau, seed, sorted(missing)[:5])


def test_prefix_auto_gate(spark, monkeypatch):
    small = kdf(spark, ["ab", "cd", "ef"], "__fz_l0")
    # 3 + 3 keys, tiny local plan -> simple path
    assert blocking.use_prefix_filter(small, small) is False
    # shrink the key threshold below the input -> prefix path
    monkeypatch.setattr(blocking, "PREFIX_AUTO_KEY_THRESHOLD", 4)
    assert blocking.use_prefix_filter(small, small) is True
    monkeypatch.setattr(blocking, "PREFIX_AUTO_KEY_THRESHOLD", 50_000)
    # known-large-by-plan-stats inputs route to prefix WITHOUT a count job
    # (plan stats propagate from parquet scan sizes; local frames report the
    # unknown sentinel and resolve by counting instead)
    pq = spark.read.parquet("/root/testdata/sf0.001/part.parquet").select("p_name")
    assert blocking._plan_size_bytes(pq) is not None
    monkeypatch.setattr(blocking, "PREFIX_AUTO_BYTES_THRESHOLD", 0)
    assert blocking.use_prefix_filter(pq, pq) is True


def test_string_join_modes_agree(spark):
    import fozzie_spark as fz

    # "" and " " have empty 2-gram profiles
    vals = ["Liam", "Laim", "Olivia", "Olive", "Emma", "Emmma", "ab", "x", "", " ", "Smelia"]
    df = kdf(spark, vals, "name")
    for method, tau in (
        ("lv", 1), ("osa", 1), ("jaccard", 0.4), ("jaccard", 1.0), ("qgram", 2), ("cosine", 0.5),
    ):
        outs = []
        for mode in ("simple", "prefix"):
            out = fz.fuzzy_string_join(
                df, df, by="name", method=method, max_distance=tau,
                distance_col="d", prefix_mode=mode,
            )
            outs.append({tuple(r) for r in out.collect()})
        assert outs[0] == outs[1], (method, tau)
        if method == "jaccard" and tau == 1.0:
            # the reference's tau >= 1 quirk: pairs sharing no gram sit at
            # distance 1.0 and are not emitted; empty profiles match at 0.0
            pairs = {(a, b) for a, b, _ in outs[0]}
            assert ("Liam", "Laim") not in pairs and ("ab", "x") not in pairs
            assert {("", " "), ("x", ""), ("Olivia", "Olive")} <= pairs


def _below_collect_metrics(plan: str) -> str:
    """The subtree under the (single) CollectMetrics node of a plan string."""
    import re

    lines = plan.splitlines()
    at = [i for i, line in enumerate(lines) if "CollectMetrics" in line]
    assert len(at) == 1, plan
    col = lines[at[0]].index("CollectMetrics")
    out = []
    for line in lines[at[0] + 1:]:
        node = re.search(r"[+:]- ", line)
        if node is None or node.end() <= col:
            break
        out.append(line)
    return "\n".join(out)


def test_string_join_scores_after_blocking(spark):
    """The exact scorer runs once per distinct candidate: no scorer
    expression sits below the CollectMetrics node that ends blocking
    (otherwise Catalyst pushes the deterministic score filter into the
    raw gram-join condition and scores every raw join row)."""
    import fozzie_spark as fz

    vals = [f"{w}{i % 7}" for i, w in enumerate(
        ["Liam", "Laim", "Olivia", "Olive", "Emma", "Emmma", "Amelia", "Smelia"] * 3
    )]
    df = kdf(spark, vals, "name")
    # scorer expressions the candidate builders never produce
    markers = {
        "jaccard": "array_intersect", "lv": "levenshtein(",
        "qgram": "array_distinct(concat(", "cosine": "aggregate(CASE WHEN (length(",
    }
    cases = [(m, tau, mode) for m, tau in (("jaccard", 0.4), ("qgram", 2), ("cosine", 0.5))
             for mode in ("simple", "prefix")] + [("lv", 1, "simple")]
    for method, tau, mode in cases:
        out = fz.fuzzy_string_join(
            df, df, by="name", method=method, max_distance=tau, q=2,
            distance_col="d", prefix_mode=mode,
        )
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert markers[method] in plan, (method, mode)
        assert markers[method] not in _below_collect_metrics(plan), (method, mode)
        n = out.count()
        rows = out.collect()
        assert n == len(rows) and n >= len(vals), (method, mode)
        assert sorted(map(tuple, rows)) == sorted(map(tuple, out.collect())), (method, mode)


def test_share_any_gram_verify_exact(spark):
    """The 'simple' (share-any-gram) q-gram route verifies each candidate
    on integer aggregates of the join: jaccard emits exactly the pairs
    within tau (1e-9 slack) — empty profiles included, at distance 0 —
    and qgram/cosine emit a superset of the matches inside the old
    share-any-gram candidate set."""
    import random

    rng = random.Random(7)
    vals = sorted({
        "".join(rng.choice("abcde") for _ in range(rng.randint(0, 9))) for _ in range(260)
    })
    assert 150 <= len(vals) <= 260 and "" in vals
    # createDataFrame frames have unknown plan stats: no tiny-cross route
    ldf, rdf = kdf(spark, vals, "__fz_l0"), kdf(spark, vals, "__fz_r0")
    profiles = {v: D.qgram_profile(v, 2) for v in vals}

    def dist(method):
        return {
            (a, b): d
            for a in vals
            for b, d in zip(vals, D.score_batch(method, [a] * len(vals), vals, q=2))
        }

    def cands(method, tau):
        rows = blocking.ngram_candidates(
            ldf, rdf, "__fz_l0", "__fz_r0", method, tau, q=2, prefix_mode="simple"
        ).collect()
        got = {tuple(r) for r in rows}
        assert len(got) == len(rows), (method, tau)
        return got

    d = dist("jaccard")
    for tau in (0.3, 0.6):
        got = cands("jaccard", tau)
        assert got == {p for p, x in d.items() if x <= tau + 1e-9}, tau
        assert {(a, b) for a in vals for b in vals if len(a) < 2 and len(b) < 2} <= got

    share = {(a, b) for a in vals for b in vals if profiles[a].keys() & profiles[b].keys()}
    for method, tau in (("qgram", 2), ("qgram", 4), ("cosine", 0.3), ("cosine", 0.5)):
        d = dist(method)
        if method == "qgram":
            t = {v: sum(p.values()) for v, p in profiles.items()}
            old = {(a, b) for a, b in share if abs(t[a] - t[b]) <= tau} | {
                (a, b) for a in vals for b in vals if t[a] + t[b] <= tau
            }
        else:
            old = share
        matches = {p for p, x in d.items() if x <= tau}
        got = cands(method, tau)
        assert matches <= got <= old, (method, tau, sorted(matches - got)[:3])
        assert len(got) < len(old), (method, tau)


def test_band_candidates_superset(spark):
    lv = [0.0, 1.0, 5.5, -3.2, 100.0]
    rv = [0.05, 1.2, 5.0, -3.0, 99.5, 42.0]
    l = spark.createDataFrame([(v,) for v in lv], "__fz_l0 double")
    r = spark.createDataFrame([(v,) for v in rv], "__fz_r0 double")
    got = {tuple(x) for x in blocking.band_candidates(l, r, "__fz_l0", "__fz_r0", 0.5).collect()}
    true = {(a, b) for a in lv for b in rv if abs(a - b) <= 0.5}
    assert true <= got


def test_sorted_neighborhood(spark):
    keys = [f"k{i:03d}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "key string").repartition(5)
    got = {tuple(r) for r in blocking.sorted_neighborhood_candidates(df, "key", window=3).collect()}
    expected = {
        (keys[i], keys[j]) for i in range(50) for j in range(i + 1, min(i + 4, 50))
    }
    assert got == expected


def test_sorted_neighborhood_in_pipeline(spark, tmp_path, monkeypatch):
    # a pair whose only shared grams are globally hot gets dropped by an
    # aggressive gram-df cap; the SN pass still pairs the adjacent keys
    # (the index route pinned: two docs otherwise take the tiny cross route)
    from fozzie_spark.pipeline import er_pipeline

    monkeypatch.setattr(blocking, "TINY_CROSS_KEY_THRESHOLD", 0)

    rows = [
        ("a", [{"kind": "text", "text": "zqxjwv north", "media_ref": None, "offset": 0}]),
        ("b", [{"kind": "text", "text": "zqxjwv norti", "media_ref": None, "offset": 0}]),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    out = er_pipeline(
        spark, docs, checkpoint_dir=str(tmp_path), max_distance=0.5, q=3,
        max_gram_df=0 if False else 1,  # cap everything shared
        sn_window=5,
    )
    ent = {r["doc_id"]: r["entity_id"] for r in out["entities"].collect()}
    assert ent["a"] == ent["b"]


def test_jaro_candidates_superset(spark):
    import random

    random.seed(7)
    alpha = "abcdef"
    vals = list({
        "".join(random.choice(alpha) for _ in range(random.randint(0, 9)))
        for _ in range(60)
    } | {"", "a", "liam", "laim", "maria", "mariah"})
    ldf, rdf = kdf(spark, vals, "__fz_l0"), kdf(spark, vals, "__fz_r0")
    for tau, w, mp in ((0.25, 0.0, 0), (0.4, 0.1, 4), (0.6, 0.0, 0)):
        cand = blocking.jaro_candidates(ldf, rdf, "__fz_l0", "__fz_r0", tau, prefix_weight=w)
        got = {tuple(r) for r in cand.collect()}
        true = {
            (a, b)
            for a in vals
            for b in vals
            if D.jaro_winkler([a], [b], max_distance=tau, prefix_weight=w, max_prefix=mp)[0]
            <= tau
        }
        missing = true - got
        assert not missing, (tau, w, missing)


def test_jaro_candidates_falls_back_to_cross(spark):
    vals = ["ab", "cd"]
    ldf, rdf = kdf(spark, vals, "__fz_l0"), kdf(spark, vals, "__fz_r0")
    # tau >= 2/3 => count bound vacuous => full cross product
    cand = blocking.jaro_candidates(ldf, rdf, "__fz_l0", "__fz_r0", 0.8)
    assert cand.count() == 4
    # negative prefix weight could DECREASE distance => no sound pruning
    cand2 = blocking.jaro_candidates(ldf, rdf, "__fz_l0", "__fz_r0", 0.3, prefix_weight=-0.5)
    assert cand2.count() == 4


def test_edit_candidates_hot_gram_stays_linear(spark):
    # every key ends in the same hot 16-char suffix: the share-any-gram
    # design was quadratic in the hot gram's frequency; the Ed-Join prefix
    # filter must keep candidates near-linear WITHOUT losing any match
    n = 300
    vals = [f"u{i:05d}z{i % 7}commonhotsuffix" for i in range(n)]
    vals += [vals[0][:-1] + "X", vals[1][:-1] + "X"]  # two implanted near-dups
    ldf, rdf = kdf(spark, vals, "__fz_l0"), kdf(spark, vals, "__fz_r0")
    cand = blocking.edit_candidates(
        ldf, rdf, "__fz_l0", "__fz_r0", 1, method="levenshtein", prefix_mode="prefix"
    )
    n_cand = cand.count()
    assert n_cand < 20 * len(vals)  # share-any-gram would give ~n^2 = 91k
    got = {tuple(r) for r in cand.collect()}
    true = {
        (a, b)
        for a in vals
        for b in vals
        if D.score_batch("levenshtein", [a], [b], max_distance=1)[0] <= 1
    }
    assert true <= got  # lossless
    assert (vals[0], vals[0][:-1] + "X") in got


def test_ngram_jaccard_hot_gram_stays_linear(spark):
    # unique parts are random letters (rare grams); only the suffix is hot —
    # sequential ids would share most 2-grams and genuinely match
    import random

    rng = random.Random(99)
    n = 300
    vals = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(10))
        + "commonhotsuffix"
        for _ in range(n)
    ]
    vals += [vals[0][:-1] + "X", vals[1][:-1] + "X"]
    ldf, rdf = kdf(spark, vals, "__fz_l0"), kdf(spark, vals, "__fz_r0")
    cand = blocking.ngram_candidates(
        ldf, rdf, "__fz_l0", "__fz_r0", "jaccard", 0.3, 2, prefix_mode="prefix"
    )
    n_cand = cand.count()
    # rare random grams keep prefixes selective: ~8% of the n^2 = 91k pairs
    # the share-any-gram join produced (every pair shares the hot suffix)
    assert n_cand < 0.1 * len(vals) ** 2
    got = {tuple(r) for r in cand.collect()}
    true = {
        (a, b)
        for a in vals
        for b in vals
        if D.score_batch("jaccard", [a], [b], max_distance=0.3, q=2)[0] <= 0.3
    }
    assert true <= got
    assert (vals[0], vals[0][:-1] + "X") in got


def test_cosine_hot_gram_stays_linear(spark):
    # the weighted AllPairs prefix (Bayardo WWW'07) must unindex the hot
    # suffix grams: their total cosine contribution (~14/24 = 0.58) sits
    # under the unindex budget t = 0.85, so the candidate join runs on the
    # rare random grams only — share-any-gram gave all ~n^2 pairs
    import random

    rng = random.Random(7)
    n = 300
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    vals = [
        "".join(rng.choice(alpha) for _ in range(10)) + "commonhotsuffix"
        for _ in range(n)
    ]
    vals += [vals[0][:-1] + "X", vals[1][:-1] + "X"]
    ldf, rdf = kdf(spark, vals, "__fz_l0"), kdf(spark, vals, "__fz_r0")
    cand = blocking.ngram_candidates(
        ldf, rdf, "__fz_l0", "__fz_r0", "cosine", 0.15, 2, prefix_mode="prefix"
    )
    n_cand = cand.count()
    assert n_cand < 0.1 * len(vals) ** 2  # share-any-gram gave ~n^2 = 91k
    got = {tuple(r) for r in cand.collect()}
    true = {
        (a, b)
        for a in vals
        for b in vals
        if D.score_batch("cosine", [a], [b], max_distance=0.15, q=2)[0] <= 0.15
    }
    assert true <= got  # lossless
    assert (vals[0], vals[0][:-1] + "X") in got


def test_qgram_hot_gram_stays_linear(spark):
    import random

    rng = random.Random(41)
    n = 300
    vals = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(10))
        + "commonhotsuffix"
        for _ in range(n)
    ]
    vals += [vals[0][:-1] + "X", vals[1][:-1] + "X"]
    ldf, rdf = kdf(spark, vals, "__fz_l0"), kdf(spark, vals, "__fz_r0")
    cand = blocking.ngram_candidates(
        ldf, rdf, "__fz_l0", "__fz_r0", "qgram", 2, 2, prefix_mode="prefix"
    )
    n_cand = cand.count()
    assert n_cand < 0.1 * len(vals) ** 2  # share-any-gram gave ~n^2
    got = {tuple(r) for r in cand.collect()}
    true = {
        (a, b)
        for a in vals
        for b in vals
        if D.score_batch("qgram", [a], [b], max_distance=2, q=2)[0] <= 2
    }
    assert true <= got
    assert (vals[0], vals[0][:-1] + "X") in got


def test_sorted_neighborhood_large_multibucket_exact(spark):
    # the bucket-counts branch and the ranked-rows branch must see the SAME
    # bucket boundaries (the old repartitionByRange + spark_partition_id
    # design could sample different range boundaries per branch at scale,
    # silently corrupting ranks). With deterministic literal boundaries,
    # a multi-bucket shuffled input must reproduce the neighbor set exactly.
    import random

    rng = random.Random(3)
    keys = [f"k{i:05d}" for i in range(3000)]
    shuffled = keys[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame([(k,) for k in shuffled], "key string").repartition(16)
    got = {
        tuple(r)
        for r in blocking.sorted_neighborhood_candidates(
            df, "key", window=5, num_partitions=8
        ).collect()
    }
    expected = {
        (keys[i], keys[j]) for i in range(len(keys)) for j in range(i + 1, min(i + 6, len(keys)))
    }
    assert got == expected


def test_plans_have_no_cross_joins(spark):
    # permanent net for the plan audit: candidate generation must never
    # plan a CartesianProduct / BroadcastNestedLoopJoin
    import fozzie_spark as fz
    from fozzie_spark import textops

    names = spark.createDataFrame(
        [(f"name {i} tok{i % 5}",) for i in range(60)], "name string"
    )
    docs = spark.createDataFrame(
        [(i, f"some text number {i} with shared words") for i in range(40)],
        "id long, text string",
    )
    frames = {
        "lv": fz.fuzzy_string_join(names, names, by="name", method="lv", max_distance=1),
        "jaccard": fz.fuzzy_string_join(
            names, names, by="name", method="jaccard", max_distance=0.4, q=2
        ),
        "qgram": fz.fuzzy_string_join(
            names, names, by="name", method="qgram", max_distance=2, q=2
        ),
        "dedup": textops.jaccard_dedup_pairs(docs, "id", "text", 3, 0.5),
    }
    for tag, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, tag
        assert "BroadcastNestedLoopJoin" not in plan, tag


def test_prefix_auto_decision_cached(spark, monkeypatch):
    # a chain of auto-mode joins over the SAME inputs resolves the route
    # ONCE: the decision is memoized per (plan, plan, thresholds) key. After
    # the first resolution, re-resolution is forced to blow up — any
    # cache miss on the later calls would raise.
    from fozzie_spark.joins import fuzzy_string_join

    blocking._PREFIX_DECISION_CACHE.clear()
    names = kdf(spark, [f"name{i:03d}" for i in range(40)], "name")
    # a full auto-mode join chain resolves the route once: the internal
    # key projections hash identically across calls, so 3 joins -> 1 entry
    for _ in range(3):
        assert fuzzy_string_join(
            names, names, by="name", method="lv", max_distance=1
        ).count() >= 40
    assert len(blocking._PREFIX_DECISION_CACHE) == 1

    blocking._PREFIX_DECISION_CACHE.clear()
    assert blocking.use_prefix_filter(names, names) is False
    assert len(blocking._PREFIX_DECISION_CACHE) == 1

    def _boom(df):
        raise AssertionError("decision was re-resolved instead of cache-hit")

    monkeypatch.setattr(blocking, "_plan_size_bytes", _boom)
    for _ in range(9):
        assert blocking.use_prefix_filter(names, names) is False


def _id_pairs(build, *args, **kw):
    """Run an id-keyed builder; return its (kid, kid2) set and free the
    frames it persisted."""
    cached = []
    try:
        return {(r["kid"], r["kid2"]) for r in build(*args, cached=cached, **kw).collect()}
    finally:
        for f in cached:
            f.unpersist()


def test_id_keyed_ngram_builders_lossless(spark):
    # the er_pipeline id-keyed builders (kids + grams shuffle, never key
    # strings) over profiles carrying the Bloom words, as er_pipeline
    # builds them: qgram / cosine in both physical modes, jaccard and the
    # edit family, each a SUPERSET of the brute-force match set (incl.
    # empty and short keys) with id < id2
    import collections
    import math
    import random

    from fozzie_spark.blocking import SIG_COLS, _bloom_sig_sql, _count_map_sql, qgrams_sql

    rnd = random.Random(5)
    base = ["abcdefg", "abcdxfg", "zzzzzzz", "qwerty", "qwertz", "ab", "", "abab", "baba", "a",
            "b", "ba"]
    keys = sorted(
        set(base)
        | {"".join(rnd.choice("abcd") for _ in range(rnd.randint(0, 10))) for _ in range(60)}
    )
    q = 2
    df = spark.createDataFrame(list(enumerate(keys)), "kid long, key string")
    gs = f"array_distinct({qgrams_sql('key', q)})"

    def grams(s):
        return [s[i:i + q] for i in range(len(s) - q + 1)]

    def qgram_dist(a, b):
        ca, cb = collections.Counter(grams(a)), collections.Counter(grams(b))
        return sum(abs(ca[g] - cb[g]) for g in set(ca) | set(cb))

    def cos_dist(a, b):
        ca, cb = collections.Counter(grams(a)), collections.Counter(grams(b))
        if not ca or not cb:
            return 1.0
        dot = sum(ca[g] * cb[g] for g in ca)
        na = math.sqrt(sum(v * v for v in ca.values()))
        nb = math.sqrt(sum(v * v for v in cb.values()))
        return 1.0 - dot / (na * nb)

    def jac_dist(a, b):
        sa, sb = set(grams(a)), set(grams(b))
        return 0.0 if not sa and not sb else 1.0 - len(sa & sb) / len(sa | sb)

    def truth(dist, tau):
        pairs = {
            (i, j)
            for i in range(len(keys))
            for j in range(i + 1, len(keys))
            if dist(keys[i], keys[j]) <= tau
        }
        assert pairs  # non-vacuous
        return pairs

    def check(got, true, what):
        assert true <= got, f"{what}: missing {sorted(true - got)[:5]}"
        assert all(a < b for a, b in got), what

    tau_q = 4
    prof_q = df.selectExpr(
        "kid", f"{gs} AS __fz_gs", f"size({qgrams_sql('key', q)}) AS __fz_tc", *_bloom_sig_sql(gs),
    )
    true_q = truth(qgram_dist, tau_q)  # incl. small-profile pairs like "" vs "ab"
    for mode in ("prefix", "simple"):
        got = _id_pairs(blocking.qgram_candidates_ids, prof_q, "kid", tau_q, prefix_mode=mode)
        check(got, true_q, f"qgram {mode}")

    tau_c = 0.4
    prof_c = df.selectExpr("kid", f"{_count_map_sql('key', q)} AS __fz_cm", *_bloom_sig_sql(gs))
    true_c = truth(cos_dist, tau_c)
    for mode in ("prefix", "simple"):
        got = _id_pairs(blocking.cosine_candidates_ids, prof_c, "kid", tau_c, prefix_mode=mode)
        check(got, true_c, f"cosine {mode}")

    prof_j = df.selectExpr("kid", f"{gs} AS __fz_gs", f"size({gs}) AS __fz_n", *_bloom_sig_sql(gs))
    gdf = blocking.token_df(prof_j, "__fz_gs")
    assert set(prof_j.columns) >= set(SIG_COLS)
    for tau_j in (0.4, 0.7):
        got = _id_pairs(blocking.jaccard_candidates_ids, prof_j, "kid", tau_j, gdf)
        true_j = truth(jac_dist, tau_j)
        assert any(keys[i] == "" or keys[j] == "" for i, j in true_j)  # empty profiles
        check(got, true_j, f"jaccard {tau_j}")

    prof_e = df.selectExpr("kid", f"{gs} AS __fz_gs", "CAST(length(key) AS INT) AS __fz_kn")
    gdf = blocking.token_df(prof_e, "__fz_gs")
    for method, tau_e in (("lv", 1), ("lv", 2), ("osa", 1), ("hamming", 1), ("lcs", 2)):
        got = _id_pairs(
            blocking.edit_candidates_ids, prof_e, "kid", tau_e, gdf, method, q
        )
        true_e = truth(
            lambda a, b: D.score_batch(method, [a], [b], max_distance=tau_e)[0], tau_e
        )
        # short keys share no gram with their matches ("a" vs "b")
        assert any(min(len(keys[i]), len(keys[j])) < q for i, j in true_e), method
        check(got, true_e, f"{method} {tau_e}")


def test_edit_ids_cap_join_keeps_uncapped_edges(spark):
    # edit_candidates_ids joins the gram-df table only under a cap: a cap
    # at the hottest gram's df removes nothing, so its candidates, and the
    # exactly scored lv edges, equal the uncapped builder's; a biting cap
    # drops candidates. Uncapped, the plan has no gram-df aggregate.
    import random
    import re

    from fozzie_spark import distances as D
    from fozzie_spark.blocking import qgrams_sql

    rnd = random.Random(11)
    keys = sorted(
        {"".join(rnd.choice("abcde") for _ in range(rnd.randint(0, 9))) for _ in range(120)}
    )
    q, tau = 2, 1
    df = spark.createDataFrame(list(enumerate(keys)), "kid long, key string")
    prof = df.selectExpr(
        "kid", f"array_distinct({qgrams_sql('key', q)}) AS __fz_gs",
        "CAST(length(key) AS INT) AS __fz_kn",
    )
    gdf = blocking.token_df(prof, "__fz_gs")
    top = max(r["__fz_df"] for r in gdf.collect())

    def edges(pairs):
        return {(a, b) for a, b in pairs
                if D.score_batch("lv", [keys[a]], [keys[b]], max_distance=tau)[0] <= tau}

    uncapped = _id_pairs(blocking.edit_candidates_ids, prof, "kid", tau, gdf, "lv", q)
    capped = _id_pairs(
        blocking.edit_candidates_ids, prof, "kid", tau, gdf, "lv", q, max_gram_df=top
    )
    assert capped == uncapped
    assert edges(capped) == edges(uncapped) and edges(uncapped)
    biting = _id_pairs(blocking.edit_candidates_ids, prof, "kid", tau, gdf, "lv", q, max_gram_df=2)
    assert biting < uncapped
    cached = []
    plan = blocking.edit_candidates_ids(
        prof, "kid", tau, gdf, "lv", q, cached=cached
    )._jdf.queryExecution().executedPlan().toString()
    for f in cached:
        f.unpersist()
    assert not re.search(r"Aggregate\(keys=\[__fz_g#\d+\]", plan), plan


def _py_jaro(s1, s2):
    # independent jaro (same as test_distances_properties.test_jaro_brute,
    # incl. the reference's t//2 transposition floor)
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    w = max(len(s1), len(s2)) // 2 - 1
    m1, m2 = [False] * len(s1), [False] * len(s2)
    m = 0
    for i, ch in enumerate(s1):
        for j in range(max(0, i - w), min(len(s2), i + w + 1)):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t, k = 0, 0
    for i, ok in enumerate(m1):
        if ok:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    return (m / len(s1) + m / len(s2) + (m - t // 2) / m) / 3


def test_id_keyed_jaro_builder_lossless_and_equivalent(spark):
    # jaro_candidates_ids (the er_pipeline id-keyed jw blocking path:
    # kids + char#occ tokens + int lengths shuffle, never key strings) must
    # (a) be a SUPERSET of the true jaro match set, and (b) produce exactly
    # the candidate set of the string-keyed jaro_candidates it replaces —
    # single-side token df is half the union df for a self-join, so the
    # shared rarity order (and thus every prefix) is identical.
    import random

    rnd = random.Random(11)
    base = [
        "martha", "marhta", "dixon", "dicksonx", "jellyfish", "smellyfish",
        "", "", "a", "ab", "naïve", "naive", "müller", "mueller",
        "de la cruz", "cruz",
    ]
    keys = base + ["".join(rnd.choice("abcde") for _ in range(rnd.randint(0, 9)))
                   for _ in range(60)]
    keys = sorted(set(keys))  # builders run over DISTINCT keys
    tau = 0.25  # s = 0.75 > 1/3 (provable regime)
    s = 1.0 - tau
    df = spark.createDataFrame(list(enumerate(keys)), "kid long, key string")
    prof = df.select(
        "kid",
        F.length("key").cast("int").alias("__fz_kn"),
        F.expr(blocking.char_occurrence_tokens("key")).alias("__fz_ts"),
    )
    got = _id_pairs(blocking.jaro_candidates_ids, prof, "kid", tau)
    true_pairs = {
        (i, j)
        for i in range(len(keys))
        for j in range(i + 1, len(keys))
        if 1.0 - _py_jaro(keys[i], keys[j]) <= tau
    }
    assert true_pairs, "corpus must contain true matches"
    assert true_pairs <= got, f"missing {sorted(true_pairs - got)[:5]}"

    # exact equivalence with the string-keyed builder, normalized to ids
    kl = df.select(F.col("key").alias("__fz_l0"))
    kr = df.select(F.col("key").alias("__fz_r0"))
    idx = {k: i for i, k in enumerate(keys)}
    old = set()
    for r in blocking.jaro_candidates(kl, kr, "__fz_l0", "__fz_r0", tau).collect():
        a, b = idx[r["__fz_l0"]], idx[r["__fz_r0"]]
        if a != b:
            old.add((min(a, b), max(a, b)))
    assert got == old

    # outside the provable regime there is no id-keyed fallback: refuse
    with pytest.raises(ValueError, match="provable regime"):
        blocking.jaro_candidates_ids(prof, "kid", 0.7, cached=[])
    with pytest.raises(ValueError, match="provable regime"):
        blocking.jaro_candidates_ids(prof, "kid", tau, prefix_weight=-0.1, cached=[])


def test_id_keyed_jaro_builder_no_key_strings_in_shuffles(spark):
    # the physical plan's exchanges must partition on tokens/ids only —
    # the key string feeds one map-side projection and never a shuffle
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(["martha", "marhta", "arnab", "urban"])],
        "kid long, key string",
    )
    prof = df.select(
        "kid",
        F.length("key").cast("int").alias("__fz_kn"),
        F.expr(blocking.char_occurrence_tokens("key")).alias("__fz_ts"),
    )
    cached = []
    cand = blocking.jaro_candidates_ids(prof, "kid", 0.25, cached=cached)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    for f in cached:
        f.unpersist()
    import re

    for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "key#" not in part, f"key string in a blocking shuffle: {part}"


def test_popcount_cut_boundary(spark):
    # Tier-1 Bloom popcount cut: s_min <= 7 clamps the required shared-bit
    # floor to 1 — DETERMINISTIC (one shared gram guarantees one shared
    # Bloom bit, so the cut is lossless); s_min >= 8 enters the
    # probabilistic >= floor(s_min/2) - 2 regime (collision odds < 1e-12).
    # Walk the 7 -> 8 boundary so the not-strictly-lossless regime can
    # never silently move (VERDICT r5 'what's wrong' #3). The cut reads all
    # NSIG signature words; the shared bits sit in word 0, the rest are 0.
    from fozzie_spark.blocking import NSIG, SIG_COLS, _popcount_cut

    schema = ", ".join(f"{c} long, {c}_2 long" for c in SIG_COLS)

    def words(a, b):
        return spark.createDataFrame([(a, b) + (0, 0) * (NSIG - 1)], schema)

    one_bit, no_bits, two_bits = words(1, 1), words(1, 2), words(3, 3)
    # s_min < 1: always passes, even with zero shared bits
    assert no_bits.where(_popcount_cut("0")).count() == 1
    # deterministic regime: every s_min in 1..7 requires exactly 1 bit
    for s_min in range(1, 8):
        assert one_bit.where(_popcount_cut(str(s_min))).count() == 1, s_min
        assert no_bits.where(_popcount_cut(str(s_min))).count() == 0, s_min
    # boundary: s_min = 8 is the FIRST value requiring 2 shared bits
    assert one_bit.where(_popcount_cut("8")).count() == 0
    assert two_bits.where(_popcount_cut("8")).count() == 1
    # and the floor keeps scaling: s_min = 14 requires floor(14/2)-2 = 5
    assert two_bits.where(_popcount_cut("14")).count() == 0


def test_cosine_ids_sig_cut_lossless(spark):
    # the er-path configuration of cosine_candidates_ids — prefix mode with
    # the Bloom popcount cut inside the candidate join — must stay a
    # superset of the true cosine match set
    import collections
    import math
    import random

    from fozzie_spark.blocking import _bloom_sig_sql, _count_map_sql

    rnd = random.Random(23)
    # dense alphabetic gram space (the er-cosine killer regime): short
    # alphabet so unrelated keys share grams constantly
    keys = sorted({
        "".join(rnd.choice("abc") for _ in range(rnd.randint(3, 12))) for _ in range(150)
    } | {"abcabcabc", "abcabcabd", "cbacbacba"})
    q = 2
    tau = 0.35
    df = spark.createDataFrame(list(enumerate(keys)), "kid long, key string")
    prof = df.selectExpr(
        "kid",
        f"{_count_map_sql('key', q)} AS __fz_cm",
        *_bloom_sig_sql(f"array_distinct({blocking.qgrams_sql('key', q)})"),
    )

    def grams(s):
        return [s[i:i + q] for i in range(len(s) - q + 1)]

    def cos_dist(a, b):
        ca, cb = collections.Counter(grams(a)), collections.Counter(grams(b))
        if not ca or not cb:
            return 1.0
        dot = sum(ca[g] * cb[g] for g in ca)
        na = math.sqrt(sum(v * v for v in ca.values()))
        nb = math.sqrt(sum(v * v for v in cb.values()))
        return 1.0 - dot / (na * nb)

    true_c = {
        (i, j)
        for i in range(len(keys))
        for j in range(i + 1, len(keys))
        if cos_dist(keys[i], keys[j]) <= tau
    }
    assert true_c
    got = _id_pairs(blocking.cosine_candidates_ids, prof, "kid", tau, prefix_mode="prefix")
    assert true_c <= got, f"missing {sorted(true_c - got)[:5]}"


def test_string_join_decision_record(spark, caplog):
    """One DEBUG decision record per fuzzy_string_join call on logger
    fozzie_spark.joins, and a second with the observed raw candidate count
    once the frame's first action has run."""
    import logging
    import time

    import fozzie_spark as fz

    blocking._PREFIX_DECISION_CACHE.clear()
    caplog.set_level(logging.DEBUG, logger="fozzie_spark.joins")
    df = kdf(spark, [f"name{i:03d}" for i in range(30)], "name")
    out = fz.fuzzy_string_join(df, df, by="name", method="jaccard", max_distance=0.3, q=2)
    recs = [r.fz_decision for r in caplog.records if hasattr(r, "fz_decision")]
    assert recs == [{
        "method": "jaccard", "gate": "prefix_auto", "keys": 60, "plan_bytes": [None, None],
        "threshold": blocking.PREFIX_AUTO_KEY_THRESHOLD, "route": "share_any_gram",
        "prefix_mode": "simple",
    }]
    n = out.count()
    for _ in range(100):
        recs = [r.fz_decision for r in caplog.records if hasattr(r, "fz_decision")]
        if len(recs) == 2:
            break
        time.sleep(0.05)
    assert len(recs) == 2 and recs[1] == {**recs[0], "raw_candidates": recs[1]["raw_candidates"]}
    assert n <= recs[1]["raw_candidates"] < 30 * 30

    # the tiny-cross gate decides small known-stats inputs
    caplog.clear()
    small = spark.range(0, 40).select(F.concat(F.lit("k"), F.col("id")).alias("name"))
    fz.fuzzy_string_join(small, small, by="name", method="lv", max_distance=1)
    (rec,) = [r.fz_decision for r in caplog.records if hasattr(r, "fz_decision")]
    assert (rec["gate"], rec["keys"], rec["threshold"], rec["route"]) == (
        "tiny_cross", 80, blocking.TINY_CROSS_KEY_THRESHOLD, "tiny_cross"
    )


def test_use_tiny_cross_gate(spark):
    """The tiny-input cross route fires only for provably small key
    frames; large inputs keep the index plans (r7)."""
    from pyspark.sql import functions as F

    from fozzie_spark import blocking as B

    small = spark.range(0, 50).select(F.col("id").cast("string").alias("k"))
    assert B.use_tiny_cross(small, small)
    big = spark.range(0, 200_000).select(F.col("id").cast("string").alias("k"))
    assert not B.use_tiny_cross(big, big)
    # unknown stats (driver-local relation -> LogicalRDD) stay conservative
    unk = spark.createDataFrame([(f"k{i}",) for i in range(50)], "k string")
    assert not B.use_tiny_cross(unk, unk)
