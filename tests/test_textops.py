"""Tests for training-data ops: dedup (exact/minhash/simhash/jaccard),
language id, quality, token counts, fingerprints, ANN, media plumbing."""

import hashlib
import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from fozzie_spark import ann, media, textops

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "The  Quick Brown Fox jumps over the lazy dog"),  # exact dup of 0 (normalized)
    (3, "completely unrelated text about spark clusters and shuffles"),
    (4, "completely unrelated text about spark clusters and shuffles"),  # exact dup of 3
    (5, "a tiny doc"),
]


def shingle_set(text, w=3):
    toks = text.split()
    return {" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)}


def true_jaccard_pairs(w=3, tau=0.5):
    out = {}
    for (i, a), (j, b) in itertools.combinations(DOCS, 2):
        sa, sb = shingle_set(a, w), shingle_set(b, w)
        if not sa or not sb:
            continue
        d = 1 - len(sa & sb) / len(sa | sb)
        if d <= tau:
            out[(i, j)] = round(d, 9)
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "id long, text string")


def test_exact_dedup(docs):
    out = textops.exact_dedup(docs, "id", "text").collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[0]["dup_group"] == by_id[2]["dup_group"]
    assert by_id[3]["dup_group"] == by_id[4]["dup_group"]
    assert by_id[0]["group_size"] == 2 and by_id[0]["is_canonical"]
    assert not by_id[2]["is_canonical"]
    assert by_id[5]["group_size"] == 1


def test_jaccard_dedup_pairs(docs):
    got = {
        (r["id1"], r["id2"]): round(r["jaccard_dist"], 9)
        for r in textops.jaccard_dedup_pairs(docs, "id", "text", 3, 0.5).collect()
    }
    assert got == true_jaccard_pairs(3, 0.5)


def test_minhash_dedup(docs):
    exact = true_jaccard_pairs(3, 0.5)
    got = {
        (r["id1"], r["id2"]): round(r["jaccard_dist"], 9)
        for r in textops.minhash_dedup_pairs(
            docs, "id", "text", num_hashes=64, bands=16, shingle_w=3, max_distance=0.5
        ).collect()
    }
    # verified candidates: subset of exact with identical distances;
    # with 16 bands of 4 rows, recall at sim>=0.5 is essentially 1 here
    assert set(got) <= set(exact)
    for k in got:
        assert got[k] == exact[k]
    assert set(got) == set(exact)  # deterministic on this fixture


def test_simhash_near_pairs(spark, docs):
    sh = textops.simhash(docs, "id", "text", shingle_w=2)
    vals = {r["id"]: r["simhash"] for r in sh.collect()}
    brute = {
        (i, j)
        for i, j in itertools.combinations(sorted(vals), 2)
        if bin(vals[i] ^ vals[j]).count("1") <= 3
    }
    got = {
        (r["id1"], r["id2"]) for r in textops.simhash_near_pairs(sh, max_hamming=3).collect()
    }
    assert got == brute
    assert (3, 4) in got  # identical docs collide (hamming 0)


def test_simhash_full_width_chunk(spark, docs):
    # regression: n_chunks=1 (also the max_hamming=0 default) means one
    # 64-bit-wide chunk; the mask literal (1<<64)-1 used to overflow a
    # signed long and crash in Py4J
    sh = textops.simhash(docs, "id", "text", shingle_w=2)
    vals = {r["id"]: r["simhash"] for r in sh.collect()}
    exact0 = {
        (i, j)
        for i, j in itertools.combinations(sorted(vals), 2)
        if vals[i] == vals[j]
    }
    got0 = {
        (r["id1"], r["id2"])
        for r in textops.simhash_near_pairs(sh, max_hamming=0).collect()
    }
    assert got0 == exact0 and (3, 4) in got0
    # explicit n_chunks=1 with a wider tolerance: subset semantics, no crash
    got1 = {
        (r["id1"], r["id2"])
        for r in textops.simhash_near_pairs(sh, max_hamming=3, n_chunks=1).collect()
    }
    assert got1 <= {
        (i, j)
        for i, j in itertools.combinations(sorted(vals), 2)
        if bin(vals[i] ^ vals[j]).count("1") <= 3
    }


def test_jaccard_hot_shingle_stays_linear(spark):
    # one shingle shared by EVERY doc (the 100 TB hot-shingle regime): the
    # PPJoin prefix filter must keep candidates O(true pairs), not O(n^2)
    n = 60
    rows = [
        (i, f"common shared phrase uniq{i}a uniq{i}b uniq{i}c uniq{i}d uniq{i}e")
        for i in range(n)
    ]
    # implant two near-dup pairs (differ in the last token only)
    rows.append((1000, rows[0][1][:-1] + "X"))
    rows.append((1001, rows[1][1][:-1] + "X"))
    df = spark.createDataFrame(rows, "id long, text string")

    base = df.select(
        "id",
        F.expr(f"array_distinct({textops.word_shingles_sql('text', 3)})").alias("sh"),
    ).where(F.size("sh") > 0)
    n_cand = textops._jaccard_candidates(base, max_distance=0.5).count()
    assert n_cand <= n  # naive share-a-shingle blocking would give ~n^2/2

    got = {
        (r["id1"], r["id2"]): round(r["jaccard_dist"], 9)
        for r in textops.jaccard_dedup_pairs(df, "id", "text", 3, 0.5).collect()
    }
    sh = {i: shingle_set(t, 3) for i, t in rows}
    brute = {}
    for i, j in itertools.combinations(sorted(sh), 2):
        d = 1 - len(sh[i] & sh[j]) / len(sh[i] | sh[j])
        if d <= 0.5:
            brute[(i, j)] = round(d, 9)
    assert got == brute and len(brute) >= 2  # lossless under the hot shingle


def test_near_dedup(docs):
    # brute-force oracle: union-find over exact jaccard pairs
    parent = {i: i for i, _ in DOCS}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for i, j in true_jaccard_pairs(3, 0.5):
        ri, rj = find(i), find(j)
        parent[max(ri, rj)] = min(ri, rj)
    groups = {i: find(i) for i, _ in DOCS}
    sizes = {g: sum(1 for v in groups.values() if v == g) for g in groups.values()}

    for method in ("jaccard", "minhash"):
        out = {
            r["id"]: r
            for r in textops.near_dedup(docs, "id", "text", method=method,
                                        shingle_w=3, max_distance=0.5).collect()
        }
        assert len(out) == len(DOCS)
        for i, _ in DOCS:
            assert out[i]["dup_group"] == groups[i], (method, i)
            assert out[i]["group_size"] == sizes[groups[i]]
            assert out[i]["is_canonical"] == (i == groups[i])


def test_jaccard_max_shingle_df_valve(spark):
    # the approximate valve drops hot shingles from the index entirely;
    # pairs whose ONLY shared shingles are hot are (documented) recall loss
    rows = [(i, "same exact shared text here") for i in range(5)]
    df = spark.createDataFrame(rows, "id long, text string")
    full = textops.jaccard_dedup_pairs(df, "id", "text", 3, 0.5).count()
    capped = textops.jaccard_dedup_pairs(
        df, "id", "text", 3, 0.5, max_shingle_df=2
    ).count()
    assert full == 10 and capped == 0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat and it is warm"),
            (1, "der hund ist nicht in das haus und der garten"),
            (2, "le chat est dans la maison pour le matin"),
            (3, "el perro es un animal que vive por la casa"),
            (4, "zzz qqq xxx"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["lang_pred"] for r in textops.language_id(df, "text").collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "unknown"}


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "!!! ??? ..."), (2, "")], "id long, text string"
    )
    q = {r["id"]: r for r in textops.quality_features(df, "text").collect()}
    assert q[0]["n_tokens"] == 6 and q[0]["stopword_ratio"] == pytest.approx(2 / 6)
    assert q[0]["quality_score"] > q[1]["quality_score"]
    assert q[2]["n_tokens"] == 0 and q[2]["quality_score"] >= 0.0

    t = {r["id"]: r for r in textops.token_counts(df, "text").collect()}
    assert t[0]["ws_tokens"] == 6 and t[0]["bpe_tokens"] == 6
    assert t[1]["ws_tokens"] == 3
    assert t[2]["ws_tokens"] == 0

    df2 = spark.createDataFrame([(0, "don't stop2day")], "id long, text string")
    t2 = textops.token_counts(df2, "text").first()
    # don / ' / t | stop / 2 / day
    assert t2["bpe_tokens"] == 6


def test_fingerprint(spark):
    df = spark.createDataFrame(
        [(0, "  Hello   World "), (1, "hello world")], "id long, text string"
    )
    got = {r["id"]: r["fingerprint"] for r in textops.fingerprint(df, "text").collect()}
    expected = hashlib.md5(b"hello world").hexdigest()
    assert got[0] == got[1] == expected


# ---- ANN --------------------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(0)
    base = rng.standard_normal((20, 16))
    rows = []
    for i in range(20):
        rows.append((i, [float(x) for x in base[i]]))
        # a near-duplicate of each of the first 5 vectors
        if i < 5:
            rows.append((100 + i, [float(x) for x in base[i] + rng.standard_normal(16) * 0.05]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), rows


def brute_cosine(rows, thr):
    out = {}
    arr = {i: np.array(v, dtype=np.float64) for i, v in rows}
    for i, j in itertools.combinations(sorted(arr), 2):
        c = float(arr[i] @ arr[j] / (np.linalg.norm(arr[i]) * np.linalg.norm(arr[j])))
        if c >= thr:
            out[(i, j)] = round(c, 6)
    return out


def test_cosine_pairs_bruteforce(vecs):
    df, rows = vecs
    got = {
        (r["id1"], r["id2"]): round(r["cosine"], 6)
        for r in ann.cosine_pairs(df, "vec_id", "embedding", min_cosine=0.9).collect()
    }
    assert got == brute_cosine(rows, 0.9)
    assert len(got) >= 5  # the implanted near-dups


def test_cosine_topk(vecs):
    df, rows = vecs
    out = ann.cosine_topk(df, df, "vec_id", "embedding", k=1).collect()
    nn = {r["query_id"]: r["neighbor_id"] for r in out}
    for i in range(5):  # implanted duplicates are each other's NN
        assert nn[i] == 100 + i and nn[100 + i] == i


def test_lsh_cosine_pairs(vecs):
    df, rows = vecs
    exact = brute_cosine(rows, 0.9)
    got = {
        (r["id1"], r["id2"]): round(r["cosine"], 6)
        for r in ann.lsh_cosine_pairs(
            df, "vec_id", "embedding", min_cosine=0.9, n_planes=16, bands=8
        ).collect()
    }
    assert set(got) <= set(exact)  # verified: no false positives
    # 8 bands of 2 planes: recall on cos>=0.9 pairs is ~1 at this scale
    assert len(got) >= 0.8 * len(exact)
    for k in got:
        assert got[k] == exact[k]


# ---- media plumbing ----------------------------------------------------------


def test_media_plumbing(spark):
    from fozzie_spark.synth import synth_documents

    docs = synth_documents(spark, 30, seed=11)
    refs = media.media_refs(docs)
    n_refs = refs.count()
    assert n_refs > 0
    assert refs.where(F.col("media_ref").isNull()).count() == 0

    feats = media.extract_media_features(docs, feat_dim=8, deterministic_fake=True)
    rows = feats.collect()
    assert len(rows) == n_refs
    for r in rows[:5]:
        assert len(r["feature"]) == 8 and r["width"] >= 64
    # deterministic across runs
    again = {r["media_ref"]: tuple(r["feature"]) for r in
             media.extract_media_features(docs, feat_dim=8, deterministic_fake=True).collect()}
    assert {r["media_ref"]: tuple(r["feature"]) for r in rows} == again

    # real-decode path is explicitly stubbed
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        media.extract_media_features(docs, deterministic_fake=False).collect()

    plan = media.frame_sample_plan(feats, every_n=30)
    assert plan.where(F.col("frame_idx") % 30 != 0).count() == 0


def ref_winnow(text, k=5, window=4):
    import hashlib
    import re

    s = re.sub(r"\s+", " ", text.strip()).lower()
    grams = [s[i : i + k] for i in range(len(s) - k + 1)] if len(s) >= k else []
    hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    if len(hs) >= window:
        return {min(hs[i : i + window]) for i in range(len(hs) - window + 1)}
    return {min(hs)} if hs else set()


def test_winnow_fingerprints(spark, docs):
    got = {}
    rows = textops.winnow_fingerprints(docs, "id", "text", 5, 4, hash_fn="md5").collect()
    for r in rows:
        got.setdefault(r["id"], set()).add(r["fp"])
    for i, text in DOCS:
        exp = ref_winnow(text)
        assert got.get(i, set()) == exp, i
    # guarantee: any shared substring of length >= k + window - 1 shares a fp
    assert got[0] & got[1]  # docs 0/1 share a long prefix
    # xxhash64 variant: same CARDINALITY structure, no crash
    n64 = textops.winnow_fingerprints(docs, "id", "text", 5, 4).count()
    assert n64 == sum(len(v) for v in got.values())


def test_winnow_overlap_pairs(spark, docs):
    pairs = {
        (r["id1"], r["id2"]): r["shared_fps"]
        for r in textops.winnow_overlap_pairs(
            docs, "id", "text", 5, 4, min_shared=2, max_fp_df=None
        ).collect()
    }
    fps = {i: ref_winnow(t) for i, t in DOCS}
    import itertools

    exp = {}
    for i, j in itertools.combinations(sorted(fps), 2):
        # xxhash64 vs md5 give different VALUES but identical positional
        # minima pattern only per-hash; compare against md5-based run
        pass
    got_md5 = {
        (r["id1"], r["id2"]): r["shared_fps"]
        for r in textops.winnow_overlap_pairs(
            docs, "id", "text", 5, 4, min_shared=2, hash_fn="md5", max_fp_df=None
        ).collect()
    }
    for i, j in itertools.combinations(sorted(fps), 2):
        shared = len(fps[i] & fps[j])
        if shared >= 2:
            assert got_md5[(i, j)] == shared, (i, j)
        else:
            assert (i, j) not in got_md5
    assert (0, 1) in got_md5 and (0, 2) in got_md5  # near/exact dup pairs
    # the hot-fp valve drops universally shared fingerprints
    capped = textops.winnow_overlap_pairs(
        docs, "id", "text", 5, 4, min_shared=1, max_fp_df=1
    ).count()
    assert capped == 0
