"""Tests for the north-rule ER pipeline: synthetic corpus, connected
components, pairwise F1 >= 0.99 vs ground truth, span-sequence invariant,
and checkpoint/resume."""

import json
import os

import pytest
from pyspark.sql import functions as F

from fozzie_spark.cluster import connected_components
from fozzie_spark.pipeline import er_pipeline, pairwise_f1
from fozzie_spark.synth import doc_text_key, make_doc, synth_documents


# ---- connected components ---------------------------------------------------


def test_cc_chain_and_islands(spark):
    # chain 0-1-...-9 (worst case for label propagation), pair {100,101},
    # isolated via self-edge-free node 200 appearing in an edge to itself is
    # dropped; isolated nodes only appear if they have an edge
    edges = [(i, i + 1) for i in range(9)] + [(100, 101), (300, 200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    cc = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert all(cc[i] == 0 for i in range(10))
    assert cc[100] == cc[101] == 100
    assert cc[200] == cc[300] == 200


def test_cc_string_nodes(spark):
    df = spark.createDataFrame([("b", "a"), ("b", "c"), ("x", "y")], "src string, dst string")
    cc = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"


# ---- synth determinism ------------------------------------------------------


def test_synth_deterministic(spark):
    a = synth_documents(spark, 20, seed=7).collect()
    b = synth_documents(spark, 20, seed=7).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    ta = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in a}
    tb = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in b}
    assert ta == tb
    # offsets ascending, media spans have empty text + a ref
    for spans in ta.values():
        offsets = [s[3] for s in spans]
        assert offsets == sorted(offsets)
        for kind, text, ref, _ in spans:
            if kind != "text":
                assert text == "" and ref.startswith("media://")

    # deterministic irrespective of partitioning
    c = synth_documents(spark, 20, seed=7, partitions=7).collect()
    assert {r["doc_id"] for r in c} == set(ta)


def test_doc_text_key_matches_local(spark):
    docs = synth_documents(spark, 10, seed=3)
    got = {r["doc_id"]: r["k"] for r in docs.selectExpr("doc_id", f"{doc_text_key()} AS k").collect()}
    for did, key in got.items():
        entity = int(did.split("-")[1])
        variant = int(did.split("-")[2])
        _, _, spans = make_doc(entity, variant, seed=3)
        expected = " ".join(s["text"] for s in spans if s["kind"] == "text")
        assert key == expected, did


# ---- the full pipeline ------------------------------------------------------


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    docs = synth_documents(spark, 150, seed=42).cache()
    out = er_pipeline(spark, docs, checkpoint_dir=ckpt, method="jaccard", max_distance=0.45, q=3)
    return docs, out, ckpt


def test_pipeline_f1(spark, pipe):
    docs, out, _ = pipe
    pred = out["entities"].select("doc_id", "entity_id")
    truth = docs.select("doc_id", F.col("entity_id").alias("truth"))
    joined = truth.join(pred, "doc_id").select(
        F.col("truth").alias("entity_id"), F.col("entity_id").alias("pred")
    )
    m = pairwise_f1(joined.withColumnRenamed("pred", "predx").withColumnRenamed("entity_id", "t"),
                    truth_col="t", pred_col="predx")
    assert m["f1"] >= 0.99, m


def test_pipeline_span_invariant(spark, pipe):
    docs, out, _ = pipe
    before = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in docs.collect()}
    after = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in out["entities"].collect()}
    assert before == after  # (kind, text, media_ref, offset) sequence, byte-identical


def test_pipeline_checkpoints_and_resume(spark, pipe, tmp_path):
    docs, out, ckpt = pipe
    # all five stage manifests exist with metrics
    for stage in ("keys", "pairs", "edges", "clusters", "entities"):
        mp = os.path.join(ckpt, f"{stage}.manifest.json")
        assert os.path.exists(mp), stage
        with open(mp) as f:
            m = json.load(f)
        assert m["metrics"]["rows"] > 0
        assert m["metrics"]["rows_per_partition"]

    # resume: re-running with identical config must NOT rewrite stage data
    mtimes = {
        s: os.path.getmtime(os.path.join(ckpt, f"{s}.manifest.json"))
        for s in ("keys", "pairs", "edges", "clusters", "entities")
    }
    out2 = er_pipeline(spark, docs, checkpoint_dir=ckpt, method="jaccard", max_distance=0.45, q=3)
    assert out2["entities"].count() == out["entities"].count()
    for s, t in mtimes.items():
        assert os.path.getmtime(os.path.join(ckpt, f"{s}.manifest.json")) == t, s

    # changed config invalidates downstream stages
    out3 = er_pipeline(spark, docs, checkpoint_dir=ckpt, method="jaccard", max_distance=0.35, q=3)
    assert os.path.getmtime(os.path.join(ckpt, "edges.manifest.json")) > mtimes["edges"]


def test_pipeline_identical_texts_cluster(spark, tmp_path):
    rows = [
        ("a", [{"kind": "text", "text": "hello world", "media_ref": None, "offset": 0}]),
        ("b", [{"kind": "text", "text": "hello world", "media_ref": None, "offset": 0}]),
        ("c", [{"kind": "text", "text": "completely different", "media_ref": None, "offset": 0}]),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    out = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path), max_distance=0.2, q=3)
    ent = {r["doc_id"]: r["entity_id"] for r in out["entities"].collect()}
    assert ent["a"] == ent["b"] != ent["c"]


def test_cc_reliable_checkpoint(spark, tmp_path):
    edges = [(i, i + 1) for i in range(9)] + [(100, 101)]
    df = spark.createDataFrame(edges, "src long, dst long")
    cc = {
        r["node"]: r["component"]
        for r in connected_components(
            df, checkpoint_dir=str(tmp_path), driver_finish_bytes=0
        ).collect()
    }
    assert all(cc[i] == 0 for i in range(10))
    assert cc[100] == cc[101] == 100
    # only the LAST round's stage table survives (earlier rounds are
    # deleted as iterations advance; the final one backs the result DF)
    rounds = [p for p in os.listdir(tmp_path) if p.startswith("cc_round_")]
    assert len(rounds) == 1

    # default (driver-finish enabled): same assignment, and NO round table
    # survives — the result is a driver-local relation, so every round
    # artifact is dead and deleted
    ck2 = tmp_path / "fin"
    ck2.mkdir()
    cc2 = {
        r["node"]: r["component"]
        for r in connected_components(df, checkpoint_dir=str(ck2)).collect()
    }
    assert cc2 == cc
    assert [p for p in os.listdir(ck2) if p.startswith("cc_round_")] == []


def _pairs_decision(caplog):
    """The run's one pairs decision record: the hot-token valve's on the
    index route, the tiny gate's on the tiny route (the edges and entities
    gates log on the same logger)."""
    (rec,) = [r.fz_decision for r in caplog.records
              if getattr(r, "fz_decision", {}).get("gate") in ("hot_token_cap", "tiny_cross")]
    return rec


def _index_route(monkeypatch):
    """Pin er_pipeline to its id-keyed builders: a small jaccard corpus
    otherwise takes the tiny cross route."""
    from fozzie_spark import blocking

    monkeypatch.setattr(blocking, "TINY_CROSS_KEY_THRESHOLD", 0)


def test_pipeline_short_key_recall(spark, tmp_path, caplog, monkeypatch):
    # texts SHORTER than q have empty gram profiles — the dedicated
    # short-key block must still pair them (jaccard(empty, empty) = 0)
    import logging

    _index_route(monkeypatch)
    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")

    def doc(i, text):
        return (f"d{i}", [{"kind": "text", "text": text, "media_ref": None, "offset": 0}])

    rows = [doc(0, "ab"), doc(1, "xy"), doc(2, "regular longer document text here")]
    docs = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    out = er_pipeline(
        spark, docs, checkpoint_dir=str(tmp_path), max_distance=0.4, q=4, sn_window=None
    )
    ent = {r["doc_id"]: r["entity_id"] for r in out["entities"].collect()}
    # both sub-q texts have empty profiles => jaccard dist 0 => one entity
    assert ent["d0"] == ent["d1"] != ent["d2"]
    rec = _pairs_decision(caplog)
    assert (rec["short_keys"], rec["short_key_block"]) == (2, True), rec


def test_pipeline_jaccard_short_keys_at_tau_one(spark, tmp_path, caplog):
    # at max_distance >= 1 the empty-profile block is still planned: two
    # keys shorter than q have jaccard distance 0, and fuzzy_string_join
    # pairs them too (the long text shares no gram with them: the
    # share-a-gram quirk at tau >= 1 keeps it apart on both paths)
    import logging

    import fozzie_spark as fz

    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")
    texts = ["ab", "xy", "regular longer document text here"]
    docs = spark.createDataFrame(
        [(f"d{i}", [{"kind": "text", "text": t, "media_ref": None, "offset": 0}])
         for i, t in enumerate(texts)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = er_pipeline(
        spark, docs, checkpoint_dir=str(tmp_path), max_distance=1.0, q=4, sn_window=None
    )
    ent = {r["doc_id"]: r["entity_id"] for r in out["entities"].collect()}
    assert ent["d0"] == ent["d1"] != ent["d2"]
    rec = _pairs_decision(caplog)
    assert (rec["short_keys"], rec["short_key_block"]) == (2, True), rec
    keys = spark.createDataFrame([(t,) for t in texts], "k string")
    got = fz.fuzzy_string_join(keys, keys, by="k", method="jaccard", max_distance=1.0, q=4)
    pairs = {(r["k.x"], r["k.y"]) for r in got.collect()}
    assert ("ab", "xy") in pairs and not any(texts[2] in p and "ab" in p for p in pairs)


def test_pipeline_input_change_invalidates_resume(spark, tmp_path):
    ckpt = str(tmp_path)
    docs1 = synth_documents(spark, 30, seed=1)
    out1 = er_pipeline(spark, docs1, checkpoint_dir=ckpt)
    n1 = out1["entities"].count()
    # same params, DIFFERENT input plan: must re-run, not resume stale stages
    docs2 = synth_documents(spark, 60, seed=2)
    out2 = er_pipeline(spark, docs2, checkpoint_dir=ckpt)
    assert out2["entities"].count() == docs2.count() != n1


def test_pipeline_edit_method_short_keys(spark, tmp_path, caplog):
    # edit-family methods: keys shorter than q + q*tau share NO gram yet can
    # be within distance tau — the length-band short-key block must pair them
    import logging

    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")

    def doc(i, text):
        return (f"d{i}", [{"kind": "text", "text": text, "media_ref": None, "offset": 0}])

    docs = spark.createDataFrame(
        [doc(0, "abcd"), doc(1, "abxd"), doc(2, "zzzzzzzzzzzz")],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = er_pipeline(
        spark, docs, checkpoint_dir=str(tmp_path), method="lv", max_distance=1,
        q=4, resume=False,
    )
    ent = {r["doc_id"]: r["entity_id"] for r in out["entities"].collect()}
    assert ent["d0"] == ent["d1"] and ent["d2"] != ent["d0"]
    # the two 4-char keys are under q + q*tau = 8 chars, the 12-char one not
    rec = _pairs_decision(caplog)
    assert (rec["short_keys"], rec["short_key_block"]) == (2, True), rec

    import pytest as _pytest

    # jw is accepted in the provable regime (default tau 0.6 < 2/3) since
    # round 5; an actually-unsupported method still refuses
    with _pytest.raises(ValueError, match="not recall-sound"):
        er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "x"), method="soundex")


def test_pipeline_qgram_and_cosine_methods(spark, tmp_path):
    # profile-distance methods route through the id-keyed builders
    # (blocking.qgram_candidates_ids / cosine_candidates_ids) and verify in
    # the edges stage; near-dup texts must co-cluster, distinct texts must not
    def doc(i, text):
        return (f"d{i}", [{"kind": "text", "text": text, "media_ref": None, "offset": 0}])

    docs = spark.createDataFrame(
        [
            doc(0, "the quick brown fox jumps over the dog"),
            doc(1, "the quick brown fox jumps over the hog"),
            doc(2, "entirely unrelated payload zqxjv"),
            doc(3, "ab"),  # shorter than q: empty gram profile
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    for method, tau in (("qgram", 6), ("cosine", 0.2)):
        out = er_pipeline(
            spark, docs, checkpoint_dir=str(tmp_path / method), method=method,
            max_distance=tau, q=3, resume=False,
        )
        ent = {r["doc_id"]: r["entity_id"] for r in out["entities"].collect()}
        assert ent["d0"] == ent["d1"], method
        assert ent["d2"] != ent["d0"], method
        assert len(ent) == 4, method  # every doc assigned (incl. empty-profile d3)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="degenerate"):
        er_pipeline(
            spark, docs, checkpoint_dir=str(tmp_path / "c1"), method="cosine",
            max_distance=1.0,
        )

    # resume works for the ngram-candidate branch: identical re-run leaves
    # every stage manifest untouched; switching METHOD on the same dir
    # invalidates and rewrites
    import os

    ck = str(tmp_path / "qgram")  # from the loop above: a completed qgram run
    mtimes = {
        s: os.path.getmtime(os.path.join(ck, f"{s}.manifest.json"))
        for s in ("keys", "pairs", "edges", "clusters", "entities")
    }
    er_pipeline(spark, docs, checkpoint_dir=ck, method="qgram", max_distance=6, q=3)
    for s, t in mtimes.items():
        assert os.path.getmtime(os.path.join(ck, f"{s}.manifest.json")) == t, s
    er_pipeline(spark, docs, checkpoint_dir=ck, method="cosine", max_distance=0.2, q=3)
    assert os.path.getmtime(os.path.join(ck, "pairs.manifest.json")) > mtimes["pairs"]


def test_driver_finish_budget_tracks_max_result_size(spark):
    # the finisher's collect budget derives from the LIVE
    # spark.driver.maxResultSize so a default-config (1g) session can never
    # be asked to collect a 512MB payload the task-result path won't carry
    from fozzie_spark.cluster import driver_finish_budget

    mrs = int(
        spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
            "spark.driver.maxResultSize", "1g"
        )
    )
    assert driver_finish_budget(spark, cap=1 << 40) == (1 << 40 if mrs <= 0 else mrs // 2)
    assert driver_finish_budget(spark, cap=1024) == 1024
    b = driver_finish_budget(spark, cap=512 << 20)
    assert 0 < b <= 512 << 20


def _cc_decisions(caplog):
    return [r.fz_decision for r in caplog.records if hasattr(r, "fz_decision")]


def test_cc_driver_finish_equivalence(spark, caplog):
    # the bytes-gated driver finisher must leave component assignments
    # bit-identical to full-rounds convergence for every node-id shape the
    # engine ships: long, string, struct<long,long> (kid), and a struct
    # with a string field (the generic Python-object path)
    import logging
    import random

    from fozzie_spark.blocking import _plan_size_bytes

    rng = random.Random(41)
    edges = [(i, i + 1) for i in range(80)]                     # long chain
    edges += [(5000 + rng.randint(0, 60), 5000 + rng.randint(0, 60)) for _ in range(120)]
    edges += [(9000, 9001), (9002, 9003), (9003, 9004)]
    rng.shuffle(edges)

    df = spark.createDataFrame(edges, "src long, dst long").repartition(7)
    base = {r["node"]: r["component"]
            for r in connected_components(df, driver_finish_bytes=0).collect()}
    fin = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert base == fin

    sdf = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string"
    ).repartition(5)
    assert (
        {r["node"]: r["component"]
         for r in connected_components(sdf, driver_finish_bytes=0).collect()}
        == {r["node"]: r["component"] for r in connected_components(sdf).collect()}
    )

    kdf_ = spark.createDataFrame(
        [((a * 3 - 7000, -a), (b * 3 - 7000, -b)) for a, b in edges],
        "src struct<h1:long,h2:long>, dst struct<h1:long,h2:long>",
    ).repartition(4)
    assert (
        {tuple(r["node"]): tuple(r["component"])
         for r in connected_components(kdf_, driver_finish_bytes=0).collect()}
        == {tuple(r["node"]): tuple(r["component"])
            for r in connected_components(kdf_).collect()}
    )

    gdf = spark.createDataFrame(
        [((f"g{a}", a), (f"g{b}", b)) for a, b in edges],
        "src struct<s:string,x:long>, dst struct<s:string,x:long>",
    ).repartition(3)
    assert (
        {tuple(r["node"]): tuple(r["component"])
         for r in connected_components(gdf, driver_finish_bytes=0).collect()}
        == {tuple(r["node"]): tuple(r["component"])
            for r in connected_components(gdf).collect()}
    )

    # candidate edge plans (near_dedup's minhash band self-join) carry a
    # KNOWN but inflated join-product size estimate: plan stats cannot
    # prove them tiny, yet the real edge set fits the driver budget. The
    # measured edge set must be labelled on the driver with no star round,
    # bit-identical to full-rounds convergence, for every node-id shape
    caplog.set_level(logging.DEBUG, logger="fozzie_spark.cluster")
    budget = 64 << 10
    xs = spark.range(0, 120).select(F.col("id").alias("x"))
    ys = spark.range(0, 120).select(F.col("id").alias("y"))
    # chains of 10 (x -> x+1 inside each decade), bridged every 30 ids
    step, bridge = F.col("y") == F.col("x") + 1, F.col("y") == F.col("x") + 25
    link = xs.join(ys, step | ((F.col("x") % 30 == 0) & bridge))
    link = link.where((F.col("x") % 10 != 9) | bridge)
    shapes = {
        "long": (F.col("x"), F.col("y")),
        "string": (F.concat(F.lit("n"), F.col("x")), F.concat(F.lit("n"), F.col("y"))),
        "struct": (F.struct((F.col("x") * 3 - 7000).alias("h1"), (-F.col("x")).alias("h2")),
                   F.struct((F.col("y") * 3 - 7000).alias("h1"), (-F.col("y")).alias("h2"))),
    }
    for name, (s_col, d_col) in shapes.items():
        cand = link.select(s_col.alias("src"), d_col.alias("dst"))
        assert _plan_size_bytes(cand) > budget // 4, name

        def comps(**kw):
            return {r["node"]: r["component"]
                    for r in connected_components(cand, **kw).collect()}

        caplog.clear()
        got = comps(driver_finish_bytes=budget)
        (rec,) = _cc_decisions(caplog)
        assert rec["route"] == "measured_assign" and rec["rounds"] == 0, (name, rec)
        assert rec["plan_bytes"] > budget // 4 and 0 < rec["payload_bytes"] <= budget
        assert rec["edges"] == cand.distinct().count()
        assert got == comps(driver_finish_bytes=0), name
        assert len(got) == 120


def test_cc_rounds_free_the_cached_edges(spark, caplog, tmp_path):
    # past the budget the measured (cached) edge frame feeds the rounds and
    # is freed once round 0 is checkpointed: after collect() only the last
    # round's blocks stay persisted (none with checkpoint_dir, none once a
    # round was finished on the driver). Budget 1 runs every round; 2 KB
    # is under the input payload (a 24-clique) but over round 0's stars
    import logging

    from fozzie_spark.cluster import _persistent_ids

    caplog.set_level(logging.DEBUG, logger="fozzie_spark.cluster")
    edges = [(i, i + 1) for i in range(40)] + [(100, 101), (102, 101), (300, 200)]
    edges += [(500 + i, 500 + j) for i in range(24) for j in range(i + 1, 24)]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(3)
    base = {r["node"]: r["component"]
            for r in connected_components(df, driver_finish_bytes=0).collect()}
    jsc = spark.sparkContext._jsc
    for ck in (None, tmp_path):
        for budget, finished in ((1, False), (2048, True)):
            ck_dir = str(ck / f"b{budget}") if ck else None
            before = _persistent_ids(spark)
            caplog.clear()
            out = connected_components(df, driver_finish_bytes=budget, checkpoint_dir=ck_dir)
            assert {r["node"]: r["component"] for r in out.collect()} == base
            (rec,) = _cc_decisions(caplog)
            assert (rec["route"], rec["post_round_finish"]) == ("rounds", finished)
            assert rec["edges"] == len(edges) and rec["payload_bytes"] > budget
            assert rec["rounds"] == 1 if finished else rec["rounds"] > 1
            leaked = _persistent_ids(spark) - before
            if ck or finished:
                assert not leaked
            else:
                assert leaked and all(
                    jsc.getPersistentRDDs().get(i).rdd().isLocallyCheckpointed() for i in leaked
                )
            if ck and finished:
                assert not os.listdir(ck_dir)


def test_pipeline_jw_method(spark, tmp_path):
    # jaro/jw route through the provable-regime token-prefix blocking and
    # the Arrow jw scorer; near-dup texts co-cluster, distinct do not
    def doc(i, text):
        return (f"d{i}", [{"kind": "text", "text": text, "media_ref": None, "offset": 0}])

    docs = spark.createDataFrame(
        [
            doc(0, "the quick brown fox jumps over the dog"),
            doc(1, "the quick brown fox jumps over the hog"),
            doc(2, "zzz qqq vvv kkk www yyy xxx jjj uuu"),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = er_pipeline(
        spark, docs, checkpoint_dir=str(tmp_path / "jw"), method="jw",
        max_distance=0.25, prefix_weight=0.0, resume=False,
    )
    ent = {r["doc_id"]: r["entity_id"] for r in out["entities"].collect()}
    assert ent["d0"] == ent["d1"] != ent["d2"]

    # the reference's jw quirk ADDS the prefix term (d' = d + l*p*(1-d),
    # jaro_winkler.rs:66-76): a positive prefix_weight PENALIZES the shared
    # 'the quick...' prefix past tau, so the same pair no longer matches
    out_pw = er_pipeline(
        spark, docs, checkpoint_dir=str(tmp_path / "jwp"), method="jw",
        max_distance=0.25, prefix_weight=0.1, max_prefix=4, resume=False,
    )
    ent_pw = {r["doc_id"]: r["entity_id"] for r in out_pw["entities"].collect()}
    assert len(set(ent_pw.values())) == 3

    # outside the provable regime (s <= 1/3 or negative weight) -> refused
    with pytest.raises(ValueError, match="recall-sound"):
        er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "jw2"),
                    method="jw", max_distance=0.7)
    with pytest.raises(ValueError, match="recall-sound"):
        er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "jw3"),
                    method="jw", max_distance=0.25, prefix_weight=-0.1)


def test_job_entry_reports_f1(spark, tmp_path, capsys):
    # the spark-submit entry (fozzie_spark/job.py) is the artifact the
    # north rule's deployment mode runs; pin that its JSON line carries the
    # pairwise-F1 quality gate alongside throughput, and that the tiny
    # synthetic corpus clears the >= 0.99 bar end-to-end through main()
    from fozzie_spark import job

    rc = job.main([
        "--synth-entities", "300",
        "--checkpoint-dir", str(tmp_path / "job_ckpt"),
        "--no-resume",
    ])
    assert rc == 0
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["pairwise_f1"] >= 0.99, out
    assert 0.0 <= out["pairwise_precision"] <= 1.0
    assert out["docs"] == out["entities_rows"] > 0
    # opt-out leaves the metric off the line entirely
    rc = job.main([
        "--synth-entities", "300",
        "--checkpoint-dir", str(tmp_path / "job_ckpt2"),
        "--no-resume", "--no-f1",
    ])
    assert rc == 0
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    assert "pairwise_f1" not in json.loads(line)


def test_pipeline_hot_key_skew(spark, tmp_path, monkeypatch):
    # north rule: hot-key skew must be defused, not suffered. The skewed
    # corpus has one 300-doc NEAR-dup entity sharing a boilerplate text
    # (every shared gram df=300, globally hot) and one 150-doc EXACT-dup
    # entity. With the gram-df cap forced below the hot df, the inverted
    # index drops the boilerplate grams entirely and the complementary
    # sorted-neighborhood pass must recover the cluster TRANSITIVELY —
    # O(hot_docs * window) candidates instead of the hot block's
    # quadratic 44 850 — while producing the exact same entity partition
    # the uncapped quadratic run produces.
    from fozzie_spark.synth import synth_documents_skewed

    _index_route(monkeypatch)
    docs = synth_documents_skewed(spark, 120, hot_docs=300, hot_exact=150).cache()

    def partition_of(out):
        rows = out["entities"].select("doc_id", "entity_id").collect()
        byid = {}
        for r in rows:
            byid.setdefault(r["entity_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in byid.values()}

    capped = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "cap"),
                         method="jaccard", max_distance=0.45, q=3,
                         max_gram_df=50, resume=False)
    raw_capped = capped["runner"].metric("pairs", "raw_candidates")

    full = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "full"),
                       method="jaccard", max_distance=0.45, q=3,
                       max_gram_df=None, resume=False)
    raw_full = full["runner"].metric("pairs", "raw_candidates")

    # the uncapped run pays the hot block's quadratic candidates; the
    # capped+SN run must stay well under a quarter of that
    assert raw_full >= 300 * 299 / 2, (raw_capped, raw_full)
    assert raw_capped < raw_full / 4, (raw_capped, raw_full)

    # ...and still produce the IDENTICAL entity partition
    p_capped, p_full = partition_of(capped), partition_of(full)
    assert p_capped == p_full

    # hot cluster recovered whole (300 docs, one entity, nothing foreign)
    hot = [g for g in p_capped if any(d.startswith("hot-") for d in g)]
    assert len(hot) == 1 and len(hot[0]) == 300
    assert all(d.startswith("hot-") for d in hot[0])
    # exact dups collapse to one key and one entity
    dup = [g for g in p_capped if any(d.startswith("dup-") for d in g)]
    assert len(dup) == 1 and len(dup[0]) == 150

    # F1 >= 0.99 against ground truth on the capped (sub-quadratic) run
    truth = docs.select("doc_id", F.col("entity_id").alias("t"))
    pred = capped["entities"].select("doc_id", F.col("entity_id").alias("p"))
    m = pairwise_f1(truth.join(pred, "doc_id"), truth_col="t", pred_col="p")
    assert m["f1"] >= 0.99, m
    docs.unpersist()


@pytest.mark.parametrize("method", ["qgram", "lv", "jw"])
def test_pipeline_hot_token_valve(spark, tmp_path, caplog, method):
    # the hot-token df valve, for the q-gram, edit and jaro families: with
    # the cap forced below the boilerplate df (60 hot docs) the capped
    # tokens leave the index and the sorted-neighborhood pass runs. Every
    # edge is exactly verified, so the capped run's edges are a subset of
    # the lossless uncapped run's, from fewer raw candidates. Each run logs
    # one decision record and leaves no persisted RDD and no chunk staging
    # directory behind
    import logging

    from fozzie_spark.cluster import _persistent_ids
    from fozzie_spark.synth import synth_documents_skewed

    params = {"qgram": {"max_distance": 6, "q": 3}, "lv": {"max_distance": 2, "q": 3},
              "jw": {"max_distance": 0.25}}[method]
    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")
    docs = synth_documents_skewed(spark, 20, hot_docs=60, hot_exact=10)
    runs = {}
    for name, cap in (("capped", 20), ("uncapped", None)):
        ck = tmp_path / name
        before = _persistent_ids(spark)
        caplog.clear()
        out = er_pipeline(spark, docs, checkpoint_dir=str(ck), method=method,
                          max_gram_df=cap, resume=False, **params)
        edges = {(tuple(r["kid"]), tuple(r["kid2"])) for r in out["edges"].collect()}
        rec = _pairs_decision(caplog)
        runs[name] = (edges, out["runner"].metric("pairs", "raw_candidates"), rec)
        # earlier tests' leftovers may be cleaned up meanwhile: only new ids count
        assert not _persistent_ids(spark) - before, name
        assert not (ck / "edges_chunks").exists(), name

    (e_cap, raw_cap, rec_cap), (e_full, raw_full, rec_full) = runs["capped"], runs["uncapped"]
    assert e_cap <= e_full and e_cap, (len(e_cap), len(e_full))
    assert raw_cap < raw_full, (raw_cap, raw_full)
    assert rec_cap["gate"] == rec_full["gate"] == "hot_token_cap"
    assert (rec_cap["route"], rec_cap["threshold"]) == ("capped_sn", 20)
    assert rec_cap["capped_tokens"] > 0
    assert (rec_full["route"], rec_full["threshold"], rec_full["capped_tokens"]) == (
        "uncapped", None, 0)
    if method == "qgram":
        assert rec_cap["prefix_mode"] == rec_full["prefix_mode"] == "simple"
        assert rec_cap["keys"] == rec_full["keys"] > 0


@pytest.mark.parametrize("method", ["qgram", "cosine", "jaccard", "lv", "jw"])
def test_pipeline_prefix_route(spark, tmp_path, caplog, monkeypatch, method):
    # the qgram/cosine builders take the prefix route from 25k distinct
    # keys on; with the gate at 0 a small corpus takes it. Its edges must
    # equal the share-any-gram (simple) route's, and the decision record
    # must name the route. Every family's run must leave no persisted RDD
    # behind: the builders persist their prefix frames for the self-join
    import logging

    from fozzie_spark import blocking
    from fozzie_spark.cluster import _persistent_ids
    from fozzie_spark.synth import synth_documents_skewed

    params = {"qgram": {"max_distance": 6, "q": 3}, "cosine": {"max_distance": 0.25, "q": 3},
              "jaccard": {}, "lv": {"max_distance": 2, "q": 3},
              "jw": {"max_distance": 0.25}}[method]
    _index_route(monkeypatch)
    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")
    docs = synth_documents_skewed(spark, 20, hot_docs=30, hot_exact=10)
    routes = ("simple", "prefix") if method in ("qgram", "cosine") else ("prefix",)
    edges = {}
    for route in routes:
        monkeypatch.setattr(
            blocking, "PREFIX_AUTO_KEY_THRESHOLD", 0 if route == "prefix" else 50_000
        )
        before = _persistent_ids(spark)
        caplog.clear()
        out = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / route), method=method,
                          resume=False, **params)
        edges[route] = {(tuple(r["kid"]), tuple(r["kid2"]), r["dist"])
                        for r in out["edges"].collect()}
        rec = _pairs_decision(caplog)
        # earlier tests' leftovers may be cleaned up meanwhile: only new ids count
        assert not _persistent_ids(spark) - before, route
        if method in ("qgram", "cosine"):
            assert rec["prefix_mode"] == route, rec
    assert edges["prefix"], method
    if method in ("qgram", "cosine"):
        assert edges["prefix"] == edges["simple"]


def test_pipeline_valve_proven_uncapped(spark, tmp_path, caplog, monkeypatch):
    # no token can pass the auto cap max(10_000, keys // 8) while there are
    # at most 10_000 distinct keys (a token's df counts distinct keys): the
    # valve takes the uncapped route with no count job, and nothing is
    # persisted for a count that never runs. The synthetic keys are all
    # longer than q, so the short-key block is not planned either
    import logging

    from fozzie_spark.cluster import _persistent_ids

    _index_route(monkeypatch)
    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")
    docs = synth_documents(spark, 60, seed=3)
    before = _persistent_ids(spark)
    out = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path), resume=False)
    assert out["entities"].count() == docs.count()
    assert not _persistent_ids(spark) - before
    rec = _pairs_decision(caplog)
    assert (rec["method"], rec["route"], rec["capped_tokens"]) == ("jaccard", "uncapped", 0)
    assert rec["capped_count"] == "proven" and rec["threshold"] == 10_000
    assert 0 < rec["keys"] <= 10_000
    assert (rec["short_keys"], rec["short_key_block"]) == (0, False), rec


def test_pipeline_valve_proven_on_dup_heavy_corpus(spark, tmp_path, caplog, monkeypatch):
    # more than 10_000 docs over at most 10_000 distinct keys: the exact
    # distinct-key count, not the doc count, proves the auto valve
    # uncapped, so no token-df count job runs
    import logging

    _index_route(monkeypatch)
    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")
    docs = spark.range(10_050).selectExpr(
        "CAST(id AS STRING) AS doc_id",
        "array(named_struct('kind', 'text', 'text', concat('dup text number ', id % 50, "
        "' with words'), 'media_ref', CAST(NULL AS STRING), 'offset', 0)) AS spans",
    )
    er_pipeline(spark, docs, checkpoint_dir=str(tmp_path), resume=False)
    rec = _pairs_decision(caplog)
    assert (rec["keys"], rec["capped_count"], rec["route"]) == (50, "proven", "uncapped"), rec


_DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _text_docs(spark, texts):
    return spark.createDataFrame(
        [(f"t{i}", [{"kind": "text", "text": t, "media_ref": None, "offset": 0}])
         for i, t in enumerate(texts)], _DOCS_SCHEMA,
    )


def _partition(out):
    byid = {}
    for r in out["entities"].select("doc_id", "entity_id").collect():
        byid.setdefault(r["entity_id"], set()).add(r["doc_id"])
    return {frozenset(v) for v in byid.values()}


@pytest.mark.parametrize("max_distance", [0.3, 0.6, 0.9])
def test_pipeline_tiny_route_matches_index_route(spark, tmp_path, caplog, monkeypatch,
                                                 max_distance):
    # a jaccard corpus under the tiny-cross gate pairs every kid < kid2
    # pair in one broadcast nested-loop join under the cut its index route
    # already applies: edges and entities equal the index route's (gate
    # patched to 0). The corpus holds keys shorter than q, an empty key,
    # and equal-length near pairs
    import logging

    from fozzie_spark import blocking
    from fozzie_spark.cluster import _persistent_ids

    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")
    docs = synth_documents(spark, 12, seed=5).select("doc_id", "spans").unionByName(
        _text_docs(spark, ["ab", "xy", "abc", "", "abcd", "abxd", "abcdef", "abcdfe", "zzzzzzzzzzzz"])
    )
    runs = {}
    for route, thr in (("tiny_cross", blocking.TINY_CROSS_KEY_THRESHOLD), ("index", 0)):
        monkeypatch.setattr(blocking, "TINY_CROSS_KEY_THRESHOLD", thr)
        before = _persistent_ids(spark)
        caplog.clear()
        out = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / route),
                          max_distance=max_distance, q=4, resume=False)
        edges = {(tuple(r["kid"]), tuple(r["kid2"]), r["dist"]) for r in out["edges"].collect()}
        runs[route] = (edges, _partition(out))
        rec = _pairs_decision(caplog)
        # earlier tests' leftovers may be cleaned up meanwhile: only new ids count
        assert not _persistent_ids(spark) - before, route
        n = out["keys"].select("kid").distinct().count()
        if route == "tiny_cross":
            assert (rec["gate"], rec["route"], rec["keys"]) == ("tiny_cross", "tiny_cross", n), rec
            assert out["runner"].metric("pairs", "raw_candidates") == n * (n - 1) // 2
        else:
            assert (rec["gate"], rec["tiny_route"], rec["tiny_keys"], rec["tiny_threshold"]) == (
                "hot_token_cap", "index", n, 0), rec
    assert runs["tiny_cross"][0] == runs["index"][0] and runs["index"][0]
    assert runs["tiny_cross"][1] == runs["index"][1]


@pytest.mark.parametrize("method,tau", [
    ("jaccard", 1.0), ("cosine", 0.25), ("qgram", 3), ("lv", 2),
])
def test_pipeline_tiny_route_scope(spark, tmp_path, caplog, method, tau):
    # only jaccard at max_distance < 1 takes the tiny route: jaccard at
    # max_distance >= 1 (the share-a-gram quirk), cosine, qgram and the
    # edit family keep their index builders on a tiny corpus
    import logging

    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")
    docs = synth_documents(spark, 10, seed=2)
    er_pipeline(spark, docs, checkpoint_dir=str(tmp_path), method=method,
                max_distance=tau, q=3, resume=False)
    rec = _pairs_decision(caplog)
    assert (rec["gate"], rec["tiny_route"], rec["tiny_keys"]) == (
        "hot_token_cap", "index", None), rec


def test_pipeline_edges_entities_decisions(spark, tmp_path, caplog, monkeypatch):
    # the edges dictionary gate records broadcast, shuffle or chunked (with
    # k_chunks) and the entities clusters gate its broadcast choice, each
    # with the source of its inputs
    import logging

    import fozzie_spark.pipeline as P

    caplog.set_level(logging.DEBUG, logger="fozzie_spark.pipeline")
    docs = synth_documents(spark, 30, seed=4)

    def decisions(ck, **kw):
        caplog.clear()
        er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / ck), resume=False, **kw)
        return {r.fz_decision["gate"]: r.fz_decision
                for r in caplog.records if hasattr(r, "fz_decision")}

    recs = decisions("bc")
    e, n = recs["edges_dict_broadcast"], recs["entities_clusters_broadcast"]
    assert (e["route"], e["k_chunks"], e["keys_source"]) == ("broadcast", 1, "counted"), e
    assert e["dict_bytes"] < e["threshold"] and e["keys"] > 0
    assert (n["route"], n["bytes_source"]) == ("broadcast", "plan_stats"), n
    assert n["clusters_bytes"] <= n["threshold"]

    monkeypatch.setattr(P, "EDGES_DICT_BROADCAST_BYTES", 0)
    e = decisions("sh")["edges_dict_broadcast"]
    assert (e["route"], e["k_chunks"], e["keys_source"]) == ("shuffle", 1, "counted"), e
    e = decisions("ch", method="cosine", max_distance=0.25, q=3,
                  edges_chunk_bytes=64 << 10)["edges_dict_broadcast"]
    assert e["route"] == "chunked" and e["k_chunks"] > 1, e


def test_edge_refine_lossless_vs_bruteforce(spark, tmp_path):
    # the qgram/cosine edges stage prunes candidates with the two-tier
    # signature refine (Bloom popcount + per-bin mass bound) BEFORE exact
    # scoring — a pruned true match would silently drop recall, so pin the
    # edge set (pairs AND distances) against an exhaustive all-pairs
    # rescore with the unit-oracle scorers
    from fozzie_spark.distances import _cosine_dist, _qgram_dist, qgram_profile

    docs = synth_documents(spark, 400).persist()
    for method, tau, fn in (("cosine", 0.25, _cosine_dist), ("qgram", 6.0, _qgram_dist)):
        out = er_pipeline(
            spark, docs, checkpoint_dir=str(tmp_path / f"refine_{method}"),
            method=method, max_distance=tau, q=3, resume=False,
        )
        edges = {
            tuple(sorted([(r["kid"]["h1"], r["kid"]["h2"]),
                          (r["kid2"]["h1"], r["kid2"]["h2"])])): r["dist"]
            for r in out["edges"].collect()
        }
        profs = {
            (r["kid"]["h1"], r["kid"]["h2"]): qgram_profile(r["key"], 3)
            for r in out["keys"].select("key", "kid").distinct().collect()
        }
        kids = sorted(profs)
        brute = {}
        for i in range(len(kids)):
            for j in range(i + 1, len(kids)):
                d = fn(profs[kids[i]], profs[kids[j]])
                if d <= tau:
                    brute[(kids[i], kids[j])] = d
        assert set(edges) == set(brute), method
        assert all(abs(edges[k] - brute[k]) < 1e-12 for k in brute), method
    docs.unpersist()


def test_pipeline_hot_key_skew_cosine(spark, tmp_path):
    # axis-B skew on the COSINE branch — the jaccard skew test's mirror.
    # Kilobyte boilerplate keys defeat BOTH per-pair signature refines
    # (profile size drowns the cmax scaling and the 128 mass bins), so
    # the hot-gram df cap + sorted-neighborhood recovery is the valve
    # here too. Two regimes of the hot boilerplate entity:
    # (a) short tails => hot docs are TRUE near-dups (cos ~0.9): capping
    #     drops every shared gram, so the SN pass must recover the
    #     cluster TRANSITIVELY — with the exact same entity partition the
    #     uncapped quadratic run produces;
    # (b) long tails => boilerplate is worth cos ~0.35 < t, all C(hot,2)
    #     hot pairs are NON-matches: uncapped, the full quadratic pair
    #     stream reaches the scorer (measured: all 7140); capped, it
    #     never gets generated.
    from fozzie_spark.synth import synth_documents_skewed

    def partition_of(out):
        byid = {}
        for r in out["entities"].select("doc_id", "entity_id").collect():
            byid.setdefault(r["entity_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in byid.values()}

    # (a) matching regime
    docs = synth_documents_skewed(spark, 80, hot_docs=120, hot_exact=60).cache()
    capped = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "cos_a_cap"),
                         method="cosine", max_distance=0.25, q=3,
                         max_gram_df=50, resume=False)
    full = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "cos_a_full"),
                       method="cosine", max_distance=0.25, q=3,
                       max_gram_df=None, resume=False)
    raw_capped = capped["runner"].metric("pairs", "raw_candidates")
    raw_full = full["runner"].metric("pairs", "raw_candidates")
    assert raw_full >= 120 * 119 / 2, (raw_capped, raw_full)
    assert raw_capped < raw_full / 4, (raw_capped, raw_full)
    parts = partition_of(capped)
    assert parts == partition_of(full)
    hot = [g for g in parts if any(d.startswith("hot-") for d in g)]
    assert len(hot) == 1 and len(hot[0]) == 120
    assert all(d.startswith("hot-") for d in hot[0])
    dup = [g for g in parts if any(d.startswith("dup-") for d in g)]
    assert len(dup) == 1 and len(dup[0]) == 60
    truth = docs.select("doc_id", F.col("entity_id").alias("t"))
    pred = capped["entities"].select("doc_id", F.col("entity_id").alias("p"))
    m = pairwise_f1(truth.join(pred, "doc_id"), truth_col="t", pred_col="p")
    assert m["f1"] >= 0.99, m
    docs.unpersist()

    # (b) non-matching regime: long unique tails dilute the boilerplate
    docs_b = synth_documents_skewed(spark, 80, hot_docs=120, hot_exact=0,
                                    tail_words=60).cache()
    cap_b = er_pipeline(spark, docs_b, checkpoint_dir=str(tmp_path / "cos_b_cap"),
                        method="cosine", max_distance=0.25, q=3,
                        max_gram_df=50, resume=False)
    full_b = er_pipeline(spark, docs_b, checkpoint_dir=str(tmp_path / "cos_b_full"),
                         method="cosine", max_distance=0.25, q=3,
                         max_gram_df=None, resume=False)
    # capping may only REMOVE candidates, and the partitions must agree
    # (at this size the 60-word tails share vocab grams, so most candidate
    # volume is legitimate tail overlap rather than boilerplate — the
    # boilerplate-dominated cut is regime (a)'s assertion)
    raw_cap_b = cap_b["runner"].metric("pairs", "raw_candidates")
    raw_full_b = full_b["runner"].metric("pairs", "raw_candidates")
    assert raw_cap_b < raw_full_b, (raw_cap_b, raw_full_b)
    assert partition_of(cap_b) == partition_of(full_b)
    # every hot doc is its own entity (no false merges through boilerplate)
    hot_ids = {r["entity_id"] for r in cap_b["entities"]
               .where(F.col("doc_id").startswith("hot-")).collect()}
    assert len(hot_ids) == 120
    docs_b.unpersist()


def test_edge_refine_adversarial_corpora(spark, tmp_path):
    # randomized adversarial corpora for the qgram/cosine refine: unicode
    # multibyte grams, repeated-single-char keys (cmax >> 1 — the weak
    # spot of the count-scaled popcount floor), sub-q keys (empty
    # profiles), exact duplicates, and near-dups; edges must equal the
    # exhaustive all-pairs rescore for every seed
    import random

    from fozzie_spark.distances import _cosine_dist, _qgram_dist, qgram_profile

    alphabet = "abcé✓ "
    for seed, method, tau in ((1, "cosine", 0.3), (2, "qgram", 4.0)):
        rng = random.Random(seed)
        texts = ["", "a", "ab", "aaaaaaaaaa", "ééééé"]
        for i in range(120):
            base = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 14)))
            texts.append(base)
            if rng.random() < 0.4:  # near-dup / exact-dup injection
                texts.append(base + rng.choice(["", "a", "é"]))
        docs = spark.createDataFrame(
            [(f"d{i}", [{"kind": "text", "text": t, "media_ref": None, "offset": 0}])
             for i, t in enumerate(texts)],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        out = er_pipeline(
            spark, docs, checkpoint_dir=str(tmp_path / f"adv_{method}_{seed}"),
            method=method, max_distance=tau, q=3, resume=False,
        )
        edges = {
            tuple(sorted([(r["kid"]["h1"], r["kid"]["h2"]),
                          (r["kid2"]["h1"], r["kid2"]["h2"])])): r["dist"]
            for r in out["edges"].collect()
        }
        profs = {
            (r["kid"]["h1"], r["kid"]["h2"]): qgram_profile(r["key"], 3)
            for r in out["keys"].select("key", "kid").distinct().collect()
        }
        fn = _cosine_dist if method == "cosine" else _qgram_dist
        kids = sorted(profs)
        brute = {}
        for i in range(len(kids)):
            for j in range(i + 1, len(kids)):
                d = fn(profs[kids[i]], profs[kids[j]])
                if d <= tau:
                    brute[(kids[i], kids[j])] = d
        assert set(edges) == set(brute), (method, seed,
                                          len(set(brute) - set(edges)),
                                          len(set(edges) - set(brute)))
        assert all(abs(edges[k] - brute[k]) < 1e-12 for k in brute), (method, seed)


def test_edges_dict_shuffle_join_path(spark, tmp_path, monkeypatch):
    # past the broadcast gate (>5M keys or >256MB dictionary payload) the
    # edges/scoring dictionaries shuffle-join instead of broadcasting;
    # force that plan by neutering F.broadcast inside the pipeline module
    # and pin the output equal to the broadcast-path run
    import fozzie_spark.pipeline as P

    docs = synth_documents(spark, 400).persist()
    base = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "bc"),
                       method="cosine", max_distance=0.25, q=3, resume=False)
    want_edges = sorted(
        ((r["kid"]["h1"], r["kid2"]["h1"]), round(r["dist"], 9))
        for r in base["edges"].collect()
    )
    monkeypatch.setattr(P.F, "broadcast", lambda df: df)
    forced = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "sh"),
                         method="cosine", max_distance=0.25, q=3, resume=False)
    got_edges = sorted(
        ((r["kid"]["h1"], r["kid2"]["h1"]), round(r["dist"], 9))
        for r in forced["edges"].collect()
    )
    assert got_edges == want_edges
    # entity partitions agree
    def parts(out):
        byid = {}
        for r in out["entities"].select("doc_id", "entity_id").collect():
            byid.setdefault(r["entity_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in byid.values()}
    assert parts(forced) == parts(base)
    docs.unpersist()


def test_input_fingerprint_file_backed_deterministic(spark, tmp_path):
    # file-backed plans must fingerprint identically across separate reads
    # of the same path (the cross-process resume contract) and differently
    # for a different path; generated plans fall back to semanticHash
    from fozzie_spark.pipeline import _input_fingerprint

    docs = synth_documents(spark, 50, seed=7)
    pa_, pb = str(tmp_path / "a"), str(tmp_path / "b")
    docs.write.parquet(pa_)
    docs.write.parquet(pb)
    fa1 = _input_fingerprint(spark.read.parquet(pa_))
    fa2 = _input_fingerprint(spark.read.parquet(pa_))
    fb = _input_fingerprint(spark.read.parquet(pb))
    assert fa1 == fa2
    assert isinstance(fa1, str) and fa1 != fb
    # generated (non-file) plan: semanticHash fallback, stable in-session
    assert _input_fingerprint(docs) == _input_fingerprint(docs)


def test_killed_job_resumes_mid_stage(tmp_path):
    # the north rule verbatim: "a killed job resumes mid-stage". Run the
    # real spark-submit entry in a subprocess, SIGKILL it after the keys
    # stage commits but (long) before the run finishes, then re-run with
    # resume on: the keys manifest must survive untouched (stage reused,
    # not recomputed) and the resumed run must complete with a correct
    # F1 report.
    import signal
    import subprocess
    import sys
    import time

    ck = str(tmp_path / "ck")
    cmd = [
        sys.executable, "-m", "fozzie_spark.job",
        "--synth-entities", "3000", "--checkpoint-dir", ck,
        "--cpus", "8", "--shuffle-partitions", "16",
    ]
    p = subprocess.Popen(cmd, cwd=os.path.dirname(os.path.dirname(__file__)),
                         stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    keys_manifest = os.path.join(ck, "keys.manifest.json")
    entities_manifest = os.path.join(ck, "entities.manifest.json")
    deadline = time.time() + 180
    while time.time() < deadline and not os.path.exists(keys_manifest):
        if p.poll() is not None:
            raise AssertionError("job finished before the kill window opened")
        time.sleep(0.2)
    assert os.path.exists(keys_manifest), "keys stage never committed"
    p.send_signal(signal.SIGKILL)
    p.wait()
    assert not os.path.exists(entities_manifest), "job finished despite kill"

    mtime = os.path.getmtime(keys_manifest)
    out = subprocess.run(cmd, capture_output=True, text=True,
                         cwd=os.path.dirname(os.path.dirname(__file__)))
    assert out.returncode == 0, out.stderr[-2000:]
    report = json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])
    assert report["pairwise_f1"] >= 0.99, report
    assert os.path.exists(entities_manifest)
    # the committed stage was REUSED by the resumed run, not rewritten
    assert os.path.getmtime(keys_manifest) == mtime


def test_edges_chunked_refine_equivalence(spark, tmp_path, monkeypatch):
    # past the broadcast gate AND past the exchange working-set budget, the
    # cosine/qgram refine runs in sequential pair-hash chunks (bounded
    # disk); the chunk union must be byte-equal to the single-pass run
    import fozzie_spark.pipeline as P

    docs = synth_documents(spark, 400).persist()
    base = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "one"),
                       method="cosine", max_distance=0.25, q=3, resume=False)
    want_edges = sorted(
        ((r["kid"]["h1"], r["kid2"]["h1"]), round(r["dist"], 9))
        for r in base["edges"].collect()
    )
    monkeypatch.setattr(P, "EDGES_DICT_BROADCAST_BYTES", 0)  # force shuffle dicts
    forced = er_pipeline(spark, docs, checkpoint_dir=str(tmp_path / "chunk"),
                         method="cosine", max_distance=0.25, q=3, resume=False,
                         edges_chunk_bytes=8 << 20)  # forces a handful of chunks
    # r7: the chunk staging dir is deleted once the edges stage table
    # commits (it duplicated the edges bytes on exactly the
    # disk-constrained runs the chunking protects)
    assert not os.path.isdir(str(tmp_path / "chunk" / "edges_chunks"))
    got_edges = sorted(
        ((r["kid"]["h1"], r["kid2"]["h1"]), round(r["dist"], 9))
        for r in forced["edges"].collect()
    )
    assert got_edges == want_edges

    def parts(out):
        byid = {}
        for r in out["entities"].select("doc_id", "entity_id").collect():
            byid.setdefault(r["entity_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in byid.values()}

    assert parts(forced) == parts(base)
    docs.unpersist()
