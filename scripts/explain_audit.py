"""Physical-plan audit for the headline queries: prints each plan's
operator inventory and flags the anti-patterns the engine promises to
avoid (CartesianProduct / BroadcastNestedLoopJoin on paths that must be
equi-joins, an exact string scorer evaluated inside a join condition —
once per raw join row instead of once per distinct candidate — a grouping
result that reruns its candidate lineage, a candidate self-join whose two
sides each compute their own prefix aggregate, a gram document-frequency
table computed for an uncapped index that filters nothing, a shuffle on
the ER tiny route past its cached profile, an aggregate or hash shuffle
keyed on an array column, a shuffle that moves an array column, one
Python UDF evaluated in more than one ArrowEvalPython node, missing
whole-stage codegen, full-column parquet scans).

    python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: expressions only the exact string scorers (scoring.jvm_distance_col)
#: build: lv's banded levenshtein, and the q-gram scorers' per-pair gram
#: arrays computed from the key strings inside a set/multiset operation
_SCORER = re.compile(
    r"levenshtein\(|array_intersect\(CASE WHEN|array_distinct\(concat\(CASE WHEN"
    r"|aggregate\(CASE WHEN \(length\("
)
#: the minhash candidate lineage: the signature aggregate and the band
#: self-join (minhash_lsh_pairs)
_MINHASH_LINEAGE = re.compile(
    r"min\(xxhash64\(|(HashJoin|SortMergeJoin)\w* \[band#\d+, bh#\d+\]"
)
_JOIN_LINE = re.compile(r"(\w*HashJoin|SortMergeJoin|BroadcastNestedLoopJoin|CartesianProduct) ")
#: the final per-key prefix aggregate of an id-keyed builder (the rarity
#: sort's collect_list; partial aggregates excluded)
_PREFIX_AGG = re.compile(r"Aggregate\(keys=.*(?<!partial_)collect_list\(")
#: the gram document-frequency table (blocking.token_df), an aggregate
#: keyed on the gram alone
_GRAM_DF_AGG = re.compile(r"Aggregate\(keys=\[__fz_g#\d+\]")
#: a shuffle exchange (a broadcast's is named BroadcastExchange)
_SHUFFLE = re.compile(r"\bExchange ")
#: one Python UDF call in an ArrowEvalPython node: its name and the
#: expression id of its result, which names the call (both sides of a
#: self-join of one frame print the same id)
_UDF_CALL = re.compile(r"(\w+)\((?:[^()]|\([^()]*\))*\)#(\d+)")


def _outside_caches(plan: str) -> list[str]:
    """Plan lines minus the cached plans printed under each
    InMemoryRelation: what the query itself computes."""
    out, skip = [], None
    for ln in plan.splitlines():
        indent = len(ln) - len(ln.lstrip(" :+-"))
        if skip is not None and indent > skip:
            continue
        skip = indent if "InMemoryRelation" in ln else None
        out.append(ln)
    return out


def _repeated_udfs(plan: str) -> list[str]:
    """Python UDF calls that appear in more than one ArrowEvalPython node:
    each such node runs the UDF over its input again. An executed adaptive
    plan prints its initial plan after the final one; only the final one
    counts."""
    seen: dict[tuple[str, str], int] = {}
    for ln in plan.split("== Initial Plan ==")[0].splitlines():
        m = re.search(r"ArrowEvalPython \[(.*?)\], \[", ln)
        for call in _UDF_CALL.findall(m.group(1)) if m else ():
            seen[call] = seen.get(call, 0) + 1
    return [f"{n}#{i}" for (n, i), c in seen.items() if c > 1]


def _seq(s) -> list:
    """A Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _nodes(plan):
    """The operators of the JVM physical `plan`, read through adaptive
    plans and their query stages."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan" or name.endswith("QueryStage"):
            stack.append(node.executedPlan() if name == "AdaptiveSparkPlan" else node.plan())
            continue
        yield node
        stack.extend(_seq(node.children()))


def _array_keyed(plan) -> list[str]:
    """Names of the aggregates and hash-partitioned shuffles in the JVM
    physical `plan` whose keys include an array-typed column: such a key
    hashes and compares the whole array per row, and moves it through the
    exchange."""
    hits = []
    for node in _nodes(plan):
        name = node.nodeName()
        keys = []
        if name.endswith("Aggregate"):
            keys = _seq(node.groupingExpressions())
        elif name == "Exchange":
            part = node.outputPartitioning()
            if part.getClass().getSimpleName() == "HashPartitioning":
                keys = _seq(part.expressions())
        if any(k.dataType().typeName() == "array" for k in keys):
            hits.append(name)
    return hits


def _vector_exchanges(plan) -> list[str]:
    """Names of the shuffle exchanges in the JVM physical `plan` whose
    output carries an array column: each copies the arrays themselves
    through the shuffle (a broadcast is named BroadcastExchange and is not
    counted)."""
    return [n.nodeName() for n in _nodes(plan) if n.nodeName() == "Exchange" and any(
        a.dataType().typeName() == "array" for a in _seq(n.output()))]


def audit(name: str, df, allow_bnlj: bool = False, lineage_cut: bool = False,
          self_join: bool = False, uncapped: bool = False, tiny: bool = False) -> dict:
    jplan = df._jdf.queryExecution().executedPlan()
    plan = jplan.toString()
    flags = []
    if _array_keyed(jplan):
        flags.append("ArrayGroupingKey")
    if _vector_exchanges(jplan):
        flags.append("VectorExchange")
    if _repeated_udfs(plan):
        flags.append("RepeatedArrowEval")
    if tiny and any(_SHUFFLE.search(ln) for ln in _outside_caches(plan)):
        flags.append("TinyRouteExchange")
    if uncapped and _GRAM_DF_AGG.search(plan):
        flags.append("UncappedGramDfJoin")
    if lineage_cut and _MINHASH_LINEAGE.search(plan):
        flags.append("CandidateLineageRecomputed")
    if self_join and sum(bool(_PREFIX_AGG.search(ln)) for ln in _outside_caches(plan)) > 1:
        flags.append("PrefixChainRecomputed")
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    if not allow_bnlj and "BroadcastNestedLoopJoin" in plan:
        flags.append("BroadcastNestedLoopJoin")
    if any(_JOIN_LINE.search(ln) and _SCORER.search(ln) for ln in plan.splitlines()):
        flags.append("ScorerInJoinCondition")
    joins = sorted(set(re.findall(r"(\w*HashJoin|SortMergeJoin\w*|BroadcastNestedLoopJoin|CartesianProduct)", plan)))
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    print(f"{name}: joins={joins} "
          f"scan_cols={[s.count(':') for s in scans]} "
          f"{'FLAGS: ' + ','.join(flags) if flags else 'clean'}")
    return {"name": name, "flags": flags}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import fozzie_spark as fz
    from fozzie_spark import ann, textops
    from fozzie_spark.streaming import sessionize

    names = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    results = []
    # r7: tiny-input string joins DELIBERATELY route to a scored cross
    # product (blocking.use_tiny_cross — stats-gated at <= 1k combined
    # distinct keys), so a BNLJ here is the intended plan, not a leak;
    # the index paths are audited below via the prefix-mode builders and
    # the large-side gate is exercised in tests/test_blocking.py
    results.append(audit(
        "string_lv (tiny-cross route)",
        fz.fuzzy_string_join(names, names, by="name", method="lv", max_distance=1),
        allow_bnlj=True,
    ))
    results.append(audit(
        "string_jaccard (tiny-cross route)",
        fz.fuzzy_string_join(names, names, by="name", method="jaccard",
                             max_distance=0.4, q=2),
        allow_bnlj=True,
    ))
    # the share-any-gram route: the same names as an unknown-stats frame
    # (a driver-local relation), which the tiny-cross gate declines
    names_local = spark.createDataFrame(names.collect(), names.schema)
    results.append(audit(
        "string_jaccard (share-any-gram route)",
        fz.fuzzy_string_join(names_local, names_local, by="name", method="jaccard",
                             max_distance=0.4, q=2),
    ))
    results.append(audit(
        "string_cosine (share-any-gram route)",
        fz.fuzzy_string_join(names_local, names_local, by="name", method="cosine",
                             max_distance=0.3, q=2),
    ))
    results.append(audit(
        "jaccard_dedup",
        textops.jaccard_dedup_pairs(docs, "doc_id", "text", 3, 0.6),
    ))
    results.append(audit(
        "minhash_dedup",
        textops.minhash_dedup_pairs(docs, "doc_id", "text", 64, 16, 3, 0.6),
    ))
    # connected components materializes the candidate edges once; the
    # grouping it returns must not run the candidate lineage again
    results.append(audit(
        "near_dedup (grouping plan)",
        textops.near_dedup(docs, "doc_id", "text", max_distance=0.6,
                           num_hashes=16, bands=8),
        lineage_cut=True,
    ))
    results.append(audit(
        "lsh_cosine_pairs",
        ann.lsh_cosine_pairs(emb, "vec_id", "v", min_cosine=0.4, n_planes=16, bands=8),
    ))
    # the bucketed top-k paths: id-pair candidates, one signature or cell
    # UDF pass per input
    probes = emb.where(F.col("vec_id") < 100)
    results.append(audit(
        "cosine_topk (lsh)",
        ann.cosine_topk(probes, emb, "vec_id", "v", k=10, strategy="lsh"),
    ))
    # the exact paths on inputs under the broadcast budget: both sides
    # broadcast into a nested-loop join sliced by a range (the BNLJ is the
    # intended plan) and no vector crosses a shuffle
    results.append(audit(
        "cosine_topk (exact)",
        ann.cosine_topk(probes, emb, "vec_id", "v", k=10, strategy="exact"),
        allow_bnlj=True,
    ))
    results.append(audit(
        "cosine_pairs (exact)",
        ann.cosine_pairs(emb, "vec_id", "v", min_cosine=0.4, strategy="exact"),
        allow_bnlj=True,
    ))
    results.append(audit(
        "ivf_topk",
        ann.ivf_topk(probes, emb, "vec_id", "v", k=10, n_cells=16, n_probe=4),
    ))
    results.append(audit(
        "sessionize", sessionize(ev, "user_id", "ts", "value", 600)
    ))
    # interval join: equi-join on overlap bins, no range cross join
    o = ev.where(F.col("event_type") == "error").select(
        "event_id", F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
    )
    results.append(audit(
        "temporal_interval",
        fz.temporal_interval_join(
            o, o.select(F.col("event_id").alias("e2"), F.col("s").alias("s2"),
                        F.col("e").alias("e2t")),
            by={"s": "s2", "e": "e2t"}, maxgap=60, unit="seconds",
        ),
    ))
    # id-keyed ER candidate builders in the er_pipeline configuration:
    # Bloom words on the profile, prefix mode (kids + tokens shuffle, no
    # key strings, no cross joins, each prefix chain computed once)
    from fozzie_spark import blocking as B

    keys = docs.select(
        F.xxhash64("text").alias("kid"), F.col("text").alias("key")
    ).distinct()
    gs = f"array_distinct({B.qgrams_sql('key', 3)})"
    sigs = B._bloom_sig_sql(gs)
    kn = "CAST(length(key) AS INT) AS __fz_kn"
    cached = []
    prof_jc = keys.selectExpr("kid", f"{gs} AS __fz_gs", f"size({gs}) AS __fz_n", *sigs)
    prof_lv = keys.selectExpr("kid", f"{gs} AS __fz_gs", kn)
    prof_q = keys.selectExpr(
        "kid", f"{gs} AS __fz_gs", f"size({B.qgrams_sql('key', 3)}) AS __fz_tc", *sigs
    )
    prof_c = keys.selectExpr("kid", f"{B._count_map_sql('key', 3)} AS __fz_cm", *sigs)
    prof_j = keys.selectExpr("kid", kn, f"{B.char_occurrence_tokens('key')} AS __fz_ts")
    for name, cand in (
        ("er_jaccard_ids", B.jaccard_candidates_ids(
            prof_jc, "kid", 0.6, B.token_df(prof_jc, "__fz_gs"), cached=cached)),
        ("er_lv_ids", B.edit_candidates_ids(
            prof_lv, "kid", 2, B.token_df(prof_lv, "__fz_gs"), "lv", 3, cached=cached)),
        ("er_qgram_ids", B.qgram_candidates_ids(
            prof_q, "kid", 4, prefix_mode="prefix", cached=cached)),
        ("er_cosine_ids", B.cosine_candidates_ids(
            prof_c, "kid", 0.25, prefix_mode="prefix", cached=cached)),
        ("er_jw_ids", B.jaro_candidates_ids(prof_j, "kid", 0.25, cached=cached)),
    ):
        # every entry is uncapped (max_gram_df None); the edit family's
        # index reads the gram df table only to apply a cap
        results.append(audit(name, cand, self_join=True, uncapped=name == "er_lv_ids"))
    # er_pipeline's tiny route: one broadcast nested-loop join over the
    # cached per-key profile (the BNLJ is the intended plan) and no shuffle
    # past the cache
    uniq = prof_jc.persist()
    cached.append(uniq)
    results.append(audit(
        "er_pipeline pairs (tiny route)",
        B.cross_candidates_ids(uniq.select("kid", "__fz_n", *B.SIG_COLS), "kid",
                               B.cross_cut("jaccard", 0.6)),
        allow_bnlj=True, tiny=True,
    ))
    for f in cached:
        f.unpersist()
    bad = [r["name"] for r in results if r["flags"]]
    print("AUDIT:", "FAIL " + ",".join(bad) if bad else "all plans clean")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
