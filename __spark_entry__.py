"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship fuzzy self-join on sf0.001.
`queries()` exposes one callable per implemented operator (SURVEY.md §2 +
the training-data ops); `oracle_sql()` gives the DuckDB-equivalent SQL on
the pre-registered views (region nation customer supplier part orders
lineitem events documents embeddings).

Conventions keeping the value-hash comparison stable across engines:
- every computed column is aliased identically on both sides
- float distances are rounded to 6 decimals on both sides AFTER filtering
- counts/sizes are cast to BIGINT on both sides
- thresholds with float-sensitive boundaries filter on the ROUNDED value
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

F64_EPS = 2.220446049250313e-16

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )


_NAMES_SQL = "(SELECT DISTINCT p_name AS name FROM part)"

#: Sidecar directory for oracle inputs that DuckDB cannot derive from the
#: base tables (python soundex codes, ER edge sets, simhash signatures).
#: The driver runs the Spark query BEFORE its oracle SQL, so the query
#: callable writes these and the oracle reads them with read_parquet().
_SIDECAR = "/tmp/fz_oracle_sidecar"


def _string_join(spark, sf_dir, method, tau, q=2, run_tau=None):
    from fozzie_spark import fuzzy_string_join

    names = _part_names(spark, sf_dir)
    out = fuzzy_string_join(
        names,
        names,
        by="name",
        method=method,
        how="inner",
        max_distance=run_tau or tau,
        q=q,
        distance_col="dist",
        suffixes=("_x", "_y"),
    )
    return (
        out.where(F.col("name_x") <= F.col("name_y"))
        .where(F.round("dist", 6) <= tau)
        .select(
            "name_x", "name_y",
            F.round(F.greatest("dist", F.lit(0.0)), 6).alias("dist"),  # clamp -0.0
        )
    )


def _soundex_codes(names):
    """(name, p, alt) dual NA-soundex codes — sidecar input for the
    soundex-join oracle."""
    from fozzie_spark.joins import soundex_codes

    return soundex_codes(names, "name", "p", "alt")


# 2-gram list for a DuckDB string expression
def _grams_sql(col, q=2):
    return (
        f"CASE WHEN length({col}) >= {q} THEN "
        f"list_transform(range(1, length({col}) - {q} + 2), i -> substr({col}, i, {q})) "
        f"ELSE [] END"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

#: Driver-gate registration order: flagships first (the driver checks the
#: first 50 rows), then per-family coverage. Keep every entry here AND in
#: queries() — the builder asserts exact agreement.
_QUERY_ORDER = [
    # flagship end-to-end components
    "er_entities",
    "er_cosine_entities",
    "er_jw_entities",
    "cosine_pairs",
    "cosine_topk",
    "lsh_cosine_pairs",
    "ivf_topk",
    "media_decode",
    "media_probe",
    "near_dedup",
    "connected_components",
    "minhash_dedup",
    "simhash_pairs",
    "jaccard_dedup",
    "exact_dedup",
    "winnow_overlap",
    "winnow_fps",
    "sessionize",
    "token_counts",
    "quality",
    "language_id",
    "fingerprint",
    # string-join method family
    "string_lv_inner",
    "string_osa_inner",
    "string_dl_inner",
    "string_hamming_inner",
    "string_lcs_inner",
    "string_jaccard_inner",
    "string_qgram_inner",
    "string_cosine_inner",
    "string_jw_inner",
    "string_soundex_inner",
    # materialization modes + multi-key
    "string_lv_left_right",
    "string_lv_full",
    "string_lv_semi_anti",
    "string_multikey_inner",
    # non-string join families
    "difference_inner_left",
    "difference_semi_anti",
    "difference_multikey_inner",
    "temporal_inner",
    "temporal_full",
    "distance_euclid_manhattan",
    "interval_real_integer",
    "interval_within_inner",
    "interval_gap_overlap",
    "interval_start_end",
    "interval_left",
    "temporal_interval_inner",
    "regex_inner",
    "regex_left_anti",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fuzzy Levenshtein self-join of part names on sf0.001."""
    return _string_join(spark, "/root/testdata/sf0.001", "lv", 1)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from fozzie_spark import (
        difference_join,
        distance_join,
        fuzzy_string_join,
        interval_join,
        regex_join,
        temporal_interval_join,
        temporal_join,
    )
    from fozzie_spark import ann, textops
    from fozzie_spark.cluster import connected_components

    q: dict[str, Callable] = {}

    # ---- string join family (distinct part names, self-join) -------------
    q["string_lv_inner"] = lambda s, d: _string_join(s, d, "lv", 1)
    q["string_osa_inner"] = lambda s, d: _string_join(s, d, "osa", 1)
    q["string_dl_inner"] = lambda s, d: _string_join(s, d, "dl", 1)
    q["string_hamming_inner"] = lambda s, d: _string_join(s, d, "hamming", 2)
    q["string_lcs_inner"] = lambda s, d: _string_join(s, d, "lcs", 1)
    q["string_jaccard_inner"] = lambda s, d: _string_join(s, d, "jaccard", 0.4, q=2)
    q["string_qgram_inner"] = lambda s, d: _string_join(s, d, "qgram", 2, q=2)
    q["string_cosine_inner"] = lambda s, d: _string_join(s, d, "cosine", 0.6, q=2)
    q["string_jw_inner"] = lambda s, d: _string_join(s, d, "jw", 0.25, run_tau=0.2501)

    def _soundex(s, d):
        # The ENCODER (NA dual soundex) is pinned by pytest goldens ported
        # from the reference tests; the oracle verifies the JOIN semantics
        # (4-combination code blocking + dedup + materialization) over a
        # sidecar of the per-name codes.
        names = _part_names(s, d)
        _soundex_codes(names).coalesce(1).write.mode("overwrite").parquet(f"{_SIDECAR}/soundex")
        return (
            fuzzy_string_join(
                names, names, by="name", method="soundex",
                how="inner", suffixes=("_x", "_y"),
            ).where(F.col("name_x") <= F.col("name_y")).select("name_x", "name_y")
        )

    q["string_soundex_inner"] = _soundex

    # ---- join modes (lv tau=1) -------------------------------------------
    def _lv_mode(s, d, how):
        out = fuzzy_string_join(
            _part_names(s, d), _part_names(s, d), by="name", method="lv",
            how=how, max_distance=1, distance_col="dist", suffixes=("_x", "_y"),
        )
        if how in ("semi", "anti"):
            return out.select("name")
        return out.select("name_x", "name_y", F.round("dist", 6).alias("dist"))

    # left+right and semi+anti are folded into tagged unions so all six
    # materialization modes fit the driver's 50-row gate without losing a
    # single mode check (VERDICT r4 next-round #1)
    q["string_lv_left_right"] = lambda s, d: (
        _lv_mode(s, d, "left").withColumn("side", F.lit("left"))
        .unionByName(_lv_mode(s, d, "right").withColumn("side", F.lit("right")))
    )
    q["string_lv_full"] = lambda s, d: _lv_mode(s, d, "full")
    q["string_lv_semi_anti"] = lambda s, d: (
        _lv_mode(s, d, "semi").withColumn("mode", F.lit("semi"))
        .unionByName(_lv_mode(s, d, "anti").withColumn("mode", F.lit("anti")))
    )

    # ---- multi-key string join (reference distance-matrix naming) ---------
    def _multikey(s, d):
        p = s.read.parquet(f"{d}/part.parquet").select("p_name", "p_brand").distinct()
        out = fuzzy_string_join(
            p, p, by=["p_name", "p_brand"], method="lv", how="inner",
            max_distance=1, distance_col="dist", suffixes=("_x", "_y"),
        )
        return out.select(
            "p_name_x", "p_brand_x", "p_name_y", "p_brand_y",
            F.round("dist_p_name_p_name", 6).alias("dist_p_name_p_name"),
            F.round("dist_p_brand_p_brand", 6).alias("dist_p_brand_p_brand"),
        )

    q["string_multikey_inner"] = _multikey

    # ---- difference / temporal -------------------------------------------
    def _diff_inner_left(s, d):
        # inner + left materialization in one tagged row (gate-slot economy:
        # the 50-row driver window must cover every component family)
        cust = s.read.parquet(f"{d}/customer.parquet").select("c_custkey", "c_acctbal")
        supp = s.read.parquet(f"{d}/supplier.parquet").select("s_suppkey", "s_acctbal")

        def one(how):
            out = difference_join(
                cust, supp, by={"c_acctbal": "s_acctbal"}, how=how,
                max_distance=0.5, distance_col="dist",
            )
            return out.select(
                "c_custkey", "s_suppkey", F.round("dist", 6).alias("dist"),
                F.lit(how).alias("mode"),
            )

        return one("inner").unionByName(one("left"))

    q["difference_inner_left"] = _diff_inner_left

    def _temporal(s, d):
        ev = s.read.parquet(f"{d}/events.parquet").where(F.col("event_type") == "error")
        out = temporal_join(
            ev.select("event_id", "ts"),
            ev.select(F.col("event_id").alias("event_id2"), "ts"),
            by="ts", max_distance=600, unit="seconds", distance_col="dist",
        )
        return out.where(F.col("event_id") < F.col("event_id2")).select(
            "event_id", "event_id2", F.round("dist", 6).alias("dist")
        )

    q["temporal_inner"] = _temporal

    # ---- k-D distance join (both metrics in one tagged row) -----------------
    def _dist(s, d, metric):
        li = (
            s.read.parquet(f"{d}/lineitem.parquet")
            .select(F.col("l_discount").alias("disc"), F.col("l_tax").alias("tax"))
            .distinct()
        )
        out = distance_join(
            li, li, by=["disc", "tax"], method=metric, max_distance=0.02,
            distance_col="dist", suffixes=("_x", "_y"),
        )
        return out.select(
            "disc_x", "tax_x", "disc_y", "tax_y", F.round("dist", 6).alias("dist"),
            F.lit(metric).alias("metric"),
        )

    q["distance_euclid_manhattan"] = lambda s, d: _dist(s, d, "euclidean").unionByName(
        _dist(s, d, "manhattan")
    )

    # ---- interval joins -----------------------------------------------------
    def _interval_real(s, d):
        o = (
            s.read.parquet(f"{d}/orders.parquet")
            .where(F.col("o_orderkey") % 100 == 0)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("s"),
                (F.col("o_totalprice") + 20000.0).alias("e"),
            )
        )
        out = interval_join(
            o, o, by={"s": "s", "e": "e"}, interval_mode="real", suffixes=("_x", "_y")
        )
        return out.select("k_x", "k_y")

    def _interval_integer(s, d):
        p = (
            s.read.parquet(f"{d}/part.parquet")
            .select(F.col("p_size").alias("s"), (F.col("p_size") + 2).alias("e"))
            .distinct()
        )
        out = interval_join(
            p, p, by={"s": "s", "e": "e"}, interval_mode="integer", maxgap=0,
            suffixes=("_x", "_y"),
        )
        return out.select("s_x", "e_x", "s_y", "e_y")

    def _interval_real_integer(s, d):
        # tagged-union fold of the real-mode and integer-mode rows (frees a
        # driver-gate slot for media_probe; both semantics stay oracle-checked)
        real = _interval_real(s, d).select(
            F.lit("real").alias("mode"),
            F.col("k_x").cast("double").alias("a"),
            F.col("k_y").cast("double").alias("b"),
            F.lit(None).cast("double").alias("c"),
            F.lit(None).cast("double").alias("d"),
        )
        integer = _interval_integer(s, d).select(
            F.lit("integer").alias("mode"),
            F.col("s_x").cast("double").alias("a"),
            F.col("e_x").cast("double").alias("b"),
            F.col("s_y").cast("double").alias("c"),
            F.col("e_y").cast("double").alias("d"),
        )
        return real.unionByName(integer)

    q["interval_real_integer"] = _interval_real_integer

    def _interval_within(s, d):
        o = (
            s.read.parquet(f"{d}/orders.parquet")
            .where(F.col("o_orderkey") % 100 == 0)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("s"),
                (F.col("o_totalprice") + 20000.0).alias("e"),
            )
        )
        out = interval_join(
            o, o, by={"s": "s", "e": "e"}, interval_mode="real",
            overlap_type="within", suffixes=("_x", "_y"),
        )
        return out.select("k_x", "k_y")

    q["interval_within_inner"] = _interval_within

    def _int_parts(s, d):
        return (
            s.read.parquet(f"{d}/part.parquet")
            .select(F.col("p_size").alias("s"), (F.col("p_size") + 2).alias("e"))
            .distinct()
        )

    def _interval_variant(s, d, **kw):
        p = _int_parts(s, d)
        out = interval_join(
            p, p, by={"s": "s", "e": "e"}, interval_mode="integer", suffixes=("_x", "_y"), **kw
        )
        return out.select("s_x", "e_x", "s_y", "e_y")

    def _tagged(df, col, val):
        return df.withColumn(col, F.lit(val))

    q["interval_gap_overlap"] = lambda s, d: (
        _tagged(_interval_variant(s, d, maxgap=1), "variant", "maxgap")
        .unionByName(_tagged(_interval_variant(s, d, minoverlap=2), "variant", "minoverlap"))
    )
    q["interval_start_end"] = lambda s, d: (
        _tagged(_interval_variant(s, d, overlap_type="start"), "variant", "start")
        .unionByName(_tagged(_interval_variant(s, d, overlap_type="end"), "variant", "end"))
    )

    # ---- temporal interval join (Date/timestamp ranges) --------------------
    def _temporal_interval(s, d):
        ev = (
            s.read.parquet(f"{d}/events.parquet")
            .where(F.col("event_type") == "error")
            .select(
                "event_id",
                F.col("ts").alias("ts_s"),
                (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("ts_e"),
            )
        )
        out = temporal_interval_join(
            ev,
            ev.select(
                F.col("event_id").alias("event_id2"),
                F.col("ts_s").alias("ts_s2"),
                F.col("ts_e").alias("ts_e2"),
            ),
            by={"ts_s": "ts_s2", "ts_e": "ts_e2"},
            maxgap=60,
            unit="seconds",
            suffixes=("_x", "_y"),
        )
        return out.where(F.col("event_id") < F.col("event_id2")).select("event_id", "event_id2")

    q["temporal_interval_inner"] = _temporal_interval

    # ---- regex join ----------------------------------------------------------
    def _regex(s, d):
        docs = s.read.parquet(f"{d}/documents.parquet").select("doc_id", "text")
        pats = s.createDataFrame(
            [("^key",), ("value$",), ("spark",), ("agg.*sort",)], "pattern string"
        )
        out = regex_join(docs, pats, by={"text": "pattern"})
        return out.select("doc_id", "pattern")

    q["regex_inner"] = _regex

    # ---- extra mode coverage: semi/anti/left/full + multi-key on the
    # non-string families (the string family pins all 6 modes already) ----
    def _diff_mode(s, d, how):
        cust = s.read.parquet(f"{d}/customer.parquet").select("c_custkey", "c_acctbal")
        supp = s.read.parquet(f"{d}/supplier.parquet").select("s_suppkey", "s_acctbal")
        out = difference_join(
            cust, supp, by={"c_acctbal": "s_acctbal"}, how=how, max_distance=0.5
        )
        return out.select("c_custkey", "c_acctbal")

    q["difference_semi_anti"] = lambda s, d: (
        _diff_mode(s, d, "semi").withColumn("mode", F.lit("semi"))
        .unionByName(_diff_mode(s, d, "anti").withColumn("mode", F.lit("anti")))
    )

    def _diff_multikey(s, d):
        li = (
            s.read.parquet(f"{d}/lineitem.parquet")
            .select(F.col("l_discount").alias("disc"), F.col("l_tax").alias("tax"))
            .distinct()
        )
        out = difference_join(
            li, li, by=["disc", "tax"], max_distance=0.005,
            distance_col="dist", suffixes=("_x", "_y"),
        )
        return out.select(
            "disc_x", "tax_x", "disc_y", "tax_y",
            F.round("dist_disc_disc", 6).alias("d1"),
            F.round("dist_tax_tax", 6).alias("d2"),
        )

    q["difference_multikey_inner"] = _diff_multikey

    def _interval_left(s, d):
        o = (
            s.read.parquet(f"{d}/orders.parquet")
            .where(F.col("o_orderkey") % 100 == 0)
            .select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").alias("s"),
                (F.col("o_totalprice") + 20000.0).alias("e"),
            )
        )
        # right side shifted up 150k so most left intervals go unmatched —
        # a left join that degenerates to inner would be a vacuous check
        r = o.select(
            F.col("k").alias("k2"),
            (F.col("s") + 150000.0).alias("s2"),
            (F.col("s") + 155000.0).alias("e2"),
        )
        out = interval_join(o, r, by={"s": "s2", "e": "e2"}, how="left", interval_mode="real")
        return out.select("k", "k2")

    q["interval_left"] = _interval_left

    def _regex_mode(s, d, how):
        docs = s.read.parquet(f"{d}/documents.parquet").select("doc_id", "text")
        pats = s.createDataFrame(
            [("^key",), ("value$",), ("spark",), ("agg.*sort",)], "pattern string"
        )
        out = regex_join(docs, pats, by={"text": "pattern"}, how=how)
        return out.select("doc_id", "pattern") if how == "left" else out.select("doc_id")

    q["regex_left_anti"] = lambda s, d: (
        _regex_mode(s, d, "left").withColumn("mode", F.lit("left"))
        .unionByName(
            _regex_mode(s, d, "anti")
            .withColumn("pattern", F.lit(None).cast("string"))
            .withColumn("mode", F.lit("anti"))
        )
    )

    def _temporal_full(s, d):
        ev = s.read.parquet(f"{d}/events.parquet")
        err = ev.where(F.col("event_type") == "error").select("event_id", "ts")
        sgn = ev.where(F.col("event_type") == "signup").select(
            F.col("event_id").alias("event_id2"), F.col("ts").alias("ts2")
        )
        out = temporal_join(
            err, sgn, by={"ts": "ts2"}, how="full", max_distance=2,
            unit="seconds", distance_col="dist",
        )
        return out.select("event_id", "event_id2", F.round("dist", 6).alias("dist"))

    q["temporal_full"] = _temporal_full

    # ---- training-data ops over documents -------------------------------------
    def _docs(s, d):
        return s.read.parquet(f"{d}/documents.parquet")

    q["exact_dedup"] = lambda s, d: textops.exact_dedup(_docs(s, d), "doc_id", "text").select(
        "doc_id", "dup_group", F.col("group_size").cast("bigint").alias("group_size"), "is_canonical"
    )

    q["jaccard_dedup"] = lambda s, d: textops.jaccard_dedup_pairs(
        _docs(s, d), "doc_id", "text", shingle_w=3, max_distance=0.6
    ).select("id1", "id2", F.round("jaccard_dist", 6).alias("dist"))

    q["minhash_dedup"] = lambda s, d: textops.minhash_dedup_pairs(
        _docs(s, d), "doc_id", "text", num_hashes=64, bands=16, shingle_w=3, max_distance=0.6
    ).select("id1", "id2", F.round("jaccard_dist", 6).alias("dist"))

    def _simhash(s, d):
        # Signature computation (xxhash64) has no DuckDB analog, so the
        # signatures are written as a sidecar and the oracle brute-forces
        # hamming pairs over them — verifying that the pigeonhole chunk
        # blocking (n_chunks = max_hamming + 1 => full recall) finds
        # EXACTLY the pairs a cross join would.
        sh = textops.simhash(_docs(s, d), "doc_id", "text", shingle_w=2)
        sh.coalesce(1).write.mode("overwrite").parquet(f"{_SIDECAR}/simhash")
        return textops.simhash_near_pairs(sh, max_hamming=8).select(
            "id1", "id2", F.col("hamming").cast("bigint").alias("hamming")
        )

    q["simhash_pairs"] = _simhash

    q["token_counts"] = lambda s, d: textops.token_counts(_docs(s, d), "text").select(
        "doc_id",
        F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.col("bpe_tokens").cast("bigint").alias("bpe_tokens"),
    )

    q["quality"] = lambda s, d: textops.quality_features(_docs(s, d), "text").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )

    q["language_id"] = lambda s, d: textops.language_id(_docs(s, d), "text").select(
        "doc_id", "lang_pred"
    )

    q["fingerprint"] = lambda s, d: textops.fingerprint(_docs(s, d), "text").select(
        "doc_id", "fingerprint"
    )

    # winnowing uses hash_fn="md5" here so DuckDB can recompute the same
    # fingerprints; production default is xxhash64 (faster, JVM-side)
    q["winnow_fps"] = lambda s, d: textops.winnow_fingerprints(
        _docs(s, d), "doc_id", "text", k=5, window=4, hash_fn="md5"
    ).select(F.col("id").alias("doc_id"), "fp")

    q["winnow_overlap"] = lambda s, d: textops.winnow_overlap_pairs(
        _docs(s, d), "doc_id", "text", k=5, window=4, min_shared=2,
        hash_fn="md5", max_fp_df=None,
    ).select("id1", "id2", F.col("shared_fps").cast("bigint").alias("shared_fps"))

    def _sessionize(s, d):
        from fozzie_spark.streaming import sessionize

        ev = s.read.parquet(f"{d}/events.parquet")
        out = sessionize(ev, "user_id", "ts", "value", gap_seconds=600)
        return out.select(
            "user_id",
            F.col("session_start").cast("timestamp_ltz").cast("double").alias("start_epoch"),
            F.col("session_end").cast("timestamp_ltz").cast("double").alias("end_epoch"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round("total_value", 6).alias("total_value"),
        )

    q["sessionize"] = _sessionize

    q["near_dedup"] = lambda s, d: textops.near_dedup(
        _docs(s, d), "doc_id", "text", method="jaccard", shingle_w=3, max_distance=0.6
    ).select(
        "doc_id", "dup_group",
        F.col("group_size").cast("bigint").alias("group_size"), "is_canonical",
    )

    # ---- connected components (over jaccard dedup edges) -----------------------
    def _cc(s, d):
        edges = textops.jaccard_dedup_pairs(_docs(s, d), "doc_id", "text", 3, 0.6)
        return connected_components(edges, "id1", "id2").select("node", "component")

    q["connected_components"] = _cc

    # ---- embeddings: similarity search -----------------------------------------
    def _emb(s, d):
        return s.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )

    def _cosine_pairs(s, d):
        # tagged union (same fold pattern as the mode rows): part='pair'
        # rows are the exact cosine_pairs output; part='group' rows are
        # embedding_near_dedup's grouping over the SAME threshold —
        # (vec_id, dup_group, group_size, is_canonical) — so the composed
        # operator (pairs -> connected components -> canonical grouping)
        # sits inside the driver-checked window too. strategy="exact" keeps
        # the grouping oracle-exact at any size.
        emb = _emb(s, d)
        pairs = ann.cosine_pairs(emb, "vec_id", "embedding", min_cosine=0.4).select(
            F.lit("pair").alias("part"),
            F.col("id1").alias("a"),
            F.col("id2").alias("b"),
            F.round("cosine", 6).alias("v"),
            F.lit(None).cast("boolean").alias("flag"),
        )
        groups = ann.embedding_near_dedup(
            emb, "vec_id", "embedding", min_cosine=0.4, strategy="exact"
        ).select(
            F.lit("group").alias("part"),
            F.col("vec_id").alias("a"),
            F.col("dup_group").alias("b"),
            F.col("group_size").cast("double").alias("v"),
            F.col("is_canonical").alias("flag"),
        )
        return pairs.unionByName(groups)

    q["cosine_pairs"] = _cosine_pairs

    def _topk(s, d):
        emb = _emb(s, d)
        probes = emb.where(F.col("vec_id") < 20)
        return ann.cosine_topk(probes, emb, "vec_id", "embedding", k=3).select(
            "query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank")
        )

    q["cosine_topk"] = _topk

    def _ivf_topk(s, d):
        # full-probe configuration (n_probe == n_cells) so the whole IVF
        # chain — sampled spherical-kmeans quantizer, per-batch matmul cell
        # assignment, cell equi-join, exact re-rank — is deterministically
        # EXACT and oracle-checkable against DuckDB's brute-force top-k
        # (pinned equal to cosine_topk strategy="exact" in tests); the
        # partial-probe scale configuration's recall is pinned in
        # tests/test_ann.py on clustered + uniform corpora
        emb = _emb(s, d)
        probes = emb.where(F.col("vec_id") < 20)
        return ann.ivf_topk(
            probes, emb, "vec_id", "embedding", k=3, n_cells=8, n_probe=8
        ).select(
            "query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank")
        )

    q["ivf_topk"] = _ivf_topk

    def _lsh_pairs(s, d):
        # Approximate by design (recall < 1, pinned >= 0.95 in tests), so an
        # equality oracle over the exact pair set is impossible — instead the
        # emitted pairs are sidecar'd and the oracle recomputes the EXACT
        # cosine for them in DuckDB, restricted to true >= min_cosine pairs:
        # equality then proves precision 1.0 AND exact cosine values. Any
        # false positive or wrong cosine breaks the row/hash match.
        out = (
            ann.lsh_cosine_pairs(_emb(s, d), "vec_id", "embedding", min_cosine=0.4,
                                 n_planes=16, bands=8)
            .select("id1", "id2", F.round("cosine", 6).alias("cosine"))
        )
        out.coalesce(1).write.mode("overwrite").parquet(f"{_SIDECAR}/lsh_pairs")
        return s.read.parquet(f"{_SIDECAR}/lsh_pairs")

    q["lsh_cosine_pairs"] = _lsh_pairs

    # ---- media decode (oracle = closed-form expected sidecar) ------------------
    def _media(s, d):
        # deterministic synthetic binaries (netpbm + PNG + WAV built from the
        # row index), decoded by the REAL stdlib decoders — exercises the
        # full mapInPandas decode path end-to-end. The oracle side never
        # touches the decoders: every input is a constant-color image or a
        # constant-sample wave, so the expected metadata + first feature
        # value follow in closed form from the generator parameters; they
        # are sidecar'd and compared in DuckDB.
        import io
        import struct
        import wave
        import zlib

        import numpy as np

        from fozzie_spark.media import decode_media_features

        def _ppm(i):
            w, h = 4 + i % 5, 3 + i % 4
            rgb = (i % 256, 2 * i % 256, 3 * i % 256)
            return f"P6\n{w} {h}\n255\n".encode() + bytes(rgb) * (w * h), w, h, rgb

        def _png(i):
            # constant-color RGB PNG, cycling through all 5 filter types
            w, h, f = 3 + i % 6, 2 + i % 5, i % 5
            rgb = (i % 256, 5 * i % 256, 11 * i % 256)
            row = np.tile(np.array(rgb, dtype=np.int32), w)
            zero = np.zeros(3, dtype=np.int32)
            prev = np.zeros(w * 3, dtype=np.int32)
            raws = []
            for _y in range(h):
                left = np.concatenate([zero, row[:-3]])
                if f == 0:
                    enc = row
                elif f == 1:
                    enc = (row - left) % 256
                elif f == 2:
                    enc = (row - prev) % 256
                elif f == 3:
                    enc = (row - ((left + prev) >> 1)) % 256
                else:
                    ul = np.concatenate([zero, prev[:-3]])
                    p = left + prev - ul
                    pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
                    pred = np.where((pa <= pb) & (pa <= pc), left,
                                    np.where(pb <= pc, prev, ul))
                    enc = (row - pred) % 256
                raws.append(bytes([f]) + enc.astype(np.uint8).tobytes())
                prev = row

            def chunk(typ, data):
                return (struct.pack(">I", len(data)) + typ + data
                        + struct.pack(">I", zlib.crc32(typ + data)))

            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(b"".join(raws)))
                    + chunk(b"IEND", b""), w, h, rgb)

        def _wav(i):
            n = 200 + i % 50
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(8000)
                wf.writeframes(bytes([i % 256, (i * 7) % 256]) * n)
            return buf.getvalue(), n

        def _gray_feat0(rgb):
            # closed form for a constant-color image: every pooled block mean
            # equals the constant gray value (same numpy dtype walk as the
            # feature path: float64 channel mean -> float32 -> /255)
            g = np.array([sum(rgb)], dtype=np.float64) / 3.0
            return float(g.astype(np.float32)[0] / np.float32(255.0))

        def _rms_feat0(i, n):
            # closed form for a constant-sample wave: window-0 RMS = |sample|
            # (same float32 walk; window 0 is fully inside the real samples)
            sv = np.frombuffer(bytes([i % 256, (i * 7) % 256]), dtype="<i2")[0]
            width = -(-n // 16)  # ceil: samples per RMS window
            x = np.full(width, sv, dtype=np.int16).astype(np.float32) / 32768.0
            return float(np.sqrt((x * x).mean(dtype=np.float32)).astype(np.float32))

        rows, expected, wav_rows = [], [], []
        for i in range(42):
            if i % 3 == 0:
                data, w, h, rgb = _ppm(i)
                expected.append((f"m{i}", "image", w, h, 1, _gray_feat0(rgb)))
            elif i % 3 == 1:
                data, n = _wav(i)
                expected.append((f"m{i}", "audio", 8000, 1, n, _rms_feat0(i, n)))
                wav_rows.append((f"m{i}", bytearray(data)))
                # audio_spectral_features over the same clip (folded tagged
                # rows, kind='audio-spec'): a constant-sample wave has ALL
                # its spectral mass at DC in closed form — centroid 0 Hz,
                # band-0 energy fraction 1 (0 for true silence); width =
                # sample rate, height = n_samples, n_frames = round(band0 *
                # 1e6) so both outputs ride the existing schema
                sv = np.frombuffer(bytes([i % 256, (i * 7) % 256]), dtype="<i2")[0]
                expected.append(
                    (f"m{i}", "audio-spec", 8000, n, 1_000_000 if sv else 0, 0.0)
                )
            else:
                data, w, h, rgb = _png(i)
                expected.append((f"m{i}", "image", w, h, 1, _gray_feat0(rgb)))
            rows.append((f"m{i}", bytearray(data)))

        # MJPEG-in-mp4 docs (folded tagged rows, kind='video-frame'): each
        # sample is a REAL baseline JPEG of a constant gray, decoded end to
        # end by decode_mp4_frames (stbl byte ranges -> stdlib jpeg) —
        # constant frames round-trip EXACTLY at qval=1, so feat0 is the
        # closed-form float32 walk gray/255; one output row per frame with
        # the sample index in n_frames and the doc_id suffixed '#<idx>'
        from fozzie_spark.jpeg import encode_baseline_jpeg
        from fozzie_spark.media import audio_spectral_features, decode_mp4_frames

        def _box(fourcc, payload):
            return (8 + len(payload)).to_bytes(4, "big") + fourcc + payload

        def _fullbox(fourcc, payload):
            return _box(fourcc, b"\x00\x00\x00\x00" + payload)

        def _mjpeg_mp4(grays, w, h):
            i4 = lambda x: x.to_bytes(4, "big")
            jpegs = [encode_baseline_jpeg(np.full((h, w), g, dtype=np.uint8))
                     for g in grays]
            sizes = [len(j) for j in jpegs]

            def build(offset):
                mvhd = _fullbox(b"mvhd", i4(0) + i4(0) + i4(1000) + i4(1000) + b"\x00" * 80)
                tkhd = _fullbox(b"tkhd", i4(0) + i4(0) + i4(1) + i4(0) + i4(1000)
                                + b"\x00" * 52 + i4(w << 16) + i4(h << 16))
                mdhd = _fullbox(b"mdhd", i4(0) + i4(0) + i4(1000) + i4(1000) + i4(0))
                hdlr = _fullbox(b"hdlr", i4(0) + b"vide" + b"\x00" * 12 + b"V\x00")
                stsd = _fullbox(b"stsd", i4(1) + _box(b"jpeg", b"\x00" * 70))
                stsz = _fullbox(b"stsz", i4(0) + i4(len(sizes))
                                + b"".join(i4(x) for x in sizes))
                stsc = _fullbox(b"stsc", i4(1) + i4(1) + i4(len(sizes)) + i4(1))
                stco = _fullbox(b"stco", i4(1) + i4(offset))
                stss = _fullbox(b"stss", i4(1) + i4(1))
                stbl = _box(b"stbl", stsd + stsz + stsc + stco + stss)
                mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl))
                moov = _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))
                return _box(b"ftyp", b"isom" + i4(512) + b"mp41") + moov

            head = build(0)
            return build(len(head) + 8) + _box(b"mdat", b"".join(jpegs))

        def _g255(g):
            return float(np.float32(float(g)) / np.float32(255.0))

        mp4_rows = []
        for i in range(3):
            grays = [30 + 40 * i, 210 - 40 * i]
            w, h = 16 + 8 * i, 8 + 8 * i
            mp4_rows.append((f"v{i}", bytearray(_mjpeg_mp4(grays, w, h))))
            for j, g in enumerate(grays):
                expected.append((f"v{i}#{j}", "video-frame", w, h, j, _g255(g)))

        s.createDataFrame(
            expected,
            "doc_id string, kind string, width long, height long, n_frames long, feat0 double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{_SIDECAR}/media_expected")

        df = s.createDataFrame(rows, "doc_id string, media_bytes binary")
        out = decode_media_features(df, feat_dim=16).select(
            "doc_id", "kind",
            F.col("width").cast("bigint").alias("width"),
            F.col("height").cast("bigint").alias("height"),
            F.col("n_frames").cast("bigint").alias("n_frames"),
            F.round(F.element_at("feature", 1).cast("double"), 6).alias("feat0"),
        )
        spec = audio_spectral_features(
            s.createDataFrame(wav_rows, "doc_id string, media_bytes binary")
        ).select(
            "doc_id", F.lit("audio-spec").alias("kind"),
            F.col("sample_rate").cast("bigint").alias("width"),
            F.col("n_samples").cast("bigint").alias("height"),
            F.round(F.element_at("band_energy", 1).cast("double") * 1e6)
            .cast("bigint").alias("n_frames"),
            F.round("spectral_centroid_hz", 6).alias("feat0"),
        )
        frames = decode_mp4_frames(
            s.createDataFrame(mp4_rows, "doc_id string, media_bytes binary"),
            feat_dim=16,
        ).select(
            F.concat("doc_id", F.lit("#"), F.col("sample_idx").cast("string")).alias("doc_id"),
            F.lit("video-frame").alias("kind"),
            F.col("width").cast("bigint").alias("width"),
            F.col("height").cast("bigint").alias("height"),
            F.col("sample_idx").cast("bigint").alias("n_frames"),
            F.round(F.element_at("feature", 1).cast("double"), 6).alias("feat0"),
        )
        return out.unionByName(spec).unionByName(frames)

    q["media_decode"] = _media

    # ---- media container probe (oracle = closed-form expected sidecar) ---------
    def _media_probe(s, d):
        # container-level metadata with NO pixel/sample decode: mp4 ISO-BMFF
        # boxes, jpeg SOF marker walk, png IHDR, netpbm header, wav header —
        # covers exactly the codec formats (mp4, progressive jpeg) the
        # decoder honestly refuses in this container. Inputs are
        # deterministic hand-assembled containers; the expected metadata
        # follows in closed form from the generator parameters (the oracle
        # side never runs the prober) and is sidecar'd for DuckDB.
        import io
        import struct
        import wave
        import zlib

        from fozzie_spark.media import probe_media

        def _box(fourcc, payload):
            return (8 + len(payload)).to_bytes(4, "big") + fourcc + payload

        def _fullbox(fourcc, payload):
            return _box(fourcc, b"\x00\x00\x00\x00" + payload)

        def _mp4(w, h, n, timescale, duration):
            i4 = lambda x: x.to_bytes(4, "big")
            mvhd = _fullbox(b"mvhd", i4(0) + i4(0) + i4(timescale) + i4(duration) + b"\x00" * 80)
            tkhd = _fullbox(b"tkhd", i4(0) + i4(0) + i4(1) + i4(0) + i4(duration)
                            + b"\x00" * 52 + i4(w << 16) + i4(h << 16))
            hdlr = _fullbox(b"hdlr", i4(0) + b"vide" + b"\x00" * 12 + b"V\x00")
            stsd = _fullbox(b"stsd", i4(1) + _box(b"avc1", b"\x00" * 70))
            stsz = _fullbox(b"stsz", i4(0) + i4(n))
            mdia = _box(b"mdia", hdlr + _box(b"minf", _box(b"stbl", stsd + stsz)))
            moov = _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))
            return _box(b"ftyp", b"isom" + i4(512) + b"mp41") + moov + _box(b"mdat", b"")

        def _jpeg_hdr(w, h, progressive):
            # SOI + SOFn header only — the probe walks marker segments and
            # never reaches scan data
            sof = b"\xff" + (b"\xc2" if progressive else b"\xc0")
            seg = struct.pack(">BHHB", 8, h, w, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
            return b"\xff\xd8" + sof + struct.pack(">H", len(seg) + 2) + seg + b"\xff\xd9"

        def _png_hdr(w, h):
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + b"IHDR"
                    + ihdr + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))

        def _wav(n, rate):
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(rate)
                wf.writeframes(b"\x01\x02" * n)
            return buf.getvalue()

        rows, expected = [], []
        for i in range(40):
            k = i % 5
            if k == 0:
                w, h, n, ts, dur = 320 + 16 * i, 180 + 9 * i, 24 + i, 1000, 1000 + 40 * i
                rows.append((f"p{i}", bytearray(_mp4(w, h, n, ts, dur))))
                expected.append((f"p{i}", "mp4", "video", w, h, n, dur * 1000 // ts, "avc1"))
            elif k == 1:
                w, h = 4 + i % 7, 3 + i % 5
                rows.append((f"p{i}",
                             bytearray(f"P6\n{w} {h}\n255\n".encode() + b"\x00" * (3 * w * h))))
                expected.append((f"p{i}", "netpbm", "image", w, h, 1, None, "ppm"))
            elif k == 2:
                n, rate = 100 + i, 8000
                rows.append((f"p{i}", bytearray(_wav(n, rate))))
                expected.append((f"p{i}", "wav", "audio", rate, 1, n, n * 1000 // rate, "pcm"))
            elif k == 3:
                w, h, prog = 24 + i, 16 + i, i % 2 == 1
                rows.append((f"p{i}", bytearray(_jpeg_hdr(w, h, prog))))
                expected.append((f"p{i}", "jpeg", "image", w, h, 1, None,
                                 "jpeg-progressive" if prog else "jpeg-baseline"))
            else:
                w, h = 7 + i, 5 + i
                rows.append((f"p{i}", bytearray(_png_hdr(w, h))))
                expected.append((f"p{i}", "png", "image", w, h, 1, None, "png"))
        rows.append(("bad", bytearray(b"\x00\x01notmedia")))  # on_error=skip drops it

        # mp4_sample_ranges (folded tagged rows, container='mp4-sample'):
        # mp4s with REAL stbl sample tables — non-uniform stsz + stsc runs +
        # stco offsets + stss, and a uniform-stsz single-chunk variant —
        # mapped one row per sample onto the probe schema (width=sample_idx,
        # height=size, n_frames=is_sync, duration_ms=absolute byte offset).
        # The expected rows replicate the chunk walk in closed form from
        # the generator parameters; the oracle never runs the operator.
        from fozzie_spark.media import mp4_sample_ranges

        def _mp4_ranges_doc(sizes, chunk_sizes, stsc_runs, sync, uniform=0):
            i4 = lambda x: x.to_bytes(4, "big")

            def build(offsets):
                mvhd = _fullbox(b"mvhd", i4(0) + i4(0) + i4(1000) + i4(1000) + b"\x00" * 80)
                tkhd = _fullbox(b"tkhd", i4(0) + i4(0) + i4(1) + i4(0) + i4(1000)
                                + b"\x00" * 52 + i4(64 << 16) + i4(64 << 16))
                mdhd = _fullbox(b"mdhd", i4(0) + i4(0) + i4(1000) + i4(1000) + i4(0))
                hdlr = _fullbox(b"hdlr", i4(0) + b"vide" + b"\x00" * 12 + b"V\x00")
                stsd = _fullbox(b"stsd", i4(1) + _box(b"avc1", b"\x00" * 70))
                if uniform:
                    stsz = _fullbox(b"stsz", i4(uniform) + i4(len(sizes)))
                else:
                    stsz = _fullbox(b"stsz", i4(0) + i4(len(sizes))
                                    + b"".join(i4(x) for x in sizes))
                stsc = _fullbox(b"stsc", i4(len(stsc_runs))
                                + b"".join(i4(fc) + i4(spc) + i4(1)
                                           for fc, spc in stsc_runs))
                stco = _fullbox(b"stco", i4(len(offsets))
                                + b"".join(i4(o) for o in offsets))
                body = stsd + stsz + stsc + stco
                if sync is not None:
                    body += _fullbox(b"stss", i4(len(sync))
                                     + b"".join(i4(x) for x in sync))
                stbl = _box(b"stbl", body)
                mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl))
                moov = _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))
                return _box(b"ftyp", b"isom" + i4(512) + b"mp41") + moov

            head = build([0] * len(chunk_sizes))
            base = len(head) + 8
            offsets, ranges, si = [], [], 0
            for nc in chunk_sizes:
                offsets.append(base)
                for _ in range(nc):
                    ranges.append((si, base, sizes[si],
                                   sync is None or (si + 1) in sync))
                    base += sizes[si]
                    si += 1
            data = build(offsets) + _box(b"mdat", bytes(sum(sizes)))
            return data, ranges

        range_rows = []
        r0, exp0 = _mp4_ranges_doc(
            [10, 20, 30, 40, 50, 60, 70], [3, 2, 2],
            stsc_runs=[(1, 3), (2, 2)], sync={1, 4},
        )
        r1, exp1 = _mp4_ranges_doc(
            [24] * 5, [5], stsc_runs=[(1, 5)], sync=None, uniform=24,
        )
        for did, exp in (("r0", exp0), ("r1", exp1)):
            range_rows.append((did, bytearray(r0 if did == "r0" else r1)))
            for si, off, size, is_sync in exp:
                expected.append((f"{did}#{si}", "mp4-sample", "video",
                                 si, size, int(is_sync), off, "avc1"))

        s.createDataFrame(
            expected,
            "doc_id string, container string, kind string, width int, height int, "
            "n_frames int, duration_ms bigint, codec string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{_SIDECAR}/probe_expected")
        df = s.createDataFrame(rows, "doc_id string, media_bytes binary")
        ranges = mp4_sample_ranges(
            s.createDataFrame(range_rows, "doc_id string, media_bytes binary")
        ).select(
            F.concat("doc_id", F.lit("#"), F.col("sample_idx").cast("string")).alias("doc_id"),
            F.lit("mp4-sample").alias("container"),
            F.lit("video").alias("kind"),
            F.col("sample_idx").cast("int").alias("width"),
            F.col("size").cast("int").alias("height"),
            F.col("is_sync").cast("int").alias("n_frames"),
            F.col("offset").cast("bigint").alias("duration_ms"),
            F.lit("avc1").alias("codec"),
        )
        return probe_media(df).unionByName(ranges)

    q["media_probe"] = _media_probe

    # ---- ER pipeline ----------------------------------------------------------
    def _er(s, d):
        # Output is (doc_id, entity_rep = min doc_id in the predicted
        # cluster) — a canonical form both engines can produce. The oracle
        # re-derives clusters INDEPENDENTLY with a recursive-CTE connected
        # components over the sidecar'd edge set (key strings) + key table,
        # so stage-3/4/5 semantics (key-space clustering, doc assignment)
        # are fully oracle-gated; edge DISCOVERY exactness is separately
        # pinned by the jaccard_dedup/minhash oracles and the labeled-F1
        # scaling runs.
        import tempfile

        from pyspark.sql import Window

        from fozzie_spark.pipeline import er_pipeline
        from fozzie_spark.synth import synth_documents

        docs = synth_documents(s, 300, seed=42)
        out = er_pipeline(
            s, docs, checkpoint_dir=tempfile.mkdtemp(prefix="fz_er_"), resume=False
        )
        keys = out["keys"]
        keys.select("doc_id", "key").coalesce(1).write.mode("overwrite").parquet(
            f"{_SIDECAR}/er_keys"
        )
        uniq = keys.select("kid", "key").distinct()
        (
            out["edges"]
            .join(uniq.select("kid", F.col("key").alias("key1")), "kid")
            .join(
                uniq.select(F.col("kid").alias("kid2"), F.col("key").alias("key2")), "kid2"
            )
            .select("key1", "key2")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{_SIDECAR}/er_edges")
        )
        ents = out["entities"].select("doc_id", "entity_id")
        w = Window.partitionBy("entity_id")
        return ents.select("doc_id", F.min("doc_id").over(w).alias("entity_rep"))

    q["er_entities"] = _er

    def _er_cosine(s, d):
        # the qgram/cosine ER path (blocking.cosine_candidates_ids -> kid
        # pairs -> two-tier signature refine + Arrow-UDF cosine verify ->
        # CC). Oracle: each sidecar'd edge is
        # RE-SCORED in DuckDB (multiset q-gram cosine over the full key
        # texts — any false-positive edge or wrong threshold breaks the
        # match) and clustering is re-derived independently with a
        # recursive CTE; recall losslessness of the AllPairs prefix is
        # pinned separately in tests/test_blocking.py.
        import tempfile

        from pyspark.sql import Window

        from fozzie_spark.pipeline import er_pipeline
        from fozzie_spark.synth import synth_documents

        docs = synth_documents(s, 300, seed=42)
        out = er_pipeline(
            s, docs, checkpoint_dir=tempfile.mkdtemp(prefix="fz_erc_"),
            method="cosine", max_distance=0.25, q=3, resume=False,
        )
        keys = out["keys"]
        keys.select("doc_id", "key").coalesce(1).write.mode("overwrite").parquet(
            f"{_SIDECAR}/er_cos_keys"
        )
        uniq = keys.select("kid", "key").distinct()
        (
            out["edges"]
            .join(uniq.select("kid", F.col("key").alias("key1")), "kid")
            .join(
                uniq.select(F.col("kid").alias("kid2"), F.col("key").alias("key2")), "kid2"
            )
            .select("key1", "key2")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{_SIDECAR}/er_cos_edges")
        )
        ents = out["entities"].select("doc_id", "entity_id")
        w = Window.partitionBy("entity_id")
        return ents.select("doc_id", F.min("doc_id").over(w).alias("entity_rep"))

    q["er_cosine_entities"] = _er_cosine

    def _er_jw(s, d):
        # the jaro/jw ER path (provable-regime (char, occurrence)-token
        # prefix blocking -> Arrow jw scoring -> CC). prefix_weight=0 makes
        # jw == jaro, so DuckDB's jaro_similarity re-scores every sidecar'd
        # edge independently (any false-positive edge or wrong threshold
        # breaks the match) and clustering is re-derived with a recursive
        # CTE — mirrors er_cosine_entities (__spark_entry__ r4).
        import tempfile

        from pyspark.sql import Window

        from fozzie_spark.pipeline import er_pipeline
        from fozzie_spark.synth import synth_documents

        docs = synth_documents(s, 300, seed=42)
        out = er_pipeline(
            s, docs, checkpoint_dir=tempfile.mkdtemp(prefix="fz_erjw_"),
            method="jw", max_distance=0.25, prefix_weight=0.0, resume=False,
        )
        keys = out["keys"]
        keys.select("doc_id", "key").coalesce(1).write.mode("overwrite").parquet(
            f"{_SIDECAR}/er_jw_keys"
        )
        uniq = keys.select("kid", "key").distinct()
        (
            out["edges"]
            .join(uniq.select("kid", F.col("key").alias("key1")), "kid")
            .join(
                uniq.select(F.col("kid").alias("kid2"), F.col("key").alias("key2")), "kid2"
            )
            .select("key1", "key2")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{_SIDECAR}/er_jw_edges")
        )
        ents = out["entities"].select("doc_id", "entity_id")
        w = Window.partitionBy("entity_id")
        return ents.select("doc_id", F.min("doc_id").over(w).alias("entity_rep"))

    q["er_jw_entities"] = _er_jw

    # ---- registration order IS the correctness-gate topology ----------------
    # The driver checks the FIRST 50 registered rows. Flagship end-to-end
    # components (ER, ANN, media, dedup, clustering) register first so any
    # 50-row prefix covers every component family; the per-family mode and
    # method rows follow. _QUERY_ORDER is asserted against the built dict so
    # a key added to one but not the other fails fast at import time.
    missing = [k for k in _QUERY_ORDER if k not in q]
    extra = [k for k in q if k not in _QUERY_ORDER]
    assert not missing and not extra, (missing, extra)
    assert len(_QUERY_ORDER) <= 50, len(_QUERY_ORDER)
    return {k: q[k] for k in _QUERY_ORDER}


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    N = _NAMES_SQL

    o["string_lv_inner"] = f"""
        SELECT a.name AS name_x, b.name AS name_y,
               round(CAST(levenshtein(a.name, b.name) AS DOUBLE), 6) AS dist
        FROM {N} a, {N} b
        WHERE a.name <= b.name AND levenshtein(a.name, b.name) <= 1
    """
    # OSA == full DL at tau=1 (they first diverge at distance >= 2)
    o["string_osa_inner"] = f"""
        SELECT a.name AS name_x, b.name AS name_y,
               round(CAST(damerau_levenshtein(a.name, b.name) AS DOUBLE), 6) AS dist
        FROM {N} a, {N} b
        WHERE a.name <= b.name AND damerau_levenshtein(a.name, b.name) <= 1
    """
    o["string_dl_inner"] = o["string_osa_inner"]
    o["string_hamming_inner"] = f"""
        WITH p AS (
          SELECT a.name AS name_x, b.name AS name_y,
                 CASE WHEN length(a.name) = length(b.name)
                      THEN hamming(a.name, b.name) END AS d
          FROM {N} a, {N} b WHERE a.name <= b.name
        )
        SELECT name_x, name_y, round(CAST(d AS DOUBLE), 6) AS dist
        FROM p WHERE d <= 2
    """
    # lcs_dist <= 1 iff equal (0) or |len diff| = 1 and lv = 1 (one indel)
    o["string_lcs_inner"] = f"""
        WITH p AS (
          SELECT a.name AS name_x, b.name AS name_y,
                 CASE WHEN a.name = b.name THEN 0
                      WHEN abs(length(a.name) - length(b.name)) = 1
                           AND levenshtein(a.name, b.name) = 1 THEN 1 END AS d
          FROM {N} a, {N} b WHERE a.name <= b.name
        )
        SELECT name_x, name_y, round(CAST(d AS DOUBLE), 6) AS dist
        FROM p WHERE d <= 1
    """
    ga, gb = _grams_sql("a.name"), _grams_sql("b.name")
    o["string_jaccard_inner"] = f"""
        WITH g AS (SELECT name, list_distinct({_grams_sql('name')}) AS gs FROM {N}),
        p AS (
          SELECT a.name AS name_x, b.name AS name_y,
                 CASE WHEN len(a.gs) = 0 AND len(b.gs) = 0 THEN 0.0
                      ELSE 1.0 - CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                               / len(list_distinct(list_concat(a.gs, b.gs))) END AS d
          FROM g a, g b WHERE a.name <= b.name
        )
        SELECT name_x, name_y, round(d, 6) AS dist FROM p WHERE d <= 0.4
    """
    o["string_qgram_inner"] = f"""
        WITH p AS (
          SELECT a.name AS name_x, b.name AS name_y,
                 coalesce(list_sum(list_transform(
                     list_distinct(list_concat({ga}, {gb})),
                     u -> abs(len(list_filter({ga}, x -> x = u))
                            - len(list_filter({gb}, x -> x = u))))), 0) AS d
          FROM {N} a, {N} b WHERE a.name <= b.name
        )
        SELECT name_x, name_y, round(CAST(d AS DOUBLE), 6) AS dist FROM p WHERE d <= 2
    """
    o["string_cosine_inner"] = f"""
        WITH p AS (
          SELECT a.name AS name_x, b.name AS name_y,
                 CASE WHEN len({ga}) = 0 OR len({gb}) = 0 THEN 1.0
                      ELSE 1.0 - CAST(coalesce(list_sum(list_transform(
                               list_distinct(list_concat({ga}, {gb})),
                               u -> len(list_filter({ga}, x -> x = u))
                                  * len(list_filter({gb}, x -> x = u)))), 0) AS DOUBLE)
                        / (sqrt(CAST(list_sum(list_transform(list_distinct({ga}),
                               u -> len(list_filter({ga}, x -> x = u))
                                  * len(list_filter({ga}, x -> x = u)))) AS DOUBLE))
                         * sqrt(CAST(list_sum(list_transform(list_distinct({gb}),
                               u -> len(list_filter({gb}, x -> x = u))
                                  * len(list_filter({gb}, x -> x = u)))) AS DOUBLE)))
                 END AS d
          FROM {N} a, {N} b WHERE a.name <= b.name
        )
        SELECT name_x, name_y, round(greatest(d, 0.0), 6) AS dist FROM p WHERE d <= 0.6
    """
    o["string_jw_inner"] = f"""
        WITH p AS (
          SELECT a.name AS name_x, b.name AS name_y,
                 round(1.0 - jaro_similarity(a.name, b.name), 6) AS dist
          FROM {N} a, {N} b WHERE a.name <= b.name
        )
        SELECT name_x, name_y, dist FROM p WHERE dist <= 0.25
    """

    o["string_lv_left_right"] = f"""
        SELECT a.name AS name_x, b.name AS name_y,
               round(CAST(CASE WHEN b.name IS NULL THEN NULL
                    ELSE levenshtein(a.name, b.name) END AS DOUBLE), 6) AS dist,
               'left' AS side
        FROM {N} a LEFT JOIN {N} b ON levenshtein(a.name, b.name) <= 1
        UNION ALL
        SELECT a.name AS name_x, b.name AS name_y,
               round(CAST(CASE WHEN a.name IS NULL THEN NULL
                    ELSE levenshtein(a.name, b.name) END AS DOUBLE), 6) AS dist,
               'right' AS side
        FROM {N} a RIGHT JOIN {N} b ON levenshtein(a.name, b.name) <= 1
    """
    o["string_multikey_inner"] = """
        WITH t AS (SELECT DISTINCT p_name, p_brand FROM part)
        SELECT a.p_name AS p_name_x, a.p_brand AS p_brand_x,
               b.p_name AS p_name_y, b.p_brand AS p_brand_y,
               round(CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE), 6)
                   AS dist_p_name_p_name,
               round(CAST(levenshtein(a.p_brand, b.p_brand) AS DOUBLE), 6)
                   AS dist_p_brand_p_brand
        FROM t a, t b
        WHERE levenshtein(a.p_name, b.p_name) <= 1
          AND levenshtein(a.p_brand, b.p_brand) <= 1
    """
    o["string_soundex_inner"] = f"""
        WITH c AS (SELECT * FROM read_parquet('{_SIDECAR}/soundex/*.parquet'))
        SELECT a.name AS name_x, b.name AS name_y
        FROM c a, c b
        WHERE a.name <= b.name
          AND (a.p = b.p OR a.alt = b.p OR b.alt = a.p OR a.alt = b.alt)
    """
    o["string_lv_full"] = f"""
        SELECT a.name AS name_x, b.name AS name_y,
               round(CAST(CASE WHEN a.name IS NULL OR b.name IS NULL THEN NULL
                    ELSE levenshtein(a.name, b.name) END AS DOUBLE), 6) AS dist
        FROM {N} a FULL JOIN {N} b ON levenshtein(a.name, b.name) <= 1
    """
    o["string_lv_semi_anti"] = f"""
        SELECT a.name, 'semi' AS mode FROM {N} a
        WHERE EXISTS (SELECT 1 FROM {N} b WHERE levenshtein(a.name, b.name) <= 1)
        UNION ALL
        SELECT a.name, 'anti' AS mode FROM {N} a
        WHERE NOT EXISTS (SELECT 1 FROM {N} b WHERE levenshtein(a.name, b.name) <= 1)
    """

    eps = F64_EPS
    o["difference_inner_left"] = f"""
        SELECT c.c_custkey, s.s_suppkey,
               round(abs(c.c_acctbal - s.s_acctbal), 6) AS dist,
               'inner' AS mode
        FROM customer c, supplier s
        WHERE abs(c.c_acctbal - s.s_acctbal) <= 0.5 + {eps}
        UNION ALL
        SELECT c.c_custkey, s.s_suppkey,
               round(abs(c.c_acctbal - s.s_acctbal), 6) AS dist,
               'left' AS mode
        FROM customer c LEFT JOIN supplier s
          ON abs(c.c_acctbal - s.s_acctbal) <= 0.5 + {eps}
    """
    o["difference_semi_anti"] = f"""
        SELECT c.c_custkey, c.c_acctbal, 'semi' AS mode FROM customer c
        WHERE EXISTS (SELECT 1 FROM supplier s
                      WHERE abs(c.c_acctbal - s.s_acctbal) <= 0.5 + {eps})
        UNION ALL
        SELECT c.c_custkey, c.c_acctbal, 'anti' AS mode FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE abs(c.c_acctbal - s.s_acctbal) <= 0.5 + {eps})
    """
    o["difference_multikey_inner"] = f"""
        WITH t AS (SELECT DISTINCT l_discount AS disc, l_tax AS tax FROM lineitem)
        SELECT a.disc AS disc_x, a.tax AS tax_x, b.disc AS disc_y, b.tax AS tax_y,
               round(abs(a.disc - b.disc), 6) AS d1, round(abs(a.tax - b.tax), 6) AS d2
        FROM t a, t b
        WHERE abs(a.disc - b.disc) <= 0.005 + {eps}
          AND abs(a.tax - b.tax) <= 0.005 + {eps}
    """
    o["interval_left"] = """
        WITH t AS (SELECT o_orderkey AS k, o_totalprice AS s, o_totalprice + 20000.0 AS e
                   FROM orders WHERE o_orderkey % 100 = 0),
        r AS (SELECT k AS k2, s + 150000.0 AS s2, s + 155000.0 AS e2 FROM t)
        SELECT t.k, r.k2
        FROM t LEFT JOIN r ON t.s <= r.e2 AND r.s2 <= t.e
    """
    o["regex_left_anti"] = """
        SELECT d.doc_id, p.pattern, 'left' AS mode
        FROM documents d
        LEFT JOIN (VALUES ('^key'), ('value$'), ('spark'), ('agg.*sort')) p(pattern)
          ON regexp_matches(d.text, p.pattern)
        UNION ALL
        SELECT d.doc_id, CAST(NULL AS VARCHAR) AS pattern, 'anti' AS mode
        FROM documents d
        WHERE NOT EXISTS (
          SELECT 1 FROM (VALUES ('^key'), ('value$'), ('spark'), ('agg.*sort')) p(pattern)
          WHERE regexp_matches(d.text, p.pattern))
    """
    o["temporal_full"] = f"""
        WITH a AS (SELECT event_id, ts FROM events WHERE event_type = 'error'),
        b AS (SELECT event_id AS event_id2, ts AS ts2 FROM events WHERE event_type = 'signup')
        SELECT a.event_id, b.event_id2,
               round(abs(epoch(a.ts) - epoch(b.ts2)), 6) AS dist
        FROM a FULL JOIN b ON abs(epoch(a.ts) - epoch(b.ts2)) <= 2 + {eps}
    """
    o["temporal_inner"] = f"""
        SELECT a.event_id, b.event_id AS event_id2,
               round(abs(epoch(a.ts) - epoch(b.ts)), 6) AS dist
        FROM events a, events b
        WHERE a.event_type = 'error' AND b.event_type = 'error'
          AND a.event_id < b.event_id
          AND abs(epoch(a.ts) - epoch(b.ts)) <= 600 + {eps}
    """
    o["distance_euclid_manhattan"] = """
        WITH t AS (SELECT DISTINCT l_discount AS disc, l_tax AS tax FROM lineitem)
        SELECT a.disc AS disc_x, a.tax AS tax_x, b.disc AS disc_y, b.tax AS tax_y,
               round(sqrt((a.disc - b.disc) * (a.disc - b.disc)
                        + (a.tax - b.tax) * (a.tax - b.tax)), 6) AS dist,
               'euclidean' AS metric
        FROM t a, t b
        WHERE sqrt((a.disc - b.disc) * (a.disc - b.disc)
                 + (a.tax - b.tax) * (a.tax - b.tax)) <= 0.02
        UNION ALL
        SELECT a.disc AS disc_x, a.tax AS tax_x, b.disc AS disc_y, b.tax AS tax_y,
               round(abs(a.disc - b.disc) + abs(a.tax - b.tax), 6) AS dist,
               'manhattan' AS metric
        FROM t a, t b
        WHERE abs(a.disc - b.disc) + abs(a.tax - b.tax) <= 0.02
    """
    _INT_T = "SELECT DISTINCT p_size AS s, p_size + 2 AS e FROM part"
    _INT_GAP = (
        "(CASE WHEN a.e < b.s THEN b.s - a.e - 1 "
        "WHEN b.e < a.s THEN a.s - b.e - 1 ELSE 0 END)"
    )
    _INT_OVL = "greatest(least(a.e, b.e) - greatest(a.s, b.s) + 1, 0)"
    o["interval_gap_overlap"] = f"""
        WITH t AS ({_INT_T})
        SELECT a.s AS s_x, a.e AS e_x, b.s AS s_y, b.e AS e_y, 'maxgap' AS variant
        FROM t a, t b WHERE {_INT_GAP} <= 1
        UNION ALL
        SELECT a.s AS s_x, a.e AS e_x, b.s AS s_y, b.e AS e_y, 'minoverlap' AS variant
        FROM t a, t b WHERE {_INT_GAP} <= 0 AND {_INT_OVL} >= 2
    """
    o["interval_start_end"] = f"""
        WITH t AS ({_INT_T})
        SELECT a.s AS s_x, a.e AS e_x, b.s AS s_y, b.e AS e_y, 'start' AS variant
        FROM t a, t b WHERE {_INT_GAP} <= 0 AND abs(a.s - b.s) <= 0
        UNION ALL
        SELECT a.s AS s_x, a.e AS e_x, b.s AS s_y, b.e AS e_y, 'end' AS variant
        FROM t a, t b WHERE {_INT_GAP} <= 0 AND abs(a.e - b.e) <= 0
    """
    o["temporal_interval_inner"] = """
        WITH t AS (SELECT event_id, epoch(ts) AS s, epoch(ts) + 600.0 AS e
                   FROM events WHERE event_type = 'error')
        SELECT a.event_id, b.event_id AS event_id2
        FROM t a, t b
        WHERE a.event_id < b.event_id
          AND (CASE WHEN a.e < b.s THEN b.s - a.e
                    WHEN b.e < a.s THEN a.s - b.e ELSE 0 END) <= 60
    """
    o["interval_real_integer"] = """
        WITH r AS (SELECT o_orderkey AS k, o_totalprice AS s, o_totalprice + 20000.0 AS e
                   FROM orders WHERE o_orderkey % 100 = 0),
        i AS (SELECT DISTINCT p_size AS s, p_size + 2 AS e FROM part)
        SELECT 'real' AS mode, CAST(a.k AS DOUBLE) AS a, CAST(b.k AS DOUBLE) AS b,
               CAST(NULL AS DOUBLE) AS c, CAST(NULL AS DOUBLE) AS d
        FROM r a, r b WHERE a.s <= b.e AND b.s <= a.e
        UNION ALL
        SELECT 'integer' AS mode, CAST(a.s AS DOUBLE) AS a, CAST(a.e AS DOUBLE) AS b,
               CAST(b.s AS DOUBLE) AS c, CAST(b.e AS DOUBLE) AS d
        FROM i a, i b WHERE b.s <= a.e + 1 AND a.s <= b.e + 1
    """
    o["interval_within_inner"] = """
        WITH t AS (SELECT o_orderkey AS k, o_totalprice AS s, o_totalprice + 20000.0 AS e
                   FROM orders WHERE o_orderkey % 100 = 0)
        SELECT a.k AS k_x, b.k AS k_y
        FROM t a, t b
        WHERE a.s <= b.e AND b.s <= a.e AND a.s >= b.s AND a.e <= b.e
    """
    o["regex_inner"] = """
        SELECT d.doc_id, p.pattern
        FROM documents d,
             (VALUES ('^key'), ('value$'), ('spark'), ('agg.*sort')) p(pattern)
        WHERE regexp_matches(d.text, p.pattern)
    """
    o["exact_dedup"] = r"""
        WITH g AS (
          SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS dup_group
          FROM documents
        )
        SELECT doc_id, dup_group,
               CAST(count(*) OVER (PARTITION BY dup_group) AS BIGINT) AS group_size,
               doc_id = min(doc_id) OVER (PARTITION BY dup_group) AS is_canonical
        FROM g
    """
    _SH = r"""
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) + 1),
                 i -> array_to_string(string_split_regex(trim(text), '\s+')[i:i+2], ' ')
               )) AS sh
        FROM documents WHERE len(trim(text)) > 0
    """
    o["jaccard_dedup"] = f"""
        WITH s AS ({_SH}),
        p AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2,
                 1.0 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))) AS d
          FROM s a, s b
          WHERE a.doc_id < b.doc_id AND len(a.sh) > 0 AND len(b.sh) > 0
        )
        SELECT id1, id2, round(d, 6) AS dist FROM p WHERE d <= 0.6
    """
    # minhash LSH with 16 bands x 4 rows has recall ~1 at sim >= 0.4; on this
    # corpus all true pairs sit at dist <= 0.1, so the exact-jaccard oracle holds
    o["minhash_dedup"] = o["jaccard_dedup"]
    o["token_counts"] = r"""
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT)
                   AS bpe_tokens
        FROM documents
    """
    o["quality"] = r"""
        WITH t AS (
          SELECT doc_id, text,
                 length(text) AS nc,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END AS nt,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE list_transform(string_split_regex(trim(text), '\s+'),
                                          x -> lower(x)) END AS toks,
                 length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS np,
                 length(regexp_replace(text, '[^A-Z]', '', 'g')) AS nu
          FROM documents
        ),
        f AS (
          SELECT doc_id, nt,
                 CASE WHEN nt > 0 THEN CAST(nc - (nt - 1) AS DOUBLE) / nt ELSE 0.0 END AS mtl,
                 CASE WHEN nc > 0 THEN CAST(np AS DOUBLE) / nc ELSE 0.0 END AS pr,
                 CASE WHEN nc > 0 THEN CAST(nu AS DOUBLE) / nc ELSE 0.0 END AS ur,
                 CASE WHEN nt > 0 THEN CAST(len(list_filter(toks,
                      x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))
                      AS DOUBLE) / nt ELSE 0.0 END AS sr
          FROM t
        )
        SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
               CAST(round(mtl, 6) AS DOUBLE) AS mean_token_len,
               CAST(round(pr, 6) AS DOUBLE) AS punct_ratio,
               CAST(round(sr, 6) AS DOUBLE) AS stopword_ratio,
               CAST(round(CASE WHEN nt BETWEEN 5 AND 5000 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN mtl BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END
                   + CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END
                   + CASE WHEN ur <= 0.3 THEN 0.1 ELSE 0.0 END, 6) AS DOUBLE) AS quality_score
        FROM f
    """
    o["language_id"] = r"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE list_transform(string_split_regex(trim(text), '\s+'),
                                          x -> lower(x)) END AS toks
          FROM documents
        ),
        sc AS (
          SELECT doc_id,
            len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','von','zu'], x))) AS s_de,
            len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS s_en,
            len(list_filter(toks, x -> list_contains(['el','la','los','y','es','un','una','que','por','para'], x))) AS s_es,
            len(list_filter(toks, x -> list_contains(['le','la','les','et','est','un','une','que','pour','dans'], x))) AS s_fr
          FROM t
        )
        SELECT doc_id,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'unknown'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM sc
    """
    o["fingerprint"] = r"""
        SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    """
    o["connected_components"] = f"""
        WITH RECURSIVE e AS (
          SELECT id1 AS a, id2 AS b FROM (
            WITH s AS ({_SH}),
            p AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2,
                     1.0 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))) AS d
              FROM s a, s b
              WHERE a.doc_id < b.doc_id AND len(a.sh) > 0 AND len(b.sh) > 0
            ) SELECT id1, id2 FROM p WHERE d <= 0.6
          )
        ),
        und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        ),
        nodes AS (SELECT DISTINCT a AS n FROM und)
        SELECT n AS node, least(n, min(r.b)) AS component
        FROM nodes LEFT JOIN reach r ON r.a = n
        GROUP BY n
    """
    _WINNOW = r"""
        WITH t AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
          FROM documents
        ),
        h AS (
          SELECT doc_id,
                 CASE WHEN length(s) >= 5
                      THEN list_transform(range(1, length(s) - 5 + 2),
                                          i -> md5(substr(s, i, 5)))
                      ELSE [] END AS hs
          FROM t
        ),
        f AS (
          SELECT doc_id,
                 CASE WHEN len(hs) >= 4
                      THEN list_distinct(list_transform(range(1, len(hs) - 4 + 2),
                                                        i -> list_min(hs[i:i+3])))
                      WHEN len(hs) > 0 THEN [list_min(hs)]
                      ELSE [] END AS fps
          FROM h
        )
    """
    o["winnow_fps"] = _WINNOW + "SELECT doc_id, unnest(fps) AS fp FROM f"
    o["winnow_overlap"] = _WINNOW + """
        , e AS (SELECT doc_id, unnest(fps) AS fp FROM f)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2
    """
    o["sessionize"] = """
        WITH m AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 600
                      THEN 1 ELSE 0 END AS brk
          FROM events
        ),
        s AS (
          SELECT user_id, ts, value,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM m
        )
        SELECT user_id,
               epoch(min(ts)) AS start_epoch,
               epoch(max(ts)) AS end_epoch,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 6) AS total_value
        FROM s GROUP BY user_id, sid
    """
    o["near_dedup"] = f"""
        WITH RECURSIVE e AS (
          SELECT id1 AS a, id2 AS b FROM (
            WITH s AS ({_SH}),
            p AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2,
                     1.0 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))) AS d
              FROM s a, s b
              WHERE a.doc_id < b.doc_id AND len(a.sh) > 0 AND len(b.sh) > 0
            ) SELECT id1, id2 FROM p WHERE d <= 0.6
          )
        ),
        und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        ),
        comp AS (SELECT a AS k, least(a, min(b)) AS c FROM reach GROUP BY a),
        g AS (
          SELECT d.doc_id, coalesce(c.c, d.doc_id) AS dup_group
          FROM documents d LEFT JOIN comp c ON c.k = d.doc_id
        )
        SELECT doc_id, dup_group,
               CAST(count(*) OVER (PARTITION BY dup_group) AS BIGINT) AS group_size,
               doc_id = min(doc_id) OVER (PARTITION BY dup_group) AS is_canonical
        FROM g
    """
    o["simhash_pairs"] = f"""
        WITH s AS (SELECT * FROM read_parquet('{_SIDECAR}/simhash/*.parquet')),
        p AS (
          SELECT a.id AS id1, b.id AS id2, bit_count(xor(a.simhash, b.simhash)) AS h
          FROM s a, s b WHERE a.id < b.id
        )
        SELECT id1, id2, CAST(h AS BIGINT) AS hamming FROM p WHERE h <= 8
    """
    o["er_entities"] = f"""
        WITH RECURSIVE
        docs AS (SELECT * FROM read_parquet('{_SIDECAR}/er_keys/*.parquet')),
        e AS (SELECT key1 AS a, key2 AS b
              FROM read_parquet('{_SIDECAR}/er_edges/*.parquet')),
        und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        ),
        comp AS (SELECT a AS k, least(a, min(b)) AS c FROM reach GROUP BY a),
        keyed AS (
          SELECT d.doc_id, coalesce(c.c, d.key) AS comp
          FROM docs d LEFT JOIN comp c ON c.k = d.key
        )
        SELECT doc_id, min(doc_id) OVER (PARTITION BY comp) AS entity_rep FROM keyed
    """
    gk1, gk2 = _grams_sql("key1", 3), _grams_sql("key2", 3)
    o["er_cosine_entities"] = f"""
        WITH RECURSIVE
        docs AS (SELECT * FROM read_parquet('{_SIDECAR}/er_cos_keys/*.parquet')),
        raw_e AS (SELECT key1, key2
                  FROM read_parquet('{_SIDECAR}/er_cos_edges/*.parquet')),
        -- precision gate: every emitted edge must re-score within tau in
        -- an INDEPENDENT cosine implementation; a false edge would change
        -- the re-derived clustering and break the hash match
        e AS (
          SELECT key1 AS a, key2 AS b FROM raw_e
          WHERE CASE WHEN len({gk1}) = 0 OR len({gk2}) = 0 THEN 1.0
                ELSE 1.0 - CAST(coalesce(list_sum(list_transform(
                         list_distinct(list_concat({gk1}, {gk2})),
                         u -> len(list_filter({gk1}, x -> x = u))
                            * len(list_filter({gk2}, x -> x = u)))), 0) AS DOUBLE)
                  / (sqrt(CAST(list_sum(list_transform(list_distinct({gk1}),
                         u -> len(list_filter({gk1}, x -> x = u))
                            * len(list_filter({gk1}, x -> x = u)))) AS DOUBLE))
                   * sqrt(CAST(list_sum(list_transform(list_distinct({gk2}),
                         u -> len(list_filter({gk2}, x -> x = u))
                            * len(list_filter({gk2}, x -> x = u)))) AS DOUBLE)))
                END <= 0.25
        ),
        und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        ),
        comp AS (SELECT a AS k, least(a, min(b)) AS c FROM reach GROUP BY a),
        keyed AS (
          SELECT d.doc_id, coalesce(c.c, d.key) AS comp
          FROM docs d LEFT JOIN comp c ON c.k = d.key
        )
        SELECT doc_id, min(doc_id) OVER (PARTITION BY comp) AS entity_rep FROM keyed
    """
    o["er_jw_entities"] = f"""
        WITH RECURSIVE
        docs AS (SELECT * FROM read_parquet('{_SIDECAR}/er_jw_keys/*.parquet')),
        raw_e AS (SELECT key1, key2
                  FROM read_parquet('{_SIDECAR}/er_jw_edges/*.parquet')),
        -- precision gate: every emitted edge must re-score within tau in
        -- DuckDB's independent jaro implementation (jw with prefix_weight 0
        -- IS jaro); a false edge changes the re-derived clustering and
        -- breaks the hash match
        e AS (
          SELECT key1 AS a, key2 AS b FROM raw_e
          WHERE 1.0 - jaro_similarity(key1, key2) <= 0.25
        ),
        und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        reach(a, b) AS (
          SELECT a, b FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
        ),
        comp AS (SELECT a AS k, least(a, min(b)) AS c FROM reach GROUP BY a),
        keyed AS (
          SELECT d.doc_id, coalesce(c.c, d.key) AS comp
          FROM docs d LEFT JOIN comp c ON c.k = d.key
        )
        SELECT doc_id, min(doc_id) OVER (PARTITION BY comp) AS entity_rep FROM keyed
    """
    # part='pair': exact threshold pairs; part='group': embedding_near_dedup's
    # grouping re-derived INDEPENDENTLY — recursive-CTE connected components
    # over the exact pair set, dup_group = min vec_id per component
    # (singletons group to themselves), window'd size + canonical flag
    o["cosine_pairs"] = """
        WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (
          SELECT a.vec_id AS id1, b.vec_id AS id2,
                 list_cosine_similarity(a.v, b.v) AS c
          FROM e a, e b WHERE a.vec_id < b.vec_id AND
                              list_cosine_similarity(a.v, b.v) >= 0.4
        ),
        und AS (SELECT id1 AS x, id2 AS y FROM p UNION SELECT id2, id1 FROM p),
        reach(x, y) AS (
          SELECT x, y FROM und
          UNION
          SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x
        ),
        comp AS (SELECT x AS k, least(x, min(y)) AS c FROM reach GROUP BY x),
        g AS (
          SELECT e.vec_id, coalesce(comp.c, e.vec_id) AS grp
          FROM e LEFT JOIN comp ON comp.k = e.vec_id
        ),
        gs AS (
          SELECT vec_id, grp,
                 count(*) OVER (PARTITION BY grp) AS gsz,
                 (vec_id = min(vec_id) OVER (PARTITION BY grp)) AS canon
          FROM g
        )
        SELECT 'pair' AS part, id1 AS a, id2 AS b, round(c, 6) AS v,
               CAST(NULL AS BOOLEAN) AS flag
        FROM p
        UNION ALL
        SELECT 'group', vec_id, grp, CAST(gsz AS DOUBLE), canon FROM gs
    """
    # precision-1.0 oracle for the (approximate-recall) LSH pairs: the
    # sidecar'd emitted pairs must each be a TRUE >= min_cosine pair with the
    # exact cosine — any false positive or wrong value breaks the match.
    # (Recall >= 0.95 is pinned separately in tests/test_ann.py.)
    o["lsh_cosine_pairs"] = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sc AS (SELECT id1, id2 FROM read_parquet('{_SIDECAR}/lsh_pairs/*.parquet')),
        p AS (
          SELECT a.vec_id AS id1, b.vec_id AS id2,
                 list_cosine_similarity(a.v, b.v) AS c
          FROM e a, e b WHERE a.vec_id < b.vec_id
        )
        SELECT p.id1, p.id2, round(p.c, 6) AS cosine
        FROM p JOIN sc ON sc.id1 = p.id1 AND sc.id2 = p.id2
        WHERE p.c >= 0.4
    """
    # closed-form expected values (constant-color images / constant-sample
    # waves) computed WITHOUT the decoders and sidecar'd by the query
    o["media_decode"] = f"""
        SELECT doc_id, kind, width, height, n_frames,
               round(CAST(feat0 AS DOUBLE), 6) AS feat0
        FROM read_parquet('{_SIDECAR}/media_expected/*.parquet')
    """
    # closed-form expected container metadata, sidecar'd by the query
    o["media_probe"] = f"""
        SELECT doc_id, container, kind, width, height, n_frames, duration_ms, codec
        FROM read_parquet('{_SIDECAR}/probe_expected/*.parquet')
    """
    o["cosine_topk"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_cosine_similarity(q.v, c.v) AS cos
          FROM e q, e c WHERE q.vec_id < 20 AND q.vec_id != c.vec_id
        ),
        r AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM s
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3
    """
    # ivf_topk runs full-probe (see queries()) => exhaustive => the exact
    # brute-force top-k IS its oracle
    o["ivf_topk"] = o["cosine_topk"]
    return o
