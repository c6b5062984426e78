"""Training-data pipeline operators over document tables.

Everything here is built-in pyspark.sql.functions (JVM, whole-stage
codegen) — no Python in the hot path. These are the large-scale corpus
operations a 100 TB training-data pipeline needs on top of the reference's
join surface: exact/near deduplication (MinHash-LSH, SimHash, n-gram
Jaccard), language id, quality scoring, token counting, fingerprinting.

Scale notes:
- MinHash signatures are computed in ONE aggregation over exploded
  shingles (k min-aggregates, map-side combined); LSH banding turns
  near-dup search into equi-joins on (band_idx, band_hash) — no cross
  join anywhere, hot bands can be salted like any blocking key.
- SimHash reduces to 64 conditional sums in the same single aggregation
  shape; near-dup = equi-join on bit chunks (pigeonhole: h+1 chunks give
  full recall at hamming <= h).
- Exact shingle-Jaccard dedup uses PPJoin prefix+positional filtering
  (lossless), so one hot shingle ("the end of" with df in the millions)
  cannot make the candidate join quadratic in its document frequency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fozzie_spark.blocking import qgrams_sql
from fozzie_spark.util import sql_ident, sql_lit

# --------------------------------------------------------------------------
# tokenization / shingles (shared)
# --------------------------------------------------------------------------


def tokens_sql(text_col: str) -> str:
    """SQL text: whitespace tokens of trimmed text; empty text -> empty
    array."""
    c, ws = f"trim({sql_ident(text_col)})", sql_lit(r"\s+")
    return f"CASE WHEN {c} = '' THEN CAST(array() AS ARRAY<STRING>) ELSE split({c}, {ws}) END"


def word_shingles_sql(text_col: str, w: int) -> str:
    """SQL text: array of w-word shingles (space-joined), [] when fewer
    than w tokens.

    The token array is BOUND once as a lambda variable `t` (transform over
    a one-element array): a lambda that references an outer column
    expression gets it inlined and re-evaluated per element, so the
    previous form re-ran the whitespace-split regex once per SHINGLE —
    O(tokens x shingles) regex work per document, measured as the
    dominant cost of the minhash signature stage. Same expressions, same
    values."""
    build = (
        f"CASE WHEN size(t) >= {w} THEN transform(sequence(0, size(t) - {w}), "
        f"i -> array_join(slice(t, i + 1, {w}), ' ')) ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return f"element_at(transform(array({tokens_sql(text_col)}), t -> {build}), 1)"


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str, normalize: bool = True) -> DataFrame:
    """(id, dup_group, group_size, is_canonical): hash-groupBy exact dedup.

    dup_group = md5 of (optionally normalized) text; canonical row = min id.
    One shuffle (window over the group key).
    """
    from pyspark.sql import Window

    key = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")) if normalize else F.col(text_col)
    w = Window.partitionBy("dup_group")
    return (
        df.withColumn("dup_group", F.md5(key))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", F.col(id_col) == F.min(id_col).over(w))
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact, blocked)
# --------------------------------------------------------------------------


def _jaccard_candidates(
    base: DataFrame, max_distance: float, max_shingle_df: int | None = None
) -> DataFrame:
    """PPJoin candidate pairs (id1 < id2) over (id, sh) shingle-set rows.

    Prefix filtering (Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08) is
    LOSSLESS for Jaccard: order each doc's distinct shingles by global
    rarity (document frequency asc); two docs with jaccard_sim >= t =
    1 - max_distance MUST share a shingle within their first
    n - ceil(t*n) + 1 shingles. This is what keeps a 100 TB web corpus
    tractable: a hot shingle ("the end of" at w=3, df in the millions) is
    the COMMONEST shingle, so it sorts LAST and almost never lands in a
    prefix — without the filter that one block alone is quadratic in its
    df. The POSITIONAL filter then bounds best-possible overlap from the
    prefix positions; the size-bound prune handles length mismatch.

    `max_shingle_df` is an optional (approximate!) safety valve on top:
    shingles with df above it are dropped from the index entirely —
    recall can drop for doc pairs whose ONLY shared shingles are that hot.
    The prefix filter already makes hot shingles cheap, so the default is
    None (exact).

    ref: the reference's inverted-index idea (jaccard.rs:118-177) applied
    at corpus scale; same design as the ER pipeline (pipeline.py:150-221).
    """
    from pyspark.sql import Window

    t = 1.0 - float(max_distance)
    grams = base.select(
        "id", F.size("sh").alias("n"), F.explode("sh").alias("g")
    )
    gram_df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    if max_shingle_df:
        gram_df = gram_df.where(F.col("df") <= max_shingle_df)
    # NO broadcast hint (unlike the ER pipeline's char q-grams, distinct
    # WORD shingles are unbounded at corpus scale) — the df lookup shuffles
    # on g like the candidate join itself; AQE broadcasts when small
    grams = grams.join(gram_df, "g")  # inner: drops capped shingles
    if t > 0:
        w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("g").asc())
        prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
        grams = grams.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= prefix_len
        )
    else:
        grams = grams.withColumn("rn", F.lit(1))
    right = grams.select(
        "g",
        F.col("id").alias("id2"),
        F.col("n").alias("n2"),
        F.col("rn").alias("rn2"),
    )
    cand = (
        grams.join(right, "g")
        .where(F.col("id") < F.col("id2"))
        # size-bound prune: jaccard_sim >= t needs min/max >= t
        .where(F.least("n", "n2") >= F.ceil(F.lit(t) * F.greatest("n", "n2")))
    )
    if t > 0:
        # positional filter (PPJoin): best-possible overlap from the prefix
        # positions of the shared shingle must reach ceil(t/(1+t)*(n+n2))
        alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("n") + F.col("n2")))
        cand = cand.where(
            F.lit(1) + F.least(F.col("n") - F.col("rn"), F.col("n2") - F.col("rn2"))
            >= alpha
        )
    return cand.select(F.col("id").alias("id1"), "id2").distinct()


def jaccard_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_w: int = 3,
    max_distance: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact word-shingle Jaccard near-dup pairs (id1 < id2, jaccard_dist).

    PPJoin blocking (prefix filter + positional filter + size bound — see
    `_jaccard_candidates`), then exact set-Jaccard computed JVM-side on the
    shingle arrays. Candidate volume stays near-linear even under hot
    shingles (one shingle shared by every doc); `max_shingle_df` remains an
    approximate valve for adversarial corpora.
    """
    base = _shingle_sets(df, id_col, text_col, shingle_w).where("size(sh) > 0")
    cand = _jaccard_candidates(base, max_distance, max_shingle_df)
    return _verify_jaccard(cand, base, max_distance)


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle_w: int) -> DataFrame:
    """(id, sh): each document's distinct word-shingle array."""
    sh = f"array_distinct({word_shingles_sql(text_col, shingle_w)})"
    return df.selectExpr(f"{sql_ident(id_col)} AS id", f"{sh} AS sh")


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, shingle_w: int) -> DataFrame:
    """(id, g): one row per distinct word shingle of each document."""
    sh = f"array_distinct({word_shingles_sql(text_col, shingle_w)})"
    return df.selectExpr(f"{sql_ident(id_col)} AS id", f"explode({sh}) AS g")


def _verify_jaccard(cand: DataFrame, base: DataFrame, max_distance: float) -> DataFrame:
    """Candidate (id1, id2) pairs with their exact shingle-set jaccard
    distance, kept when within max_distance."""
    inter = "size(array_intersect(sh1, sh2))"
    return (
        cand.join(base.selectExpr("id AS id1", "sh AS sh1"), "id1")
        .join(base.selectExpr("id AS id2", "sh AS sh2"), "id2")
        .withColumn("jaccard_dist", F.expr(f"1.0D - {inter} / (size(sh1) + size(sh2) - {inter})"))
        .where(f"jaccard_dist <= {sql_lit(max_distance)}")
        .select("id1", "id2", "jaccard_dist")
    )


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    method: str = "minhash",
    shingle_w: int = 3,
    max_distance: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """End-to-end near-duplicate grouping: candidate pairs -> exact-verified
    edges -> connected components -> (id, dup_group, group_size,
    is_canonical), the same output shape as `exact_dedup`.

    method="minhash" (default): MinHash-LSH candidates + exact shingle
    Jaccard verify — the 100 TB path (recall follows the band curve).
    method="jaccard": exact PPJoin candidates — lossless, SQL-checkable.
    dup_group = min doc id in the near-dup component; singletons group
    with themselves. Canonical row = min id per group.
    """
    if method == "minhash":
        pairs = minhash_dedup_pairs(
            df, id_col, text_col, num_hashes, bands, shingle_w, max_distance
        )
    elif method == "jaccard":
        pairs = jaccard_dedup_pairs(
            df, id_col, text_col, shingle_w, max_distance, max_shingle_df
        )
    else:
        raise ValueError(f"unknown near_dedup method {method!r}")
    return dup_groups(df, pairs, id_col)


def dup_groups(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """`df` rows plus (dup_group, group_size, is_canonical) from the
    duplicate (id1, id2) `pairs`: dup_group = min id of the row's
    connected component (singletons group with themselves), canonical
    row = min id per group."""
    from fozzie_spark.cluster import connected_components

    i = sql_ident(id_col)
    cc = connected_components(pairs, "id1", "id2").selectExpr(
        f"node AS {i}", "component AS __fz_comp"
    )
    return (
        df.join(cc, id_col, "left")
        .withColumn("dup_group", F.expr(f"coalesce(__fz_comp, {i})"))
        .drop("__fz_comp")
        .withColumn("group_size", F.expr("count(1) OVER (PARTITION BY dup_group)"))
        .withColumn("is_canonical", F.expr(f"{i} = min({i}) OVER (PARTITION BY dup_group)"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 64, shingle_w: int = 3
) -> DataFrame:
    """(id, sig array<bigint>): k-permutation MinHash via xxhash64(shingle, seed).

    One explode + one groupBy with k map-side-combining min() aggregates.
    Docs with no shingles get no signature (dropped here).
    """
    ex = _shingle_rows(df, id_col, text_col, shingle_w)
    sig = ex.groupBy("id").agg(
        *[F.expr(f"min(xxhash64(g, {i})) AS h{i}") for i in range(num_hashes)]
    )
    return sig.selectExpr("id", f"array({', '.join(f'h{i}' for i in range(num_hashes))}) AS sig")


def minhash_lsh_pairs(
    sigs: DataFrame, bands: int = 16, rows_per_band: int | None = None
) -> DataFrame:
    """Candidate pairs (id1 < id2) whose signatures collide in >= 1 band.

    Equi-join on (band index, band hash); distinct. Tune bands/rows for the
    target similarity threshold: P(collide) = 1-(1-s^r)^b. Pass
    rows_per_band explicitly to skip the one-row signature-width probe.
    """
    if rows_per_band is None:
        first = sigs.select(F.size("sig")).first()
        k = first[0] if first else 0
        r = max(1, k // bands)
    else:
        r = rows_per_band
    banded = sigs.selectExpr(
        "id",
        f"explode(transform(sequence(0, {bands - 1}), b -> named_struct('band', b, "
        f"'bh', xxhash64(CAST(slice(sig, b * {r} + 1, {r}) AS STRING))))) AS bb",
    ).selectExpr("id", "bb.band AS band", "bb.bh AS bh")
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bh"])
        .where("a.id < b.id")
        .selectExpr("a.id AS id1", "b.id AS id2")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_w: int = 3,
    max_distance: float = 0.5,
) -> DataFrame:
    """LSH candidates verified with EXACT shingle Jaccard (so output is
    exact-over-candidates; recall depends on the band curve)."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_w)
    cand = minhash_lsh_pairs(sigs, bands, rows_per_band=max(1, num_hashes // bands))
    return _verify_jaccard(cand, _shingle_sets(df, id_col, text_col, shingle_w), max_distance)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str, shingle_w: int = 2) -> DataFrame:
    """(id, simhash bigint): 64-bit SimHash over shingle xxhash64 values.

    bit b of the result = 1 iff sum over shingles of sign(bit b of hash) > 0.
    Single explode + groupBy with 64 conditional sums (JVM codegen).
    """
    ex = _shingle_rows(df, id_col, text_col, shingle_w).selectExpr("id", "xxhash64(g) AS h")
    one = F.lit(1).cast("long")
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.shiftleft(one, b)) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = ex.groupBy("id").agg(*aggs)
    expr = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long"))
        expr = bit if expr is None else expr.bitwiseXOR(bit)
    return agg.select("id", expr.alias("simhash"))


def simhash_near_pairs(sh: DataFrame, max_hamming: int = 3, n_chunks: int | None = None) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via the
    pigeonhole band trick: split the 64 bits into `n_chunks` contiguous
    chunks; a pair within hamming h differs in at most h chunks, so with
    n_chunks = h + 1 (the default) it MUST agree on >= 1 chunk -> the
    chunk equi-join has FULL recall. Passing a smaller n_chunks trades
    recall for fewer/larger blocks (collision prob per chunk grows as
    chunk width shrinks, so very large h wants explicit tuning)."""
    c = n_chunks if n_chunks is not None else min(max_hamming + 1, 32)
    if c < max_hamming + 1:
        import warnings

        warnings.warn(
            f"simhash_near_pairs: {c} chunks guarantee recall only for "
            f"hamming <= {c - 1}, but max_hamming={max_hamming} — results are "
            "a (deterministic) subset",
            stacklevel=2,
        )
    base, rem = divmod(64, c)
    widths = [base + 1 if i < rem else base for i in range(c)]
    offsets = [sum(widths[:i]) for i in range(c)]

    def _chunk(i):
        # a full-width chunk (c == 1) needs no mask — and (1 << 64) - 1
        # does not fit a signed long literal anyway
        v = F.shiftright("simhash", offsets[i])
        if widths[i] < 64:
            v = v.bitwiseAND(F.lit((1 << widths[i]) - 1))
        return F.struct(F.lit(i).alias("c"), v.alias("v"))

    chunks = sh.select(
        "id",
        "simhash",
        F.explode(F.array(*[_chunk(i) for i in range(c)])).alias("ch"),
    ).select("id", "simhash", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    pairs = (
        chunks.alias("a")
        .join(chunks.alias("b"), ["c", "v"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


# --------------------------------------------------------------------------
# language id / quality / tokens / fingerprint
# --------------------------------------------------------------------------

_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que", "por", "para"],
}


def _stopword_hit(lang: str) -> str:
    """SQL text: lambda variable `t` is one of `lang`'s stopwords."""
    return f"array_contains(array({', '.join(sql_lit(w) for w in _STOPWORDS[lang])}), t)"


def language_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Heuristic stopword-overlap language id (en/de/fr/es/unknown).

    Pure JVM: tokenize, count per-language stopword hits, argmax; 'unknown'
    when no stopword matched. A real pipeline swaps in fastText/CLD3 as a
    pandas UDF — the plumbing (columnar score + argmax) stays identical.
    """
    scored = df.withColumn("__toks", F.expr(f"transform({tokens_sql(text_col)}, t -> lower(t))"))
    langs = sorted(_STOPWORDS)
    for lang in langs:
        hits = f"size(filter(__toks, t -> {_stopword_hit(lang)}))"
        scored = scored.withColumn(f"__s_{lang}", F.expr(hits))
    best = F.greatest(*[F.col(f"__s_{lang}") for lang in langs])
    pred = F.when(best <= 0, F.lit("unknown"))
    for lang in langs:  # ties resolve alphabetically (deterministic)
        pred = pred.when(F.col(f"__s_{lang}") == best, F.lit(lang))
    return scored.withColumn(out_col, pred).drop("__toks", *[f"__s_{lang}" for lang in langs])


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Adds n_chars_q, n_tokens, mean_token_len, punct_ratio, upper_ratio,
    stopword_ratio, quality_score — all single-pass JVM expressions."""
    toks = F.expr(tokens_sql(text_col))
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    lowered = f"transform({tokens_sql(text_col)}, t -> lower(t))"
    n_stop = F.expr(f"size(filter({lowered}, t -> {_stopword_hit('en')}))")
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    upper = F.length(F.regexp_replace(text, r"[^A-Z]", ""))
    out = (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "mean_token_len",
            F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(F.lit(0.0)),
        )
        .withColumn("punct_ratio", F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0)))
        .withColumn("upper_ratio", F.when(n_chars > 0, upper / n_chars).otherwise(F.lit(0.0)))
        .withColumn("stopword_ratio", F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0)))
    )
    score = (
        F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000), 0.4).otherwise(0.0)
        + F.when((F.col("mean_token_len") >= 3) & (F.col("mean_token_len") <= 12), 0.3).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.2, 0.2).otherwise(0.0)
        + F.when(F.col("upper_ratio") <= 0.3, 0.1).otherwise(0.0)
    )
    return out.withColumn("quality_score", score)


#: BPE-ish token pattern: word pieces, numbers, punctuation runs
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """ws_tokens (whitespace split) + bpe_tokens (regex pieces)."""
    return df.withColumn("ws_tokens", F.expr(f"size({tokens_sql(text_col)})")).withColumn(
        "bpe_tokens", F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))
    )


def fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """Deterministic document fingerprint: md5 of case/whitespace-normalized
    text (cross-engine reproducible — DuckDB md5 matches)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out_col, F.md5(norm))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, fp) winnowing fingerprints (Schleimer et al., SIGMOD'03): hash
    every char k-gram of the normalized text, keep the MINIMUM hash of each
    sliding window of `window` consecutive k-gram hashes, distinct per doc.
    The standard partial-overlap / decontamination primitive: any shared
    substring of length >= k + window - 1 guarantees >= 1 shared
    fingerprint, while only ~2/(window+1) of positions are kept.

    Documents with fewer than `window` k-grams contribute their single
    minimum hash; empty/short-of-k docs contribute nothing. All
    single-pass JVM expressions — no shuffle, no Python.

    hash_fn "xxhash64" (fast, default) or "md5" (cross-engine — the DuckDB
    oracle can recompute it).
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    d2 = df.select(F.col(id_col).alias("id"), norm.alias("__s"))
    if hash_fn == "xxhash64":
        empty_t = "ARRAY<BIGINT>"
    elif hash_fn == "md5":
        empty_t = "ARRAY<STRING>"
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    d2 = d2.selectExpr("id", f"transform({qgrams_sql('__s', k)}, g -> {hash_fn}(g)) AS __h")
    mins = f"transform(sequence(0, size(__h) - {window}), i -> array_min(slice(__h, i + 1, {window})))"
    fps = (
        f"CASE WHEN size(__h) >= {window} THEN array_distinct({mins}) "
        f"WHEN size(__h) > 0 THEN array(array_min(__h)) ELSE CAST(array() AS {empty_t}) END"
    )
    return d2.selectExpr("id", f"explode({fps}) AS fp")


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    hash_fn: str = "xxhash64",
    max_fp_df: int | None = 10_000,
) -> DataFrame:
    """(id1 < id2, shared_fps): document pairs sharing >= `min_shared`
    winnowing fingerprints — substring-level overlap detection (test-set
    decontamination, boilerplate-tolerant near-dup).

    Inverted-index equi-join on fingerprints. `max_fp_df` drops
    fingerprints present in more than that many docs (site boilerplate is
    the classic hot case and carries no overlap signal); None keeps all —
    exact but quadratic in the hottest fingerprint's document frequency.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, window, hash_fn)
    if max_fp_df:
        fp_df = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
        fps = fps.join(fp_df.where(F.col("df") <= max_fp_df), "fp")
    right = fps.select(F.col("id").alias("id2"), "fp")
    return (
        fps.join(right, "fp")
        .where(F.col("id") < F.col("id2"))
        .groupBy(F.col("id").alias("id1"), "id2")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
