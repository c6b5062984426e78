"""Candidate-pair generation (the blocking stage).

All builders operate on DataFrames of DISTINCT key tuples — the engine
dedupes on unique key values before pairing (the reference's central
optimization, src/rust/src/utils.rs:7-20) and re-expands to rows after
scoring. Every builder is pure DataFrame ops (JVM-side, codegen-friendly);
nothing here collects to the driver except scalar stats for bin sizing.

Blocking families (SURVEY.md §2.2/§4):
- length-band join for edit distances  (ref: string/edit/mod.rs:35-48)
- q-gram inverted index (+ count lower bound) for edit & ngram methods
  (ref: string/ngram/jaccard.rs:118-177)
- numeric banding for difference joins (ref: difference/mod.rs:19-43)
- grid cells for k-D distance joins
- overlap bins for interval joins (replaces the reference's interval tree)

The id-keyed SELF-join builders behind `pipeline.er_pipeline` run over a
per-key profile frame (fixed-width ids + token arrays, never key
strings), one per method family: `jaccard_candidates_ids`,
`edit_candidates_ids`, `qgram_candidates_ids`, `cosine_candidates_ids`
and `jaro_candidates_ids`. They share one prefix self-join (`_self_join`)
and one 512-bit Bloom signature (`_bloom_sig_sql`, cut by
`_popcount_cut`). Under the tiny-cross gate, `cross_candidates_ids` pairs
jaccard profiles all-pairs under the index route's cut (`cross_cut`).

Past the tiny-cross gates, each candidate join is an equi-join on a
generated block key, so Catalyst plans a shuffled hash / sort-merge join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fozzie_spark.util import sql_ident, sql_lit

#: auto prefix-filter gate (see `use_prefix_filter`): inputs whose combined
#: distinct-key count is below this use the round-2 share-any-gram join —
#: the prefix machinery's fixed-cost stages (global gram-df aggregation,
#: per-key sort, second profile join) don't amortize on small inputs. The
#: two routes emit DIFFERENT candidate sets (each a lossless superset of
#: the matches); the matches after exact scoring are identical.
PREFIX_AUTO_KEY_THRESHOLD = 50_000
#: inputs whose optimizer plan stats exceed this many bytes skip the count
#: job entirely and go straight to the prefix path (stats unknown => large)
PREFIX_AUTO_BYTES_THRESHOLD = 512 << 20


_UNKNOWN_SIZE = (1 << 63) - 1  # Spark's sizeInBytes sentinel for "no idea"


def _plan_size_bytes(df: DataFrame) -> int | None:
    try:
        sz = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        return None if sz >= _UNKNOWN_SIZE else sz
    except Exception:
        return None


#: memoized auto-route decisions keyed by (left, right) plan semanticHash —
#: long chains of small joins over the SAME inputs (streaming micro-batches,
#: multi-method pytest suites) would otherwise pay one count job per call.
#: semanticHash fingerprints the logical plan, so in-place mutation of the
#: same external path is the only staleness case (same caveat the resume
#: fingerprint in checkpoint.py documents).
_PREFIX_DECISION_CACHE: dict[tuple, dict] = {}
_PREFIX_CACHE_MAX = 4096

#: tiny-input cross route (see `use_tiny_cross`): when BOTH sides'
#: combined distinct keys fit here, a scored cross product (<= ~250k
#: exact evaluations, 3-4 stages) beats ANY index plan — the blocking
#: machinery's dozen-plus codegen stages cost multiples of the whole
#: query on cold sessions (measured: 64-name lv join 8.8 s cold via the
#: gram index vs 1.6 s via the cross route, identical matches).
TINY_CROSS_KEY_THRESHOLD = 1_000
#: plans estimated past this skip the deciding count job outright — the
#: estimate is the PRE-distinct scan size, so it is deliberately generous
_TINY_CROSS_BYTES_THRESHOLD = 64 << 20

_UNION_COUNT_CACHE: dict[tuple, int] = {}


def _union_count(lkeys: DataFrame, rkeys: DataFrame) -> int:
    """Combined row count of both key frames in ONE job, memoized per
    (left, right) plan pair — shared by the auto-routing gates so a query
    resolves every physical-strategy decision with at most one count."""
    try:
        cache_key = (lkeys.semanticHash(), rkeys.semanticHash())
    except Exception:
        cache_key = None
    if cache_key is not None and cache_key in _UNION_COUNT_CACHE:
        return _UNION_COUNT_CACHE[cache_key]
    total = lkeys.selectExpr("1 AS __fz_one").unionByName(rkeys.selectExpr("1 AS __fz_one")).count()
    if cache_key is not None:
        if len(_UNION_COUNT_CACHE) >= _PREFIX_CACHE_MAX:
            _UNION_COUNT_CACHE.clear()
        _UNION_COUNT_CACHE[cache_key] = total
    return total


def _decision(gate: str, keys, sizes, threshold: int, route: str) -> dict:
    """Structured record of one auto-gate decision: the gate, what it
    measured (combined distinct keys when it counted, else None; each
    side's plan-stats bytes, None when unknown), its threshold, the route."""
    return {"gate": gate, "keys": keys, "plan_bytes": sizes,
            "threshold": threshold, "route": route}


def tiny_cross_gate(lkeys: DataFrame, rkeys: DataFrame) -> dict:
    """Decision record of the tiny-input cross gate: route "tiny_cross"
    iff the combined distinct-key count is small enough that the scored
    cross product is the cheapest physical plan (candidate SUPERSET; the
    exact scorers keep match results identical), else "index". Stats
    first: a side estimated past the bytes gate declines without any job;
    small plans pay one memoized count shared with `prefix_gate`."""
    sizes = [_plan_size_bytes(df) for df in (lkeys, rkeys)]
    if any(sz is None or sz > _TINY_CROSS_BYTES_THRESHOLD for sz in sizes):
        return _decision("tiny_cross", None, sizes, TINY_CROSS_KEY_THRESHOLD, "index")
    n = _union_count(lkeys, rkeys)
    route = "tiny_cross" if tiny_by_keys(n) else "index"
    return _decision("tiny_cross", n, sizes, TINY_CROSS_KEY_THRESHOLD, route)


def tiny_by_keys(n_keys: int) -> bool:
    """The tiny-cross rule on a distinct-key count: True => the scored
    cross product is the cheapest plan. Shared by `tiny_cross_gate` and
    `er_pipeline`'s pairs stage."""
    return n_keys <= TINY_CROSS_KEY_THRESHOLD


def use_tiny_cross(lkeys: DataFrame, rkeys: DataFrame) -> bool:
    """True iff `tiny_cross_gate` routes to the scored cross product."""
    return tiny_cross_gate(lkeys, rkeys)["route"] == "tiny_cross"


def prefix_by_keys(n_keys: int) -> bool:
    """The prefix_auto rule on a measured distinct-key count (both join
    sides combined): True => the prefix plans, False => share-any-gram."""
    return n_keys >= PREFIX_AUTO_KEY_THRESHOLD


def prefix_gate(lkeys: DataFrame, rkeys: DataFrame) -> dict:
    """Decision record resolving prefix_mode='auto': route "prefix" =>
    run the Ed-Join/PPJoin prefix machinery, "share_any_gram" => the
    share-any-gram join is already cheap enough.

    Decision costs nothing at scale: optimizer plan stats (propagated from
    the parquet scan sizes) short-circuit known-large inputs to the prefix
    path WITHOUT running a job; small-by-stats plans pay one memoized
    count job (`_union_count`, shared with the tiny-cross gate), and
    unknown-stats plans (e.g. LogicalRDD from createDataFrame —
    driver-resident, so counting is trivial) also resolve by counting.
    Resolved decisions are memoized per input-plan pair, so repeated joins
    over the same inputs count once.
    """
    try:
        # thresholds are part of the key: a decision is only reusable under
        # the same gate configuration
        cache_key = (
            lkeys.semanticHash(), rkeys.semanticHash(),
            PREFIX_AUTO_KEY_THRESHOLD, PREFIX_AUTO_BYTES_THRESHOLD,
        )
    except Exception:
        cache_key = None
    if cache_key is not None and cache_key in _PREFIX_DECISION_CACHE:
        return _PREFIX_DECISION_CACHE[cache_key]
    sizes = [_plan_size_bytes(df) for df in (lkeys, rkeys)]
    if any(sz is not None and sz > PREFIX_AUTO_BYTES_THRESHOLD for sz in sizes):
        decision = _decision(
            "prefix_auto", None, sizes, PREFIX_AUTO_BYTES_THRESHOLD, "prefix"
        )
    else:
        n = _union_count(lkeys, rkeys)
        route = "prefix" if prefix_by_keys(n) else "share_any_gram"
        decision = _decision("prefix_auto", n, sizes, PREFIX_AUTO_KEY_THRESHOLD, route)
    if cache_key is not None:
        if len(_PREFIX_DECISION_CACHE) >= _PREFIX_CACHE_MAX:
            _PREFIX_DECISION_CACHE.clear()
        _PREFIX_DECISION_CACHE[cache_key] = decision
    return decision


def use_prefix_filter(lkeys: DataFrame, rkeys: DataFrame) -> bool:
    """True iff `prefix_gate` routes prefix_mode='auto' to the prefix plans."""
    return prefix_gate(lkeys, rkeys)["route"] == "prefix"


def qgrams_sql(col: str, q: int) -> str:
    """SQL text: array of character q-grams of column `col`; strings
    shorter than q => empty array.

    Mirrors the reference's char-window extraction (utils.rs:81-99).
    """
    c = sql_ident(col)
    return (
        f"CASE WHEN length({c}) >= {q} THEN transform(sequence(1, length({c}) - {q} + 1), "
        f"i -> substring({c}, i, {q})) ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _gram_counts(keys: DataFrame, key: str, q: int) -> DataFrame:
    """(key, gram, cnt) multiset profile per distinct key value."""
    return (
        keys.selectExpr(sql_ident(key), f"explode({qgrams_sql(key, q)}) AS __fz_g")
        .groupBy(key, "__fz_g")
        .agg(F.expr("count(1) AS __fz_c"))
    )


def _gram_overlap(lkeys: DataFrame, rkeys: DataFrame, lkey: str, rkey: str, q: int, term: str):
    """(lkey, rkey, __fz_m) for every pair sharing at least one q-gram, with
    __fz_m = SUM over the shared grams of `term`, SQL text over the left
    and right counts __fz_cl / __fz_cr: their least gives the multiset
    overlap, their product the count-vector dot product. The exact integer
    aggregate the share-any-gram routes verify their candidates with."""
    lg = _gram_counts(lkeys, lkey, q).withColumnRenamed("__fz_c", "__fz_cl")
    rg = _gram_counts(rkeys, rkey, q).withColumnRenamed("__fz_c", "__fz_cr")
    return lg.join(rg, "__fz_g").groupBy(lkey, rkey).agg(F.expr(f"sum({term}) AS __fz_m"))


def _count_map_sql(col: str, q: int) -> str:
    """SQL text: map<gram, multiset count> per key, pure JVM expressions.

    Sorted-run form: sort the gram array once, find the run boundaries,
    and read distinct grams + counts off them — O(g log g) per key. The
    previous form counted each distinct gram with a full-array filter,
    O(g²) per key, which dominated the ER dictionary build on document
    keys (~50 grams => ~2,700 interpreted ops per key). Map keys now come
    out SORTED instead of in first-occurrence order; every consumer
    treats the map as a multiset (keyed lookups, order-insensitive
    joins/sorts, integer counts exact either way) — the only observable
    drift is the summation order of downstream floating-point profile
    aggregates (norms, binned masses), all of which feed LOSSLESS bounds
    with 1e-9 slack and exact re-verification, never results.

    A lambda that references an outer expression gets it inlined and
    re-evaluated per element (an early form re-sorted the array once per
    index — measured 20x SLOWER than the O(g²) filter), so each computed
    array is BOUND once as a lambda variable via transform over a
    one-element array: `s` the sorted grams, `e` the 1-based positions
    where a run of equal grams ends."""
    ends = (
        "filter(sequence(1, size(s)), "
        "i -> try_element_at(s, i + 1) IS NULL OR element_at(s, i) != try_element_at(s, i + 1))"
    )
    from_ends = (
        "map_from_arrays(transform(e, i -> element_at(s, i)), zip_with(e, "
        "concat(array(0), slice(e, 1, greatest(size(e) - 1, 0))), (x, p) -> x - p))"
    )
    return (
        f"CASE WHEN length({sql_ident(col)}) >= {q} THEN element_at(transform("
        f"array(array_sort({qgrams_sql(col, q)})), "
        f"s -> element_at(transform(array({ends}), e -> {from_ends}), 1)), 1) "
        "ELSE map_from_arrays(CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<INT>)) END"
    )


def _norm_sql(cm: str) -> str:
    """SQL text: the L2 norm of the count map `cm` (SQL text)."""
    values = f"CAST(map_values({cm}) AS ARRAY<DOUBLE>)"
    return f"sqrt(aggregate({values}, 0.0D, (acc, c) -> acc + c * c))"


def _rarity_prefix_tokens(
    lkeys: DataFrame, rkeys: DataFrame, lkey: str, rkey: str, q: int, plen
):
    """(l_prefix, r_prefix) token frames for prefix-filtered candidate joins.

    Each key's distinct grams are ranked by GLOBAL rarity (document
    frequency over BOTH sides — the prefix theorem needs one shared total
    order); only the first `plen(n)` grams per key survive, where `plen`
    maps SQL text of the distinct-gram count to SQL text of the admissible
    prefix length. Hot grams are the most frequent, so they sort last and
    almost never land in a prefix — THE property that keeps the candidate equi-join
    sub-quadratic under power-law gram frequencies (Chaudhuri et al.
    ICDE'06; Xiao et al. WWW'08/VLDB'08).
    """
    def _grams(keys: DataFrame, key: str) -> DataFrame:
        return keys.selectExpr(
            sql_ident(key), f"explode(array_distinct({qgrams_sql(key, q)})) AS __fz_g"
        )

    lx, rx = _grams(lkeys, lkey), _grams(rkeys, rkey)
    gram_df = (
        lx.select("__fz_g")
        .unionByName(rx.select("__fz_g"))
        .groupBy("__fz_g")
        .agg(F.expr("count(1) AS __fz_df"))
    )

    def _prefix(ex: DataFrame, key: str) -> DataFrame:
        agg = (
            ex.join(gram_df, "__fz_g")
            .groupBy(key)
            .agg(F.expr("array_sort(collect_list(struct(__fz_df, __fz_g))) AS __fz_s"))
        )
        k = sql_ident(key)
        return agg.selectExpr(
            k, f"explode(slice(__fz_s, 1, CAST({plen('size(__fz_s)')} AS INT))) AS __fz_e"
        ).selectExpr(k, "__fz_e.__fz_g AS __fz_g")

    return _prefix(lx, lkey), _prefix(rx, rkey)


def edit_damage(method: str, q: int) -> int:
    """q-grams one edit can destroy: q for a substitution, insertion or
    deletion, q + 1 for a transposition (osa / dl)."""
    return q + 1 if method in ("osa", "damerau_levenshtein", "dl") else q


def edit_candidates(
    lkeys: DataFrame,
    rkeys: DataFrame,
    lkey: str,
    rkey: str,
    max_distance: float,
    method: str = "levenshtein",
    q: int = 2,
    prefix_mode: str = "auto",
) -> DataFrame:
    """Candidates for edit-distance methods (lv/osa/dl/lcs/hamming).

    Sound two-path blocking:
    - SHORT pairs (both sides shorter than q + q*tau): length-band equi-join
      — char-length superset of the reference's byte-length band
      (levenshtein.rs:62-64), never fewer candidates.
    - LONG pairs: q-gram count filtering. A Levenshtein edit destroys at
      most q q-grams, so a pair within lv distance tau shares
      >= max(|a|,|b|) - q + 1 - q*tau q-grams (Gravano et al., VLDB'01).
      A TRANSPOSITION destroys up to q+1 grams ("Liam"/"Laim" share zero
      2-grams), so OSA/DL use damage (q+1) per edit.

    The long path has two result-identical physical strategies, chosen by
    `prefix_mode` ('auto' routes by input size, see `use_prefix_filter`):
    - 'simple': share-any-gram inverted-index join + SUM(min(count))
      threshold — two shuffles, the fastest plan when the input is small.
    - 'prefix': Ed-Join prefix filtering (Xiao et al. VLDB'08) — a pair
      within edit distance tau keeps all but <= damage*tau of either side's
      distinct grams, so their rarity-ordered prefixes of length
      damage*tau + 1 must intersect; hot grams (power-law!) sort last and
      stay out of prefixes, so the candidate equi-join stays sub-quadratic
      under hot grams. The multiset count bound is then verified per
      candidate over precomputed count maps.

    Returns distinct (lkey, rkey) pairs.
    """
    tau = int(max_distance)
    damage = edit_damage(method, q)
    lk, rk = sql_ident(lkey), sql_ident(rkey)
    l = lkeys.selectExpr(lk, f"length({lk}) AS __fz_ll")
    r = rkeys.selectExpr(rk, f"length({rk}) AS __fz_rl")

    if method == "hamming":
        # unequal lengths never match (hamming.rs:26-31): exact-length block
        return l.join(r, F.expr("__fz_ll = __fz_rl")).select(lkey, rkey)

    short_cut = q + damage * tau  # strings >= this length are prunable by grams

    # short path: band join restricted to both-short keys
    ls = l.where(f"__fz_ll < {short_cut}").selectExpr(
        "*", f"explode(sequence(__fz_ll - {tau}, __fz_ll + {tau})) AS __fz_bl"
    )
    rs = r.where(f"__fz_rl < {short_cut}")
    short_pairs = ls.join(rs, F.expr("__fz_bl = __fz_rl")).select(lkey, rkey)

    def long_cut(pairs: DataFrame, shared: str) -> DataFrame:
        """The gram path's length bounds and count threshold."""
        return (
            pairs.where(f"greatest(__fz_ll, __fz_rl) >= {short_cut}")
            .where(f"abs(__fz_ll - __fz_rl) <= {tau}")
            .where(f"{shared} >= greatest(__fz_ll, __fz_rl) - {q} + 1 - {damage * tau}")
            .select(lkey, rkey)
        )

    if prefix_mode == "auto":
        prefix_mode = "prefix" if use_prefix_filter(lkeys, rkeys) else "simple"

    if prefix_mode == "simple":
        # share-any-gram inverted index + SUM(min(count)) threshold
        long_pairs = long_cut(
            _gram_overlap(lkeys, rkeys, lkey, rkey, q, "least(__fz_cl, __fz_cr)")
            .withColumn("__fz_ll", F.expr(f"length({lk})"))
            .withColumn("__fz_rl", F.expr(f"length({rk})")),
            "__fz_m",
        )
        return short_pairs.unionByName(long_pairs)

    lp, rp = _rarity_prefix_tokens(
        lkeys, rkeys, lkey, rkey, q, lambda n: f"least({n}, {damage * tau + 1})"
    )
    cand0 = lp.join(rp, "__fz_g").select(lkey, rkey).distinct()

    def _prof(keys: DataFrame, key: str, sa: str, m: str, ln: str) -> DataFrame:
        k = sql_ident(key)
        return keys.selectExpr(
            k, f"array_distinct({qgrams_sql(key, q)}) AS {sa}",
            f"{_count_map_sql(key, q)} AS {m}", f"length({k}) AS {ln}",
        )

    shared = (
        "aggregate(array_intersect(__fz_sa, __fz_sb), 0, "
        "(acc, g) -> acc + least(element_at(__fz_ml, g), element_at(__fz_mr, g)))"
    )
    long_pairs = long_cut(
        cand0.join(_prof(lkeys, lkey, "__fz_sa", "__fz_ml", "__fz_ll"), lkey)
        .join(_prof(rkeys, rkey, "__fz_sb", "__fz_mr", "__fz_rl"), rkey),
        shared,
    )
    return short_pairs.unionByName(long_pairs)


def ngram_candidates(
    lkeys: DataFrame,
    rkeys: DataFrame,
    lkey: str,
    rkey: str,
    method: str,
    max_distance: float,
    q: int,
    prefix_mode: str = "auto",
) -> DataFrame:
    """Candidates for qgram/cosine/jaccard profile distances.

    Core: inverted-index join on distinct grams (the reference's jaccard
    index, jaccard.rs:118-158) + method-specific small/empty-profile blocks
    so semantics on short strings survive (SURVEY.md §2.6 #8):
    - jaccard: both-empty profiles => dist 0.0 -> always candidates;
      plus size-bound prune 1 - min/max > tau  (jaccard.rs:169-177).
    - cosine: empty profile => dist 1.0, only reachable when tau >= 1 — and
      then EVERY pair matches, so candidates degenerate to the cross join.
    - qgram: pairs with no shared gram have dist n1+n2; include the
      small-profile cross block (n1 + n2 <= tau).

    `prefix_mode` ('auto' | 'prefix' | 'simple') picks between the
    hot-gram-proof prefix-filtered plans (PPJoin for jaccard/qgram, weighted
    AllPairs for cosine) and the round-2 share-any-gram join; the candidate
    sets differ but the post-verification MATCHES are identical, and 'auto'
    routes small inputs to the cheaper simple plan (`use_prefix_filter`).
    The share-any-gram join verifies each pair on integer aggregates of the
    join itself (shared-gram count, multiset overlap, dot product), so it
    emits the pairs within tau (up to 1e-9 float slack) plus the
    small/empty-profile blocks — not every pair that shares a gram.
    """
    if method == "cosine" and max_distance >= 1.0:
        return lkeys.select(lkey).crossJoin(rkeys.select(rkey))

    if prefix_mode == "auto":
        prefix_mode = "prefix" if use_prefix_filter(lkeys, rkeys) else "simple"

    lk, rk = sql_ident(lkey), sql_ident(rkey)
    lsets = lkeys.selectExpr(lk, f"array_distinct({qgrams_sql(lkey, q)}) AS __fz_gs")
    rsets = rkeys.selectExpr(rk, f"array_distinct({qgrams_sql(rkey, q)}) AS __fz_gs2")
    # size-bound prune: best-case jaccard distance 1 - min/max must be <= tau
    size_bound = (
        f"1.0D - least(__fz_nl, __fz_nr) / greatest(__fz_nl, __fz_nr) <= {sql_lit(max_distance)}"
    )

    if method == "jaccard" and max_distance < 1.0 and prefix_mode == "prefix":
        # PREFIX-FILTERED index (PPJoin): jaccard_sim >= t = 1 - tau forces
        # the rarity-ordered prefixes (first n - ceil(t*n) + 1 grams) to
        # intersect — lossless for t > 0 and hot-gram-proof, unlike the
        # share-any-gram join. (At tau >= 1 the share-any-gram path below
        # keeps the reference's quirk: pairs with NO shared gram sit at
        # dist exactly 1.0 and are not emitted, jaccard.rs:118-158.)
        t = sql_lit(1.0 - max_distance)
        lp, rp = _rarity_prefix_tokens(
            lkeys, rkeys, lkey, rkey, q, lambda n: f"{n} - ceil({t} * {n}) + 1"
        )
        cand = lp.join(rp, "__fz_g").select(lkey, rkey).distinct()
        ln = lsets.selectExpr(lk, "size(__fz_gs) AS __fz_nl")
        rn = rsets.selectExpr(rk, "size(__fz_gs2) AS __fz_nr")
        pairs = cand.join(ln, lkey).join(rn, rkey).where(size_bound).select(lkey, rkey)
        return pairs.unionByName(_empty_profile_pairs(lsets, rsets, lkey, rkey, q))

    if method == "jaccard":
        # share-any-gram join — reached at tau >= 1 or in 'simple' mode —
        # verified exactly: grams are distinct per key, so a pair's join
        # rows count |A ∩ B| (the shared-gram count the reference's index
        # scores from, jaccard.rs:118-177). The size-bound prune
        # 1 - min/max <= tau reads only the two set sizes and runs inside
        # the join, before the count.
        lx = lsets.selectExpr(lk, "size(__fz_gs) AS __fz_nl", "explode(__fz_gs) AS __fz_g")
        rx = rsets.selectExpr(rk, "size(__fz_gs2) AS __fz_nr", "explode(__fz_gs2) AS __fz_g")
        inter = "CAST(__fz_i AS DOUBLE)"
        pairs = (
            lx.join(rx, "__fz_g")
            .where(size_bound)
            .groupBy(lkey, rkey, "__fz_nl", "__fz_nr")
            .agg(F.expr("count(1) AS __fz_i"))
            .where(
                f"1.0D - {inter} / (__fz_nl + __fz_nr - {inter}) <= {sql_lit(max_distance + 1e-9)}"
            )
        )
        extra = _empty_profile_pairs(lsets, rsets, lkey, rkey, q)
        return pairs.select(lkey, rkey).unionByName(extra)

    if method == "qgram":
        # total-count profiles (multiset sizes), not distinct sizes
        lc = lkeys.selectExpr(lk, f"size({qgrams_sql(lkey, q)}) AS __fz_tl")
        rc = rkeys.selectExpr(rk, f"size({qgrams_sql(rkey, q)}) AS __fz_tr")
        tau = sql_lit(max_distance)
        # small-profile block: pairs whose profiles are small enough to match
        # with NO shared gram (dist = t1 + t2 <= tau). Joined on the
        # data-derived floor(t/(tau+1)) (identically 0 for them) so Catalyst
        # plans a hash join, not a BNLJ; the pair volume is the true result.
        zb = int(max_distance) + 1
        small = (
            lc.where(f"__fz_tl <= {tau}")
            .selectExpr("*", f"floor(__fz_tl / {zb}) AS __fz_zb")
            .join(
                rc.where(f"__fz_tr <= {tau}").selectExpr("*", f"floor(__fz_tr / {zb}) AS __fz_zb"),
                "__fz_zb",
            )
            .where(f"__fz_tl + __fz_tr <= {tau}")
            .select(lkey, rkey)
        )
        if prefix_mode == "simple":
            # share-any-gram join verified exactly: the qgram distance is
            # the multiset L1 distance t1 + t2 - 2 * SUM(min(c1, c2))
            cand = (
                _gram_overlap(lkeys, rkeys, lkey, rkey, q, "least(__fz_cl, __fz_cr)")
                .join(lc, lkey)
                .join(rc, rkey)
                .where(f"__fz_tl + __fz_tr - 2 * __fz_m <= {tau}")
            )
        else:
            # PREFIX-FILTERED index: each distinct gram missing from the
            # other side contributes >= 1 to the qgram distance, so dist <=
            # tau bounds either side's distinct-set difference by tau —
            # rarity-ordered prefixes of length tau + 1 must intersect
            # (lossless; pairs with NO shared gram have dist T1 + T2,
            # covered by the `small` block). Prune: qgram dist >= |t1 - t2|.
            lp, rp = _rarity_prefix_tokens(
                lkeys, rkeys, lkey, rkey, q, lambda n: f"least({n}, {int(max_distance) + 1})"
            )
            cand = (
                lp.join(rp, "__fz_g")
                .select(lkey, rkey)
                .distinct()
                .join(lc, lkey)
                .join(rc, rkey)
                .where(f"abs(__fz_tl - __fz_tr) <= {tau}")
            )
        return cand.select(lkey, rkey).unionByName(small).distinct()

    # cosine (tau < 1)
    if prefix_mode == "simple":
        # share-any-gram join (the reference's index shape, jaccard.rs:
        # 118-177 applied to cosine) verified exactly on the count-vector
        # dot product: dist <= tau <=> a.b >= (1 - tau) * |a| * |b|
        def _sq_norm(keys: DataFrame, key: str, alias: str) -> DataFrame:
            return _gram_counts(keys, key, q).groupBy(key).agg(
                F.expr(f"sum(__fz_c * __fz_c) AS {alias}")
            )

        return (
            _gram_overlap(lkeys, rkeys, lkey, rkey, q, "__fz_cl * __fz_cr")
            .join(_sq_norm(lkeys, lkey, "__fz_sl"), lkey)
            .join(_sq_norm(rkeys, rkey, "__fz_sr"), rkey)
            .where(
                f"__fz_m >= {sql_lit(1.0 - max_distance)} * sqrt(__fz_sl) * sqrt(__fz_sr) - 1.0E-9D"
            )
            .select(lkey, rkey)
        )
    return _cosine_prefix_candidates(lkeys, rkeys, lkey, rkey, max_distance, q)


def _head_len(s_col: str, b_field: str, sq_field: str, t_eff: float, t_sq: float) -> str:
    """SQL text: count of positions in the sorted struct array `s_col`
    whose RUNNING bound sums stay admissible: position i is counted iff
    cum(b)[0..i] < t_eff OR cum(sq)[0..i] < t_sq. One O(g) aggregate
    carrying (cum_b, cum_sq, count) — the previous form built two
    cumulative-sum ARRAYS by per-element concat, O(g²) copies per key
    (measured as a double-digit share of the cosine candidate stage at
    document gram counts). The additions run in the same element order,
    so the counted positions are bit-identical."""
    cb, cq = f"acc.cb + x.{b_field}", f"acc.cq + x.{sq_field}"
    return (
        f"aggregate({s_col}, named_struct('cb', 0.0D, 'cq', 0.0D, 'p', CAST(0 AS INT)), "
        f"(acc, x) -> named_struct('cb', {cb}, 'cq', {cq}, 'p', CAST(acc.p + CASE WHEN "
        f"({cb}) < {sql_lit(t_eff)} OR ({cq}) < {sql_lit(t_sq)} THEN 1 ELSE 0 END AS INT)), "
        "acc -> acc.p)"
    )


#: 512-bit Bloom signature = 8 longs; grams are PARTITIONED across the 8
#: words by hash so each word stays sparse (~n/8 grams -> low AND noise)
NSIG = 8
#: the signature's column names on a profile frame
SIG_COLS = [f"__fz_sig{i}" for i in range(NSIG)]


def _sig_bit(h: str, i: int) -> str:
    """SQL text: a gram's bit in Bloom word i, from its xxhash64 `h`: bit
    (h >> 3) mod 64 when h mod NSIG == i, else 0."""
    return (
        f"CASE WHEN pmod({h}, {NSIG}) = {i} THEN shiftleft(CAST(1 AS BIGINT), "
        f"CAST(pmod(shiftright({h}, 3), 64) AS INT)) ELSE CAST(0 AS BIGINT) END"
    )


def _bloom_sig_sql(gs: str, hashed: bool = False) -> list[str]:
    """SIG_COLS as SQL select items: the 512-bit gram Bloom signature over
    the distinct-gram array `gs` (SQL text), as pure JVM expressions.
    hashed=True means `gs` already holds the xxhash64'd gram array — each
    word then aggregates over the SAME hash array instead of re-hashing
    the grams NSIG times (values are identical either way)."""
    hs = gs if hashed else f"transform({gs}, g -> xxhash64(g))"
    return [
        f"aggregate({hs}, CAST(0 AS BIGINT), (acc, g) -> acc | {_sig_bit('g', i)}) AS {c}"
        for i, c in enumerate(SIG_COLS)
    ]


def _popcount_cut(s_min: str) -> str:
    """SQL text of the count-scaled Bloom AND+popcount pass predicate over
    the signature words SIG_COLS and their "_2" twins (the right side of
    a pair); `s_min` is SQL text.

    A pair whose true match requires s_min shared DISTINCT grams must
    share >= max(floor(s_min/2)-2, 1) signature bits; s_min < 1 always
    passes. The clamp-to-1 case (s_min <= 7) is sound: one shared gram =>
    one shared bit. Past it the cut is not strictly lossless: s distinct
    grams collapse into <= floor(s_min/2)-2 of the 512 bins with
    probability < C(512,k)*(k/512)^s — < 1e-12 per pair at s_min=8,
    vanishing faster beyond. Every survivor is rescored exactly, so an
    (astronomically rare) false negative costs one candidate — the same
    failure class as the minhash-LSH band curve."""
    shared = " + ".join(f"bit_count({c} & {c}_2)" for c in SIG_COLS)
    return f"(({s_min}) < 1 OR {shared} >= greatest(floor(({s_min}) / 2) - 2, 1))"


def jaccard_sig_cut(t: float) -> str:
    """SQL text of the jaccard Bloom cut over `__fz_n` / `__fz_n_2`
    (distinct-gram counts) and the signature words: a pair with
    jaccard_sim >= t shares >= ceil(t/(1+t) * (n1 + n2)) distinct grams,
    floored at one shared bit (t <= 0 keeps the one-shared-gram floor)."""
    return _popcount_cut(f"greatest(ceil({sql_lit(t / (1.0 + t))} * (__fz_n + __fz_n_2)), 1)")


def jaccard_size_cut(t: float) -> str:
    """SQL text of the jaccard size bound over `__fz_n` / `__fz_n_2`:
    jaccard_sim >= t needs min/max >= t."""
    return f"least(__fz_n, __fz_n_2) >= ceil({sql_lit(t)} * greatest(__fz_n, __fz_n_2))"


def token_df(prof: DataFrame, tokens: str) -> DataFrame:
    """(__fz_g, __fz_df): the document frequency of every token in the
    token-array `tokens` (SQL text over `prof`; tokens are distinct per
    row)."""
    return prof.selectExpr(f"explode({tokens}) AS __fz_g").groupBy("__fz_g").agg(
        F.expr("count(1) AS __fz_df")
    )


def _self_join(lp: DataFrame, id_col: str, token_col: str, cached: list | None) -> DataFrame:
    """Self-join of a token frame on `token_col`, one ordered direction
    (id < id2). The right side's id is renamed id_col + "2" and its other
    columns get the suffix "_2".

    Catalyst does not reuse an exchange across the rename projection, so
    both sides would compute the whole token -> df -> per-key sort ->
    prefix chain (measured at 50k entities: raw-candidate job 17.6 s vs
    10.2 s for one chain). `lp` is therefore persisted once and appended
    to `cached`, the caller's free list (freed after the pairs are
    written). cached=None joins without persisting — for frames that are
    a filter over the caller's already-cached profile."""
    if cached is not None:
        lp = lp.persist()
        cached.append(lp)
    id2 = id_col + "2"
    rp = lp.selectExpr(*[
        f"{sql_ident(c)} AS {sql_ident(id2 if c == id_col else c if c == token_col else c + '_2')}"
        for c in lp.columns
    ])
    return lp.join(rp, token_col).where(f"{sql_ident(id_col)} < {sql_ident(id2)}")


def _observe(df: DataFrame, obs) -> DataFrame:
    """Attach the caller's `raw_candidates` row count to `df`, collected
    by the action that writes the pairs (no extra job)."""
    return df if obs is None else df.observe(obs, F.expr("count(1) AS raw_candidates"))


def _finish(pairs: DataFrame, obs, extra: DataFrame | None) -> DataFrame:
    """Tail of the builders that emit distinct pairs: observe them, then
    union the caller's `extra` pairs (the sorted-neighborhood pass) under
    one more distinct. Without `extra` the builder's own distinct holds."""
    pairs = _observe(pairs, obs)
    return pairs if extra is None else pairs.unionByName(extra).distinct()


def jaccard_candidates_ids(
    prof: DataFrame,
    id_col: str,
    max_distance: float,
    gram_df: DataFrame,
    max_gram_df: int | None = None,
    short_keys: bool = True,
    *,
    cached: list,
    obs=None,
    extra: DataFrame | None = None,
) -> DataFrame:
    """SELF-join jaccard candidates over a precomputed profile frame —
    PPJoin (Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08), lossless:
    order each key's distinct grams by global rarity; keys with
    jaccard_sim >= t = 1 - max_distance share a gram within their first
    n - ceil(t*n) + 1 grams, and the positional filter bounds the best
    possible overlap from the prefix positions of the shared gram:
        1 + min(n - rn, n2 - rn2) >= ceil(t/(1+t) * (n + n2)).
    At t <= 0 every gram is indexed (the τ >= 1 share-a-gram quirk: pairs
    with no shared gram are not emitted, except two empty profiles, which
    the empty-profile block pairs as `fuzzy_string_join` does).

    `prof` columns: `id_col`, `__fz_gs` (distinct q-grams), `__fz_n` (their
    count) and the Bloom words SIG_COLS. `gram_df` is the `token_df` of
    `__fz_gs`; grams past `max_gram_df` leave the index while the sizes
    and signatures stay full-profile. The signature rides the prefix rows,
    so `jaccard_sig_cut` runs inside the candidate join before the pair
    stream reaches the distinct's shuffle (>99% of non-matches die there).
    `short_keys`: plan the empty-profile block (keys shorter than q;
    jaccard(empty, empty) = 0, a definite match at any max_distance).
    `cached` receives the persisted prefix frame, `obs` the raw
    candidate count (join rows before the Bloom cut), and `extra` pairs
    join the final distinct.

    Returns distinct (id_col, id_col+"2") pairs with id < id2.
    """
    t = 1.0 - max_distance
    positional = t > 0
    id2 = id_col + "2"
    gdf = gram_df.where(f"__fz_df <= {max_gram_df}") if max_gram_df else gram_df
    # broadcast so the exploded gram rows don't shuffle for the df lookup;
    # LEFT join — capped grams keep a null df so the prefix ranking drops
    # them while the signature aggregation still sees the FULL profile
    grams = prof.selectExpr(
        id_col, "__fz_n", *([] if positional else SIG_COLS), "explode(__fz_gs) AS __fz_g"
    ).join(F.broadcast(gdf), "__fz_g", "left")
    if positional:
        # rank grams by rarity per key WITHOUT a window: one groupBy, a
        # per-key sort, a posexplode of just the prefix. The Bloom words
        # are RE-AGGREGATED as map-side-combining bit_or()s over all the
        # key's grams (the same values as the profile's words), so the
        # groupBy shuffles (id, df, g) rows and 8 partially combined longs
        # per key, not 64 B of signature per gram row. collect_list skips
        # the capped grams' nulls.
        agg = grams.groupBy(id_col).agg(*[F.expr(e) for e in (
            "array_sort(collect_list(CASE WHEN __fz_df IS NOT NULL "
            "THEN struct(__fz_df, __fz_g) END)) AS __fz_s",
            "first(__fz_n) AS __fz_n",
            *[f"bit_or({_sig_bit('xxhash64(__fz_g)', i)}) AS {c}" for i, c in enumerate(SIG_COLS)],
        )])
        lp = agg.selectExpr(
            id_col, "__fz_n", *SIG_COLS,
            f"posexplode(slice(__fz_s, 1, CAST(__fz_n - ceil({sql_lit(t)} * __fz_n) + 1 AS INT))) "
            "AS (__fz_p, __fz_e)",
        ).selectExpr(
            id_col, "__fz_n", *SIG_COLS, "__fz_e.__fz_g AS __fz_g", "__fz_p + 1 AS __fz_rn"
        )
    else:
        lp = grams.where("__fz_df IS NOT NULL").select(id_col, "__fz_n", *SIG_COLS, "__fz_g")
    cand = _self_join(lp, id_col, "__fz_g", cached)
    if positional:
        # size bound (jaccard_sim >= t needs min/max >= t), then the
        # positional bound
        cand = cand.where(
            f"{jaccard_size_cut(t)} AND 1 + least(__fz_n - __fz_rn, __fz_n_2 - __fz_rn_2) >= "
            f"ceil({sql_lit(t / (1.0 + t))} * (__fz_n + __fz_n_2))"
        )
    # gram rows imply n, n2 >= 1: no both-empty clause in the cut
    cand = _observe(cand, obs).where(jaccard_sig_cut(t)).select(id_col, id2)
    if short_keys:
        # empty profiles never enter the index; equi-join them on the
        # (all-0) count so Catalyst plans a hash join, not a BNLJ. Their
        # pair count is the TRUE result size, not blocking slop
        empty = prof.where("__fz_n = 0").select(id_col, "__fz_n")
        cand = cand.unionByName(_self_join(empty, id_col, "__fz_n", None).select(id_col, id2))
    return (cand if extra is None else cand.unionByName(extra)).distinct()


def edit_candidates_ids(
    prof: DataFrame,
    id_col: str,
    max_distance: float,
    gram_df: DataFrame,
    method: str,
    q: int,
    max_gram_df: int | None = None,
    short_keys: bool = True,
    *,
    cached: list,
    obs=None,
    extra: DataFrame | None = None,
) -> DataFrame:
    """SELF-join edit-family candidates (lv/osa/dl/lcs/hamming) over a
    precomputed profile frame: every pair sharing an (uncapped) q-gram.
    Lossless for keys of length >= q + edit_damage*tau — a tau-edit pair
    of them MUST share a gram (Gravano et al. VLDB'01); shorter keys are
    paired by a length-band block (|len diff| <= tau bounds any edit pair,
    hamming pairs equal lengths only), the id-keyed twin of
    `edit_candidates`' short path.

    `prof` columns: `id_col`, `__fz_gs` (distinct q-grams), `__fz_kn` (key
    length). `gram_df`, `max_gram_df`, `cached`, `obs` (raw candidates =
    gram join rows) and `extra` as in `jaccard_candidates_ids`;
    `short_keys` plans the length-band block.

    Returns distinct (id_col, id_col+"2") pairs with id < id2.
    """
    id2 = id_col + "2"
    tau = int(max_distance)
    tok = prof.selectExpr(id_col, "explode(__fz_gs) AS __fz_g")
    if max_gram_df:
        # capped grams leave the index: join the kept grams only (uncapped,
        # the df table is not read at all)
        kept = gram_df.where(f"__fz_df <= {max_gram_df}").select("__fz_g")
        tok = tok.join(F.broadcast(kept), "__fz_g")
    cand = _observe(_self_join(tok, id_col, "__fz_g", cached), obs).select(id_col, id2)
    if short_keys:
        band = 0 if method == "hamming" else tau
        sl = prof.where(f"__fz_kn < {q + edit_damage(method, q) * tau}").select(id_col, "__fz_kn")
        cand = cand.unionByName(
            sl.selectExpr(
                id_col, f"explode(sequence(__fz_kn - {band}, __fz_kn + {band})) AS __fz_lb"
            )
            .join(sl.selectExpr(f"{id_col} AS {id2}", "__fz_kn AS __fz_lb"), "__fz_lb")
            .where(f"{id_col} < {id2}")
            .select(id_col, id2)
        )
    return (cand if extra is None else cand.unionByName(extra)).distinct()


def cross_cut(method: str, max_distance: float) -> str | None:
    """SQL text of the tiny route's pair cut for `method`, over `__fz_n`,
    SIG_COLS and their "_2" twins; None => the method keeps its builder at
    every size.

    Only jaccard at max_distance < 1 has one: `jaccard_size_cut` and
    `jaccard_sig_cut`, as its index route applies, or two empty profiles
    (distance 0, which the Bloom cut fails). At max_distance >= 1 a shared
    Bloom bit is not a shared gram, and the share-a-gram quirk must hold.
    The other families keep their builders until a benchmark workload
    measures their cross route."""
    t = 1.0 - max_distance
    if method != "jaccard" or t <= 0:
        return None
    return f"({jaccard_size_cut(t)} AND {jaccard_sig_cut(t)}) OR (__fz_n = 0 AND __fz_n_2 = 0)"


def cross_candidates_ids(prof: DataFrame, id_col: str, cut: str, obs=None) -> DataFrame:
    """SELF-join candidates of a tiny profile frame: every (id_col,
    id_col+"2") pair with id < id2 in ONE broadcast nested-loop join — no
    token index, so no exchange beyond the one that built `prof` — then
    `cut` (SQL text, see `cross_cut`). `obs` counts the cross
    size n(n-1)/2 before the cut, as the string join's tiny route does.
    Pairs are distinct when the ids are."""
    id2 = id_col + "2"
    rp = prof.selectExpr(*[
        f"{sql_ident(c)} AS {sql_ident(id2 if c == id_col else c + '_2')}" for c in prof.columns
    ])
    cross = prof.join(F.broadcast(rp), F.expr(f"{sql_ident(id_col)} < {sql_ident(id2)}"))
    return _observe(cross, obs).where(cut).select(id_col, id2)


def qgram_candidates_ids(
    prof: DataFrame,
    id_col: str,
    max_distance: float,
    prefix_mode: str = "prefix",
    max_gram_df: int | None = None,
    *,
    cached: list,
    obs=None,
    extra: DataFrame | None = None,
) -> DataFrame:
    """SELF-join qgram-distance candidates over a precomputed profile frame,
    shuffling only fixed-width ids + grams — never key strings (the
    er_pipeline 100-TB path: document keys are kilobytes, ids 16 bytes).

    `prof` columns: `id_col` (orderable; er passes the 128-bit kid struct),
    `__fz_gs` (array of DISTINCT q-grams), `__fz_tc` (total multiset gram
    count) and the Bloom words SIG_COLS. Same theorems as
    `ngram_candidates`'s qgram branch: each distinct gram missing from the
    other side contributes >= 1 to the distance, so dist <= tau forces the
    rarity-ordered tau+1 prefixes to intersect (lossless); no-shared-gram
    pairs (dist = tc1 + tc2) are covered by the small-profile block;
    |tc1 - tc2| <= tau prunes inline. The Bloom words ride the token rows
    (sequential shuffle bytes beat 2 random broadcast probes per raw
    candidate) and the popcount cut (s_min = ceil((n1 + n2 - tau)/2) from
    the per-missing-gram L1 cost) runs INSIDE the candidate join, before
    the pair stream hits the distinct's shuffle. `cached`, `obs` (raw
    candidates = the distinct pairs) and `extra` as in
    `jaccard_candidates_ids`.

    Returns distinct (id_col, id_col+"2") pairs with id < id2.
    """
    tau = sql_lit(max_distance)
    id2 = id_col + "2"
    small_side = prof.where(f"__fz_tc <= {tau}").selectExpr(
        id_col, "__fz_tc", f"floor(__fz_tc / {int(max_distance) + 1}) AS __fz_zb"
    )
    small = (
        _self_join(small_side, id_col, "__fz_zb", None)
        .where(f"__fz_tc + __fz_tc_2 <= {tau}")
        .select(id_col, id2)
    )
    carry = ["__fz_tc", "__fz_n", *SIG_COLS]
    tok = prof.selectExpr(
        id_col, "__fz_tc", "size(__fz_gs) AS __fz_n", *SIG_COLS, "explode(__fz_gs) AS __fz_g"
    )
    if max_gram_df and prefix_mode == "simple":
        # hot-gram df cap (approximate valve — see cosine_candidates_ids);
        # __fz_n / __fz_tc / the Bloom words stay FULL-profile, so every
        # inline bound below remains valid for the true distance. The
        # prefix path applies the same cap as a free filter on its own
        # gram-df join below; only the simple path needs the keep list.
        keep = (
            tok.select("__fz_g")
            .groupBy("__fz_g")
            .agg(F.expr("count(1) AS __fz_df0"))
            .where(f"__fz_df0 <= {max_gram_df}")
            .select("__fz_g")
        )
        tok = tok.join(F.broadcast(keep), "__fz_g")
    if prefix_mode == "simple":
        lp = tok
    else:
        gram_df = tok.select(id_col, "__fz_g").groupBy("__fz_g").agg(F.expr("count(1) AS __fz_df"))
        ranked = tok.join(gram_df, "__fz_g")
        if max_gram_df:
            # free cap (see cosine_candidates_ids): surviving grams keep
            # the same df, every profile stat stays full-profile
            ranked = ranked.where(f"__fz_df <= {max_gram_df}")
        agg = ranked.groupBy(id_col).agg(*[F.expr(e) for e in (
            "array_sort(collect_list(struct(__fz_df, __fz_g))) AS __fz_s",
            *[f"first({c}) AS {c}" for c in carry],
        )])
        plen = f"CAST(least(size(__fz_s), {int(max_distance) + 1}) AS INT)"
        lp = agg.selectExpr(
            id_col, *carry, f"explode(slice(__fz_s, 1, {plen})) AS __fz_e"
        ).selectExpr(id_col, *carry, "__fz_e.__fz_g AS __fz_g")
    s_min = f"ceil((__fz_n + __fz_n_2 - {sql_lit(float(max_distance))}) / 2 - 1.0E-9D)"
    pairs = (
        _self_join(lp, id_col, "__fz_g", cached)
        .where(f"abs(__fz_tc - __fz_tc_2) <= {tau} AND {_popcount_cut(s_min)}")
        .select(id_col, id2)
        .unionByName(small)
        .distinct()
    )
    return _finish(pairs, obs, extra)


def cosine_candidates_ids(
    prof: DataFrame,
    id_col: str,
    max_distance: float,
    prefix_mode: str = "prefix",
    max_gram_df: int | None = None,
    *,
    cached: list,
    obs=None,
    extra: DataFrame | None = None,
) -> DataFrame:
    """SELF-join multiset-cosine candidates over a precomputed profile
    frame — the id-keyed twin of `_cosine_prefix_candidates` (weighted
    AllPairs, Bayardo WWW'07); shuffles ids + grams, never key strings.

    `prof` columns: `id_col` (orderable), `__fz_cm` (map gram -> multiset
    count) and the Bloom words SIG_COLS. prefix mode joins GLOBAL-ORDER
    PREFIX x PREFIX (see the inline derivation at the join below) — r6
    change from the r5 all-tokens x greedy-suffix form: the shared total
    order lets the join keep one ordered direction (id < id2) and cuts the
    hot-gram join terms from df(g)·df_kept(g) to df_kept(g)², at the price
    of a head-constrained (instead of per-key greedy knapsack) unindex
    set. simple mode joins every token; the token sets are symmetric, so
    one ordered direction is lossless there too. Empty profiles have no
    tokens and cosine dist 1.0 — unreachable at tau < 1 (callers refuse
    tau >= 1).

    The Bloom words ride the token rows and the count-scaled popcount cut
    (`_popcount_cut`, s_min = ceil(t*nrm1*nrm2/(cmax1*cmax2)) from
    dot <= s*cmax1*cmax2) runs INSIDE the candidate join, before the pair
    stream hits the distinct's shuffle. `cached`, `obs` (raw candidates =
    the distinct pairs) and `extra` as in `jaccard_candidates_ids`.

    Returns distinct (id_col, id_col+"2") pairs with id < id2.
    """
    if max_distance >= 1.0:
        raise ValueError("cosine_candidates_ids requires max_distance < 1")
    id2 = id_col + "2"
    t = 1.0 - float(max_distance)
    stat_names = ["__fz_nrm", "__fz_cx", *SIG_COLS]
    nrm = _norm_sql("__fz_cm") + " AS __fz_nrm"
    carry0 = ["CAST(array_max(map_values(__fz_cm)) AS DOUBLE) AS __fz_cx", *SIG_COLS]
    # prefix mode ships only (id, gram, weight) through the stats join and
    # the prefix groupBy; the per-key stats (norm, cmax, Bloom words)
    # re-attach ONCE per key after the aggregation — carrying ~100 B of
    # stat payload on every token row through two exchanges was measurable
    # against the whole builder wall. The simple path still carries them
    # (its candidate join reads stats straight off the token rows).
    simple = prefix_mode == "simple"
    tok = prof.selectExpr(
        id_col, "explode(__fz_cm) AS (__fz_g, __fz_c)", nrm, *(carry0 if simple else []),
    ).selectExpr(id_col, "__fz_g", "__fz_c / __fz_nrm AS __fz_w", *(stat_names if simple else []))
    if max_gram_df and simple:
        # hot-gram df cap (approximate valve, same contract as the
        # jaccard path): grams hotter than the cap are dropped from BOTH
        # the probe and index token streams — a pair whose entire overlap
        # was capped boilerplate is the caller's sorted-neighborhood
        # pass's job. The keep-list is bounded by the distinct-gram count
        # (for char q-grams, by alphabet^q), so the broadcast is safe at
        # any corpus size. Only the simple path needs this extra
        # groupBy + broadcast probe; the prefix path below already joins
        # per-gram stats carrying df and applies the cap as a free filter
        # (measured: the keep-join DOUBLED the capped builder's wall at
        # 50k keys to drop one gram).
        keep = (
            tok.groupBy("__fz_g")
            .agg(F.expr("count(1) AS __fz_df0"))
            .where(f"__fz_df0 <= {max_gram_df}")
            .select("__fz_g")
        )
        tok = tok.join(F.broadcast(keep), "__fz_g")
    if simple:
        lp = tok.select(id_col, "__fz_g", *stat_names)
    else:
        # GLOBAL-ORDER prefix x prefix self-join (Bayardo WWW'07 self-join
        # form; Vernica et al. SIGMOD'10 for the distributed shape): one
        # shared total order — hot grams FIRST, i.e. (-df, g) ascending —
        # and per key the maximal hot HEAD whose unindex bounds stay under
        # t (same two lossless budgets as before: running max-weight dot
        # Σ mw(g)·x̂_g < t, OR running L2 mass ‖x̂_head‖² < t²) is dropped;
        # the rare tail is the key's PREFIX. For a true pair, its rarest
        # common gram g* must sit in BOTH prefixes (if g* fell in either
        # key's hot head, every common gram would too — the order is
        # shared — and that head's own budget caps the similarity under
        # t), so prefix x prefix is a lossless candidate superset, and the
        # symmetric join finds every pair at g* in BOTH directions, so one
        # ordered direction (id < id2) is lossless. vs the r5 all-tokens x
        # suffix join this cuts the raw joined-row volume from
        # Σ_g df(g)·df_kept(g) to Σ_g df_kept(g)² AND the per-pair
        # duplicate factor to the common-prefix gram count — the
        # join-time attack on the candidate-distinct sort spill (the 200k
        # er-cosine disk envelope).
        t_eff = (1.0 - float(max_distance)) - 1e-9
        t_sq = t_eff * t_eff
        stats = tok.groupBy("__fz_g").agg(
            F.expr("max(__fz_w) AS __fz_mw"), F.expr("count(1) AS __fz_df")
        )
        rj = tok.join(stats, "__fz_g")
        if max_gram_df:
            # the cap rides the stats join for free: dropping a capped
            # gram's rows HERE leaves every surviving gram's df/mw and
            # every key's norm/weights untouched, so the kept prefixes are
            # bit-identical to filtering the token stream up front — minus
            # the extra groupBy + broadcast probe that needed
            rj = rj.where(f"__fz_df <= {max_gram_df}")
        rj = rj.selectExpr(
            id_col, "__fz_g", "__fz_w * __fz_mw AS __fz_b", "__fz_w * __fz_w AS __fz_sq", "__fz_df"
        )
        agg = rj.groupBy(id_col).agg(F.expr(  # hot first: (-df, g) ascending
            "array_sort(collect_list(named_struct('nd', -__fz_df, 'g', __fz_g, 'b', __fz_b, "
            "'sq', __fz_sq))) AS __fz_s"
        ))
        # per-key stats re-attach here, once per key (no broadcast hint:
        # the stat frame is one narrow row per key off the caller's
        # cached profile — AQE broadcasts it when small and falls back to
        # a bounded shuffle join at scale)
        agg = agg.join(prof.selectExpr(id_col, nrm, *carry0), id_col)
        p = _head_len("__fz_s", "b", "sq", t_eff, t_sq)
        lp = agg.selectExpr(
            id_col, *stat_names,
            f"explode(slice(__fz_s, {p} + 1, greatest(size(__fz_s) - {p}, 0))) AS __fz_e",
        ).selectExpr(id_col, *stat_names, "__fz_e.g AS __fz_g")
    s_min = f"ceil({sql_lit(t)} * __fz_nrm * __fz_nrm_2 / (__fz_cx * __fz_cx_2) - 1.0E-9D)"
    pairs = (
        _self_join(lp, id_col, "__fz_g", cached)
        .where(_popcount_cut(s_min))
        .select(id_col, id2)
        .distinct()
    )
    return _finish(pairs, obs, extra)


def _cosine_prefix_candidates(
    lkeys: DataFrame,
    rkeys: DataFrame,
    lkey: str,
    rkey: str,
    max_distance: float,
    q: int,
) -> DataFrame:
    """Weighted AllPairs prefix filtering for multiset-cosine blocking
    (Bayardo, Ma & Srikant, WWW'07), asymmetric index formulation.

    Let x̂ = x/||x||₂ be a key's L2-normalized gram-count vector and
    mw(g) = max over LEFT keys of x̂_g. For each RIGHT key ŷ, partition its
    LEFT-PRESENT grams into UNINDEXED ∪ INDEXED such that

        Σ_{g ∈ U} mw(g) · ŷ_g < t   OR   ||ŷ_U||₂ < t      (t = 1 - tau).

    Either bound makes unindexing U lossless: if a pair (x, y) shares no
    INDEXED gram, its similarity is Σ_{g ∈ U} x̂_g ŷ_g, which is at most
    the max-weight sum (x̂_g <= mw(g)) and at most ||x̂||·||ŷ_U|| = ||ŷ_U||
    (Cauchy-Schwarz restricted to U) — both < t, so every true match must
    hit the index. Grams absent from the left side contribute nothing to
    any pair and are dropped outright (free unindexing). Joining ALL left
    tokens against only the right INDEXED tokens is therefore a lossless
    candidate superset. Gram choice for U is a knapsack (value = join cost
    avoided ≈ left df): greedy by cost ratio b/(df+1) ascending, which
    unindexes hot grams early — THE property that removes the last
    quadratic blocking path under power-law gram frequencies.

    Keys whose total bound stays under t can match nothing and index
    nothing. Empty profiles (len < q) have cosine dist 1.0, unreachable at
    tau < 1 (handled by the caller's cross-join branch at tau >= 1).
    """
    t_eff = (1.0 - float(max_distance)) - 1e-9
    t_sq = t_eff * t_eff

    def _norm_tokens(keys: DataFrame, key: str) -> DataFrame:
        """(key, gram, w) with w = multiset count / L2 norm, pure JVM."""
        cm = _count_map_sql(key, q)
        k = sql_ident(key)
        return (
            keys.selectExpr(k, f"{cm} AS __fz_cm", f"{_norm_sql(cm)} AS __fz_nrm")
            .selectExpr(k, "explode(__fz_cm) AS (__fz_g, __fz_c)", "__fz_nrm")
            .selectExpr(k, "__fz_g", "__fz_c / __fz_nrm AS __fz_w")
        )

    ltok = _norm_tokens(lkeys, lkey)
    rtok = _norm_tokens(rkeys, rkey)
    # per-gram stats over the LEFT side (the probing side): max normalized
    # weight bounds any x̂_g; df drives the greedy unindex order
    stats = ltok.groupBy("__fz_g").agg(
        F.expr("max(__fz_w) AS __fz_mw"), F.expr("count(1) AS __fz_df")
    )
    # inner join: left-absent grams can't contribute to any pair — dropped
    # from the index AND from the unindex budgets for free
    rk = sql_ident(rkey)
    rj = rtok.join(stats, "__fz_g").selectExpr(
        rk, "__fz_g", "__fz_w * __fz_mw AS __fz_b", "__fz_w * __fz_w AS __fz_sq", "__fz_df"
    )
    # sort by greedy cost ratio (cheap-to-unindex first), build the running
    # bounds, index the suffix past the last position where EITHER bound
    # still admits the whole head as unindexed
    agg = rj.groupBy(rkey).agg(F.expr(
        "array_sort(collect_list(named_struct('r', __fz_b / (__fz_df + 1), 'b', __fz_b, "
        "'sq', __fz_sq, 'g', __fz_g))) AS __fz_s"
    ))
    p = _head_len("__fz_s", "b", "sq", t_eff, t_sq)
    indexed = agg.selectExpr(
        rk, f"explode(slice(__fz_s, {p} + 1, greatest(size(__fz_s) - {p}, 0))) AS __fz_e"
    ).selectExpr(rk, "__fz_e.g AS __fz_g")
    return (
        ltok.select(lkey, "__fz_g")
        .join(indexed, "__fz_g")
        .select(lkey, rkey)
        .distinct()
    )


def _empty_profile_pairs(lsets, rsets, lkey: str, rkey: str, q: int):
    """All (l, r) pairs where BOTH gram profiles are empty (keys shorter
    than q). The pair set is a true cross product — the OUTPUT is quadratic
    in the empty-key count by definition (jaccard dist 0 for all of them) —
    but joining on the data-derived floor(len/q) (identically 0) lets
    Catalyst plan a hash join instead of a BroadcastNestedLoopJoin."""
    lk, rk = sql_ident(lkey), sql_ident(rkey)
    el = lsets.where("size(__fz_gs) = 0").selectExpr(lk, f"floor(length({lk}) / {q}) AS __fz_zb")
    er = rsets.where("size(__fz_gs2) = 0").selectExpr(rk, f"floor(length({rk}) / {q}) AS __fz_zb")
    return el.join(er, "__fz_zb").select(lkey, rkey)


def cross_candidates(lkeys: DataFrame, rkeys: DataFrame, lkey: str, rkey: str) -> DataFrame:
    """Full cross product of distinct keys — jaro/jw (the reference also has
    no pruning for jw, jaro_winkler.rs:98-133). Keep inputs deduped!"""
    return lkeys.select(lkey).crossJoin(rkeys.select(rkey))


def char_occurrence_tokens(col: str) -> str:
    """SQL text: (char, occurrence) token ARRAY for a string column, one
    pure-JVM projection: 'aab' -> ['a#1', 'a#2', 'b#1'] (order irrelevant —
    the multiset of chars becomes a SET of tokens, so downstream prefix
    joins stay equi-joins). The map-side twin of `jaro_candidates._tokens`,
    used by the id-keyed jw blocking path so tokenization happens ONCE on
    the cached profile frame and no key string ever enters a blocking
    shuffle."""
    return (
        f"flatten(transform(map_entries({_count_map_sql(col, 1)}), e -> transform("
        "sequence(1, e.value), k -> concat(e.key, '#', CAST(k AS STRING)))))"
    )


def jaro_candidates_ids(
    prof: DataFrame,
    id_col: str,
    max_distance: float,
    prefix_weight: float = 0.0,
    max_token_df: int | None = None,
    *,
    cached: list,
    obs=None,
    extra: DataFrame | None = None,
) -> DataFrame:
    """SELF-join jaro/jw candidates over a precomputed profile frame — the
    id-keyed twin of `jaro_candidates` (same (char, occurrence)-token
    prefix theorem and jaro count bound; see that docstring for the
    derivation). Shuffles only fixed-width ids + short char tokens +
    lengths, never key strings — the er_pipeline 100-TB path (VERDICT r5
    'what's wrong' #1: kilobyte document keys in a blocking shuffle carry
    10-50x the bytes of a 16-byte kid).

    `prof` columns: `id_col` (orderable; er passes the 128-bit kid struct),
    `__fz_kn` (int key length), `__fz_ts` (array of (char,occurrence)
    tokens from `char_occurrence_tokens` — multiset -> set). The prefix is
    built agg+slice (no window): token -> global df join, per-id
    rarity-sorted token array, slice of length n - alpha + 1.

    Self-join semantics: probe side == index side, one shared (df, token)
    total order, so the prefix-intersection theorem applies to every pair
    direction. Only valid in the provable regime (s = 1 - tau > 1/3 and
    prefix_weight >= 0 under the reference's ADDITIVE jw quirk) — raises
    outside it, because an id-keyed cross join is never the right fallback.

    `cached`, `obs` (raw candidates = the distinct pairs) and `extra` as
    in `jaccard_candidates_ids`.

    Returns distinct (id_col, id_col+"2") pairs with id < id2, including
    the both-empty block (jaro dist 0).
    """
    s = 1.0 - float(max_distance)
    if s <= 1.0 / 3.0 or prefix_weight < 0:
        raise ValueError(
            "jaro_candidates_ids requires the provable regime "
            f"(1 - max_distance > 1/3 and prefix_weight >= 0); got s={s}, "
            f"prefix_weight={prefix_weight}"
        )
    id2 = id_col + "2"
    tok = prof.selectExpr(id_col, "__fz_kn", "explode(__fz_ts) AS __fz_t")
    # global token rarity (single side IS the shared order for a self-join);
    # the token-df table is tiny: |alphabet| x max per-key multiplicity
    tok_df = tok.groupBy("__fz_t").agg(F.expr("count(1) AS __fz_df"))
    tj = tok.join(F.broadcast(tok_df), "__fz_t")
    if max_token_df:
        # hot-TOKEN df cap (r7; the jw twin of the qgram/cosine hot-gram
        # valve): on uniform-character corpora occurrence-1 tokens carry
        # df ~ 0.4n, making the prefix join ~n^2 REGARDLESS of ordering
        # (r6 negative result #3) — capped tokens drop out of the index
        # here, the per-key prefix widens over the SURVIVING rarest
        # tokens (a superset over survivors; plen still derives from the
        # full key length), and the caller's sorted-neighborhood pass +
        # exact verifier own the recall for capped-overlap pairs.
        # APPROXIMATE by design, like every max_gram_df valve.
        tj = tj.where(f"__fz_df <= {max_token_df}")
    agg = tj.groupBy(id_col).agg(
        F.expr("array_sort(collect_list(struct(__fz_df, __fz_t))) AS __fz_s"),
        F.expr("first(__fz_kn) AS __fz_kn"),
    )
    lp = agg.selectExpr(
        id_col, "__fz_kn",
        f"explode(slice(__fz_s, 1, CAST({_jaro_plen('__fz_kn', s)} AS INT))) AS __fz_e",
    ).selectExpr(id_col, "__fz_kn", "__fz_e.__fz_t AS __fz_t")
    pairs = (
        _self_join(lp, id_col, "__fz_t", cached)
        .select(id_col, id2, "__fz_kn", "__fz_kn_2")
        .distinct()
        .where(_jaro_count_bound("__fz_kn", "__fz_kn_2", s))
        .select(id_col, id2)
    )
    # both-empty pairs: jaro dist 0, no tokens — equi-join on the (all-0)
    # length column so Catalyst plans a hash join, not a BNLJ
    el = prof.where("__fz_kn = 0").select(id_col, "__fz_kn")
    empties = _self_join(el, id_col, "__fz_kn", None).select(id_col, id2)
    return _finish(pairs.unionByName(empties).distinct(), obs, extra)


def _jaro_plen(n: str, s: float) -> str:
    """SQL text: the jaro prefix length of a key of length `n` (SQL text)
    at similarity s: the weakest admissible partner length (from min >=
    max*(3s-2)), then the pairwise count bound alpha at that weakest
    partner; prefix = the n - alpha + 1 globally rarest tokens."""
    lb_min = f"greatest(1, ceil({n} * {sql_lit(3 * s - 2)}))"
    alpha = f"greatest(1, ceil({sql_lit(3 * s - 1)} * {n} * {lb_min} / ({n} + {lb_min}) - 1.0E-9D))"
    return f"greatest({n} - {alpha} + 1, 1)"


def _jaro_count_bound(a: str, b: str, s: float) -> str:
    """SQL text of the jaro count bound on key lengths `a`, `b`: matched
    chars m >= (3s-1)*|a||b|/(|a|+|b|), and m <= min(|a|, |b|)."""
    return f"least({a}, {b}) >= ceil({sql_lit(3 * s - 1)} * {a} * {b} / ({a} + {b}) - 1.0E-9D)"


def jaro_candidates(
    lkeys: DataFrame,
    rkeys: DataFrame,
    lkey: str,
    rkey: str,
    max_distance: float,
    prefix_weight: float = 0.0,
) -> DataFrame:
    """Sound candidate pruning for jaro / jaro-winkler (replaces the cross
    join the reference uses, jaro_winkler.rs:98-133).

    Derivation: jaro_sim = (m/|a| + m/|b| + (m-t)/m)/3 with m = matched
    chars, and (m-t)/m <= 1, so jaro_sim >= s (s = 1 - max_distance) forces
        m >= (3s-1) * |a||b| / (|a|+|b|)                        (count bound)
    and m is at most the multiset char overlap sum_c min(cnt_a, cnt_b).
    The fozziejoin jw quirk ADDS the prefix term (d' = d + l*w*(1-d),
    jaro_winkler.rs:66-76), so for w >= 0 the jaro bound transfers to jw.

    Blocking = PPJoin-style prefix filtering on (char, occurrence) tokens:
    multiset overlap >= alpha implies the (globally rarity-ordered) prefixes
    of length n - alpha + 1 intersect, so a token equi-join over prefixes is
    a strict candidate superset; a per-pair count-bound filter prunes after.
    Used only when s > 1/3 (bound vacuous otherwise) and w >= 0 — the caller
    falls back to the cross join outside that regime.

    Both-empty pairs (jaro_sim = 1, dist 0) have no tokens: dedicated block.
    One-side-empty pairs have jaro_sim 0, unreachable when s > 1/3.
    """
    from pyspark.sql import Window

    s = 1.0 - float(max_distance)
    if s <= 1.0 / 3.0 or prefix_weight < 0:
        return cross_candidates(lkeys, rkeys, lkey, rkey)

    def _tokens(keys: DataFrame, key: str) -> DataFrame:
        # (key, token) with token = char + '#' + occurrence (multiset -> set)
        counts = (
            keys.selectExpr(sql_ident(key), f"explode({qgrams_sql(key, 1)}) AS __fz_ch")
            .groupBy(key, "__fz_ch")
            .agg(F.expr("count(1) AS __fz_c"))
        )
        toks = "transform(sequence(1, __fz_c), k -> concat(__fz_ch, '#', CAST(k AS STRING)))"
        return counts.selectExpr(sql_ident(key), f"explode({toks}) AS __fz_t")

    lt, rt = _tokens(lkeys, lkey), _tokens(rkeys, rkey)
    # global token rarity over BOTH sides (prefix theorem needs one shared
    # total order); the token-df table is tiny (alphabet x max multiplicity)
    tok_df = (
        lt.select("__fz_t")
        .unionByName(rt.select("__fz_t"))
        .groupBy("__fz_t")
        .agg(F.expr("count(1) AS __fz_df"))
    )

    def _prefix(toks: DataFrame, key: str) -> DataFrame:
        k = sql_ident(key)
        w = Window.partitionBy(key).orderBy("__fz_df", "__fz_t")
        return (
            toks.join(F.broadcast(tok_df), "__fz_t")
            .withColumn("__fz_rn", F.row_number().over(w))
            .where(f"__fz_rn <= {_jaro_plen(f'length({k})', s)}")
            .select(key, "__fz_t")
        )

    lk, rk = sql_ident(lkey), sql_ident(rkey)
    pairs = (
        _prefix(lt, lkey)
        .join(_prefix(rt, rkey), "__fz_t")
        .select(lkey, rkey)
        .distinct()
        .where(_jaro_count_bound(f"length({lk})", f"length({rk})", s))
    )
    empties = (
        lkeys.select(lkey)
        .where(f"length({lk}) = 0")
        .join(
            rkeys.select(rkey).where(f"length({rk}) = 0"),
            F.expr(f"length({lk}) = length({rk})"),  # both 0 — equi-join, not BNLJ
        )
        .select(lkey, rkey)
    )
    return pairs.unionByName(empties)


def band_candidates(
    lkeys: DataFrame, rkeys: DataFrame, lkey: str, rkey: str, max_distance: float
) -> DataFrame:
    """1-D numeric banding: bucket = floor(x/tau); left probes {b-1,b,b+1}.

    Mirrors difference/mod.rs:19-43; O(n+m+candidates), no cross join.
    """
    lk, rk = sql_ident(lkey), sql_ident(rkey)
    if max_distance <= 0:
        return lkeys.select(lkey).join(rkeys.select(rkey), F.expr(f"{lk} = {rk}"))
    b = f"floor({lk} / {sql_lit(float(max_distance))})"
    l = lkeys.selectExpr(lk, f"explode(array({b} - 1, {b}, {b} + 1)) AS __fz_b")
    r = rkeys.selectExpr(rk, f"floor({rk} / {sql_lit(float(max_distance))}) AS __fz_rb")
    return l.join(r, F.expr("__fz_b = __fz_rb")).select(lkey, rkey)


def grid_candidates(
    lkeys: DataFrame,
    rkeys: DataFrame,
    lcols: list[str],
    rcols: list[str],
    max_distance: float,
) -> DataFrame:
    """k-D grid-cell blocking for distance joins: any pair with
    L1/L2 distance <= tau satisfies |x_i - y_i| <= tau per dimension, so
    cell-join on floor(x/tau) with +-1 probes per dim is a sound superset.
    Replaces the reference's O(n*m) nested loop (distance/mod.rs:94-129).
    """
    if max_distance <= 0:
        cond = [F.col(lc) == F.col(rc) for lc, rc in zip(lcols, rcols)]
        return lkeys.join(rkeys, cond).select(*lcols, *rcols)
    tau = float(max_distance)
    l = lkeys.select(*lcols)
    for i, lc in enumerate(lcols):
        cell = F.floor(F.col(lc) / tau)
        l = l.withColumn(f"__fz_c{i}", F.explode(F.array(cell - 1, cell, cell + 1)))
    r = rkeys.select(*rcols)
    cond = [F.col(f"__fz_c{i}") == F.floor(F.col(rc) / tau) for i, rc in enumerate(rcols)]
    return l.join(r, cond).select(*lcols, *rcols)


def sorted_neighborhood_candidates(
    keys: DataFrame,
    key_col: str,
    window: int = 10,
    sort_expr=None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking: pair every key with its `window`
    successors in sort order. Approximate-recall blocking (classic SN,
    Hernandez & Stolfo SIGMOD'95) that complements q-gram indexing — it
    catches pairs whose shared grams were all capped/hot.

    Scalable global ranking WITHOUT a single-partition sort: bucket each
    key by DETERMINISTIC sort-range boundaries (sampled quantiles of the
    sort key, collected once and baked into the plan as literals), rank
    within each bucket, then add per-bucket offsets (a tiny cumulative
    sum). The neighbor join is a band equi-join on floor(rank/window) +-1
    probes — no self cross join, no global window operator.

    Why literal boundaries instead of repartitionByRange +
    spark_partition_id: the bucket id feeds TWO consumers (bucket counts
    and ranked rows), and Spark compiles each into its own range exchange
    whose RangePartitioner samples boundaries with an RDD-id-dependent
    seed — at large inputs the two branches can see DIFFERENT partition
    boundaries, silently corrupting the global ranks. A literal-boundary
    bucket expression evaluates identically in every branch by
    construction, with the same quantile-sampling quality.

    `sort_expr` is SQL text of the sort key (default: the key column);
    its values must be strings, numbers or booleans, since the sampled
    boundaries become SQL literals.

    Returns (key_col, key_col+"2") pairs with rank distance in [1, window].
    """
    from pyspark.sql import Window

    sort_col = sort_expr if sort_expr is not None else sql_ident(key_col)
    n_parts = num_partitions or max(keys.sparkSession.sparkContext.defaultParallelism, 2)
    src = keys.selectExpr(sql_ident(key_col), f"{sort_col} AS __fz_sort")
    n = src.count()
    frac = min(1.0, (n_parts * 20.0) / max(n, 1))
    sampled = sorted(
        r["__fz_sort"]
        for r in src.select("__fz_sort").sample(frac, seed=7).collect()
        if r["__fz_sort"] is not None
    )
    # n_parts - 1 evenly spaced boundary values (deduped; fewer buckets for
    # tiny/duplicate-heavy inputs is fine — one bucket = one sorted window)
    step = max(1, len(sampled) // n_parts)
    bounds = sorted({sampled[i] for i in range(step, len(sampled), step)})[: n_parts - 1]
    barr = ", ".join(sql_lit(b) for b in bounds)
    pid = f"size(filter(array({barr}), b -> b < __fz_sort))" if bounds else "0"
    parts = src.selectExpr("*", f"{pid} AS __fz_pid")
    # partition offsets as a lazy cumulative sum over the (tiny) partition
    # counts — broadcast-joined back; no driver-side collect
    counts = parts.groupBy("__fz_pid").agg(F.expr("count(1) AS __fz_n"))
    off_w = Window.orderBy("__fz_pid").rowsBetween(Window.unboundedPreceding, -1)
    off_df = counts.select(
        "__fz_pid", F.coalesce(F.sum("__fz_n").over(off_w), F.lit(0)).alias("__fz_off")
    )
    w = Window.partitionBy("__fz_pid").orderBy("__fz_sort", key_col)
    k = sql_ident(key_col)
    ranked = (
        parts.withColumn("__fz_rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "__fz_pid")
        .selectExpr(k, "__fz_rn + __fz_off AS __fz_rank")
    )
    bucket = f"floor(__fz_rank / {window})"
    left = ranked.selectExpr("*", f"explode(array({bucket}, {bucket} + 1)) AS __fz_b")
    right = ranked.selectExpr(
        f"{k} AS {sql_ident(key_col + '2')}", "__fz_rank AS __fz_rank2", f"{bucket} AS __fz_b"
    )
    return (
        left.join(right, "__fz_b")
        .where(f"__fz_rank2 > __fz_rank AND __fz_rank2 - __fz_rank <= {window}")
        .select(key_col, key_col + "2")
        .distinct()
    )


def interval_bin_candidates(
    lints: DataFrame,
    rints: DataFrame,
    lcols: tuple[str, str],
    rcols: tuple[str, str],
    maxgap: float,
    bin_width: float,
) -> DataFrame:
    """Overlap-bin blocking for interval joins (replaces the reference's
    interval tree, interval/real.rs:68-90): each interval maps to the bins
    it covers; the probe (left) side is widened by maxgap + 1 so every pair
    satisfying the gap predicate shares a bin. Equi-join on bin, distinct.
    """
    ls, le_ = lcols
    rs, re_ = rcols
    g = float(max(maxgap, 0)) + 1.0  # +1 covers integer-mode gap semantics
    w = float(bin_width)
    l = lints.select(ls, le_).withColumn(
        "__fz_bin",
        F.explode(
            F.sequence(
                F.floor((F.col(ls) - g) / w).cast("long"),
                F.floor((F.col(le_) + g) / w).cast("long"),
            )
        ),
    )
    r = rints.select(rs, re_).withColumn(
        "__fz_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(rs) / w).cast("long"),
                F.floor(F.col(re_) / w).cast("long"),
            )
        ),
    )
    return l.join(r, "__fz_bin").select(ls, le_, rs, re_).distinct()
