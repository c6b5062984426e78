"""The north-rule 3-stage entity-resolution pipeline over interleaved
text+media documents:

    stage 1   keys      doc_id -> join key (ordered concat of text spans)
    stage 2   pairs     tiny inputs (distinct keys <= the tiny-cross gate;
                        jaccard at max_distance < 1): every key-id pair in
                        one broadcast nested-loop join under the cut the
                        index route applies too. Otherwise PPJoin-style
                        blocking (prefix-filtered q-gram inverted index
                        + positional filter + conditional sorted
                        neighborhood), FUSED with a 512-bit gram
                        Bloom-signature refine carried on the gram rows
                        from the per-key cache -> surviving candidate
                        KEY-ID pairs (raw candidate counts observed into
                        the stage manifest)
    stage 3   edges     Arrow-batched pairwise scoring, threshold
    stage 4   clusters  large-star/small-star connected components
    stage 5   entities  docs join key->entity; spans carried untouched

Clustering runs in KEY space (distinct key values), so identical texts
cluster for free; doc assignment is one equi-join at the end. Every stage
checkpoints through StageRunner (lineage + metrics + resume).

Keys travel the pair path as 128-bit ids (two independent xxhash64s —
collision odds ~1e-14 even at 1e12 keys): candidate/edge checkpoints carry
16 bytes instead of the full key strings (7x less shuffle + checkpoint
I/O) and connected components shuffles fixed-width ids. The key-id
dictionary lives in the `keys` stage output.

Scale levers (100 TB story):
- all candidate generation past the tiny-cross gate is equi-join on
  generated block keys; the one cross join is the gated tiny route
- hot q-grams (power-law!) are neutralized by PPJoin prefix + positional
  filtering (lossless for jaccard) with `max_gram_df` as a safety valve
- scoring touches only distinct key pairs (dedup-before-score)
"""

from __future__ import annotations

import hashlib
import logging

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from fozzie_spark import blocking as B
from fozzie_spark.blocking import _count_map_sql, qgrams_sql
from fozzie_spark.checkpoint import StageRunner
from fozzie_spark.cluster import connected_components
from fozzie_spark.distances import EDIT_METHODS
from fozzie_spark.scoring import jvm_distance_col, string_distance_udf
from fozzie_spark.synth import doc_text_key
from fozzie_spark.util import sql_lit

_log = logging.getLogger(__name__)


def key_id(key: str) -> str:
    """SQL text: the 128-bit content id of the key string `key` (SQL
    text), a struct of two independent xxhash64s (orderable, groupable,
    fixed 16 bytes)."""
    return f"named_struct('h1', xxhash64({key}), 'h2', xxhash64({key}, {0x5EED}))"


#: edges-stage dictionary broadcast gate (bytes); a test hook and a knob
#: for driver-memory-constrained deployments
EDGES_DICT_BROADCAST_BYTES = 256 << 20

#: per-bin gram-mass signature width for the qgram/cosine edge refine:
#: discriminating while distinct-gram count << MASS_BINS (name/sentence
#: keys), graceful pass-through beyond (kilobyte documents). r7: 128 ->
#: 64 after a measured kill-rate control on the 20k er-cosine corpus
#: (~50-gram keys): 64 bins still cut the no-popcount candidate superset
#: 37.9M -> 187k (vs 48k at 128, 24M at 32) at HALF the per-pair refine
#: cost and half the per-key payload the chunked refine path must move
#: through the kid2 exchange — the survivors all re-score exactly, so
#: results are identical at any width.
MASS_BINS = 64

#: methods er_pipeline's blocking is RECALL-SOUND for: the fused PPJoin
#: index (jaccard), the share-a-gram index + length-band short-key block
#: (edit family), the lossless prefix builders (qgram via tau+1 prefixes,
#: cosine via weighted AllPairs), and jaro/jw via the (char, occurrence)-
#: token prefix — the latter ONLY in the provable regime s = 1 - tau >
#: 1/3 with prefix_weight >= 0 (outside it the count bound is vacuous and
#: the only lossless blocking is a cross join, refused at runtime). Every
#: family's builder is a blocking.*_candidates_ids self-join.
SUPPORTED_METHODS = frozenset(
    {"jaccard", "qgram", "cosine", "jaro", "jw"} | EDIT_METHODS
)


def _input_fingerprint(docs: DataFrame):
    """Deterministic input identity for the resume config hash.

    BARE file scans hash their leaf files + schema — stable across
    process restarts, so a killed job resumes (the north rule) and a
    repointed/reshaped input invalidates. The fast path is restricted to
    plans whose optimized form IS the relation (round-6 review: hashing
    files+schema for ANY file-backed plan let `docs.where(...)` /
    `.limit(...)` over the same files silently resume checkpoints from an
    earlier unfiltered run). Everything else — transforms over scans,
    in-memory or generated plans — falls back to semanticHash, which is
    stable within a session but NOT across JVM restarts (measured even
    for JVM-only filtered scans, not just pickled-Python plans), i.e.
    conservative: a restarted process re-runs rather than ever reusing a
    possibly-mismatched checkpoint. Callers that need cross-process
    resume over such inputs pass an explicit input_fingerprint (job.py
    derives one from the synth args).
    """
    try:
        bare = (
            docs._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            == "LogicalRelation"
        )
        files = docs.inputFiles() if bare else []
    except Exception:
        files = []
    if files:
        ident = "\n".join(sorted(files)) + "|" + docs.schema.simpleString()
        return hashlib.sha256(ident.encode()).hexdigest()[:16]
    return docs.semanticHash()


def er_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    checkpoint_dir: str,
    method: str = "jaccard",
    max_distance: float = 0.6,
    q: int = 4,
    prefix_weight: float = 0.0,
    max_prefix: int = 0,
    max_gram_df: int | None | str = "auto",
    sn_window: int | None = 10,
    resume: bool = True,
    table_format: str = "parquet",
    reliable_cc: bool = False,
    collect_metrics: bool = True,
    edges_chunk_bytes: int = 24 << 30,
    input_fingerprint: str | None = None,
) -> dict[str, DataFrame]:
    """Run the pipeline; returns dict of stage DataFrames
    (keys, pairs, edges, clusters, entities).

    max_gram_df="auto" resolves to max(10_000, n_distinct_keys // 8): a
    gram is only degenerate boilerplate relative to corpus size — an
    ABSOLUTE cap mis-scales in both directions (at 10^12 keys every common
    gram would exceed a fixed 10k and recall would collapse onto the SN
    patch; at 10^5 keys a barely-over-cap gram triggers the SN pass's
    fixed cost for nothing). When the resolved cap never triggers, PPJoin
    prefix filtering is lossless on its own and the SN pass is skipped.
    The cap applies to every method family's blocking tokens (q-grams;
    (char, occurrence) tokens for jaro/jw); it is moot on the tiny cross
    route, which has no token index. The pairs stage logs its decision
    (the valve's, or the tiny route's) at DEBUG on logger
    "fozzie_spark.pipeline", and so do the edges dictionary and entities
    clusters broadcast gates.

    collect_metrics=False skips the per-partition row-count job each stage
    runs after its write (lineage manifests keep observed metrics) — the
    right setting at full scale where that extra scan is measurable.

    edges_chunk_bytes bounds the qgram/cosine refine join's in-flight
    exchange working set (candidate rows x both sides' mass-signature
    payloads) when the dictionary is past the broadcast gate: candidates
    are refined + scored in sequential pair-hash chunks whose union is
    byte-equal to the single pass. A result-neutral EXECUTION knob (not
    part of the resume config hash): raise it to the cluster's aggregate
    shuffle-disk headroom; the 24 GB default fits the single-box
    envelope."""
    if method not in SUPPORTED_METHODS:
        raise ValueError(
            f"er_pipeline blocking is not recall-sound for method {method!r}; "
            f"supported: {sorted(SUPPORTED_METHODS)}"
        )
    if method == "cosine" and max_distance >= 1.0:
        # every pair matches at cosine tau >= 1 (empty profiles score 1.0) —
        # the only lossless blocking is the cross join; refuse at scale
        raise ValueError("er_pipeline: cosine with max_distance >= 1 is degenerate "
                         "(every pair matches); use a threshold < 1")
    if method in ("jaro", "jw"):
        # provable regime for the (char, occurrence)-token prefix blocking
        # (blocking.jaro_candidates_ids): jaro_sim >= s forces a multiset
        # char overlap bound only when s > 1/3, and the jw prefix term
        # preserves it only for prefix_weight >= 0 — outside that the
        # builder's fallback is a cross join, which is refused at ER scale.
        if 1.0 - max_distance <= 1.0 / 3.0 or prefix_weight < 0:
            raise ValueError(
                "er_pipeline: jaro/jw blocking is recall-sound only for "
                "max_distance < 2/3 with prefix_weight >= 0; got "
                f"max_distance={max_distance}, prefix_weight={prefix_weight}"
            )
    params = {
        "method": method,
        "max_distance": max_distance,
        "q": q,
        "prefix_weight": prefix_weight,
        "max_prefix": max_prefix,
        "max_gram_df": max_gram_df,
        "sn_window": sn_window,
        "ids": "xxh64x2",
        # input identity folded into the resume hash: same checkpoint_dir +
        # params but a DIFFERENT input plan (other path/table/synth args)
        # must invalidate, not silently resume. In-place mutation of the
        # same path remains out of scope (documented in checkpoint.py).
        "input_fingerprint": (
            input_fingerprint
            if input_fingerprint is not None
            else _input_fingerprint(docs)
        ),
    }
    runner = StageRunner(
        spark, checkpoint_dir, run_config=params, resume=resume,
        table_format=table_format, collect_metrics=collect_metrics,
    )

    # ---- stage 1: derive keys + key ids (pure projection — no shuffle) ----
    def _keys():
        return docs.selectExpr("doc_id", f"{doc_text_key('spans')} AS key").selectExpr(
            "*", f"{key_id('key')} AS kid"
        )

    keys = runner.stage("keys", _keys, params={"q": q})
    # the distinct-key dictionary, EXTENDED map-side with everything the
    # later stages need per key, under the column names the blocking
    # builders read: the distinct q-gram set `__fz_gs` (edges re-scores
    # over it instead of re-extracting grams per pair) and its size
    # `__fz_n`, qgram's total count `__fz_tc`, cosine's count map `__fz_cm`
    # and the 512-bit Bloom words (jaccard's pairs cut; the popcount cut of
    # the qgram/cosine builders and edges refine). One cache, many
    # consumers: the candidate stage shuffles 16-byte kids + tokens, never
    # key strings.
    # The per-key cache columns are built as a CHAIN of projections so each
    # heavy expression evaluates exactly once per key: a single flat select
    # re-evaluated the O(g) gram extraction up to 10x per key (gs, n, and
    # every Bloom word embedded their own array_distinct(qgrams)) and the
    # O(g²) count-map TWICE (cm and the binned `me` entries) — measured as
    # the dominant share of the 7.8 s cosine dictionary build at 50k keys.
    # CollapseProject keeps non-cheap aliases referenced more than once in
    # separate projections (verified in the optimized plan), so:
    #   stage 1: the one heavy profile column (cm for qgram/cosine, gs for
    #            jaccard/edit)
    #   stage 2: everything derived from it by O(g) expressions
    #            (map_keys(cm) IS array_distinct(qgrams) in the same
    #            first-occurrence order; tc = Σ map_values(cm))
    #   stage 3: the NSIG Bloom words over one shared pre-hashed array
    base = keys.select("key", "kid").where("key IS NOT NULL").distinct()
    me_from_cm = (
        "transform(map_entries(__fz_cm), e -> named_struct("
        f"'b', CAST(pmod(xxhash64(e.key), {MASS_BINS}) AS INT), 'c', CAST(e.value AS DOUBLE)))"
    )
    gs = f"array_distinct({qgrams_sql('key', q)}) AS __fz_gs"
    if method in ("qgram", "cosine"):
        u1 = base.selectExpr("key", "kid", f"{_count_map_sql('key', q)} AS __fz_cm")
        cols2 = ["key", "kid", f"{me_from_cm} AS me"]
        if method == "qgram":
            cols2 += [
                "map_keys(__fz_cm) AS __fz_gs",
                "aggregate(map_values(__fz_cm), 0, (acc, c) -> acc + c) AS __fz_tc",
            ]
        else:
            cols2.append("__fz_cm")
        u2 = u1.selectExpr(*cols2)
        gs_ref = "__fz_gs" if method == "qgram" else "map_keys(__fz_cm)"
        u3 = u2.selectExpr(
            "*", f"transform({gs_ref}, g -> xxhash64(g)) AS __hs",
            *([f"size({gs_ref}) AS __fz_n"] if method == "qgram" else []),
        )
    elif method == "jaccard":
        u3 = base.selectExpr("key", "kid", gs).selectExpr(
            "*", "size(__fz_gs) AS __fz_n", "transform(__fz_gs, g -> xxhash64(g)) AS __hs"
        )
    if method in ("qgram", "cosine", "jaccard"):
        uniq = u3.selectExpr(
            *[c for c in u3.columns if c != "__hs"], *B._bloom_sig_sql("__hs", hashed=True)
        )
    elif method in EDIT_METHODS:
        uniq = base.selectExpr("key", "kid", gs)
    else:  # jaro/jw: blocking derives its own char tokens from the key
        uniq = base
    uniq = uniq.persist()
    _stage_persists: list[DataFrame] = []  # freed after the pairs stage writes

    _uniq_stats: list[tuple[int, int, int]] = []
    # keys the gram index cannot pair losslessly: empty profiles for
    # jaccard (distance 0 to each other at any max_distance), shorter than
    # q + damage*tau for the edit family
    short_cut = (
        q if method == "jaccard"
        else q + B.edit_damage(method, q) * int(max_distance) if method in EDIT_METHODS
        else None
    )

    def _n_uniq() -> int:
        return _uniq_stat()[0]

    def _uniq_stat() -> tuple[int, int, int]:
        """(distinct keys, total key bytes, keys shorter than `short_cut`),
        computed ONCE per run in one job over the persisted `uniq`.
        Broadcast gates use the first two: a broadcast build collects its
        child to the driver as task results, so a count-only gate breaks
        on kilobyte document keys — the 1.5M probe died at
        spark.driver.maxResultSize with ~3.7M keys that were comfortably
        under the old 5M-row gate."""
        if not _uniq_stats:
            # octet_length, not length: the gate must measure UTF-8 BYTES —
            # char counts under-estimate non-ASCII keys by up to 4x
            row = uniq.agg(*[F.expr(e) for e in (
                "count(1)", "sum(octet_length(key))",
                f"count_if(length(key) < {short_cut})" if short_cut else "0",
            )]).first()
            _uniq_stats.append((int(row[0]), int(row[1] or 0), int(row[2])))
        return _uniq_stats[0]

    def _hot_token_valve(token_df: DataFrame, reused: bool = False, **detail):
        """The hot-token df valve every blocking family shares. Tokens
        (q-grams, or jaro's (char, occurrence) tokens) are power-law
        distributed, and a share-a-token join is quadratic in the hottest
        token's df; on shared kilobyte boilerplate neither the prefix
        orders nor the signature refines discriminate.

        Resolves the cap (see er_pipeline's `max_gram_df`), counts the
        tokens of the `blocking.token_df` table `token_df` past it in one
        job, and,
        when any are capped and `sn_window` is set, builds the
        complementary sorted-neighborhood kid pairs: they catch pairs whose
        shared tokens were ALL capped (lexically near keys rank adjacent),
        and the edges stage verifies every extra pair. When nothing is
        capped the builders run uncapped, their prefix filters stay
        lossless on their own, and the SN pass (a sampling job, a window
        and a join) is skipped.

        Tokens are distinct within a key, so df <= distinct keys: a cap at
        or past that count provably caps nothing and runs no count job (on
        "auto": up to 10_000 keys). `reused`: the caller reads `token_df`
        too, so a count persists it in place (freed with the stage).

        Logs one DEBUG decision record on logger "fozzie_spark.pipeline"
        (also as `record.fz_decision`; `detail` rides along) and returns
        (cap, capped token count, SN pairs or None)."""
        cap = max(10_000, _n_uniq() // 8) if max_gram_df == "auto" else max_gram_df
        proven = not cap or cap >= _n_uniq()
        if not proven and reused:
            _stage_persists.append(token_df.persist())
        n_capped = 0 if proven else token_df.where(f"__fz_df > {cap}").count()
        sn = None
        if sn_window and n_capped:
            sn = B.sorted_neighborhood_candidates(
                uniq.select("key"), "key", window=sn_window
            ).selectExpr(f"{key_id('key')} AS a", f"{key_id('key2')} AS b").selectExpr(
                "least(a, b) AS kid", "greatest(a, b) AS kid2"
            )
        route = "uncapped" if not n_capped else "capped_sn" if sn is not None else "capped"
        record = {
            "method": method, "gate": "hot_token_cap",
            # None only when the cap is off and no gate measured the keys
            "keys": _uniq_stats[0][0] if _uniq_stats else None,
            "threshold": cap, "capped_tokens": n_capped,
            "capped_count": "proven" if proven else "counted", "route": route, **detail,
        }
        _log.debug("er_pipeline pairs decision: %s", record, extra={"fz_decision": record})
        return cap, n_capped, sn

    # ---- stage 2: blocking on distinct keys -> candidate id pairs ----------
    def _pairs():
        """Candidate kid pairs plus the Observation carrying
        `raw_candidates`, over profile frames off the cached `uniq`
        (16-byte kids + tokens, never key strings).

        Tiny route first: jaccard at max_distance < 1 with at most
        `blocking.TINY_CROSS_KEY_THRESHOLD` distinct keys (`tiny_by_keys`
        on the one stats count the index route reads anyway) emits every
        kid < kid2 pair in one broadcast nested-loop join under the cut
        its index route already applies (`blocking.cross_cut`);
        `raw_candidates` is the cross size. Otherwise one blocking builder
        per method family, each a self-join:

            family       profile columns            valve tokens  builder (blocking.)
            jaccard      __fz_gs, __fz_n, Bloom     q-grams       jaccard_candidates_ids
            edit family  __fz_gs, key length        q-grams       edit_candidates_ids
            qgram        __fz_gs, __fz_tc, Bloom    q-grams       qgram_candidates_ids
            cosine       __fz_cm, Bloom             q-grams       cosine_candidates_ids
            jaro / jw    key length, char tokens    char tokens   jaro_candidates_ids

        ("Bloom": the 512-bit signature words blocking.SIG_COLS.)

        jaccard: PPJoin prefix + positional filter with the Bloom cut fused
        in; edit family: share a gram + a length-band block for short keys;
        qgram: tau+1 rarity prefixes + small-profile block; cosine: weighted
        AllPairs (Bayardo WWW'07); jaro/jw: (char, occurrence)-token
        prefixes in the provable regime enforced above. qgram/cosine take
        the prefix route from 2 x distinct keys (`blocking.prefix_by_keys`).

        Every builder runs `_hot_token_valve` on its token df table first.
        Its sorted-neighborhood pairs (Bloom-cut here for jaccard) ride into
        the builder, which unions them under its own final distinct. Each
        run logs one pairs decision record: gate `tiny_cross` on the tiny
        route, the valve's (with the tiny gate's `tiny_*` fields) otherwise.
        """
        obs = Observation()
        cut = B.cross_cut(method, max_distance)
        n = _n_uniq() if cut is not None else None
        tiny = {"keys": n, "threshold": B.TINY_CROSS_KEY_THRESHOLD,
                "route": "tiny_cross" if n is not None and B.tiny_by_keys(n) else "index"}
        if tiny["route"] == "tiny_cross":
            record = {"method": method, "gate": "tiny_cross", **tiny}
            _log.debug("er_pipeline pairs decision: %s", record, extra={"fz_decision": record})
            prof = uniq.select("kid", "__fz_n", *B.SIG_COLS)
            return B.cross_candidates_ids(prof, "kid", cut, obs), obs
        kn = "CAST(length(key) AS INT) AS __fz_kn"
        cols, tokens = {  # SQL text only: building it runs no py4j call
            "jaccard": (["__fz_gs", "__fz_n", *B.SIG_COLS], "__fz_gs"),
            "qgram": (["__fz_gs", "__fz_tc", *B.SIG_COLS], "__fz_gs"),
            "cosine": (["__fz_cm", *B.SIG_COLS], "map_keys(__fz_cm)"),
            "jw": ([kn, f"{B.char_occurrence_tokens('key')} AS __fz_ts"], "__fz_ts"),
            "edit": (["__fz_gs", kn], "__fz_gs"),
        }["edit" if method in EDIT_METHODS else "jw" if method == "jaro" else method]
        prof = uniq.selectExpr("kid", *cols)
        tdf = B.token_df(prof, tokens)
        gram_index = method == "jaccard" or method in EDIT_METHODS
        if gram_index:
            # the builder reads the df table too; the short-key block is
            # planned only when the stats job found short keys
            n_short = _uniq_stat()[2]
            detail = {"short_keys": n_short, "short_key_block": n_short > 0}
        elif method in ("qgram", "cosine"):
            mode = "prefix" if B.prefix_by_keys(2 * _n_uniq()) else "simple"
            detail = {"prefix_mode": mode}
        else:
            detail = {}
        cap, n_capped, sn = _hot_token_valve(
            tdf, reused=gram_index, **detail, **{f"tiny_{k}": v for k, v in tiny.items()})
        cap = cap if n_capped else None
        if sn is not None and method == "jaccard":
            # the SN pairs get the same Bloom cut (they are mostly
            # non-matches: rank-adjacent != similar) via two broadcast
            # probes. Measured trade at 50k entities: the two broadcast
            # builds cost ~1.3 s, but skipping the cut sends window*keys
            # extra pairs into the EXACT verifier (q-gram extraction over
            # ~1 kB key strings per pair) at ~8 s — the cut wins at every
            # scale. Empty-profile pairs (n = 0 both sides) are definite
            # matches (jaccard dist 0), skip the test.
            a = uniq.select("kid", "__fz_n", *B.SIG_COLS)
            b = a.selectExpr(*[f"{c} AS {'kid2' if c == 'kid' else c + '_2'}" for c in a.columns])
            if _n_uniq() < 8_000_000:
                a, b = F.broadcast(a), F.broadcast(b)
            sn = sn.join(a, "kid").join(b, "kid2").where(
                f"{B.jaccard_sig_cut(1.0 - max_distance)} OR (__fz_n = 0 AND __fz_n_2 = 0)"
            ).select("kid", "kid2")
        kw = {"cached": _stage_persists, "obs": obs, "extra": sn}
        if method == "jaccard":
            cand = B.jaccard_candidates_ids(
                prof, "kid", max_distance, tdf, cap, n_short > 0, **kw)
        elif method in EDIT_METHODS:
            cand = B.edit_candidates_ids(
                prof, "kid", max_distance, tdf, method, q, cap, n_short > 0, **kw)
        elif method == "qgram":
            cand = B.qgram_candidates_ids(prof, "kid", max_distance, mode, cap, **kw)
        elif method == "cosine":
            cand = B.cosine_candidates_ids(prof, "kid", max_distance, mode, cap, **kw)
        else:
            cand = B.jaro_candidates_ids(
                prof, "kid", max_distance, prefix_weight, cap, **kw)
        return cand, obs

    pairs = runner.stage("pairs", _pairs, params=params, depends_on=("keys",))
    for f in _stage_persists:  # pairs output is parquet-backed now
        f.unpersist()
    _stage_persists.clear()
    scored_input = pairs
    refine_dep = ("pairs",)

    # ---- stage 3: vectorized scoring -> edges (id pairs + distance) --------
    _edge_persists: list[DataFrame] = []  # freed after the edges stage writes

    def _mass_sig(power: int) -> str:
        """SQL text: dense per-bin gram-mass array over the precomputed
        binned entries column `me` (array<struct<b,c>>).

        power=2: element i holds sqrt(Σ c²) over the grams landing in bin
        i — PRE-sqrt'd so the per-pair cosine bound is a pure multiply-add
        (sqrt(qa·qb) = sqrt(qa)·sqrt(qb); measured 47M × 128 per-pair
        sqrts are a double-digit share of the filter wall). power=1:
        element i holds Σ c for the qgram per-bin L1 lower bound.
        O(MASS_BINS * g) cheap JVM ops per key — computed once per
        DISTINCT key at dictionary-build time, never per pair."""
        mass = (
            "aggregate(me, 0.0D, (acc, e) -> acc + CASE WHEN e.b = i THEN "
            f"{'e.c * e.c' if power == 2 else 'e.c'} ELSE 0.0D END)"
        )
        per_bin = f"sqrt({mass})" if power == 2 else mass
        return f"transform(sequence(0, {MASS_BINS - 1}), i -> {per_bin})"

    def _edges():
        # JVM expression scoring when the method allows (jaccard/lv/...):
        # the exact verifier then runs in whole-stage codegen with ZERO
        # Python workers; the Arrow UDF covers the DP methods.
        refine = None
        if method == "jaccard":
            # score over the PRECOMPUTED distinct-gram arrays on `uniq` —
            # each key's q-gram extraction runs once per key at cache time,
            # not once per candidate pair (a key appears in ~10+ pairs)
            dict_a = uniq.selectExpr("kid", "__fz_gs AS __g1")
            dict_b = uniq.selectExpr("kid AS kid2", "__fz_gs AS __g2")
            inter = "size(array_intersect(__g1, __g2))"
            dist = F.expr(
                "CASE WHEN size(__g1) = 0 AND size(__g2) = 0 THEN 0.0D ELSE 1.0D - "
                f"CAST({inter} AS DOUBLE) / CAST(size(__g1) + size(__g2) - {inter} AS DOUBLE) END"
            )
        elif method in ("qgram", "cosine"):
            # Two-tier per-pair refine before the Arrow scorer. The prefix
            # blocking is lossless but WEAK under hot heavy grams (a shared
            # boilerplate token forces a pair into the candidate set even
            # when its true distance is far past tau) — at the bench corpus
            # 99.9% of cosine candidates fail the threshold. Both tiers run
            # in whole-stage codegen:
            #
            # tier 1 — Bloom AND+popcount (blocking._popcount_cut, the
            #   pairs-stage cut): a true cosine match needs s >= ceil(
            #   t*na*nb / (cmax_a*cmax_b)) shared DISTINCT grams (dot <=
            #   s*cmax_a*cmax_b); a true qgram match needs s >= ceil((n_a
            #   + n_b - tau)/2) (every non-shared distinct gram costs >= 1
            #   of the L1 budget).
            #
            # tier 2 — per-bin mass bound, STRICTLY lossless: cosine
            #   dot(a,b) <= Σ_bins sqrt(qa_i)*sqrt(qb_i) (Cauchy-Schwarz
            #   per bin, qa_i = Σ c²); qgram dist >= Σ_bins |la_i - lb_i|
            #   (triangle inequality, la_i = Σ c). Discriminates while
            #   profile size << MASS_BINS (collision noise adds
            #   ~g²/MASS_BINS); on kilobyte documents it degrades to
            #   pass-through — never wrong, just toothless there.
            if method == "cosine":
                stat = [
                    "sqrt(aggregate(me, 0.0D, (acc, e) -> acc + e.c * e.c)) AS __na",
                    "aggregate(me, 0.0D, (acc, e) -> greatest(acc, e.c)) AS __ca",
                ]
                msig = _mass_sig(2)
            else:
                stat = ["CAST(__fz_n AS DOUBLE) AS __na"]
                msig = _mass_sig(1)
            base = uniq.selectExpr(
                "kid", "key AS __k1", f"{msig} AS __qa", *stat, *B.SIG_COLS
            ).persist()
            _edge_persists.append(base)
            dict_a = base
            ren = {"kid": "kid2", "__k1": "__k2", "__qa": "__qb", "__na": "__nb",
                   "__ca": "__cb", **{s: s + "_2" for s in B.SIG_COLS}}
            dict_b = base.selectExpr(*[f"{c} AS {ren.get(c, c)}" for c in base.columns])
            t = sql_lit(1.0 - max_distance)
            if method == "cosine":
                s_min = f"ceil({t} * __na * __nb / (__ca * __cb) - 1.0E-9D)"
                # strictly-lossless tier 2: dot_ub >= t*na*nb (eps guards
                # ulp-level skew vs the exact scorer; empty profiles score
                # dist 1.0, unreachable at max_distance < 1 — enforced at
                # entry — so (na>0 & nb>0) is a valid prune)
                dot_ub = (
                    "aggregate(zip_with(__qa, __qb, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
                )
                tier2 = f"__na > 0 AND __nb > 0 AND {dot_ub} >= {t} * __na * __nb - 1.0E-9D"
                # explicit empty-profile guard: cmax = 0 would make s_min
                # NaN via 0/0 — those pairs score dist 1.0 (> max_distance,
                # enforced < 1 at entry), so pruning them outright is exact
                tier1 = f"__ca > 0 AND __cb > 0 AND {B._popcount_cut(s_min)}"
            else:
                s_min = f"ceil((__na + __nb - {sql_lit(float(max_distance))}) / 2 - 1.0E-9D)"
                dist_lb = (
                    "aggregate(zip_with(__qa, __qb, (x, y) -> abs(x - y)), 0.0D, "
                    "(acc, v) -> acc + v)"
                )
                tier2 = f"{dist_lb} <= {sql_lit(float(max_distance) + 1e-9)}"
                tier1 = B._popcount_cut(s_min)
            refine = f"({tier1}) AND ({tier2})"
            # ER keys are DOCUMENTS: the JVM profile expressions count
            # each gram via an O(g) array filter => O(g²) per pair,
            # quadratic in document length. The Arrow scorer builds
            # dict profiles in O(g), which wins decisively on long
            # keys (JVM wins only on name-length strings).
            dist = None
        else:
            dict_a = uniq.selectExpr("kid", "key AS __k1")
            dict_b = uniq.selectExpr("kid AS kid2", "key AS __k2")
            dist = jvm_distance_col(method, "__k1", "__k2", max_distance, q=q)
        if dist is None:
            extra = (
                {"prefix_weight": prefix_weight, "max_prefix": max_prefix}
                if method in ("jaro", "jw")
                else {"q": q}
            )
            udf = string_distance_udf(method, max_distance=max_distance, **extra)
            dist = udf("__k1", "__k2")
        n_u, key_bytes, _ = _uniq_stat()
        # the dictionaries carry the key text (or its gram array — same
        # order of magnitude) PLUS the mass-signature arrays (MASS_BINS
        # doubles/key on qgram/cosine), so gate on BYTES as well as rows:
        # a broadcast build funnels the whole dictionary through the
        # driver's task-result path. Past the gate, the dictionaries
        # shuffle-join (measured equal at 32 cores; on a cluster it
        # parallelizes).
        dict_bytes = key_bytes + (
            # msig doubles + Bloom words + per-key stats
            n_u * (MASS_BINS * 8 + B.NSIG * 8 + 48) if refine is not None else 0
        )
        # the broadcast gate derives from the LIVE driver heap (same
        # pattern as cluster.driver_finish_budget): a broadcast build
        # funnels the dictionary through the driver once and pins one
        # built relation per executor, so heap//8 is a conservative
        # budget — a 16 GB bench driver admits ~2 GB (which keeps the
        # 200k-entity er-cosine dictionary on the broadcast + codegen
        # path instead of the chunked refine), while a default 1 GB
        # session stays at the 256 MB constant floor.
        try:
            heap = int(
                spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
            )
        except Exception:
            heap = 0
        # the configured constant stays authoritative as floor AND 8x
        # ceiling (so the =0 test/ops hook still forces the shuffle path)
        gate = min(
            EDGES_DICT_BROADCAST_BYTES * 8,
            max(EDGES_DICT_BROADCAST_BYTES, heap // 8),
        )
        broadcastable = n_u < 5_000_000 and dict_bytes < gate
        if broadcastable:
            dict_a, dict_b = F.broadcast(dict_a), F.broadcast(dict_b)

        def _score(cand):
            out = cand.join(dict_a, "kid").join(dict_b, "kid2")
            if refine is not None:
                # bound filter runs JVM-side BEFORE the Arrow scorer:
                # project the signature payloads away so survivors cross
                # to Python as bare key strings
                out = out.where(refine).select("kid", "kid2", "__k1", "__k2")
            return (
                out.withColumn("dist", dist)
                .where(f"dist <= {sql_lit(max_distance)}")
                .select("kid", "kid2", "dist")
            )

        k_chunks = 1
        if refine is not None and not broadcastable:
            # BOUNDED-WORKING-SET refine (r6): past the broadcast gate, the
            # two shuffle dictionary joins move every candidate row through
            # the kid2 exchange CARRYING side-1's full refine payload
            # (~MASS_BINS*8 + NSIG*8 + stats + key ≈ 1.1 KB/row) — at the
            # 200k-entity er-cosine run that is 284M pairs x ~1.1 KB ≈
            # 300 GB of exchange+sort, which is what actually breached the
            # single-box disk envelope once the r6 pairs stage stopped
            # dying first. Chunk the candidate set by pair hash and refine
            # + score each chunk SEQUENTIALLY (parquet append), so the
            # in-flight exchange working set stays under
            # `edges_chunk_bytes` regardless of candidate volume. Results
            # are a disjoint partition of the same pair set — byte-equal
            # union. On a real cluster the budget models aggregate shuffle
            # disk; size it so k_chunks == 1 when the fleet can hold the
            # exchange.
            n_pairs = runner.metric("pairs", "rows")
            if n_pairs is None:
                sz = B._plan_size_bytes(scored_input)
                # materialized (kid, kid2) pairs ≈ 36 B/row on disk
                n_pairs = (sz // 36) if sz else 0
            per_side = MASS_BINS * 8 + B.NSIG * 8 + 48 + key_bytes // max(n_u, 1)
            est = int(n_pairs) * 2 * per_side
            k_chunks = min(max(1, -(-est // int(edges_chunk_bytes))), 1024)
        record = {
            "method": method, "gate": "edges_dict_broadcast", "keys": n_u,
            "keys_source": "counted", "dict_bytes": dict_bytes, "threshold": gate,
            "route": "broadcast" if broadcastable else "chunked" if k_chunks > 1 else "shuffle",
            "k_chunks": k_chunks,
        }
        _log.debug("er_pipeline edges decision: %s", record, extra={"fz_decision": record})
        if k_chunks > 1:
            tmp = f"{checkpoint_dir.rstrip('/')}/edges_chunks"
            for i in range(k_chunks):
                chunk = scored_input.where(f"pmod(xxhash64(kid, kid2), {k_chunks}) = {i}")
                _score(chunk).write.mode("overwrite" if i == 0 else "append").parquet(tmp)
            _edge_tmpdirs.append(tmp)
            return spark.read.parquet(tmp)
        return _score(scored_input)

    _edge_tmpdirs: list[str] = []
    edges = runner.stage("edges", _edges, params=params, depends_on=refine_dep)
    for f in _edge_persists:  # edges output is parquet-backed now
        f.unpersist()
    _edge_persists.clear()
    if _edge_tmpdirs:
        # the chunked refine's staging dir duplicated the edges bytes on
        # disk for the rest of the run — on exactly the disk-constrained
        # runs the chunking protects; the stage table is committed, so
        # drop it now
        from fozzie_spark.cluster import _rm_path

        for d in _edge_tmpdirs:
            _rm_path(spark, d)
        _edge_tmpdirs.clear()

    # ---- stage 4: transitive clustering over key ids ------------------------
    def _clusters():
        # reliable_cc: CC rounds checkpoint to stage tables under the run's
        # checkpoint dir (executor-loss tolerant); default localCheckpoint
        # is the right trade in local mode
        # driver_finish_bytes raised from the 256MB default: kid nodes are
        # fixed 32-byte struct payloads on the vectorized finish path (no
        # Python-object expansion), so a 512MB edge collect is bounded — and
        # it lets the pre-round plan-stats gate swallow the whole serial-
        # rounds floor for dup graphs up to ~4M edges. Capped by the LIVE
        # spark.driver.maxResultSize (512MB assumed the bench 3g setting;
        # a default-config 1g session gets 512MB//2 so the collect can
        # never abort the job the round loop would have survived).
        from fozzie_spark.cluster import driver_finish_budget

        return connected_components(
            edges,
            src="kid",
            dst="kid2",
            checkpoint_dir=f"{checkpoint_dir.rstrip('/')}/cc_rounds" if reliable_cc else None,
            driver_finish_bytes=driver_finish_budget(spark, cap=512 << 20),
        ).selectExpr("node AS kid", "component AS entity_kid")

    from fozzie_spark.cluster import _persistent_ids, _unpersist_ids

    _before_cc = _persistent_ids(spark)
    clusters = runner.stage("clusters", _clusters, params=params, depends_on=("edges",))
    # the stage output is parquet-backed now — free CC's final-round
    # localCheckpoint blocks (intermediate rounds free themselves)
    _unpersist_ids(spark, _persistent_ids(spark) - _before_cc)

    # ---- stage 5: assign docs, carry spans byte-identical -------------------
    def _entities():
        # the docs side carries the span payloads — by far the heaviest
        # column in the run, and it must never transit a shuffle just to
        # attach an 8-byte entity id. The keys stage is a PURE PROJECTION
        # of docs (kid = key_id(doc_text_key(spans)), deterministic JVM
        # expressions), so recompute the kid map-side on the docs scan and
        # join only the clusters lookup — one join, no doc_id exchange,
        # and the broadcast side is the smallest frame in the run (matched
        # kids only). Measured at 1M entities (local[32], isolated stage
        # harness): the old keys⋈clusters → docs⋈assign shape ran 20.0 s;
        # this shape runs 17.1 s — byte-equal to writing the docs payload
        # with NO join at all, i.e. the stage sits on the box's write
        # floor. Bytes-gated like every other broadcast: at 10^12 docs the
        # clusters stats blow the gate and the join degrades to a shuffle
        # hash join on the 16-byte kid (the spans payload still only
        # shuffles if Catalyst picks the docs side — it broadcasts/builds
        # on the smaller clusters side).
        gate = 256 << 20
        cl = clusters
        csz = B._plan_size_bytes(cl)
        broadcast = csz is not None and csz <= gate
        if broadcast:
            cl = F.broadcast(cl)
        # the input is the optimizer's size estimate of the clusters table
        # (None when unknown), neither a bound nor a count
        record = {"gate": "entities_clusters_broadcast", "clusters_bytes": csz,
                  "bytes_source": "plan_stats", "threshold": gate,
                  "route": "broadcast" if broadcast else "shuffle"}
        _log.debug("er_pipeline entities decision: %s", record, extra={"fz_decision": record})
        return (
            docs.withColumn("__fz_kid", F.expr(key_id(doc_text_key("spans"))))
            .join(cl, F.expr("__fz_kid = kid"), "left")
            .withColumn("entity_id", F.expr(
                "xxhash64(coalesce(entity_kid.h1, __fz_kid.h1), "
                "coalesce(entity_kid.h2, __fz_kid.h2))"
            ))
            .drop("kid", "entity_kid", "__fz_kid")
        )

    entities = runner.stage("entities", _entities, params=params, depends_on=("clusters",))

    # every stage is materialized (checkpointed) by now; the persisted
    # distinct-key frame must not outlive the run in a long-lived session
    uniq.unpersist()

    return {
        "keys": keys,
        "pairs": pairs,
        "edges": edges,
        "clusters": clusters,
        "entities": entities,
        "runner": runner,
    }


def pairwise_f1(entities: DataFrame, truth_col: str = "entity_id", pred_col: str = "pred") -> dict:
    """Pairwise precision/recall/F1 of predicted vs true clusters.

    Counts co-clustered pairs via sum-of-squares per cluster id — no pair
    materialization, three aggregations total.
    """

    def pair_count(df, col):
        return (
            df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.expr("n * (n - 1) / 2")))
            .first()[0]
            or 0
        )

    tp = pair_count(
        entities.select(F.concat_ws("|", F.col(truth_col), F.col(pred_col)).alias("both")), "both"
    )
    true_pairs = pair_count(entities, truth_col)
    pred_pairs = pair_count(entities, pred_col)
    precision = tp / pred_pairs if pred_pairs else 1.0
    recall = tp / true_pairs if true_pairs else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "true_pairs": int(true_pairs),
        "pred_pairs": int(pred_pairs),
        "tp": int(tp),
    }
