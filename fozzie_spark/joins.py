"""Public fuzzy-join API — the Spark-native equivalent of the reference's
8 join families x 6 modes (SURVEY.md §2.1).

Every join follows the same distributed shape:

    distinct key tuples -> blocking (equi-join on generated block keys)
    -> pairwise scoring (JVM exprs, or Arrow pandas UDFs for string DPs)
    -> threshold filter -> match-pair IR -> join-mode materialization.

Deduplication on key values before pairing mirrors the reference's central
optimization (src/rust/src/utils.rs:7-20) and is a large win whenever key
cardinality << row count; re-expansion to rows is an equi-join, which
Catalyst executes as shuffled-hash/broadcast joins with AQE skew handling.
"""

from __future__ import annotations

import logging
import threading

import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, functions as F

from fozzie_spark import blocking
from fozzie_spark.distances import EDIT_METHODS, METHODS, NGRAM_METHODS
from fozzie_spark.merge import materialize
from fozzie_spark.scoring import score_string_pairs, string_distance_udf
from fozzie_spark.util import F64_EPS, normalize_by, sql_ident, sql_lit

_log = logging.getLogger("fozzie_spark.joins")

_NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")

_UNIT_MULTIPLIERS = {  # ref: R/fozzie_temporal_join.R:92-97 (POSIXct base = seconds)
    "ns": 1e-9,
    "us": 1e-6,
    "ms": 1e-3,
    "seconds": 1.0,
    "minutes": 60.0,
    "hours": 3600.0,
    "days": 86400.0,
}


def _key_frames(left: DataFrame, right: DataFrame, by_pairs):
    """Distinct all-non-null key tuples per side, renamed to internal names.

    NULL on any join key never matches (README.md:214; levenshtein.rs:23-25),
    so null-key tuples are dropped here; unmatched rows still surface in
    left/right/full/anti modes via the materializer.
    """
    def _keys(df: DataFrame, cols: list[str], prefix: str) -> DataFrame:
        return df.selectExpr(
            *[f"{sql_ident(c)} AS {prefix}{i}" for i, c in enumerate(cols)]
        ).na.drop("any").distinct()

    return (_keys(left, [lc for lc, _ in by_pairs], "__fz_l"),
            _keys(right, [rc for _, rc in by_pairs], "__fz_r"))


def _expand_tuples(cand: DataFrame, lkeys: DataFrame, rkeys: DataFrame, k: int) -> DataFrame:
    """First-key candidate pairs -> full key-tuple pairs."""
    if k == 1:
        return cand
    return cand.join(lkeys, "__fz_l0").join(rkeys, "__fz_r0")


def _dist_names(distance_col, by_pairs) -> list[str]:
    """Single key keeps the bare name; multi-key uses
    {distance_col}_{leftcol}_{rightcol} (merge/mod.rs:95-120)."""
    if distance_col is None:
        return []
    if len(by_pairs) == 1:
        return [distance_col]
    return [f"{distance_col}_{lc}_{rc}" for lc, rc in by_pairs]


def _finalize(matches, internal_dists, dist_names):
    if dist_names:
        for tmp, final in zip(internal_dists, dist_names):
            matches = matches.withColumnRenamed(tmp, final)
    else:
        matches = matches.drop(*internal_dists)
    return matches


def _check_dtype(df: DataFrame, col: str, allowed: tuple[str, ...], side: str):
    dt = dict(df.dtypes)[col]
    if not any(dt.startswith(a) for a in allowed):
        raise TypeError(f"{side} join column {col!r} has type {dt}; expected one of {allowed}")


# ---------------------------------------------------------------------------
# string join
# ---------------------------------------------------------------------------


def fuzzy_string_join(
    left: DataFrame,
    right: DataFrame,
    by=None,
    method: str = "osa",
    how: str = "inner",
    max_distance: float = 2.0,
    q: int = 2,
    distance_col: str | None = None,
    max_prefix: int = 0,
    prefix_weight: float = 0.0,
    suffixes: tuple[str, str] = (".x", ".y"),
    prefix_mode: str = "auto",
) -> DataFrame:
    """Fuzzy string join — Spark equivalent of fozzie_string_join
    (R/fozzie_string_join.R:59-77). Defaults mirror the reference
    (method="osa", max_distance=2, q=2, max_prefix=0, prefix_weight=0).

    Multi-key: candidates are generated on the FIRST key only, then every
    key is scored with the same method/threshold and all must pass
    (string/mod.rs:82-127).

    `prefix_mode` ('auto' | 'prefix' | 'simple'): physical strategy for the
    gram-index blocking stage. 'prefix' runs the hot-gram-proof
    Ed-Join/PPJoin/AllPairs prefix filters (the 100-TB plan); 'simple' runs
    the share-any-gram join with an exact integer verify (fastest on small
    inputs); 'auto' routes by combined distinct-key count
    (blocking.prefix_gate: 'simple' below 50k keys). Whatever the mode,
    inputs of at most 1k combined distinct keys take the scored cross
    product instead (blocking.tiny_cross_gate). The candidate sets differ
    between routes; the match results are identical.

    Each call logs one decision record at DEBUG on logger
    "fozzie_spark.joins" (the deciding gate, the key count it measured,
    its threshold and the chosen route, also as `record.fz_decision`),
    and a second one carrying the observed `raw_candidates` once the
    returned frame's first action has run.
    """
    if method not in METHODS:
        raise ValueError(f"unknown method {method!r}")
    by_pairs = normalize_by(left, right, by)
    for lc, rc in by_pairs:
        _check_dtype(left, lc, ("string",), "left")
        _check_dtype(right, rc, ("string",), "right")

    lkeys, rkeys = _key_frames(left, right, by_pairs)
    # the candidate builders reference the distinct-key frames from several
    # branches (length band + gram paths, expansion); the distinct's shuffle
    # exchange canonicalizes identically across branches, so Catalyst's
    # ReuseExchange computes it once per action — no persist (and no cache
    # left behind after the join; measured equal to the persist variant)
    l0 = lkeys.select("__fz_l0").distinct()
    r0 = rkeys.select("__fz_r0").distinct()

    # tiny-input cross route: when both sides' combined distinct keys fit
    # the gate (plan-stats-first, one memoized count otherwise), the
    # scored cross product is the cheapest physical plan — the blocking
    # machinery's dozen-plus stages cost multiples of the whole query on
    # small inputs (measured: 64-name lv join 8.8 s cold via the gram
    # index vs 1.6 s via this route). Matches are identical: candidates
    # are a superset and every scorer is exact. The one EXCEPTION is the
    # reference's jaccard-at-tau>=1 emission quirk — pairs with NO shared
    # gram sit at distance exactly 1.0 and are NOT emitted, a property of
    # the share-a-gram index itself — so that combination keeps its
    # blocking path.
    if method == "jaccard" and max_distance >= 1:
        decision = {"gate": None, "keys": None, "plan_bytes": None, "threshold": None,
                    "route": "share_any_gram"}
    else:
        decision = blocking.tiny_cross_gate(l0, r0)
    if (
        decision["route"] != "tiny_cross"
        and prefix_mode == "auto"
        and _prefix_gated(method, max_distance)
    ):
        decision = blocking.prefix_gate(l0, r0)
        prefix_mode = "prefix" if decision["route"] == "prefix" else "simple"
    if decision["route"] == "tiny_cross":
        cand = l0.crossJoin(r0)
    elif method in EDIT_METHODS:
        cand = blocking.edit_candidates(
            l0, r0, "__fz_l0", "__fz_r0", max_distance, method=method, q=q,
            prefix_mode=prefix_mode,
        )
    elif method in NGRAM_METHODS:
        cand = blocking.ngram_candidates(
            l0, r0, "__fz_l0", "__fz_r0", method, max_distance, q, prefix_mode=prefix_mode
        )
    elif method == "soundex":
        cand = _soundex_candidates(l0, r0)
    else:  # jaro / jw: prefix-filtered char-token index (cross join only
        # when the count bound is vacuous: tau >= 2/3 or negative weight)
        cand = blocking.jaro_candidates(
            l0, r0, "__fz_l0", "__fz_r0", max_distance, prefix_weight=prefix_weight
        )

    # end of blocking: every scorer below runs once per DISTINCT candidate.
    # The scoring filters are deterministic and read only the key columns,
    # so without this CollectMetrics node Catalyst pushes them below the
    # builders' dedup and into the raw gram-join condition (one exact
    # score per raw join row); it does not push filters through it. The
    # q-gram scorers are interpreted lambda stacks, so scoring every raw
    # join row dominated those joins; lv's banded levenshtein is cheap and
    # used to prune the raw join, so lv's count aggregate now sees every
    # raw row instead.
    obs = Observation()
    cand = cand.observe(obs, F.expr("count(1) AS raw_candidates"))
    if _log.isEnabledFor(logging.DEBUG):
        record = {"method": method, **decision, "prefix_mode": prefix_mode}
        _log.debug("fuzzy_string_join decision: %s", record, extra={"fz_decision": record})
        # the count exists only once the caller's first action has run
        threading.Thread(target=_log_observed, args=(obs, record), daemon=True).start()

    pairs = _expand_tuples(cand, lkeys, rkeys, len(by_pairs))
    col_pairs = [(f"__fz_l{i}", f"__fz_r{i}") for i in range(len(by_pairs))]
    internal = [f"__fz_D{i}" for i in range(len(by_pairs))]
    matches = score_string_pairs(
        pairs,
        col_pairs,
        method,
        max_distance,
        internal,
        q=q,
        max_prefix=max_prefix,
        prefix_weight=prefix_weight,
    )
    dist_names = _dist_names(distance_col, by_pairs)
    matches = _finalize(matches, internal, dist_names)
    return materialize(left, right, by_pairs, matches, how, dist_names, suffixes)


def _prefix_gated(method: str, max_distance: float) -> bool:
    """True iff the method's candidate builder runs a gram index whose
    physical plan `prefix_mode` picks (the prefix_auto gate applies)."""
    if method in EDIT_METHODS:
        return method != "hamming"
    # jaccard at tau >= 1 always takes the share-any-gram join; cosine at
    # tau >= 1 is the cross join
    return method == "qgram" or (method in NGRAM_METHODS and max_distance < 1)


def _log_observed(obs: Observation, record: dict) -> None:
    """Log `record` again with the observed raw candidate count. Blocks
    until the observed frame's first action has finished; a frame that
    never runs (or whose empty candidate subtree AQE prunes) leaves its
    daemon thread waiting until the session stops or the process exits."""
    try:
        record = {**record, "raw_candidates": obs.get["raw_candidates"]}
    except Py4JError:
        _log.debug("fuzzy_string_join: no observed count for %s", record, exc_info=True)
        return
    _log.debug("fuzzy_string_join observed: %s", record, extra={"fz_decision": record})


def _make_directional(base, how):
    import functools

    @functools.wraps(base)
    def wrapper(left, right, by=None, **kw):
        kw.pop("how", None)
        return base(left, right, by=by, how=how, **kw)

    wrapper.__name__ = f"{base.__name__}_{how}"
    wrapper.__doc__ = f"{base.__name__} with how={how!r} (reference-style directional wrapper)."
    return wrapper


#: reference-style directional wrappers: fuzzy_string_inner_join(...) etc.
#: (mirrors R/fozzie_string_join.R:82-227 and siblings)
def _install_directional():
    g = globals()
    for base_name in (
        "fuzzy_string_join",
        "difference_join",
        "distance_join",
        "interval_join",
        "regex_join",
        "temporal_join",
        "temporal_interval_join",
    ):
        for how in ("inner", "left", "right", "full", "semi", "anti"):
            stem = base_name[: -len("_join")]
            g[f"{stem}_{how}_join"] = _make_directional(g[base_name], how)


def soundex_codes(df: DataFrame, key: str, primary: str, alt: str) -> DataFrame:
    """(key, primary, alt) dual NA-soundex codes, one Arrow batch pass.

    Codes are packed "PRIMARY|ALT" in one string and split JVM-side because
    struct returns from scalar pandas UDFs are not supported in this
    PySpark build. ref: src/rust/src/string/soundex.rs:153-206.
    """
    from fozzie_spark.distances import soundex_dual

    def _codes(s: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if x is None else "|".join(v if v is not None else "" for v in soundex_dual(x))
                for x in s
            ]
        )

    codes_udf = F.pandas_udf(_codes, "string")
    packed = F.split(codes_udf(F.col(key)), r"\|")
    return df.select(
        key,
        packed.getItem(0).alias(primary),
        F.nullif(packed.getItem(1), F.lit("")).alias(alt),
    )


def _soundex_candidates(l0: DataFrame, r0: DataFrame) -> DataFrame:
    """Equality blocking on dual soundex codes; a pair is a candidate (and a
    match — distance is always 0) iff any of the 4 primary/alt code
    combinations agree (soundex.rs:49-53). Each side explodes its non-null
    {primary, alt} codes into (key, code) rows, so ONE equi-join on the code
    covers all 4 combinations — the encoder UDF appears once per side in the
    plan and nothing needs to be persisted (no cache left behind)."""
    lc = soundex_codes(l0, "__fz_l0", "__fz_pl", "__fz_al")
    rc = soundex_codes(r0, "__fz_r0", "__fz_pr", "__fz_ar")
    lx = lc.select(
        "__fz_l0",
        F.explode(F.array_compact(F.array("__fz_pl", "__fz_al"))).alias("__fz_code"),
    )
    rx = rc.select(
        "__fz_r0",
        F.explode(F.array_compact(F.array("__fz_pr", "__fz_ar"))).alias("__fz_code"),
    )
    return lx.join(rx, "__fz_code").select("__fz_l0", "__fz_r0").distinct()


# ---------------------------------------------------------------------------
# difference join (1-D banded) + temporal wrapper
# ---------------------------------------------------------------------------


def difference_join(
    left: DataFrame,
    right: DataFrame,
    by=None,
    how: str = "inner",
    max_distance: float = 1.0,
    distance_col: str | None = None,
    suffixes: tuple[str, str] = (".x", ".y"),
    _exclude: tuple[str, ...] = (),
    _dist_name_pairs=None,
) -> DataFrame:
    """|x - y| <= max_distance + f64 eps (difference/mod.rs:28).

    Blocking: numeric banding, bucket = floor(x/tau) with +-1 probes
    (difference/mod.rs:19-43). Multi-key: candidates on the first key, each
    key filtered with the same threshold (lib.rs:84-129).
    """
    by_pairs = normalize_by(left, right, by)
    for lc, rc in by_pairs:
        _check_dtype(left, lc, _NUMERIC_TYPES, "left")
        _check_dtype(right, rc, _NUMERIC_TYPES, "right")

    lkeys, rkeys = _key_frames(left, right, by_pairs)
    cand = blocking.band_candidates(
        lkeys.select("__fz_l0").distinct(),
        rkeys.select("__fz_r0").distinct(),
        "__fz_l0",
        "__fz_r0",
        max_distance,
    )
    pairs = _expand_tuples(cand, lkeys, rkeys, len(by_pairs))
    internal = []
    tau = float(max_distance) + F64_EPS
    for i in range(len(by_pairs)):
        d = f"__fz_D{i}"
        pairs = pairs.withColumn(
            d, F.expr(f"abs(CAST(__fz_l{i} AS DOUBLE) - CAST(__fz_r{i} AS DOUBLE))")
        ).where(f"{d} <= {sql_lit(tau)}")
        internal.append(d)

    name_pairs = _dist_name_pairs or by_pairs
    dist_names = _dist_names(distance_col, name_pairs)
    matches = _finalize(pairs, internal, dist_names)
    return materialize(left, right, by_pairs, matches, how, dist_names, suffixes, exclude=_exclude)


def _temporal_to_numeric(df: DataFrame, col: str, tmp: str) -> tuple[DataFrame, str]:
    """Date -> days since epoch; timestamp -> epoch seconds (fractional).
    Returns (df_with_tmp_col, kind)."""
    dt = dict(df.dtypes)[col]
    if dt == "date":
        return df.withColumn(tmp, F.datediff(F.col(col), F.lit("1970-01-01")).cast("double")), "date"
    if dt.startswith("timestamp"):
        # TIMESTAMP_NTZ cannot cast to double directly; route via ltz
        # (deterministic under an explicitly-set session time zone)
        return (
            df.withColumn(tmp, F.col(col).cast("timestamp_ltz").cast("double")),
            "timestamp",
        )
    raise TypeError(f"column {col!r} must be date or timestamp, got {dt}")


def temporal_join(
    left: DataFrame,
    right: DataFrame,
    by=None,
    how: str = "inner",
    max_distance: float = 1.0,
    unit: str = "days",
    distance_col: str | None = None,
    suffixes: tuple[str, str] = (".x", ".y"),
) -> DataFrame:
    """Temporal difference join (R/fozzie_temporal_join.R:44-110): Date
    columns compare in days (unit must be 'days'); timestamps compare in
    seconds with the unit multiplier applied to max_distance."""
    if unit not in _UNIT_MULTIPLIERS:
        raise ValueError(f"unknown unit {unit!r}")
    by_pairs = normalize_by(left, right, by)
    l2, r2, kinds = left, right, set()
    tmp_pairs = []
    for i, (lc, rc) in enumerate(by_pairs):
        l2, kl = _temporal_to_numeric(l2, lc, f"__fz_tl{i}")
        r2, kr = _temporal_to_numeric(r2, rc, f"__fz_tr{i}")
        if kl != kr:
            raise TypeError("join columns must be all Date or all POSIXct across both frames")
        kinds.update((kl, kr))
        tmp_pairs.append((f"__fz_tl{i}", f"__fz_tr{i}"))
    if len(kinds) > 1:
        raise TypeError("join columns must be all Date or all timestamp")
    kind = kinds.pop()
    if kind == "date":
        if unit != "days":
            raise ValueError("When joining on Date columns, unit must be 'days'.")
        tau = float(max_distance)
    else:
        tau = float(max_distance) * _UNIT_MULTIPLIERS[unit]
    return difference_join(
        l2,
        r2,
        by=dict(tmp_pairs),
        how=how,
        max_distance=tau,
        distance_col=distance_col,
        suffixes=suffixes,
        _exclude=tuple(c for p in tmp_pairs for c in p),
        _dist_name_pairs=by_pairs,
    )


# ---------------------------------------------------------------------------
# k-D distance join
# ---------------------------------------------------------------------------


def distance_join(
    left: DataFrame,
    right: DataFrame,
    by=None,
    how: str = "inner",
    method: str = "euclidean",
    max_distance: float = 1.0,
    distance_col: str | None = None,
    suffixes: tuple[str, str] = (".x", ".y"),
) -> DataFrame:
    """Multi-column vector-distance join (manhattan/euclidean over the k
    join-column pairs, distance/mod.rs:23-140). Grid-cell blocking replaces
    the reference's O(n*m) nested loop. Rows with NULL in any join column
    never match. Emits ONE distance column (the k-D metric)."""
    if method not in ("euclidean", "manhattan"):
        raise ValueError(f"unknown distance method {method!r}")
    by_pairs = normalize_by(left, right, by)
    for lc, rc in by_pairs:
        _check_dtype(left, lc, _NUMERIC_TYPES, "left")
        _check_dtype(right, rc, _NUMERIC_TYPES, "right")

    lkeys, rkeys = _key_frames(left, right, by_pairs)
    lcols = [f"__fz_l{i}" for i in range(len(by_pairs))]
    rcols = [f"__fz_r{i}" for i in range(len(by_pairs))]
    pairs = blocking.grid_candidates(lkeys, rkeys, lcols, rcols, max_distance)

    if method == "manhattan":
        dist = sum(
            (F.abs(F.col(l).cast("double") - F.col(r).cast("double")) for l, r in zip(lcols, rcols)),
            F.lit(0.0),
        )
    else:
        dist = F.sqrt(
            sum(
                (
                    F.pow(F.col(l).cast("double") - F.col(r).cast("double"), 2)
                    for l, r in zip(lcols, rcols)
                ),
                F.lit(0.0),
            )
        )
    pairs = pairs.withColumn("__fz_D0", dist).filter(F.col("__fz_D0") <= float(max_distance))
    dist_names = [distance_col] if distance_col else []
    matches = (
        pairs.withColumnRenamed("__fz_D0", distance_col) if distance_col else pairs.drop("__fz_D0")
    )
    return materialize(left, right, by_pairs, matches, how, dist_names, suffixes)


# ---------------------------------------------------------------------------
# interval joins
# ---------------------------------------------------------------------------


def _interval_bin_width(lkeys: DataFrame, rkeys: DataFrame, maxgap: float) -> float:
    """Data-derived bin width for interval blocking, robust to length skew.

    Width = p95 interval length (+ maxgap + 1), NOT the max: one
    pathological long interval (a year-long range in a table of minutes)
    must not inflate every bin — the blocking stays correct for ANY width
    because long intervals simply explode over multiple bins
    (blocking.interval_bin_candidates). The long tail's explosion is capped
    at ~4096 bins per interval by flooring the width at max_len/4096.
    ONE aggregation job over the union of both sides' lengths (the previous
    two per-side .first() probes fused)."""
    lengths = (
        lkeys.select((F.col("__fz_l1") - F.col("__fz_l0")).cast("double").alias("__fz_len"))
        .unionByName(
            rkeys.select((F.col("__fz_r1") - F.col("__fz_r0")).cast("double").alias("__fz_len"))
        )
    )
    row = lengths.agg(
        F.percentile_approx("__fz_len", 0.95).alias("p95"),
        F.max("__fz_len").alias("mx"),
    ).first()
    p95 = row["p95"] if row and row["p95"] is not None else 1.0
    mx = row["mx"] if row and row["mx"] is not None else 1.0
    width = float(p95) + float(max(maxgap, 0)) + 1.0
    return max(width, float(mx) / 4096.0)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    by=None,
    how: str = "inner",
    overlap_type: str = "any",
    maxgap: float = 0.0,
    minoverlap: float = 0.0,
    interval_mode: str = "auto",
    suffixes: tuple[str, str] = (".x", ".y"),
    bin_width: float | None = None,
    validate: bool = True,
) -> DataFrame:
    """Interval overlap join (R/fozzie_interval_join.R:47-83).

    `by` must contain exactly two entries: (start, end). Auto mode picks
    integer semantics iff all four columns are integral (lines 60-70).
    Invalid intervals (start > end) raise at execution time, mirroring the
    reference's eager validation (interval/real.rs:47-63); pass
    validate=False to skip the check.

    Integer mode (IRanges-like, interval/integer.rs:106-129):
        gap = rs-le-1 | ls-re-1 | 0;  overlap = min(e)-max(s)+1
    Real mode (interval/real.rs:97-116):
        gap = rs-le | ls-re | 0;      overlap = max(0, min(e)-max(s))
    Keep iff gap <= maxgap AND overlap >= minoverlap AND overlap_type
    predicate (any / within / start / end, each maxgap-tolerant).

    Blocking: fixed-width overlap bins on the number line (equi-join),
    replacing the reference's single-machine interval tree. `bin_width`
    defaults to a data-derived width (max interval length + maxgap + 1).
    """
    if overlap_type not in ("any", "within", "start", "end"):
        raise ValueError(f"unknown overlap_type {overlap_type!r}")
    by_pairs = normalize_by(left, right, by)
    if len(by_pairs) != 2:
        raise ValueError("interval join requires exactly 2 `by` entries (start, end)")

    int_types = ("tinyint", "smallint", "int", "bigint")
    all_int = all(
        dict(left.dtypes)[lc] in int_types and dict(right.dtypes)[rc] in int_types
        for lc, rc in by_pairs
    )
    if interval_mode == "auto":
        interval_mode = "integer" if all_int else "real"
    if interval_mode not in ("integer", "real"):
        raise ValueError(f"unknown interval_mode {interval_mode!r}")

    lkeys, rkeys = _key_frames(left, right, by_pairs)

    if validate:
        # assert_true raises (SparkRuntimeException) on the first invalid
        # interval, like the reference (interval/real.rs:47-63); the filter
        # wrapper forces per-row evaluation without changing the row set
        def _checked(keys, s_col, e_col, side):
            ok = F.assert_true(
                F.col(s_col) <= F.col(e_col),
                F.lit(f"interval_join: {side} interval with start > end"),
            )
            return keys.filter(ok.isNull())

        lkeys = _checked(lkeys, "__fz_l0", "__fz_l1", "left")
        rkeys = _checked(rkeys, "__fz_r0", "__fz_r1", "right")

    if bin_width is None:
        bin_width = _interval_bin_width(lkeys, rkeys, maxgap)

    pairs = blocking.interval_bin_candidates(
        lkeys, rkeys, ("__fz_l0", "__fz_l1"), ("__fz_r0", "__fz_r1"), maxgap, bin_width
    )

    ls, le_, rs, re_ = (F.col(c) for c in ("__fz_l0", "__fz_l1", "__fz_r0", "__fz_r1"))
    g = F.lit(float(maxgap) if interval_mode == "real" else int(maxgap))
    if interval_mode == "integer":
        gap = F.when(le_ < rs, rs - le_ - 1).when(re_ < ls, ls - re_ - 1).otherwise(F.lit(0))
        overlap = F.greatest(F.least(le_, re_) - F.greatest(ls, rs) + 1, F.lit(0))
    else:
        gap = F.when(le_ < rs, rs - le_).when(re_ < ls, ls - re_).otherwise(F.lit(0.0))
        overlap = F.greatest(F.least(le_, re_) - F.greatest(ls, rs), F.lit(0.0))

    pred = (gap <= g) & (overlap >= F.lit(minoverlap))
    if overlap_type == "within":
        pred = pred & (ls >= rs - g) & (le_ <= re_ + g)
    elif overlap_type == "start":
        pred = pred & (F.abs(ls - rs) <= g)
    elif overlap_type == "end":
        pred = pred & (F.abs(le_ - re_) <= g)

    matches = pairs.filter(pred)
    return materialize(left, right, by_pairs, matches, how, [], suffixes)


def temporal_interval_join(
    left: DataFrame,
    right: DataFrame,
    by=None,
    how: str = "inner",
    overlap_type: str = "any",
    maxgap: float = 0.0,
    minoverlap: float = 0.0,
    unit: str = "days",
    suffixes: tuple[str, str] = (".x", ".y"),
) -> DataFrame:
    """Interval join over Date/timestamp ranges
    (R/fozzie_temporal_interval_join.R:54-121): converts to days (Date,
    unit must be 'days') or seconds (timestamp, unit multiplier applied to
    maxgap/minoverlap) and runs the REAL-mode interval join."""
    if unit not in _UNIT_MULTIPLIERS:
        raise ValueError(f"unknown unit {unit!r}")
    by_pairs = normalize_by(left, right, by)
    if len(by_pairs) != 2:
        raise ValueError("temporal interval join requires exactly 2 `by` entries")
    l2, r2, kinds = left, right, set()
    tmp_pairs = []
    for i, (lc, rc) in enumerate(by_pairs):
        l2, kl = _temporal_to_numeric(l2, lc, f"__fz_tl{i}")
        r2, kr = _temporal_to_numeric(r2, rc, f"__fz_tr{i}")
        kinds.update((kl, kr))
        tmp_pairs.append((f"__fz_tl{i}", f"__fz_tr{i}"))
    if len(kinds) > 1:
        raise TypeError("join columns must be all Date or all timestamp")
    if kinds.pop() == "date":
        if unit != "days":
            raise ValueError("When joining on Date columns, unit must be 'days'.")
        g, mo = float(maxgap), float(minoverlap)
    else:
        g = float(maxgap) * _UNIT_MULTIPLIERS[unit]
        mo = float(minoverlap) * _UNIT_MULTIPLIERS[unit]

    # run real-mode interval machinery on the converted temp columns, then
    # drop them from the materialized output
    out = interval_join(
        l2,
        r2,
        by=dict(tmp_pairs),
        how=how,
        overlap_type=overlap_type,
        maxgap=g,
        minoverlap=mo,
        interval_mode="real",
        suffixes=suffixes,
    )
    drop = [c + s for c in ("__fz_tl0", "__fz_tl1", "__fz_tr0", "__fz_tr1") for s in ("", *suffixes)]
    return out.drop(*[c for c in drop if c in out.columns])


# ---------------------------------------------------------------------------
# regex join
# ---------------------------------------------------------------------------


def regex_join(
    left: DataFrame,
    right: DataFrame,
    by=None,
    how: str = "inner",
    ignore_case: bool = False,
    suffixes: tuple[str, str] = (".x", ".y"),
) -> DataFrame:
    """Left VALUES matched against right PATTERNS (unanchored find, like the
    reference's RegexSet usage, src/rust/src/regex/mod.rs:14-31).

    The (small) distinct-pattern side is broadcast and matching runs
    JVM-side via regexp_like — no Python in the loop. Multi-key joins score
    every key as value-matches-pattern; we deliberately do NOT replicate
    the reference's reversed value/pattern quirk on keys 2+ (SURVEY.md §2.5).
    """
    by_pairs = normalize_by(left, right, by)
    for lc, rc in by_pairs:
        _check_dtype(left, lc, ("string",), "left")
        _check_dtype(right, rc, ("string",), "right")

    lkeys, rkeys = _key_frames(left, right, by_pairs)
    pairs = lkeys.join(F.broadcast(rkeys))
    for i in range(len(by_pairs)):
        pat = F.col(f"__fz_r{i}")
        if ignore_case:
            pat = F.concat(F.lit("(?i)"), pat)
        pairs = pairs.filter(F.regexp_like(F.col(f"__fz_l{i}"), pat))
    return materialize(left, right, by_pairs, pairs, how, [], suffixes)


_install_directional()
