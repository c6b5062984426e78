"""Similarity search over embedding columns (array<float>).

- brute-force cosine threshold/top-k: JVM-side dot products via the SQL
  zip_with + aggregate functions — correct baseline, O(n*m) but fully
  distributed and codegen'd; right answer for re-ranking and small probes.
- LSH (random hyperplane) bucketing: the scale path — signature via one
  vectorized NumPy matmul in a pandas UDF, candidates from equi-joins on
  signature bands, exact cosine verification on candidates only.
- IVF (coarse quantizer) bucketing: candidates from an equi-join on cells.

The bucketed paths (LSH pairs, LSH top-k, IVF top-k) build candidates as
ID PAIRS: each input's signature (or cell) UDF runs once, a banded row is
(id, sig, band, bh) with no vector, and a colliding pair is emitted only
at its FIRST COMMON BAND — the lowest band b with
shiftright(s1 ^ s2, b*r) & mask = 0 — so every pair appears exactly once
and no candidate distinct is needed. The vectors and their norms are then
attached once per side, by id, for the exact cosine verify (`_with_cosine`).

The exact paths (`cosine_topk` and `cosine_pairs` with strategy
"exact") score every pair in a broadcast nested-loop join. When every
broadcast side fits Spark's own broadcast budget
(`spark.sql.autoBroadcastJoinThreshold`), they take a RANGE-SLICED plan
that moves no vector through a shuffle: `spark.range(0, P, 1, P)`
(P = defaultParallelism) supplies P partitions without an exchange; the
probes (or the left side of the pairs) are broadcast and joined to it on
pmod(xxhash64(id), P) = slice; the other side is broadcast into the
nested-loop join. Each task then owns whole queries, so a top-k's partial
window already holds its final rows. The gate (`_sliced_fits`) prices
each side as an upper bound on its real payload: rows (the plan rowCount,
else sizeInBytes / Catalyst's default row width, which prices an array at
its element's width) x the bytes per vector row. The vector width comes
from the auto route's one-row probe (under strategy="exact", from one
such probe of its own).
A budget <= 0, unknown plan stats or a side over budget keep the spread
plan (`_spread_small`). The expressions are the same in both plans, so the
cosines are bit-identical.

A row whose vector is NULL has no cosine to anything, so it matches
nothing in every strategy: each path filters `v IS NOT NULL` (and a NULL
id, which names no pair) before any UDF or join (`_vectors`).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from fozzie_spark.util import sql_ident, sql_lit

_log = logging.getLogger("fozzie_spark.ann")

#: memoized routing counts and probed vector widths, keyed by (plan
#: semanticHash, plan sizeInBytes[, column]): the size component is the
#: freshness signal — overwriting the same external path in place changes
#: sizeInBytes, so a stale count can no longer flip exact<->LSH routing
#: silently.
_COUNT_CACHE: dict[tuple, int] = {}
_DIM_CACHE: dict[tuple, int | None] = {}
_COUNT_CACHE_MAX = 4096


def _memoized(cache: dict, df: DataFrame, compute, *key_extra):
    """`compute()`, memoized in `cache` per (plan of `df`, its
    sizeInBytes, *key_extra); computed every time when the plan has no
    semantic hash."""
    from fozzie_spark.blocking import _plan_size_bytes

    try:
        key = (df.semanticHash(), _plan_size_bytes(df), *key_extra)
    except Exception:
        return compute()
    if key not in cache:
        if len(cache) >= _COUNT_CACHE_MAX:
            cache.clear()
        cache[key] = compute()
    return cache[key]


def _row_bounds(df: DataFrame, row_bytes: int | None = None) -> tuple[float, float] | None:
    """(lower, upper) bounds on the rows of `df` from optimizer statistics,
    without a job; None when the plan cannot bound them. A plan rowCount
    (CBO, analyzed tables, LocalRelation) bounds both ways. Otherwise, with
    the schema-derived `row_bytes` of a vector frame, sizeInBytes bounds
    both ways: Catalyst prices an array column at its element's default
    width (8 bytes for array<double>), never more than the stored vector,
    so sizeInBytes / Catalyst's default row width is an UPPER bound, and
    sizeInBytes / `row_bytes` a LOWER bound (a computed array priced at
    its default width undercounts the rows badly when divided by the real
    row bytes). Without `row_bytes` the frame is not known to carry wide
    vectors, so bytes bound nothing."""
    from fozzie_spark.blocking import _UNKNOWN_SIZE

    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        stats = plan.stats()
        rc = stats.rowCount()
        if rc.isDefined():
            n = int(rc.get().longValue())
            return n, n
        sz = int(stats.sizeInBytes())
        if not row_bytes or sz >= _UNKNOWN_SIZE:
            return None
        # EstimationUtils.getSizePerRow without column stats
        return sz / row_bytes, sz / (8 + plan.schema().defaultSize())
    except Exception:
        return None


def _vec_dim(df: DataFrame, vec_col: str) -> int | None:
    """Width of the vectors of `df`, probed from ONE non-null row (a
    single-partition job, orders cheaper than a count, memoized per plan);
    None when `df` has no non-null vector."""
    def probe():
        r = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
        return None if r is None else len(r[0])

    return _memoized(_DIM_CACHE, df, probe, vec_col)


def _row_bytes(df: DataFrame, vec_col: str, dim: int) -> int:
    """Bytes/row of an embedding frame whose vectors have `dim` elements:
    the vector payload (dim x element width from the schema) plus an
    id/overhead pad."""
    from pyspark.sql.types import ArrayType, FloatType

    t = df.schema[vec_col].dataType
    elem = 4 if isinstance(t, ArrayType) and isinstance(t.elementType, FloatType) else 8
    return dim * elem + 16


def _vec_row_bytes(df: DataFrame, vec_col: str) -> tuple[int | None, bool]:
    """(row_bytes, is_empty) of an embedding frame, its dim probed by
    `_vec_dim`; is_empty short-circuits routing (a side with no non-null
    vectors produces no pairs under any strategy, so it never exceeds any
    threshold)."""
    try:
        dim = _vec_dim(df, vec_col)
    except Exception:
        return None, False
    return (None, True) if dim is None else (_row_bytes(df, vec_col, dim), False)


def _exceeds_rows(df: DataFrame, threshold: int, row_bytes: int | None = None) -> bool:
    """True iff `df` has more than `threshold` rows — resolved WITHOUT an
    eager count whenever the plan's row bounds (`_row_bounds`) settle it:
    "below" only on the upper bound, "above" only on the lower bound. The
    bytes bounds need the caller's schema-derived `row_bytes`: a generic
    bytes/row guess misroutes wide rows (256+-dim float64 embeddings) to
    approximate LSH, a silent results change. Plans the bounds leave
    undecided pay a count job, memoized per (plan, sizeInBytes)."""
    bounds = _row_bounds(df, row_bytes)
    if bounds is not None:
        lo, hi = bounds
        if hi <= threshold or lo > threshold:
            _log.info(
                "_exceeds_rows: plan rows in [%.0f, %.0f] vs threshold=%d (row_bytes=%s)",
                lo, hi, threshold, row_bytes,
            )
            return lo > threshold
    n = _memoized(_COUNT_CACHE, df, df.count)
    _log.info("_exceeds_rows: counted rows=%d vs threshold=%d", n, threshold)
    return n > threshold


def _dot(a: str, b: str) -> str:
    """SQL text: dot product of the vector columns `a`, `b`."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _norm(a: str) -> str:
    """SQL text: L2 norm of the vector column `a`."""
    return f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, (acc, x) -> acc + x))"


def _cosine_from_norms(a: str, b: str, na: str, nb: str) -> str:
    """SQL text: cosine with the per-row norms precomputed ONCE per side
    instead of once per PAIR: norms inside the pair expression would be
    re-evaluated for every joined row, tripling the higher-order-function
    work of a quadratic scoring join. Same expressions, same evaluation
    order — results are bit-identical (guide §2.3: don't compute per pair
    what is a per-row property)."""
    return f"{_dot(a, b)} / ({na} * {nb})"


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v): the rows of `df` that carry an id and a vector. A NULL
    vector has no cosine to anything, so it matches nothing in any
    strategy (and would break the NumPy stack of a pandas UDF batch); a
    NULL id names no pair."""
    return df.selectExpr(
        f"{sql_ident(id_col)} AS id", f"{sql_ident(vec_col)} AS v"
    ).where("id IS NOT NULL AND v IS NOT NULL")


def _with_cosine(pairs: DataFrame, lid: str, rid: str, left: DataFrame,
                 right: DataFrame) -> DataFrame:
    """`pairs` plus the exact `cosine` of each id pair: the vectors and
    their norms are attached once per side, by id, from the (id, v) frames
    `left` (for `lid`) and `right` (for `rid`). Each norm is computed once
    per vector row, not per pair; the expression and its evaluation order
    are those of every other path, so the cosines are bit-identical."""
    def side(vecs: DataFrame, alias: str) -> DataFrame:
        return vecs.selectExpr("id", "v", f"{_norm('v')} AS n").alias(alias)

    cos = _cosine_from_norms("__fzA.v", "__fzB.v", "__fzA.n", "__fzB.n")
    return (
        pairs.join(side(left, "__fzA"), F.expr(f"{lid} = __fzA.id"))
        .join(side(right, "__fzB"), F.expr(f"{rid} = __fzB.id"))
        .selectExpr(*pairs.columns, f"{cos} AS cosine")
    )


def _plan_partitions(df: DataFrame) -> int | None:
    """Partition count of `df`'s physical plan, read without running a
    job: the RDD a plan of scans, filters and projections builds knows its
    partitions (file splits, local slices) before anything executes. A
    plan with an exchange, a subquery or a cache scan would run jobs to
    build that RDD (broadcasts, adaptive query stages, the cache fill), so
    it answers None."""
    from py4j.protocol import Py4JError

    try:
        plan = df._jdf.queryExecution().executedPlan()
        stack = [plan]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if (name == "AdaptiveSparkPlan" or "Exchange" in name
                    or "InMemoryTableScan" in name or not node.subqueries().isEmpty()):
                return None
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        return int(plan.execute().getNumPartitions())
    except Py4JError:
        return None


def _spread_small(df: DataFrame, max_bytes: int = 1 << 30) -> DataFrame:
    """Round-robin repartition a PROVABLY SMALL, UNDER-PARTITIONED frame
    across the cluster's cores. It serves only the exact paths' over-budget
    branch (inputs under the broadcast budget take the range-sliced route,
    which spreads the work without a shuffle and now covers the measured
    case below). That branch streams one side of a nested-loop join with
    the side's SCAN partitioning — a small parquet file arrives as one
    partition and pins the whole quadratic compute to a single core
    (measured: the 500-vector exact cosine_pairs bench leg ran 4.7 s on
    one task). Only fires when optimizer plan stats prove the
    frame small (the linear shuffle is then negligible vs the quadratic
    compute) and it has fewer partitions than `defaultParallelism`; a
    frame that already has enough partitions, or unknown or large stats,
    leave the plan untouched."""
    from fozzie_spark.blocking import _plan_size_bytes

    sz = _plan_size_bytes(df)
    if sz is None or sz > max_bytes:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    n = _plan_partitions(df)
    if n is not None and n >= par:
        return df
    return df.repartition(par)


def _sliced_fits(vec_col: str, dim: int | None, *sides: DataFrame) -> bool:
    """True iff every one of `sides` (the (id, v) frames an exact path
    would broadcast) fits Spark's own broadcast budget,
    `spark.sql.autoBroadcastJoinThreshold`, priced as an upper bound on its
    real payload: the plan's row upper bound (`_row_bounds`) x the probed
    bytes per row. A budget <= 0 or an unpriceable side answers False
    before any job; `dim` is probed (one single-partition job) only when
    the caller has not already probed it."""
    spark = sides[0].sparkSession
    budget = int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())
    if budget <= 0:
        return False
    if dim is None:
        dim = _vec_dim(sides[0], vec_col)
        if dim is None:  # no vector on the sliced side: nothing to score
            return False
    prices = []
    for side in sides:
        rb = _row_bytes(side, vec_col, dim)
        bounds = _row_bounds(side, rb)
        prices.append(None if bounds is None else int(bounds[1] * rb))
    route = "sliced" if all(p is not None and p <= budget for p in prices) else "spread"
    _log.info("exact ANN decision: %s", {"gate": "sliced_broadcast", "price_bytes": prices,
                                          "threshold": budget, "route": route})
    return route == "sliced"


def _sliced(df: DataFrame, id_col: str) -> DataFrame:
    """`df` spread over the cluster's cores WITHOUT an exchange: a
    `spark.range` of P = defaultParallelism one-row partitions drives a
    broadcast hash join that hands each partition the rows whose slice
    pmod(xxhash64(id), P) is its own. The id is hashed so that ids sharing
    a stride (all multiples of P, say) still reach every slice."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    return (
        spark.range(0, p, 1, p).toDF("__fz_slice")
        .join(F.broadcast(df), F.expr(f"__fz_slice = pmod(xxhash64({id_col}), {p})"))
        .drop("__fz_slice")
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.9,
    other: DataFrame | None = None,
    strategy: str = "auto",
    auto_threshold: int = 200_000,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 13,
) -> DataFrame:
    """All pairs (id1 < id2 for self-join) with cosine >= min_cosine.

    strategy:
    - "exact": brute-force all-pairs (the self-join plans a BNLJ) —
      correct baseline, quadratic; right for small/re-rank inputs. Under
      the broadcast budget it takes the range-sliced route (module
      docstring) and shuffles nothing.
    - "lsh": hyperplane-LSH bucket join + exact cosine verification —
      precision 1.0, recall < 1 (pinned >= 0.95 at min_cosine 0.4 with the
      default 16 planes / 8 bands in tests) — the 100 TB path.
    - "auto" (default): switches to LSH above `auto_threshold` rows — for
      two-table calls, when EITHER side exceeds it — where the exact BNLJ
      becomes a scale-killer; below it, exact. Sizing is plan-stats-first
      (`_exceeds_rows`): inputs whose optimizer statistics bound their
      rows above or below the threshold route without a count; only plans
      the bounds leave undecided pay a (memoized) count. The routing decision is
      logged (logger "fozzie_spark.ann") so the recall change is visible;
      pass strategy="exact" to opt out.
    """
    if strategy not in ("exact", "lsh", "auto"):
        raise ValueError(f"unknown strategy {strategy!r}")
    dim = None
    if strategy == "auto":
        dim = _vec_dim(df, vec_col)
        big = dim is not None and _exceeds_rows(
            df, auto_threshold, row_bytes=_row_bytes(df, vec_col, dim))
        if not big and other is not None:
            rb2, empty2 = _vec_row_bytes(other, vec_col)
            big = (not empty2) and _exceeds_rows(other, auto_threshold, row_bytes=rb2)
        strategy = "lsh" if big else "exact"
        _log.warning(
            "cosine_pairs auto routed to %s (threshold=%d rows)%s",
            strategy, auto_threshold,
            " — approximate results (recall < 1)" if strategy == "lsh" else "",
        )
    if strategy == "lsh":
        return lsh_cosine_pairs(
            df, id_col, vec_col, min_cosine, n_planes, bands, seed, other=other
        )
    a = _vectors(df, id_col, vec_col)
    b = a if other is None else _vectors(other, id_col, vec_col)
    sliced = _sliced_fits("v", dim, *((a,) if other is None else (a, b)))
    a = a.toDF("id1", "v1")
    b = b.selectExpr("id AS id2", "v AS v2", f"{_norm('v')} AS __fz_nb")
    if sliced:
        a, b = _sliced(a, "id1"), F.broadcast(b)
    else:
        a = _spread_small(a)
    a = a.withColumn("__fz_na", F.expr(_norm("v1")))
    pairs = a.join(b, F.expr("id1 < id2")) if other is None else a.crossJoin(b)
    return (
        pairs.withColumn("cosine", F.expr(_cosine_from_norms("v1", "v2", "__fz_na", "__fz_nb")))
        .where(f"cosine >= {sql_lit(min_cosine)}")
        .select("id1", "id2", "cosine")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    strategy: str = "auto",
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 13,
    dim: int | None = None,
    auto_threshold: int = 10_000,
    multiprobe: bool = True,
) -> DataFrame:
    """Top-k neighbors per query (query_id, neighbor_id, cosine, rank).

    Deterministic tie-break: (cosine desc, neighbor_id asc).

    strategy="exact": brute force, exact but O(q x n). Under the broadcast
    budget both sides are broadcast and the probes sliced over the cores
    (range-sliced route, module docstring); over it, the probe side is
    usually small, so Catalyst broadcasts it and streams the corpus once.
    strategy="lsh": candidates restricted to corpus vectors sharing >= 1
    signature band with the query (equi-join, IVF-style bucket probe), then
    exact cosine + rank over candidates only — approximate; the
    corpus-scale path when the probe set itself is large. With
    `multiprobe` (default on), queries whose buckets yielded fewer than k
    candidates also take the candidates of every band hash at Hamming
    distance 1 (Lv et al., multi-probe LSH, VLDB'07) — the starved-query
    re-probe MITIGATES the silent under-fill of sparse buckets. The
    Hamming-1 buckets are probed in the same band join as the exact ones
    (each side's signatures are computed once), and a well-filled query's
    Hamming-1 id pairs are dropped before the cosine verify. One
    distance-1 pass is no fill guarantee: a query whose entire Hamming-1
    ball is sparse can still return fewer than k rows (raise bands, or
    lower n_planes/bands ratio, when that matters). Candidates are id
    pairs, each emitted once (see `_lsh_topk_pairs`); rows with a NULL
    vector match nothing.
    strategy="auto" (default): sizes the probe side plan-stats-first
    (`_exceeds_rows` — a count job only for gray-zone or unknown-stats
    plans, memoized per plan) and routes to LSH above `auto_threshold`
    probes — a corpus-scale probe set would otherwise silently plan a
    probes x corpus crossJoin. The decision is logged
    (logger "fozzie_spark.ann"); pass strategy="exact" to opt out.
    """
    if strategy not in ("exact", "lsh", "auto"):
        raise ValueError(f"unknown strategy {strategy!r}")
    probed = dim
    if strategy == "auto":
        probed = _vec_dim(queries, vec_col)
        big = probed is not None and _exceeds_rows(
            queries, auto_threshold, row_bytes=_row_bytes(queries, vec_col, probed))
        strategy = "lsh" if big else "exact"
        _log.warning(
            "cosine_topk auto routed to %s (probe threshold=%d)%s",
            strategy, auto_threshold,
            " — approximate results (recall < 1)" if strategy == "lsh" else "",
        )

    qv, cv = _vectors(queries, id_col, vec_col), _vectors(corpus, id_col, vec_col)
    if strategy == "lsh":
        pairs = _lsh_topk_pairs(qv, cv, k, n_planes, bands, seed, dim, multiprobe)
        scored = _with_cosine(pairs, "query_id", "neighbor_id", qv, cv)
    else:
        q = qv.selectExpr("id AS query_id", "v AS qv", f"{_norm('v')} AS __fz_nq")
        c = cv.toDF("neighbor_id", "cv")
        if _sliced_fits("v", probed, qv, cv):
            q, c = _sliced(q, "query_id"), F.broadcast(c)
        else:
            c = _spread_small(c)
        c = c.withColumn("__fz_nc", F.expr(_norm("cv")))
        scored = q.crossJoin(c).where("query_id != neighbor_id").withColumn(
            "cosine", F.expr(_cosine_from_norms("qv", "cv", "__fz_nq", "__fz_nc"))
        )
    return _rank_topk(scored, k)


def _lsh_topk_pairs(qv: DataFrame, cv: DataFrame, k: int, n_planes: int, bands: int,
                    seed: int, dim: int | None, multiprobe: bool) -> DataFrame:
    """(query_id, neighbor_id) LSH candidates of `cosine_topk`, each pair
    once: an exact-bucket pair at its first common band; with
    `multiprobe`, a Hamming-1 pair (no band agrees exactly) at its first
    band that differs in at most one bit. Both kinds come out of ONE band
    join, so each side's signature UDF runs once (Spark never reuses an
    exchange above a Python UDF, so a second pass over the same
    signatures would run the UDF again); a query keeps its Hamming-1
    pairs only when it has fewer than k exact ones."""
    qs = _banded(lsh_signatures(qv, "id", "v", n_planes, seed, dim=dim),
                 n_planes, bands).toDF("query_id", "qsig", "band", "bh")
    cs = _banded(lsh_signatures(cv, "id", "v", n_planes, seed, dim=dim),
                 n_planes, bands).toDF("neighbor_id", "csig", "band", "bh")
    first = _first_band("qsig ^ csig", n_planes, bands)
    exact = f"query_id != neighbor_id AND {first} = band"
    if not multiprobe:
        return qs.join(cs, ["band", "bh"]).where(exact).select("query_id", "neighbor_id")
    r = max(1, n_planes // bands)
    flips = ", ".join(str(1 << i) for i in range(r))
    probes = qs.selectExpr(
        "query_id", "qsig", "band", "bh", f"explode(array(0, {flips})) AS __fz_flip"
    ).withColumn("bh", F.expr("bh ^ __fz_flip"))
    near = _first_band("qsig ^ csig", n_planes, bands, max_bits=1)
    return (
        probes.join(cs, ["band", "bh"])
        .where(f"CASE WHEN __fz_flip = 0 THEN {exact} ELSE query_id != neighbor_id "
               f"AND {first} IS NULL AND {near} = band END")
        .withColumn("__fz_cnt", F.expr("count_if(__fz_flip = 0) OVER (PARTITION BY query_id)"))
        .where(f"__fz_flip = 0 OR __fz_cnt < {k}")
        .select("query_id", "neighbor_id")
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) for the k best-scored
    candidates per query (column `cosine`); ties break by
    (cosine desc, neighbor_id asc)."""
    return (
        scored.withColumn("rank", F.expr(
            "row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)"
        ))
        .where(f"rank <= {k}")
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((dim, n_planes)).astype(np.float64)


def lsh_signatures(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int = 16, seed: int = 13,
    dim: int | None = None,
) -> DataFrame:
    """(id, sig): sign pattern of `n_planes` random hyperplanes, computed
    with one NumPy matmul per Arrow batch (vectorized pandas UDF).

    `dim` may be None: the hyperplanes are then derived INSIDE the UDF
    from the first Arrow batch's width (deterministic — `_hyperplanes`
    is a pure function of (dim, n_planes, seed), so every task builds the
    same matrix) instead of paying a one-row driver probe job per call."""

    planes0 = _hyperplanes(dim, n_planes, seed) if dim is not None else None
    cache: dict = {}

    @F.pandas_udf(LongType())
    def sig_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        planes = planes0
        if planes is None:
            planes = cache.get(mat.shape[1])
            if planes is None:  # once per task (cache is task-local)
                planes = cache[mat.shape[1]] = _hyperplanes(
                    mat.shape[1], n_planes, seed
                )
        bits = (mat @ planes) > 0  # (batch, n_planes)
        out = np.zeros(len(vecs), dtype=np.int64)
        for b in range(planes.shape[1]):
            out |= bits[:, b].astype(np.int64) << b
        return pd.Series(out)

    return _vectors(df, id_col, vec_col).withColumn("sig", sig_udf("v"))


def _band_sql(sig: str, b: int, n_planes: int, bands: int) -> str:
    """SQL text: band `b`'s hash of the signature `sig` (r bits at b*r)."""
    r = max(1, n_planes // bands)
    return f"(shiftright({sig}, {b * r}) & {(1 << r) - 1})"


def _banded(sigs: DataFrame, n_planes: int, bands: int) -> DataFrame:
    """(id, sig, band, bh): one row per signature band (the LSH bucket
    key). No vector rides along: candidates are id pairs."""
    bb = ", ".join(
        f"named_struct('band', {b}, 'bh', {_band_sql('sig', b, n_planes, bands)})"
        for b in range(bands)
    )
    return sigs.selectExpr("id", "sig", f"explode(array({bb})) AS bb").selectExpr(
        "id", "sig", "bb.band AS band", "bb.bh AS bh"
    )


def _first_band(xor: str, n_planes: int, bands: int, max_bits: int = 0) -> str:
    """SQL text: the lowest band whose hashes of two signatures differ in
    at most `max_bits` bits, given the signatures' XOR `xor` (NULL when no
    band does). A bucket pair is kept only at this band, so it is emitted
    exactly once however many bands it shares."""
    whens = " ".join(
        f"WHEN bit_count({_band_sql(xor, b, n_planes, bands)}) <= {max_bits} THEN {b}"
        if max_bits else f"WHEN {_band_sql(xor, b, n_planes, bands)} = 0 THEN {b}"
        for b in range(bands)
    )
    return f"(CASE {whens} END)"


def lsh_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 13,
    dim: int | None = None,
    other: DataFrame | None = None,
) -> DataFrame:
    """Approximate near-neighbor pairs: hyperplane-LSH bucket join (equi-join
    per signature band), then EXACT cosine verification of candidates.
    Recall < 1 by design (pinned >= 0.95 at min_cosine 0.4 with 16 planes /
    8 bands in tests/test_ann.py); tune n_planes/bands per threshold.
    Self-join by default (id1 < id2); pass `other` for a two-table join
    (id1 from df, id2 from other, both sides bucketed with the SAME
    hyperplanes so buckets align).

    Candidates are id pairs. Each input's signature UDF runs once, and a
    colliding pair is emitted only at its first common band (the lowest b
    with shiftright(s1 ^ s2, b*r) & mask = 0), so each pair appears once
    without a distinct. The self-join collects each bucket's (id, sig)
    list and pairs within it, which keeps the signatures to one pass (a
    bucket's list is held as one row, so a hot bucket costs memory linear
    in its size; its pairs are quadratic under either shape); the
    two-table join is a band equi-join. Vectors and norms are attached by
    id only for the verify. Rows with a NULL vector match nothing."""
    vecs = _vectors(df, id_col, vec_col)
    banded = _banded(lsh_signatures(vecs, "id", "v", n_planes, seed, dim=dim),
                     n_planes, bands)
    first = _first_band("a.sig ^ b.sig", n_planes, bands)
    if other is None:
        right = vecs
        pairs = (
            banded.groupBy("band", "bh")
            .agg(F.expr("collect_list(struct(id, sig)) AS __fz_m"))
            .where("size(__fz_m) > 1")
            .selectExpr("band", "__fz_m", "explode(__fz_m) AS a")
            .selectExpr(
                "a.id AS id1",
                f"explode(transform(filter(__fz_m, b -> a.id < b.id AND {first} = band),"
                " b -> b.id)) AS id2",
            )
        )
    else:
        right = _vectors(other, id_col, vec_col)
        rb = _banded(lsh_signatures(right, "id", "v", n_planes, seed, dim=dim),
                     n_planes, bands)
        pairs = (
            banded.alias("a").join(rb.alias("b"), ["band", "bh"])
            .where(f"{first} = band")
            .selectExpr("a.id AS id1", "b.id AS id2")
        )
    return (
        _with_cosine(pairs, "id1", "id2", vecs, right)
        .where(f"cosine >= {sql_lit(min_cosine)}")
    )


def _kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    seed: int,
    sample_size: int = 4096,
    iters: int = 10,
) -> np.ndarray:
    """Coarse spherical k-means quantizer for the IVF index, trained on a
    DETERMINISTIC bounded sample: the `sample_size` corpus rows with the
    lowest xxhash64(id) (TakeOrdered — no full sort, no driver blow-up at
    any corpus size), Lloyd iterations in one NumPy process on the driver.
    Returns L2-normalized centroids (n_cells, dim). Deterministic for a
    given (data, seed): ties in assignment break by lowest cell index
    (argmax on exact float64), empty cells keep their previous centroid.
    """
    rows = (
        _vectors(df, id_col, vec_col)
        .select("v", F.xxhash64("id").alias("h"))
        .orderBy("h", F.col("v").cast("string"))
        .limit(int(sample_size))
        .collect()
    )
    if not rows:  # empty corpus: no quantizer to train (ivf_topk returns empty)
        return np.zeros((0, 0), dtype=np.float64)
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    x = np.where(nrm > 0, x / np.where(nrm == 0, 1.0, nrm), x)
    n_cells = min(int(n_cells), len(x))
    rng = np.random.RandomState(seed)
    c = x[rng.choice(len(x), size=n_cells, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(n_cells):
            m = x[assign == j]
            if len(m):
                v = m.mean(axis=0)
                d = np.linalg.norm(v)
                if d > 0:
                    c[j] = v / d
    return c


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, centroids: np.ndarray, n_probe: int = 1
) -> DataFrame:
    """(id, v, cell): each row exploded to its `n_probe` nearest coarse
    cells by cosine (argpartition over one NumPy matmul per Arrow batch).
    n_probe=1 indexes a corpus; n_probe>1 fans a probe set out to the
    cells it must search. Rows with a NULL vector are dropped."""
    from pyspark.sql.types import ArrayType, IntegerType

    c = np.ascontiguousarray(centroids, dtype=np.float64)
    n_probe = min(int(n_probe), len(c))

    @F.pandas_udf(ArrayType(IntegerType()))
    def cells_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = np.where(nrm > 0, mat / np.where(nrm == 0, 1.0, nrm), mat)
        scores = mat @ c.T  # (batch, n_cells)
        if n_probe == 1:
            top = np.argmax(scores, axis=1)[:, None]
        else:
            # argpartition then exact sort of the head: O(cells) per row
            part = np.argpartition(-scores, n_probe - 1, axis=1)[:, :n_probe]
            order = np.argsort(-np.take_along_axis(scores, part, axis=1), axis=1)
            top = np.take_along_axis(part, order, axis=1)
        return pd.Series([row.astype("int32") for row in top])

    return _vectors(df, id_col, vec_col).withColumn("cell", F.explode(cells_udf("v")))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 64,
    n_probe: int = 8,
    seed: int = 13,
    sample_size: int = 4096,
    iters: int = 10,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the bucketed ANN scale path
    alongside `cosine_topk(strategy="lsh")`.

    (1) train a coarse spherical-kmeans quantizer on a deterministic
        bounded corpus sample (driver-side NumPy — the only non-distributed
        step, capped at `sample_size` rows regardless of corpus size);
    (2) assign every corpus vector to its nearest cell — one NumPy matmul
        per Arrow batch, centroids shipped in the UDF closure (n_cells x
        dim doubles, a few KB-MB broadcast, never a shuffle);
    (3) each query probes its `n_probe` nearest cells; candidates come
        from the cell equi-join — the scan is n_probe/n_cells of the
        corpus per query instead of all of it;
    (4) exact cosine + deterministic rank (cosine desc, neighbor_id asc)
        over candidates only.

    Recall < 1 by design (a true neighbor can live in an unprobed cell);
    n_probe == n_cells degenerates to exhaustive search and matches
    `cosine_topk(strategy="exact")` exactly (pinned in tests/test_ann.py).
    Output: (query_id, neighbor_id, cosine, rank).
    """
    cent = _kmeans_centroids(
        corpus, id_col, vec_col, n_cells, seed, sample_size=sample_size, iters=iters
    )
    if cent.size == 0:  # empty corpus -> trivially empty top-k, typed schema
        from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

        schema = StructType([
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("neighbor_id", corpus.schema[id_col].dataType),
            StructField("cosine", DoubleType()),
            StructField("rank", IntegerType()),
        ])
        return queries.sparkSession.createDataFrame([], schema)
    qv, cv = _vectors(queries, id_col, vec_col), _vectors(corpus, id_col, vec_col)
    cs = ivf_assign(cv, "id", "v", cent, n_probe=1).selectExpr("id AS neighbor_id", "cell")
    qs = ivf_assign(qv, "id", "v", cent, n_probe=n_probe).selectExpr("id AS query_id", "cell")
    # each corpus row sits in exactly one cell and a query's n_probe cells
    # are distinct, so every (query, neighbor) pair joins exactly once
    pairs = qs.join(cs, "cell").where("query_id != neighbor_id").select(
        "query_id", "neighbor_id"
    )
    return _rank_topk(_with_cosine(pairs, "query_id", "neighbor_id", qv, cv), k)


def embedding_near_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    strategy: str = "auto",
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 13,
) -> DataFrame:
    """Embedding-cosine near-duplicate GROUPING: cosine_pairs edges ->
    connected components -> (id, dup_group, group_size, is_canonical) —
    the same output contract as textops.exact_dedup/near_dedup, over an
    embedding column instead of text. strategy follows cosine_pairs
    ("auto" routes to the LSH-bucketed path above the row threshold;
    "exact" for oracle-exact grouping at any size)."""
    from fozzie_spark.textops import dup_groups

    pairs = cosine_pairs(
        df, id_col, vec_col, min_cosine=min_cosine, strategy=strategy,
        n_planes=n_planes, bands=bands, seed=seed,
    ).select("id1", "id2")
    return dup_groups(df, pairs, id_col)
