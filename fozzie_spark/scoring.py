"""Vectorized pairwise scoring: Arrow-batched pandas UDFs over candidate
pairs. This is the engine's only Python-side hot path; everything else is
JVM DataFrame ops. Mirrors the reference's `fuzzy_indices` scoring +
`compare_pairs` multi-key refinement (src/rust/src/string/mod.rs:82-179).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

from fozzie_spark import distances
from fozzie_spark.util import sql_ident, sql_lit

INF = float("inf")

#: methods whose exact fozziejoin distance is expressible as a pure JVM
#: column (whole-stage codegen — no Python workers in the scoring stage)
JVM_METHODS = frozenset(["levenshtein", "lv", "hamming", "qgram", "cosine", "jaccard"])


def jvm_distance_col(method: str, lc: str, rc: str, max_distance: float, q: int = 2):
    """JVM Column computing the exact distance for `method`, or None when the
    method needs the Python scorer (osa/dl/lcs/jaro/jw/soundex).

    Semantics are IDENTICAL to the fozzie_spark.distances scorers (which stay
    as the unit-test oracle): null on either side => +inf; lv beyond the
    integer cutoff => +inf; profile distances use the same integer-exact
    accumulation (long sums), so float results are bit-identical.
    """
    from fozzie_spark.blocking import qgrams_sql

    l, r = sql_ident(lc), sql_ident(rc)

    def _expr(d: str):  # null on either side => +inf
        return F.expr(f"CASE WHEN {l} IS NULL OR {r} IS NULL THEN {sql_lit(INF)} ELSE {d} END")

    if method in ("levenshtein", "lv"):
        # -1 when > cutoff (banded, JVM)
        lev = f"levenshtein({l}, {r}, {int(max_distance)})"
        return _expr(f"CASE WHEN {lev} < 0 THEN {sql_lit(INF)} ELSE CAST({lev} AS DOUBLE) END")

    if method == "hamming":
        differs = f"i -> substring({l}, i, 1) != substring({r}, i, 1)"
        diff = f"CAST(size(filter(sequence(1, length({l})), {differs})) AS DOUBLE)"
        return _expr(
            f"CASE WHEN length({l}) != length({r}) THEN {sql_lit(INF)} "
            f"ELSE CASE WHEN {diff} > {int(max_distance)} THEN {sql_lit(INF)} ELSE {diff} END END"
        )

    ga, gb = qgrams_sql(lc, q), qgrams_sql(rc, q)

    def _cnt(arr: str, g: str) -> str:
        return f"CAST(size(filter({arr}, x -> x = {g})) AS BIGINT)"

    if method == "jaccard":
        sa, sb = f"array_distinct({ga})", f"array_distinct({gb})"
        inter = f"size(array_intersect({sa}, {sb}))"
        return _expr(
            f"CASE WHEN size({sa}) = 0 AND size({sb}) = 0 THEN 0.0D ELSE 1.0D - "
            f"CAST({inter} AS DOUBLE) / CAST(size({sa}) + size({sb}) - {inter} AS DOUBLE) END"
        )

    if method == "qgram":
        return _expr(
            f"CAST(aggregate(array_distinct(concat({ga}, {gb})), CAST(0 AS BIGINT), "
            f"(acc, g) -> acc + abs({_cnt(ga, 'g')} - {_cnt(gb, 'g')})) AS DOUBLE)"
        )

    if method == "cosine":
        def _sum(u: str, a: str, b: str) -> str:
            term = f"{_cnt(a, 'g')} * {_cnt(b, 'g')}"
            return f"aggregate({u}, CAST(0 AS BIGINT), (acc, g) -> acc + {term})"

        ua, ub = f"array_distinct({ga})", f"array_distinct({gb})"
        return _expr(
            f"CASE WHEN size({ga}) = 0 OR size({gb}) = 0 THEN 1.0D ELSE 1.0D - "
            f"CAST({_sum(ua, ga, gb)} AS DOUBLE) / (sqrt(CAST({_sum(ua, ga, ga)} AS DOUBLE)) "
            f"* sqrt(CAST({_sum(ub, gb, gb)} AS DOUBLE))) END"
        )

    return None


def string_distance_udf(method: str, **params):
    """pandas UDF (left, right) -> double distance; +inf when > cutoff."""

    def _score(left: pd.Series, right: pd.Series) -> pd.Series:
        arr = distances.score_batch(
            method, left.to_numpy(dtype=object), right.to_numpy(dtype=object), **params
        )
        return pd.Series(arr)

    # asNondeterministic stops Catalyst from collapsing the scoring
    # projection into the threshold filter, which would EVALUATE THE UDF
    # TWICE per row (observed as stacked ArrowEvalPython nodes). Scoring is
    # pure, but single evaluation matters more than expression reuse here.
    return F.pandas_udf(_score, DoubleType()).asNondeterministic()


def score_string_pairs(
    pairs: DataFrame,
    col_pairs: list[tuple[str, str]],
    method: str,
    max_distance: float,
    dist_cols: list[str],
    **params,
) -> DataFrame:
    """Score each key pair and keep rows where EVERY key distance passes.

    Multi-key semantics mirror the reference (string/mod.rs:96-113): the
    blocking stage ran on the first key only; every key (including the
    first) is scored with the same method/threshold; a pair survives iff
    all pass. Soundex ignores max_distance (scorer emits 0/inf).

    JVM-expressible methods (lv/hamming/ngram family) score entirely in
    whole-stage codegen; the Arrow pandas UDF is the path for the DP methods
    Spark has no builtin for (osa/dl/lcs/jaro/jw) and soundex.
    """
    udf = None
    out = pairs
    q = params.get("q", 2)
    for (lc, rc), dc in zip(col_pairs, dist_cols):
        expr = jvm_distance_col(method, lc, rc, max_distance, q=q)
        if expr is None:
            if udf is None:
                udf = string_distance_udf(method, max_distance=max_distance, **params)
            expr = udf(lc, rc)
        out = out.withColumn(dc, expr)
        out = out.where(f"{sql_ident(dc)} <= {sql_lit(float(max_distance))}")
    return out
