"""Join-mode materialization over the match-pair IR.

The IR is a DataFrame of matched DISTINCT key tuples
(__fz_l0..__fz_l{k-1}, __fz_r0.., <distance columns>) — the Spark analog of
the reference's (idx1, idx2, dist) triples (src/rust/src/merge/mod.rs:11-30).
Row expansion happens here by equi-joining rows back on their key values
(valid because null keys never participate in matches).

Semantics mirror merge/{inner,left,right,full,semi,anti}.rs:
- shared column names get suffixes on BOTH sides (default .x/.y, inner.rs:16-45)
- outer modes pad the missing side and the distance column(s) with NULL
  (reference pads distances with NaN; we use SQL NULL — documented deviation)
- anti/semi return df1 rows only, no distance columns (semi.rs, anti.rs)
- the reference's O(n*m) unmatched-complement scan (merge/left.rs:17-19)
  becomes an outer join: each mode is one join tree (L x M) x R, which
  reads the matches once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fozzie_spark.util import sql_ident

HOW_MODES = ("inner", "left", "right", "full", "semi", "anti")


def _quals(alias: str, cols: list[str], out: dict[str, str]) -> list[str]:
    """SQL select items: `alias`-qualified columns renamed per `out`."""
    return [f"{alias}.{sql_ident(c)} AS {sql_ident(out[c])}" for c in cols]


def _on(alias: str, cols: list[str], key: str):
    """Join condition: `alias`'s columns equal the key columns key0, key1..."""
    return F.expr(" AND ".join(f"{alias}.{sql_ident(c)} = {key}{i}" for i, c in enumerate(cols)))


def materialize(
    left: DataFrame,
    right: DataFrame,
    by_pairs: list[tuple[str, str]],
    matches: DataFrame,
    how: str,
    dist_names: list[str],
    suffixes: tuple[str, str] = (".x", ".y"),
    exclude: tuple[str, ...] = (),
) -> DataFrame:
    if how not in HOW_MODES:
        raise ValueError(f"unknown join mode {how!r}; expected one of {HOW_MODES}")

    lcols = [c for c in left.columns if c not in exclude]
    rcols = [c for c in right.columns if c not in exclude]
    sx, sy = suffixes
    lout = {c: (c + sx if c in set(rcols) else c) for c in lcols}
    rout = {c: (c + sy if c in set(lcols) else c) for c in rcols}
    lby, rby = [lc for lc, _ in by_pairs], [rc for _, rc in by_pairs]

    L, R, M = left.alias("__fzL"), right.alias("__fzR"), matches.alias("__fzM")

    if how in ("semi", "anti"):
        # semi/anti return df1 rows with ORIGINAL names (no right side in
        # the output, so no suffixing — merge/semi.rs, merge/anti.rs)
        mode = "left_semi" if how == "semi" else "left_anti"
        keys = matches.selectExpr(
            *[f"__fz_l{i} AS __fz_k{i}" for i in range(len(by_pairs))]
        ).distinct()
        return L.join(keys, _on("__fzL", lby, "__fz_k"), mode).selectExpr(
            *_quals("__fzL", lcols, {c: c for c in lcols})
        )

    # one join tree (L x M) x R per mode, so `matches` is read once. Every
    # match row's keys exist on both sides, so an outer join pads exactly
    # the rows no match names (null keys included: `=` never matches NULL),
    # with NULL columns for the other side and NULL distances
    lm = L.join(M, _on("__fzL", lby, "__fzM.__fz_l"),
                "left" if how in ("left", "full") else "inner")
    return lm.join(R, _on("__fzR", rby, "__fzM.__fz_r"), how).selectExpr(
        *_quals("__fzL", lcols, lout), *_quals("__fzR", rcols, rout),
        *[f"__fzM.{sql_ident(d)}" for d in dist_names],
    )
