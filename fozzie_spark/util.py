"""Shared helpers: join-spec normalization, internal column names, Spark
SQL text for identifiers and literals.

Column expressions that nest more than a couple of functions are built as
ONE Spark SQL expression string (`F.expr`, `selectExpr`, `where(str)`),
not as a tree of `pyspark.sql.functions` calls: in PySpark 4.1 every such
call and Column operator is wrapped by `_with_origin`, which costs about
13 py4j round trips (active session, a conf read, setting and clearing the
call-site origin), so a 40-node DSL expression paid ~500 round trips where
its SQL text pays ~13. The parsed expressions are the same."""

from __future__ import annotations

import math
import numbers

from pyspark.sql import DataFrame

# f64 machine epsilon — the reference's difference-join threshold is
# |x-y| <= max_distance + EPS  (src/rust/src/difference/mod.rs:28)
F64_EPS = 2.220446049250313e-16

LKEY = "__fz_l{}"
RKEY = "__fz_r{}"
DIST = "__fz_d{}"


def sql_ident(name: str) -> str:
    """`name` as a backtick-quoted Spark SQL identifier (inner backticks
    doubled), so dots, spaces and backticks stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(v) -> str:
    """Spark SQL literal text typed as `F.lit(v)` types it: bool; int as
    INT when it fits 32 bits, else BIGINT; float as DOUBLE with the D
    suffix (a bare 0.3 parses as DECIMAL; repr round-trips exactly), inf
    and nan by cast; str quoted. Negatives are parenthesized so no `--`
    comment can form."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, numbers.Integral):  # numpy integers too
        return f"({int(v)})" if v < 0 else str(int(v))
    if isinstance(v, numbers.Real):
        v = float(v)
        if math.isnan(v) or math.isinf(v):
            name = "NaN" if math.isnan(v) else "-Infinity" if v < 0 else "Infinity"
            return f"CAST('{name}' AS DOUBLE)"
        return f"({v!r}D)" if math.copysign(1.0, v) < 0 else f"{v!r}D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no Spark SQL literal for {type(v).__name__} {v!r}")


def normalize_by(left: DataFrame, right: DataFrame, by) -> list[tuple[str, str]]:
    """Resolve a fozziejoin-style ``by`` spec to [(left_col, right_col)].

    Mirrors R/rutils.R:20-49: None => natural join on shared column names;
    list/tuple of names => same name both sides; dict => left->right mapping.
    Invalid columns raise ValueError.
    """
    if by is None:
        shared = [c for c in left.columns if c in set(right.columns)]
        if not shared:
            raise ValueError("no shared columns for natural join; pass `by`")
        pairs = [(c, c) for c in shared]
    elif isinstance(by, dict):
        pairs = list(by.items())
    elif isinstance(by, str):
        pairs = [(by, by)]
    elif isinstance(by, (list, tuple)):
        pairs = []
        for item in by:
            if isinstance(item, str):
                pairs.append((item, item))
            elif isinstance(item, (list, tuple)) and len(item) == 2:
                pairs.append((item[0], item[1]))
            else:
                raise ValueError(f"bad `by` entry: {item!r}")
    else:
        raise ValueError(f"bad `by` spec: {by!r}")

    for lc, rc in pairs:
        if lc not in left.columns:
            raise ValueError(f"column {lc!r} not in left dataframe")
        if rc not in right.columns:
            raise ValueError(f"column {rc!r} not in right dataframe")
    return pairs
