"""Transitive clustering: connected components over the thresholded edge
DataFrame via alternating large-star / small-star rounds (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14).

The reference emits match PAIRS only — clustering is the north-rule
extension (SURVEY.md §2.7). Converges in O(log n) rounds; every round is
two groupBy shuffles; lineage is cut per round with localCheckpoint so the
plan doesn't grow unboundedly.

Node ids must be orderable (long or string). Output: (node, component)
where component = the minimum node id in the component.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation, functions as F

from fozzie_spark.util import sql_ident

_log = logging.getLogger("fozzie_spark.cluster")


def _payload_bytes_sql(dt, col: str) -> str:
    """SQL text: per-row payload bytes of `col` (SQL text) of DataType
    `dt` — octet-aware for variable-width types so the driver-finish gate
    measures real bytes, never row counts (the round-4 broadcast-gate
    lesson: count-only gates break on kilobyte keys)."""
    name = dt.typeName()
    if name in ("string", "binary"):
        return f"coalesce(octet_length({col}), 0)"
    if hasattr(dt, "fields"):  # struct: sum the fields
        parts = [_payload_bytes_sql(f.dataType, f"{col}.{sql_ident(f.name)}") for f in dt.fields]
        return "(" + " + ".join(["0", *parts]) + ")"
    fixed = {"long": 8, "double": 8, "timestamp": 8, "timestamp_ntz": 8,
             "date": 4, "integer": 4, "float": 4, "short": 2, "byte": 1,
             "boolean": 1}
    return str(fixed.get(name, 16))


def _fingerprint_aggs(schema) -> list:
    # (count, order-independent hash sum) — enough to detect any edge-set
    # change between rounds (collision odds negligible) — plus the exact
    # payload octets the driver-finish budget is checked against
    payload = " + ".join(_payload_bytes_sql(schema[c].dataType, c) for c in ("u", "v"))
    return [F.expr(e) for e in (
        "count(1) AS __fz_n",
        "sum(CAST(xxhash64(u, v) AS DECIMAL(38,0))) AS __fz_h",
        f"sum({payload}) AS __fz_b",
    )]


def _rm_path(spark, path: str) -> None:
    """Recursively delete a path via the Hadoop FS API (works for any
    supported filesystem, not just local)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _unpersist_ids(spark, ids) -> None:
    """Unpersist persisted RDDs by id (the only handle PySpark exposes for
    blocks pinned by DataFrame.localCheckpoint)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)


def _np_field_arrays(col, dt):
    """Arrow node column -> (list of numpy field arrays, ok) for the
    vectorized sort path; ok=False routes to the generic Python path.

    Scalars: any fixed-width numpy-comparable dtype (one-element list).
    Structs: one array per field when every field is fixed-width; a
    field-major lexsort then gives exactly Spark's struct ordering.
    Anything else (strings, decimals, nested structs) is handled
    generically with Python-object comparison, which matches Spark's
    ordering too (UTF-8 byte order equals code-point order)."""
    if hasattr(dt, "fields"):
        arrs = []
        for i in range(col.type.num_fields):
            a = col.field(i).to_numpy(zero_copy_only=False)
            if a.dtype.kind not in "iufM":
                return None, False
            arrs.append(a)
        return arrs, True
    a = col.to_numpy(zero_copy_only=False)
    return ([a], True) if a.dtype.kind in "iufM" else (None, False)


def _py_key(val, dt):
    # struct rows arrive as dicts; compare as field-ordered value tuples
    if hasattr(dt, "fields"):
        return tuple(_py_key(val[f.name], f.dataType) for f in dt.fields)
    return val


def _py_val(key, dt):
    if hasattr(dt, "fields"):
        return {f.name: _py_val(k, f.dataType) for f, k in zip(dt.fields, key)}
    return key


def _driver_components(edges: DataFrame):
    """Collect a SMALL edge set once (Arrow) and label its components on
    the driver: dense-encode nodes in sorted order, then converge min-label
    propagation with pointer jumping in numpy (micro-seconds per vector
    pass at millions of edges). Sorted-unique encoding makes index order ==
    node order, so min index == min node id — the same component id the
    alternating rounds converge to.

    Returns (labels, take) where labels[i] is the component's dense index
    for dense node i and take(indices) materializes an Arrow array of the
    original node values."""
    import numpy as np
    import pyarrow as pa

    tbl = edges.toArrow()
    dt = edges.schema["u"].dataType
    u_col = tbl.column("u").combine_chunks()
    v_col = tbl.column("v").combine_chunks()
    n_edges = len(u_col)

    nu, ok_u = _np_field_arrays(u_col, dt)
    nv, ok_v = _np_field_arrays(v_col, dt)
    if ok_u and ok_v:
        fields = [np.concatenate([a, b]) for a, b in zip(nu, nv)]
        if len(fields) == 1:
            uniq_fields, inv = np.unique(fields[0], return_inverse=True)
            uniq_fields = [uniq_fields]
        else:
            # multi-field: one lexsort (primary field last in the key
            # tuple) + boundary scan — ~2-3x faster than np.unique on a
            # structured dtype at millions of rows
            n = len(fields[0])
            order = np.lexsort(tuple(reversed(fields)))
            sorted_fields = [f[order] for f in fields]
            new_grp = np.ones(n, dtype=bool)
            neq = np.zeros(max(n - 1, 0), dtype=bool)
            for sf in sorted_fields:
                neq |= sf[1:] != sf[:-1]
            new_grp[1:] = neq
            gid = np.cumsum(new_grp) - 1
            inv = np.empty(n, dtype=np.int64)
            inv[order] = gid
            uniq_fields = [sf[new_grp] for sf in sorted_fields]
        ue, ve = inv[:n_edges], inv[n_edges:]
        n_nodes = len(uniq_fields[0])

        def take(indices):
            if hasattr(dt, "fields"):
                children = [
                    pa.array(uf[indices], type=u_col.type.field(i).type)
                    for i, uf in enumerate(uniq_fields)
                ]
                return pa.StructArray.from_arrays(
                    children,
                    fields=[u_col.type.field(i) for i in range(u_col.type.num_fields)],
                )
            return pa.array(uniq_fields[0][indices], type=u_col.type)

    else:
        ku = [_py_key(x, dt) for x in u_col.to_pylist()]
        kv = [_py_key(x, dt) for x in v_col.to_pylist()]
        uniq = sorted(set(ku) | set(kv))
        idx = {k: i for i, k in enumerate(uniq)}
        ue = np.fromiter((idx[k] for k in ku), dtype=np.int64, count=n_edges)
        ve = np.fromiter((idx[k] for k in kv), dtype=np.int64, count=n_edges)
        n_nodes = len(uniq)

        def take(indices):
            return pa.array([_py_val(uniq[i], dt) for i in indices], type=u_col.type)

    lab = np.arange(n_nodes, dtype=np.int64)
    while True:
        old = lab.copy()
        m = np.minimum(lab[ue], lab[ve])
        np.minimum.at(lab, ue, m)
        np.minimum.at(lab, ve, m)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, old):
            break
    return lab, take


def _driver_finish_assign(edges: DataFrame) -> DataFrame:
    """Label a SMALL edge set on the driver (one Arrow collect) and return
    the full (node, component) assignment as a driver-local relation.
    Every node appears in some edge, so the dense-encoded universe is the
    node set. The large/small-star rounds keep the node set and the
    components, so a round's output labels exactly like the input edges."""
    import numpy as np
    import pyarrow as pa

    spark = edges.sparkSession
    lab, take = _driver_components(edges)
    allidx = np.arange(len(lab), dtype=np.int64)
    out = pa.table({"node": take(allidx), "component": take(lab)})
    return spark.createDataFrame(out)


def _large_star(edges: DataFrame) -> DataFrame:
    # undirected neighborhoods; connect strictly-larger neighbors to the min
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient each edge (big -> small), group small neighbors under each node
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = e.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbr_edges.union(self_edges).where(F.col("u") != F.col("v")).distinct()


def driver_finish_budget(spark, cap: int = 512 << 20) -> int:
    """Bound a CC driver-finisher gate by what the session's task-result
    path can actually carry: min(cap, spark.driver.maxResultSize // 2).
    On default configs (maxResultSize=1g) a 512MB gate would collect up to
    512MB of edge payload plus transient copies through the driver —
    aborting the job or OOMing where the round loop was safe; deriving
    from the live conf keeps the finisher a strict optimization on any
    config. maxResultSize=0 (unlimited) keeps `cap`."""
    try:
        mrs = int(
            spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
                "spark.driver.maxResultSize", "1g"
            )
        )
    except Exception:
        mrs = 1 << 30
    if mrs <= 0:
        return cap
    return min(cap, mrs // 2)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
    driver_finish_bytes: int | None = 256 << 20,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`.

    Edges are undirected; self-loops ignored. Component id = min node id.

    driver_finish_bytes: the budget for labelling the edge set on the
    driver instead of paying ~3 s of serial job latency per star round.
    One decision, bytes-aware (never row counts — the round-4
    broadcast-gate lesson):
    - "stats_assign": optimizer plan stats prove the input edges are under
      driver_finish_bytes/4 (stats track on-disk bytes; the /4 margin
      covers decode expansion). The raw edges are collected and labelled
      with no Spark round at all.
    - otherwise the distinct edge set is persisted once and its exact
      payload octets are measured in the same job. Plan stats of a
      candidate join are a product estimate, often inflated by orders of
      magnitude, so they cannot prove an edge set large. "measured_assign":
      the payload fits driver_finish_bytes; the cached edges are labelled
      on the driver and freed.
    - "rounds": the cached edges feed the large-star/small-star rounds and
      are freed once the first round is checkpointed (never, with
      checkpoint_every=0: they back the uncut lineage). As soon as a round's
      star-edge payload (measured in the round's own job) fits
      driver_finish_bytes, the rest is labelled on the driver.
    Components are bit-identical on every route (pinned in tests). 0/None
    disables the driver finish: no stats check, no measure, rounds only.
    The budget must stay comfortably under spark.driver.maxResultSize
    (default 1g; see `driver_finish_budget`). One DEBUG record per call on
    logger `fozzie_spark.cluster` (`record.fz_decision`) holds the plan
    bytes, the measured edges and payload, the threshold, the route, the
    round count and whether a round was finished on the driver.

    Lineage is cut each `checkpoint_every` rounds. Default: localCheckpoint
    (executor-memory blocks — fast, but NOT tolerant to executor loss).
    Pass `checkpoint_dir` for RELIABLE rounds: each cut writes a parquet
    stage table and re-reads it, so losing an executor mid-round only
    recomputes from the previous round's table instead of the whole edge
    lineage — the right mode on a real cluster / the 100 TB path. Round
    tables are deleted as iterations advance; the LAST round's table backs
    the returned DataFrame and is cleaned up with the checkpoint_dir by the
    caller. (No cross-run resume: a restarted call recomputes from the
    input edges.)
    """
    raw = edges.selectExpr(f"{sql_ident(src)} AS u", f"{sql_ident(dst)} AS v").where(
        "u IS NOT NULL AND v IS NOT NULL AND u != v"
    )
    record = {"gate": "cc_driver_finish", "plan_bytes": None, "edges": None,
              "payload_bytes": None, "threshold": driver_finish_bytes,
              "route": None, "rounds": 0, "post_round_finish": False}

    def decided(route, out):
        record["route"] = route
        _log.debug("connected_components decision: %s", record, extra={"fz_decision": record})
        return out

    spark = edges.sparkSession
    e, cached = raw.distinct(), None
    if driver_finish_bytes:
        from fozzie_spark.blocking import _plan_size_bytes

        record["plan_bytes"] = sz = _plan_size_bytes(raw)
        if sz is not None and sz <= driver_finish_bytes // 4:
            return decided("stats_assign", _driver_finish_assign(raw))
        # one job runs the edge lineage (e.g. near_dedup's minhash
        # candidate join) into the cache and measures it
        e = cached = e.persist()
        n, _, nbytes = e.agg(*_fingerprint_aggs(e.schema)).first()
        record.update(edges=n, payload_bytes=nbytes)
        if not n or nbytes <= driver_finish_bytes:
            out = _driver_finish_assign(e)
            e.unpersist()
            return decided("measured_assign", out)

    prev_fp, prev_path, prev_ids = None, None, set()
    for i in range(max_iter):
        e = _small_star(_large_star(e))
        record["rounds"] = i + 1
        if checkpoint_every and i % checkpoint_every == 0:
            # FUSE the convergence fingerprint into the checkpoint's own
            # materialization action (Observation metrics are collected as
            # a side effect of the write/localCheckpoint job) — the rounds
            # are latency-bound serial job submissions, so one action per
            # round instead of two halves the serial floor the clusters
            # stage puts on every run regardless of parallelism.
            obs = Observation()
            e = e.observe(obs, *_fingerprint_aggs(e.schema))
            if checkpoint_dir:
                path = f"{checkpoint_dir.rstrip('/')}/cc_round_{i}"
                e.write.mode("overwrite").parquet(path)
                e = spark.read.parquet(path)
                if prev_path:  # this round is durable; the one before is dead
                    _rm_path(spark, prev_path)
                prev_path = path
            else:
                # localCheckpoint pins executor blocks; free the previous
                # round's as soon as this round is materialized (only the
                # LAST round's blocks back the returned DataFrame — the
                # caller frees those, or ContextCleaner does on GC)
                before = _persistent_ids(spark)
                e = e.localCheckpoint(eager=True)
                _unpersist_ids(spark, prev_ids)
                prev_ids = _persistent_ids(spark) - before
            if cached is not None:  # the lineage is cut: the input is dead
                cached.unpersist()
                cached = None
            m = obs.get
            fp, nbytes = (m["__fz_n"], m["__fz_h"]), m["__fz_b"]
        else:
            row = e.agg(*_fingerprint_aggs(e.schema)).first()
            fp, nbytes = (row[0], row[1]), row[2]
        if fp == prev_fp:
            break
        prev_fp = fp
        if driver_finish_bytes and fp[0] and nbytes <= driver_finish_bytes:
            out = _driver_finish_assign(e)
            # the finished frame is a driver-local relation: every round
            # artifact (blocks or stage tables) is now dead
            _unpersist_ids(spark, prev_ids)
            if prev_path:
                _rm_path(spark, prev_path)
            if cached is not None:
                cached.unpersist()
            record["post_round_finish"] = True
            return decided("rounds", out)

    # converged star set: every non-root points at its component min, and
    # every root is some edge's target
    assign = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct()
    return decided("rounds", assign.union(roots.select("node", F.col("node").alias("component"))))
