#!/usr/bin/env python3
"""fozzie_spark benchmark: one workload, one fresh local Spark process.

    python3 perfbench/run.py --workload er_jaccard --seed 1 --seconds 1 --trace 0

Run from the repository root. The run starts the session, makes the
workload's inputs from --seed (cached as parquet under perfbench/.cache),
runs one cold unit of work and then warm units in a closed loop (one
caller, each call waits for the previous one) until --seconds have
passed, checks every output, and prints one JSON object as the last line
of stdout (times are steal-free, see `elapsed`):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 wraps every call and
ER stage in spans with Spark job groups and reports the per-layer metrics
(see perfbench/README.md). Everything the run writes stays under
perfbench/.
"""

import time


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of this machine so far, over all CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def mark() -> tuple[float, int, int]:
    return (time.perf_counter(), *host_ticks())


#: quiet-host time = wall * (1 - stolen share) ** STEAL_EXPONENT. On the
#: shared 4-core VM, calls timed both on a quiet host (under 3% stolen)
#: and under 15-50% stolen slowed by (1 - s) ** -k with k between 1.4 and
#: 1.9 for most calls (er_pipeline, string lv/osa, near_dedup, the band
#: join, the LSH probe, cold and warm), and near 1 for the CPU-bound
#: jaccard join: the guests that steal our CPUs also share their cores
#: and caches, so the CPUs run slower while we have them. Recomputed from
#: the logged walls of six er_jaccard runs that straddled a busy and a
#: quiet period, the warm unit's quartile distance over its median was
#: 0.31 with the exponent 1 (the stolen time alone) and 0.09 with 1.5.
STEAL_EXPONENT = 1.5


def elapsed(m0) -> tuple[float, float, float]:
    """(steal-free seconds, wall seconds, stolen share) since mark `m0`.

    On a shared VM the hypervisor runs other guests on our CPUs: the
    stolen share is stolen / (busy + stolen) ticks over the interval, and
    the steal-free time is the wall time with that share taken out (see
    STEAL_EXPONENT), an estimate of the wall time on a quiet host. On a
    shared 4-core VM the raw wall of one warm er_jaccard unit ranged
    4.8-12.8 s within minutes."""
    t, busy, steal = mark()
    d_busy, d_steal = busy - m0[1], steal - m0[2]
    share = d_steal / (d_busy + d_steal) if d_busy + d_steal else 0.0
    wall = t - m0[0]
    return wall * (1.0 - share) ** STEAL_EXPONENT, wall, share


T_MODULE = mark()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("er_jaccard", "api_calls", "er_cosine", "small_calls")
ER_STAGE_METRICS = ("wall_s", "rows_out", "cpu_s", "gc_s", "busy_frac", "task_skew",
                    "shuffle_write_mb", "spill_mb")
CALL_METRICS = ("wall_s", "cold_s", "jobs", "stages", "busy_frac", "task_skew",
                "shuffle_write_mb")
#: the calls of the api_calls workload; small_calls adds temporal and interval
CALL_SPANS = ("joins.string_lv_tiny", "joins.string_lv", "joins.string_osa",
              "joins.string_jaccard", "joins.difference", "textops.near_dedup",
              "ann.cosine_topk", "ann.lsh_pairs")
ER_COUNTS = {
    "blocking.raw_candidates": "count", "blocking.survivor_ratio": "ratio",
    "scoring.edge_ratio": "ratio", "scoring.pairs_scored_per_s": "1/s",
    "distances.score_batch_pairs_per_s": "1/s", "cluster.components": "count",
    "checkpoint.bytes_written_mb": "MB", "pipeline.driver_s": "s",
}
UNITS = {"wall_s": "s", "cold_s": "s", "cpu_s": "s", "gc_s": "s", "rows_out": "count",
         "jobs": "count", "stages": "count", "busy_frac": "ratio", "task_skew": "ratio",
         "shuffle_write_mb": "MB", "spill_mb": "MB"}
END_TO_END = {"wall_s": "s", "cold_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
              "shuffle_write_mb": "MB", "pairwise_f1": "ratio"}


def per_layer_units(calls=()) -> dict:
    """Every per-layer metric name -> unit; `calls` adds the spans of a
    workload's calls that are not in CALL_SPANS."""
    from spans import ER_STAGE_SPANS

    out = {}
    for span in ER_STAGE_SPANS.values():
        out.update({f"{span}.{m}": UNITS[m] for m in ER_STAGE_METRICS})
    out.update(ER_COUNTS)
    for span in CALL_SPANS + tuple(c for c in calls if c not in CALL_SPANS):
        out.update({f"{span}.{m}": UNITS[m] for m in CALL_METRICS})
    out["ann.lsh_recall"] = "ratio"
    out["memory.jvm_old_gen_peak_mb"] = "MB"
    out["memory.worker_peak_mb"] = "MB"
    out["trace.overhead_s"] = "s"
    return out


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def load_conf() -> dict:
    with open(os.path.join(HERE, "session.json")) as f:
        return json.load(f)


def start_session(conf: dict, work: str):
    """The pinned session (perfbench/session.json) on local[nproc], with every
    scratch path inside `work`; returns once fozzie_spark is imported."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # JVMs write their perf-counter files under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    nproc = len(os.sched_getaffinity(0))
    settings = dict(conf["spark"])
    settings["spark.local.dir"] = os.path.join(work, "spark-local")
    settings["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    settings["spark.driver.extraJavaOptions"] = " ".join(filter(None, (
        settings.get("spark.driver.extraJavaOptions"),
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")))
    b = SparkSession.builder.master(f"local[{nproc}]").appName("fozzie-perfbench")
    for k, v in settings.items():
        b = b.config(k, str(v))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import fozzie_spark  # noqa: F401
    import fozzie_spark.ann  # noqa: F401
    import fozzie_spark.joins  # noqa: F401
    import fozzie_spark.pipeline  # noqa: F401
    import fozzie_spark.textops  # noqa: F401

    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class Memory:
    """Peak RSS: the JVM's VmHWM plus the largest Python worker VmHWM,
    sampled after every call because idle workers can exit. The JVM's
    part is mostly its heap, pinned and touched at start (session.json),
    so the traced run also reports the
    peak of the heap's old generation (what survives collections) and the
    workers' peak on their own."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._gateway.proc.pid
        self.worker_kb = 0

    def sample(self) -> None:
        for pid in _descendants(self.jvm):
            self.worker_kb = max(self.worker_kb, _hwm_kb(pid))

    def peak_mb(self) -> float:
        self.sample()
        return (_hwm_kb(self.jvm) + self.worker_kb) / 1024.0

    def worker_peak_mb(self) -> float:
        self.sample()
        return self.worker_kb / 1024.0

    def old_gen_peak_mb(self) -> float:
        pools = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        return sum(p.getPeakUsage().getUsed() for p in pools
                   if "Old Gen" in p.getName() or "Tenured" in p.getName()) / float(1 << 20)


# --------------------------------------------------------------------------
# the closed loop
# --------------------------------------------------------------------------


class Loop:
    def __init__(self, spark, wl, tracer, memory):
        self.spark, self.wl, self.tracer, self.memory = spark, wl, tracer, memory
        self.attempted = self.failed = 0
        self.hashes: dict[str, set] = {}
        self.units: list[dict] = []

    def unit(self, traced: bool) -> dict:
        """One pass over the call list; returns its timings and results."""
        u = {"calls": {}, "raw": {}, "stolen": {}, "results": {}, "traced": traced,
             "spans": len(self.tracer.spans)}
        group = f"perfbench-unit-{len(self.units)}"
        for call in self.wl.calls:
            self.attempted += 1
            if not self._call(call, u, group, traced):
                self.failed += 1
            if traced:
                self.tracer.flush()
        # the unit's time is its calls' timed regions; checks are outside
        u["wall"] = sum(u["calls"].values())
        u["raw_wall"] = sum(u["raw"].values())
        if not traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            u["shuffle_write_mb"] = self.tracer.counters.group(group)["shuffle_write_mb"]
        self.units.append(u)
        return u

    def _call(self, call, u: dict, group: str, traced: bool) -> bool:
        """Run, time and check one call; False if it raised or failed its check."""
        from spans import stage_spans

        m0 = mark()
        try:
            if traced:
                self.tracer.call_id = f"u{len(self.units)}:{call.span}"
                with stage_spans(self.tracer), self.tracer.span(
                        call.span, plan="route" if call.route else None):
                    res = call.run()
            else:
                self.spark.sparkContext.setJobGroup(group, call.span)
                res = call.run()
        except Exception as e:  # noqa: BLE001 - a failing call is counted, not fatal
            log(f"{call.span}: raised {type(e).__name__}: {e}")
            return False
        u["calls"][call.span], u["raw"][call.span], u["stolen"][call.span] = elapsed(m0)
        self.memory.sample()
        try:
            h = call.check(res)
        except Exception as e:  # noqa: BLE001 - checks report, the loop goes on
            log(f"{call.span}: check failed: {type(e).__name__}: {e}")
            return False
        self.hashes.setdefault(call.span, set()).add(h)
        u["results"][call.span] = res
        return True


def run_units(loop: Loop, seconds: float, deadline: float, traced: bool) -> None:
    """Cold unit, then warm units until `seconds` have passed (at least
    one), and none that would end past `deadline`."""
    loop.unit(traced)
    t0 = time.perf_counter()
    while True:
        loop.unit(traced)
        now = time.perf_counter()
        if now - t0 >= seconds or now + loop.units[-1]["raw_wall"] > deadline:
            break


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(loop: Loop, setup: float, setup_raw: float, memory: Memory) -> dict:
    units = loop.units
    warm = [u["wall"] for u in units[1:]]
    f1s = [loop.wl.f1(u["results"]) for u in units
           if len(u["results"]) == len(loop.wl.calls)]
    vals = {
        "wall_s": median(warm),
        "cold_s": units[0]["wall"],
        "setup_s": setup,
        "peak_rss_mb": memory.peak_mb(),
        "shuffle_write_mb": median([u["shuffle_write_mb"] for u in units]),
        "pairwise_f1": median(f1s),
    }
    log(f"units: {len(units)} (1 cold), warm steal-free {[round(w, 3) for w in warm]}, "
        f"raw {[round(u['raw_wall'], 3) for u in units[1:]]}, setup raw {setup_raw:.3f}")
    for u in units:
        log("unit calls (raw s, stolen share): " + json.dumps(
            {k: [round(u["raw"][k], 3), round(u["stolen"][k], 3)] for k in u["calls"]}))
    return {k: {"value": vals[k], "unit": END_TO_END[k]} for k in END_TO_END}


def per_layer(loop: Loop, tracer, memory: Memory) -> dict:
    """Per-layer metrics from the traced units: medians over warm units,
    `.cold_s` from the cold unit. Layers a workload does not run read 0."""
    units = [u for u in loop.units if u["traced"]]
    cores = loop.spark.sparkContext.defaultParallelism
    calls = [c.span for c in loop.wl.calls if c.span != "er_pipeline"]
    units_map = per_layer_units(calls)
    vals = dict.fromkeys(units_map, 0.0)

    def spans_of(u, end):
        return tracer.spans[u["spans"]:end]

    bounds = [u["spans"] for u in units[1:]] + [len(tracer.spans)]
    per_unit = [spans_of(u, e) for u, e in zip(units, bounds)]
    warm = per_unit[1:]

    def span_stats(spans, name):
        sp = next((s for s in spans if s["name"] == name), None)
        if sp is None:
            return None
        c = tracer.rollup(sp)
        wall = tracer.wall(sp)
        return {"wall_s": wall, "cpu_s": c["cpu_s"], "gc_s": c["gc_s"],
                "busy_frac": c["run_s"] / (wall * cores) if wall else 0.0,
                "task_skew": c["task_skew"], "shuffle_write_mb": c["shuffle_write_mb"],
                "spill_mb": c["spill_mb"], "jobs": c["jobs"], "stages": c["stages"],
                "self_s": tracer.self_time(sp), "sp": sp}

    from spans import ER_STAGE_SPANS

    families = [(name, ER_STAGE_METRICS) for name in ER_STAGE_SPANS.values()]
    families += [(name, CALL_METRICS) for name in CALL_SPANS + tuple(
        c for c in calls if c not in CALL_SPANS)]
    for name, metrics in families:
        stats = [st for st in (span_stats(sp, name) for sp in warm) if st]
        if not stats:
            continue
        for m in metrics:
            if m == "cold_s":
                cold = span_stats(per_unit[0], name)
                vals[f"{name}.cold_s"] = cold["wall_s"] if cold else 0.0
            elif m == "rows_out":
                runner = units[-1]["results"]["er_pipeline"]["runner"]
                vals[f"{name}.rows_out"] = runner.metric(stats[0]["sp"]["stage"], "rows") or 0
            else:
                vals[f"{name}.{m}"] = median([st[m] for st in stats])
    driver = [st["self_s"] for st in (span_stats(sp, "er_pipeline") for sp in warm) if st]
    if driver:
        vals["pipeline.driver_s"] = median(driver)

    last = units[-1]["results"]
    if loop.wl.extras and len(last) == len(loop.wl.calls):
        vals.update(loop.wl.extras(last))
    scored_s = vals["blocking.pairs.wall_s"] + vals["scoring.edges.wall_s"]
    if scored_s:
        vals["scoring.pairs_scored_per_s"] = vals["blocking.raw_candidates"] / scored_s
    vals["memory.jvm_old_gen_peak_mb"] = memory.old_gen_peak_mb()
    vals["memory.worker_peak_mb"] = memory.worker_peak_mb()
    # what tracing adds to a warm unit's timed regions: their time outside
    # the calls' spans (setting job groups); the status-store reads run in
    # `Tracer.flush`, after each call's timed region
    vals["trace.overhead_s"] = median([
        u["raw_wall"] - sum(tracer.wall(s) for s in spans if s["parent"] is None)
        for u, spans in zip(units[1:], warm)])
    return {k: {"value": float(v), "unit": units_map[k]} for k, v in vals.items()}


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "tiny"), default="bench",
                   help="input sizes from session.json (tiny: the self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fozzie_spark", "__init__.py")):
        log(f"perfbench: no fozzie_spark package under {ROOT}; run from a checkout")
        return 2
    conf = load_conf()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return bench(args, conf, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, conf: dict, work: str) -> int:
    t_start = time.perf_counter()
    budget = conf["run_budget_s"]
    spark = start_session(conf, work)
    setup, setup_raw, _ = elapsed(T_MODULE)
    log(f"[{setup_raw:.1f}s] session up")

    import workloads
    from spans import Tracer

    try:
        sizes = conf["sizes"][args.size]
        wl = workloads.build(spark, args.workload, sizes, args.seed,
                             os.path.join(HERE, ".cache"), work)
        log(f"[{time.perf_counter() - T_MODULE[0]:.1f}s] inputs ready")
        tracer = Tracer(spark)
        memory = Memory(spark)
        loop = Loop(spark, wl, tracer, memory)
        deadline = t_start + budget
        run_units(loop, args.seconds, deadline, traced=bool(args.trace))
        if args.trace:
            metrics = per_layer(loop, tracer, memory)
            routes = {s["name"]: s["route"] for s in tracer.spans if "route" in s}
            log("routes: " + json.dumps(routes, indent=1))
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                        {"routes": routes, "workload": args.workload, "seed": args.seed})
        else:
            metrics = end_to_end(loop, setup, setup_raw, memory)
        failed = loop.failed
        # every unit must return the same output
        for span, hs in loop.hashes.items():
            if len(hs) != 1:
                log(f"{span}: output differs between units: {sorted(hs)}")
                failed += 1
        ref = load_reference().get(args.workload, {}).get(f"{args.size}:{args.seed}")
        if ref is not None:
            for span, h in ref["hashes"].items():
                if loop.hashes.get(span) != {h}:
                    log(f"{span}: output hash {loop.hashes.get(span)} != reference {h}")
                    failed += 1
        log(f"hashes: {json.dumps({k: sorted(v) for k, v in loop.hashes.items()})}")
        log(f"failed_frac: {failed}/{loop.attempted}")
        log(f"[{time.perf_counter() - T_MODULE[0]:.1f}s] measured")
    finally:
        stop_session(spark)
    log(f"[{time.perf_counter() - T_MODULE[0]:.1f}s] stopped")
    print(json.dumps({"correct": failed == 0, "attempted": loop.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def load_reference() -> dict:
    path = os.path.join(HERE, "reference.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
