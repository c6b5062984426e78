"""Stage checkpointing with lineage + metrics + resume.

The north rule requires every pipeline stage to checkpoint to a table with
per-partition lineage and candidate/match-count metrics, so a killed job
resumes mid-stage. On a real cluster the stage tables are Iceberg
(`table_format="iceberg"` with a configured catalog); this sandbox has no
Iceberg runtime jar, so the default is parquet + a JSON manifest that
carries the same commit semantics (atomic via _SUCCESS + manifest write
ordering: data first, manifest last; a stage with no manifest is re-run).

Resume contract: a stage re-uses its materialized output iff its manifest
exists and the recorded config hash matches the current one (config hash
covers the stage name, params, and upstream stage hashes — a changed
upstream invalidates everything downstream). Callers should fold an input
fingerprint into run_config (er_pipeline passes the input plan's
semanticHash) so a different input invalidates too; NOT covered: in-place
mutation of the same input path between runs — resuming over that returns
the stale stage outputs, same as any path-keyed cache.

Parquet stage tables read back with the schema of the frame just written
(recorded in the manifest for the resume path): a bare parquet load starts
a schema-inference job per stage, for an answer the run already holds.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def _hash_config(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def _shuffle_totals(spark: SparkSession) -> tuple[int, int]:
    """Cumulative (read, write) shuffle bytes from the app status store.
    Per-stage deltas go into the stage manifests — a plan regression (a
    join that starts shuffling key strings, a lost broadcast) shows up as
    a byte jump even when wall time hides it. Best-effort: returns (0, 0)
    when the status store is unreachable (e.g. Connect)."""
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        lst = store.executorList(False)
        r = w = 0
        for i in range(lst.size()):
            e = lst.apply(i)
            r += e.totalShuffleRead()
            w += e.totalShuffleWrite()
        return r, w
    except Exception:
        return 0, 0


class StageRunner:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        run_config: dict | None = None,
        table_format: str = "parquet",
        resume: bool = True,
        collect_metrics: bool = True,
    ):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.run_config = run_config or {}
        self.table_format = table_format
        self.resume = resume
        self.collect_metrics = collect_metrics
        self.manifests: dict[str, dict] = {}
        os.makedirs(self.base_dir, exist_ok=True)

    def _paths(self, name: str) -> tuple[str, str]:
        return f"{self.base_dir}/{name}", f"{self.base_dir}/{name}.manifest.json"

    def _load(self, data_path: str, schema: StructType | None) -> DataFrame:
        """Read a stage table back; a known schema spares parquet its
        schema-inference job. Other formats keep the bare load."""
        reader = self.spark.read.format(self.table_format)
        if schema is not None and self.table_format == "parquet":
            reader = reader.schema(schema)
        return reader.load(data_path)

    def stage(
        self,
        name: str,
        fn,
        params: dict | None = None,
        depends_on: tuple[str, ...] = (),
    ) -> DataFrame:
        """Run (or resume) a named stage. `fn` returns the stage DataFrame,
        or (DataFrame, Observation) — observed metrics (collected by the
        write action, no extra job) merge into the stage manifest."""
        data_path, manifest_path = self._paths(name)
        upstream = [self.manifests[d]["config_hash"] for d in depends_on if d in self.manifests]
        cfg = {
            "stage": name,
            "params": params or {},
            "run_config": self.run_config,
            "upstream": upstream,
            "format": self.table_format,
        }
        chash = _hash_config(cfg)

        if self.resume and os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = json.load(f)
            if manifest.get("config_hash") == chash:
                self.manifests[name] = manifest
                schema = manifest.get("schema")
                return self._load(data_path, schema and StructType.fromJson(schema))

        t0 = time.time()
        sh_r0, sh_w0 = _shuffle_totals(self.spark)
        result = fn()
        obs = None
        if isinstance(result, tuple):
            df, obs = result
        else:
            df = result
        df.write.format(self.table_format).mode("overwrite").save(data_path)
        sh_r1, sh_w1 = _shuffle_totals(self.spark)
        out = self._load(data_path, df.schema)

        metrics: dict = {
            "shuffle_read_bytes": sh_r1 - sh_r0,
            "shuffle_write_bytes": sh_w1 - sh_w0,
        }
        if obs is not None:
            try:
                metrics.update(dict(obs.get))
            except Exception:
                # AQE empty-relation propagation can prune the observed
                # subtree entirely (zero-candidate plans) — no metrics then
                pass
        if self.collect_metrics:
            metrics.update(self._partition_metrics(out, data_path))

        manifest = {
            "stage": name,
            "config_hash": chash,
            "config": cfg,
            "wall_s": round(time.time() - t0, 3),
            "metrics": metrics,
            "path": data_path,
            "depends_on": list(depends_on),
            "schema": out.schema.jsonValue(),
        }
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, manifest_path)  # manifest last => commit point
        self.manifests[name] = manifest
        return out

    def _partition_metrics(self, out: DataFrame, data_path: str) -> dict:
        """Per-partition row counts for the stage manifest's lineage block.

        Parquet stage tables on a locally-readable path answer this from
        the FILE FOOTERS (one metadata read per part file, no Spark job) —
        the post-write partition scan was a full extra job per stage,
        measurable against the whole pipeline wall (guide §1: don't pay a
        job for what metadata already records). Footer counts are exact:
        rows == written rows, one entry per part file (per-FILE lineage,
        where the scan reported per-read-split). Non-parquet formats and
        non-local paths keep the scan fallback."""
        if self.table_format == "parquet":
            try:
                import glob

                import pyarrow.parquet as pq

                files = sorted(glob.glob(os.path.join(data_path, "*.parquet")))
                if files:
                    rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
                    return {
                        "rows": int(sum(rows)),
                        "partitions": len(files),
                        "rows_per_partition": {
                            str(i): int(r) for i, r in enumerate(rows)
                        },
                    }
            except Exception:
                pass
        per_part = (
            out.groupBy(F.expr("spark_partition_id() AS partition"))
            .agg(F.expr("count(1) AS rows"))
            .collect()
        )
        return {
            "rows": int(sum(r["rows"] for r in per_part)),
            "partitions": len(per_part),
            "rows_per_partition": {
                str(r["partition"]): int(r["rows"]) for r in per_part
            },
        }

    def metric(self, stage: str, key: str):
        return self.manifests.get(stage, {}).get("metrics", {}).get(key)
