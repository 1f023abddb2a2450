"""Checkpoint-resume with per-partition lineage manifests + metrics
(north_rule; SURVEY.md §7.5).

Each pipeline stage writes its output as parquet under
``<base>/<stage>/data`` plus a manifest ``<base>/<stage>/manifest.json``
recording the stage's input fingerprint, per-partition-file row counts
(the lineage), wall time and status. On re-run, a stage whose manifest
is COMPLETE for the same fingerprint is *skipped* and its parquet is
read back — the engine analog of the reference's exists-skip
(geococo/coco_processing.py:149) and re-derived counters
(geococo/coco_models.py:24-29).

Metrics are Spark accumulators flushed into the manifest (north_star:
tiles_generated, annotations_emitted, masks_empty, bytes_decoded, ...).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class EngineMetrics:
    """Named Spark accumulators usable from inside Arrow kernels."""

    NAMES = [
        "tiles_generated",
        "tiles_matched",
        "annotations_emitted",
        "masks_empty",
        "bytes_decoded",  # bytes actually decoded (cache misses only, ADVICE r04)
        "decode_cache_hits",
        "decode_cache_misses",
        "knn_fallbacks",
        "knn_unassigned",  # labels the kNN fallback found no tile for
        "kernel_ms",  # wall ms spent inside the tile kernel (all workers)
    ]

    # opt-in within-kernel phase split (round 5): registered only when
    # phases=True (profiling) — the kernel bumps them solely when the
    # keys exist, so production runs pay nothing
    PHASE_NAMES = [
        # microseconds: per-tile phases are sub-ms, so a per-call int(ms)
        # truncation would floor them to zero
        "kernel_decode_us",  # image bytes -> ndarray (incl. cache hits)
        "kernel_raster_us",  # per-label patch rasterization
        "kernel_tile_us",  # window slice + pad + normalize + encode
        "kernel_ann_us",  # per-annotation mask/RLE/bbox loop
        "kernel_sink_us",  # in-stage tile parquet sink write
    ]

    def __init__(self, spark: SparkSession, phases: bool = False):
        sc = spark.sparkContext
        names = self.NAMES + (self.PHASE_NAMES if phases else [])
        self.acc = {n: sc.accumulator(0) for n in names}

    def add(self, name: str, value: int) -> None:
        self.acc[name].add(int(value))

    def snapshot(self) -> dict:
        return {n: a.value for n, a in self.acc.items()}


class StageCheckpoint:
    """Stage-level checkpointing with fingerprint-gated resume."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.base_dir, stage)
        return os.path.join(d, "data"), os.path.join(d, "manifest.json")

    def manifest(self, stage: str) -> dict | None:
        _, mpath = self._paths(stage)
        if not os.path.exists(mpath):
            return None
        with open(mpath) as fh:
            return json.load(fh)

    def read(self, stage: str) -> DataFrame:
        """Read a stage's checkpointed parquet directly (the caller is
        responsible for checking ``is_complete`` first)."""
        data_path, _ = self._paths(stage)
        return self.spark.read.parquet(data_path)

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        m = self.manifest(stage)
        return bool(m and m.get("status") == "COMPLETE" and m.get("fingerprint") == fingerprint)

    def run(
        self,
        stage: str,
        fingerprint: str,
        df_factory,
        metrics: EngineMetrics | None = None,
    ) -> DataFrame:
        """Return the stage output, recomputing only on fingerprint miss.

        ``df_factory()`` builds the DataFrame lazily so a resumed run
        never even constructs the upstream plan.
        """
        data_path, mpath = self._paths(stage)
        if self.is_complete(stage, fingerprint):
            return self.spark.read.parquet(data_path)
        t0 = time.perf_counter()
        df = df_factory()
        df.write.mode("overwrite").parquet(data_path)
        out = self.spark.read.parquet(data_path)
        # per-partition-file lineage rows
        lineage = [
            {"partition_file": os.path.basename(r["f"]), "rows": r["n"]}
            for r in out.groupBy(F.input_file_name().alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        manifest = {
            "stage": stage,
            "fingerprint": fingerprint,
            "status": "COMPLETE",
            "rows": int(sum(p["rows"] for p in lineage)),
            "wall_ms": int((time.perf_counter() - t0) * 1000),
            "partitions": sorted(lineage, key=lambda p: p["partition_file"]),
            "metrics": metrics.snapshot() if metrics else {},
        }
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, mpath)  # atomic: a crash never leaves COMPLETE+garbage
        return out
