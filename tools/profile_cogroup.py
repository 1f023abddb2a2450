"""Attribute the cogroup kernel stage's non-kernel wall time (VERDICT
r04 #3): in quiet windows the kernel stage holds ~0.63-0.65 core
utilization at 1024 images while ``kernel_ms`` (time inside
run_tile_kernel) accounts for less; the gap sits between the groups a
worker processes — JVM group feed, Arrow->pandas materialization of the
(fat) image group, and Arrow serialization of the previous group's
result.

Method: wrap the cogroup kernel so each call records, per reused Python
worker, the time BETWEEN leaving the previous group and entering the
next (``gap_ms``) plus call count; the driver also gets the stage wall
and kernel_ms. gap_ms aggregated over all workers is exactly the
per-worker non-kernel time the round-4 decomposition could not name
(inter-task shuffle fetch lands in the first-call-of-task gap, which we
exclude via a task-boundary marker from TaskContext).

Usage: python tools/profile_cogroup.py [cores] [n_images]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geococo_spark import pipeline  # noqa: E402
from geococo_spark.checkpoint import EngineMetrics  # noqa: E402
from geococo_spark.coco import CocoState  # noqa: E402
from geococo_spark.kernels import tile_kernel  # noqa: E402
from geococo_spark.session import get_spark  # noqa: E402
from geococo_spark.sources import datagen  # noqa: E402


def instrumented_cogroup_kernel(out_fmt, acc, tile_sink_dir=None):
    """Same contract as tile_kernel.cogroup_kernel, plus per-worker
    inter-call gap accounting into acc['gap_ms'] / acc['gap_calls'] and
    within-task first-call exclusion (shuffle fetch noise)."""
    inner = tile_kernel.cogroup_kernel(out_fmt, acc, tile_sink_dir)
    state = {"last_exit": None, "last_task": None}

    def _fn(image_pdf, pairs_pdf):
        from pyspark import TaskContext

        t_in = time.perf_counter()
        tid = TaskContext.get().taskAttemptId() if TaskContext.get() else None
        if state["last_exit"] is not None and tid == state["last_task"]:
            acc["gap_ms"].add(int((t_in - state["last_exit"]) * 1000))
            acc["gap_calls"].add(1)
        elif state["last_exit"] is not None:
            acc["task_gap_ms"].add(int((t_in - state["last_exit"]) * 1000))
            acc["task_gap_calls"].add(1)
        out = inner(image_pdf, pairs_pdf)
        state["last_exit"] = time.perf_counter()
        state["last_task"] = tid
        acc["group_calls"].add(1)
        # rough Arrow-side input volume for this group
        acc["group_in_bytes"].add(
            int(image_pdf.memory_usage(deep=True).sum())
            + int(pairs_pdf.memory_usage(deep=True).sum())
        )
        return out

    return _fn


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n_images = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
    stage = os.environ.get("SPARK_GRAFT_SCALING_STAGE", "/tmp/geococo_profile_stage")
    spark = get_spark(
        app_name="cogroup-prof", master=f"local[{cores}]",
        shuffle_partitions=cores, arrow_batch_rows=64,
    )
    spark.sparkContext.setLogLevel("ERROR")
    images = datagen.stage_images_parquet(
        spark, f"{stage}/images_{n_images}", n_images, files=max(8, n_images // 4)
    )
    labels = spark.read.parquet(f"{stage}/labels_dense")

    # extra accumulators piggyback on the EngineMetrics dict
    extra = ["gap_ms", "gap_calls", "task_gap_ms", "task_gap_calls",
             "group_calls", "group_in_bytes"]

    orig = pipeline.cogroup_kernel
    pipeline.cogroup_kernel = instrumented_cogroup_kernel
    try:
        results = []
        for rep in range(3):
            import shutil, tempfile

            m = EngineMetrics(spark)
            for name in extra:
                m.acc[name] = spark.sparkContext.accumulator(0)
            sink = tempfile.mkdtemp(prefix="cogroup_prof_sink_")
            timings: dict = {}
            state = CocoState.create(spark)
            t0 = time.perf_counter()
            state = pipeline.append_dataset(
                spark, state, images, labels,
                images_dir="bench_images",
                window_bounds=[(128, 128), (256, 256)],
                id_attribute="category_id", name_attribute="class_names",
                metrics=m, timings=timings, tile_sink_dir=sink,
            )
            state.annotations.count()
            total = time.perf_counter() - t0
            shutil.rmtree(sink, ignore_errors=True)
            s = m.snapshot()
            results.append({
                "rep": rep, "total_s": round(total, 2),
                "kernel_phase_s": timings.get("kernel"),
                "kernel_ms_core_s": round(s["kernel_ms"] / 1000.0, 1),
                "gap_core_s": round(s["gap_ms"] / 1000.0, 1),
                "gap_calls": s["gap_calls"],
                "task_gap_core_s": round(s["task_gap_ms"] / 1000.0, 1),
                "task_gap_calls": s["task_gap_calls"],
                "group_calls": s["group_calls"],
                "group_in_gb": round(s["group_in_bytes"] / 1e9, 2),
            })
            print(json.dumps(results[-1]), flush=True)
    finally:
        pipeline.cogroup_kernel = orig
    best = min(results, key=lambda r: r["total_s"])
    kernel_wall = best["kernel_phase_s"] or 1.0
    print(json.dumps({
        "cores": cores, "n_images": n_images,
        "best": best,
        "stage_core_budget_s": round(kernel_wall * cores, 1),
        "kernel_util": round(best["kernel_ms_core_s"] / (kernel_wall * cores), 3),
        "gap_util": round(best["gap_core_s"] / (kernel_wall * cores), 3),
        "task_gap_util": round(best["task_gap_core_s"] / (kernel_wall * cores), 3),
    }))


if __name__ == "__main__":
    main()
