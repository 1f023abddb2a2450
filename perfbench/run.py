"""Benchmark of the append path: ``pipeline.append_dataset`` as
``cli.cmd_add`` runs it, on ``local[<cpus>]`` from one driver process.

    python3 perfbench/run.py --workload tile_dense --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

* set-up (``setup_s``): import of the engine, session start, staging
  of every input batch, and a ``cmd_add``-shaped first append
  (checkpoint dir + tile sink), which also warms the session;
* a closed loop with one client: appends of fresh batches one after
  the other, each onto a new dataset and timed from the call until its
  images and annotations tables are materialized, until ``--seconds``
  of appends (at least ``MIN_SAMPLES``, at most ``workloads.MAX_TIMED``)
  have run;
* the rest of the ``cmd_add`` cycle, on the warm session: re-run the
  first append as a resume from its checkpoint (one resume, reported by
  the traced run as ``checkpoint.resume_s``: on a shared host its spread
  across runs is wider than an end-to-end bound can hold), export the
  result (``export_s``, one export) and load it back (``load_s``, the
  median of ``LOAD_REPEATS`` loads).

Outputs are checked in the same run: EngineMetrics counts equal table
counts and ids are dense after every append, the first append's raster
is recomputed with the naive reference loop of the pipeline oracle test,
the resume must skip both checkpointed stages and reproduce the first
append's tables, and the loaded tables must equal the exported ones.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.

``peak_rss_mb`` is the peak summed RSS of the Python driver and the
Python workers (sampled from ``/proc``) plus the JVM's peak use of its
memory pools but eden (``tracing.jvm_peak_bytes``). The JVM's own RSS
is left out: it grows to the heap size whatever the program keeps.

``--trace 1`` is a separate run for per-layer metrics: half of the
timed appends are traced (``timings=``, ``EngineMetrics(phases=True)``,
a job group, spans), layer probes run after the loop (among them one
append with the pipeline's own pair-join probe,
``SPARK_GRAFT_PAIRS_PROBE=1``), and the Spark event log is read at
exit. Spans are written to
``.bench_out/<run>/spans.json`` and each layer's self time is printed
to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
if __name__ == "__main__" and not os.path.isfile(os.path.join(ROOT, "geococo_spark", "pipeline.py")):
    sys.exit(f"perfbench: no geococo_spark package under {ROOT}; run from a full checkout")
sys.path.insert(0, ROOT)

from geococo_spark import pipeline  # noqa: E402
from geococo_spark.checkpoint import EngineMetrics  # noqa: E402
from geococo_spark.coco import CocoState  # noqa: E402
from geococo_spark.session import get_spark  # noqa: E402

import layers  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

IMPORT_S = time.perf_counter() - T_START  # engine and pyspark imports: part of set-up

IMAGES_DIR = "images"  # COCO file_name prefix, cmd_add's output_dir
# timed appends per run at least (in a traced run: of each kind); past
# that the loop runs until --seconds of appends are in
MIN_SAMPLES = 2
LOAD_REPEATS = 2  # loads of the exported file per run; the median is reported
DRIVER_MEM = "3g"  # the local-mode JVM's heap, driver and executor alike

# pipeline.append_dataset phase marks -> the layer whose work fills them
PHASE_LAYERS = [
    ("prologue_agg", "pipeline.prologue"),
    ("sources", "coco.sources"),
    ("pairs_join", "operators.spatial_join"),
    ("kernel", "kernels.tile_kernel"),
    ("image_ids", "operators.ids"),
    ("annotation_ids", "operators.ids"),
]
KERNEL_PHASES = ("decode", "raster", "tile", "ann", "sink")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="append-path benchmark")
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def prepare_env(out: str, trace: bool) -> dict:
    """Keep every file Spark and Python write under ``out``, and put the
    repository on the Python workers' path, so the benchmark runs from
    any working directory."""
    dirs = {k: os.path.join(out, k) for k in ("tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir
    # says; this covers the spark-submit launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # a heap that starts at its full size: otherwise the first appends
        # of a session spend their time growing it, and how far each run
        # got by the timed appends varies far more than the appends do
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={dirs['tmp']}",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": dirs["eventlog"],
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return dirs


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Bench:
    """One run: the session, its inputs, spans and the tally of
    attempted and failed operations."""

    def __init__(self, args, spark, tracer: tracing.Tracer, out: str):
        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.spark = spark
        self.tracer = tracer
        self.out = out
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, errors: list[str]) -> None:
        """Count one operation; it failed if its output check found errors."""
        self.attempted += 1
        if errors:
            self.failed += 1
            for e in errors:
                print(f"perfbench: CHECK FAILED ({what}): {e}", file=sys.stderr)

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def append(self, images: str, labels: str, run_id: str, phases: bool = False,
               timings: dict | None = None, **kw):
        """One append onto a new dataset, timed from the call until its
        images and annotations are materialized (counted, with their id
        moments). Returns (seconds, state, id stats of both tables,
        EngineMetrics snapshot)."""
        metrics = EngineMetrics(self.spark, phases=phases)
        state = CocoState.create(self.spark, description="perfbench", contributor="perfbench")
        with self.tracer.span("pipeline", run_id) as root:
            t0 = time.perf_counter()
            state = pipeline.append_dataset(
                self.spark, state, self.read(images), self.read(labels),
                images_dir=IMAGES_DIR, window_bounds=list(self.wl.window_bounds),
                id_attribute="category_id", name_attribute="class_names",
                metrics=metrics, timings=timings, **kw,
            )
            t1 = time.perf_counter()
            with self.tracer.span("operators.ids", run_id):
                stats = (workloads.id_stats(state.images), workloads.id_stats(state.annotations))
        if timings is not None:
            timings["materialize"] = root["seconds"] - (t1 - t0)
            if root["id"] is not None:
                # the pipeline's phase marks are consecutive from the call
                start = t0
                for phase, layer in PHASE_LAYERS:
                    if phase in timings:
                        self.tracer.add(layer, start, start + timings[phase], run_id, root["id"])
                        start += timings[phase]
        return root["seconds"], state, stats, metrics.snapshot()


def timed_loop(b: Bench, batches: list[str], labels: str) -> dict:
    """Closed loop of appends over batches 1..; in a traced run half of
    them are traced. Stops once ``--seconds`` of appends and enough
    samples are in."""
    sc = b.spark.sparkContext
    untraced: list[float] = []
    traced: list[float] = []
    rows: list[dict] = []
    groups: list[str] = []  # run ids (and job groups) of the traced appends
    for k in range(1, len(batches)):
        done = sum(untraced) + sum(traced) >= b.args.seconds
        if b.args.trace:
            done = done and min(len(untraced), len(traced)) >= MIN_SAMPLES
        else:
            done = done and len(untraced) >= MIN_SAMPLES
        if done:
            break
        # untraced and traced appends in ABBA order, so drift within the
        # run (the first timed append is still warming up) hits both
        trace_this = bool(b.args.trace) and k % 4 in (2, 3)
        run_id = f"append-{k}"
        timings = {} if trace_this else None
        if trace_this:
            groups.append(run_id)
            sc.setJobGroup(run_id, run_id)
            gc0 = tracing.jvm_gc_seconds(b.spark)
        seconds, _, stats, snap = b.append(
            batches[k], labels, run_id, phases=trace_this, timings=timings
        )
        if trace_this:
            rows.append(append_layers(b, run_id, timings, snap, gc0))
            sc.setJobGroup("perfbench-checks", "perfbench-checks")
            traced.append(seconds)
        else:
            untraced.append(seconds)
        b.record(run_id, workloads.check_tables(snap, *stats))
        print(f"perfbench: {run_id}{' traced' if trace_this else ''} {seconds:.3f} s, "
              f"{stats[0]['n']} tiles, {stats[1]['n']} annotations", file=sys.stderr)
        b.spark.catalog.clearCache()  # the next append starts with nothing cached
    return {"untraced": untraced, "traced": traced, "layers": rows, "groups": groups}


def append_layers(b: Bench, run_id: str, timings: dict, snap: dict, gc0: float) -> dict:
    """Per-layer readings of one traced append."""
    st = b.spark.sparkContext.statusTracker()
    jobs = [j for j in map(st.getJobInfo, st.getJobIdsForGroup(run_id)) if j is not None]
    stages = [s for j in jobs for s in j.stageIds]
    tasks = sum(getattr(st.getStageInfo(s), "numTasks", 0) for s in stages)
    cpus = b.spark.sparkContext.defaultParallelism
    kernel_s = timings.get("kernel", 0.0)
    core_s = snap["kernel_ms"] / 1e3
    hits, misses = snap["decode_cache_hits"], snap["decode_cache_misses"]
    row = {
        "pipeline.prologue_s": timings.get("prologue_agg", 0.0),
        "pipeline.jobs": len(jobs),
        "pipeline.stages": len(stages),
        "pipeline.tasks": tasks,
        # grid windows the append emits: those with at least one label
        "operators.grid.tiles": snap["tiles_generated"],
        "operators.spatial_join.join_s": timings.get("pairs_join", 0.0),
        "kernels.tile_kernel.kernel_s": kernel_s,
        "kernels.tile_kernel.core_s": core_s,
        "kernels.tile_kernel.core_utilization": core_s / (kernel_s * cpus) if kernel_s else 0.0,
        "kernels.tile_kernel.decode_cache_hit_ratio": hits / max(hits + misses, 1),
        "kernels.tile_kernel.masks_empty": snap["masks_empty"],
        "operators.ids.assign_s": timings.get("image_ids", 0.0)
        + timings.get("annotation_ids", 0.0) + timings["materialize"],
        "coco.sources_s": timings.get("sources", 0.0),
        "spark.gc_s": tracing.jvm_gc_seconds(b.spark) - gc0,
    }
    for p in KERNEL_PHASES:
        row[f"kernels.tile_kernel.{p}_core_s"] = snap[f"kernel_{p}_us"] / 1e6
    return row


def cmd_add_cycle(b: Bench, batch0: str, labels: str, ck: str, sink: str,
                 first: dict) -> dict:
    """Resume the checkpointed first append, export the result and load
    it back ``LOAD_REPEATS`` times. The resume must skip both
    checkpointed stages and reproduce the first append's tables, and the
    loaded tables must equal the exported ones."""
    out = {}
    manifests = [os.path.join(ck, s, "manifest.json") for s in ("pairs", "kernel_out")]
    before = [os.stat(m).st_mtime_ns for m in manifests]
    out["resume_s"], resumed, _, _ = b.append(
        batch0, labels, "resume", checkpoint_dir=ck, tile_sink_dir=sink
    )
    hits = sum(os.stat(m).st_mtime_ns == t for m, t in zip(manifests, before))
    out["resume_hits"] = hits
    digest = workloads.dataset_digest(resumed)
    b.record("resume", ([] if hits == len(manifests) else [f"resume hit {hits} of 2 stages"])
             + [f"resumed {k} differ from the first append's" for k in digest
                if digest[k] != first[k]])

    path = os.path.join(b.out, "dataset.json")
    with b.tracer.span("coco.export", "cmd_add") as sp:
        resumed.to_json_file(path)
    out["export_s"] = sp["seconds"]
    out["json_bytes"] = os.path.getsize(path)
    loads = []
    for _ in range(LOAD_REPEATS):
        with b.tracer.span("coco.load", "cmd_add") as sp:
            loaded = CocoState.from_json_file(b.spark, path)
            loaded.images.count()
            loaded.annotations.count()
        loads.append(sp["seconds"])
    out["load_s"] = statistics.median(loads)
    loaded_digest = workloads.dataset_digest(loaded)
    b.record("export and load", [f"loaded {k} differ from the exported {k}"
                                 for k in digest if loaded_digest[k] != digest[k]])
    if b.args.trace:
        # the collects inside to_json_file, on their own
        t0 = time.perf_counter()
        resumed.images.orderBy("id").collect()
        resumed.annotations.orderBy("id").collect()
        out["export_collect_s"] = time.perf_counter() - t0
    return out


def probe_append(b: Bench, batch: str, labels: str) -> dict:
    """checkpoint and operators.spatial_join: a warm checkpointed append
    of a timed batch into fresh stage and sink dirs, with the pipeline's
    own pair-join probe (``SPARK_GRAFT_PAIRS_PROBE=1``), which joins the
    append's real tiles and labels before the append proper, each join
    a job of its own: bbox-only without dedupe (the filter step: its
    rows are the candidates, its time ``filter_s``), with the exact
    predicate but no dedupe (filter and refine, ``exact_s``), and exactly
    with dedupe (its rows are the pairs). Write times come from the
    stage manifests."""
    ck, sink = os.path.join(b.out, "ck_write"), os.path.join(b.out, "sink_write")
    timings: dict = {}
    os.environ["SPARK_GRAFT_PAIRS_PROBE"] = "1"
    try:
        _, _, stats, snap = b.append(batch, labels, "probe", timings=timings,
                                     checkpoint_dir=ck, tile_sink_dir=sink)
    finally:
        del os.environ["SPARK_GRAFT_PAIRS_PROBE"]
    b.record("probe append", workloads.check_tables(snap, *stats))
    candidates, pairs = timings["probe_cand_rows"], timings["probe_dedup_rows"]

    def wall_ms(stage):
        with open(os.path.join(ck, stage, "manifest.json")) as fh:
            return json.load(fh)["wall_ms"]

    return {
        "operators.spatial_join.candidates": candidates,
        "operators.spatial_join.pairs": pairs,
        "operators.spatial_join.pair_yield": pairs / max(candidates, 1),
        "operators.spatial_join.filter_s": timings["probe_cand"],
        "operators.spatial_join.exact_s": timings["probe_exact"],
        "checkpoint.pairs_write_ms": wall_ms("pairs"),
        "checkpoint.kernel_out_write_ms": wall_ms("kernel_out"),
        "checkpoint.bytes_per_input_byte": du(ck) / (du(batch) + du(labels)),
        "kernels.tile_kernel.sink_bytes_per_tile": du(sink) / max(stats[0]["n"], 1),
    }


# units of the per-layer metrics; "self.<span>_s" self times are seconds
LAYER_UNITS = {
    "pipeline.prologue_s": "s", "pipeline.jobs": "count", "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "operators.grid.tiles": "count",
    "operators.spatial_join.join_s": "s", "operators.spatial_join.candidates": "count",
    "operators.spatial_join.pairs": "count", "operators.spatial_join.pair_yield": "ratio",
    "operators.spatial_join.filter_s": "s", "operators.spatial_join.exact_s": "s",
    "kernels.tile_kernel.kernel_s": "s", "kernels.tile_kernel.core_s": "s",
    "kernels.tile_kernel.core_utilization": "ratio",
    **{f"kernels.tile_kernel.{p}_core_s": "s" for p in KERNEL_PHASES},
    "kernels.tile_kernel.decode_cache_hit_ratio": "ratio",
    "kernels.tile_kernel.masks_empty": "count",
    "kernels.tile_kernel.sink_bytes_per_tile": "B",
    "geometry.wkb.us_per_label": "us", "geometry.validate.us_per_label": "us",
    "geometry.rasterize.us_per_label": "us", "geometry.rle.us_per_mask": "us",
    "kernels.codec.encode_ms_per_tile": "ms",
    "operators.ids.assign_s": "s",
    "coco.sources_s": "s", "coco.export_collect_s": "s", "coco.json_bytes": "B",
    "checkpoint.pairs_write_ms": "ms", "checkpoint.kernel_out_write_ms": "ms",
    "checkpoint.bytes_per_input_byte": "ratio", "checkpoint.resume_hits": "count",
    "checkpoint.resume_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "B", "spark.gc_s": "s",
    "memory.python_peak_mb": "MB", "memory.jvm_peak_mb": "MB",
    "trace.append_s": "s", "trace.untraced_append_s": "s", "trace.overhead_s": "s",
}
SELF_TIME_SPANS = ("pipeline", "pipeline.prologue", "coco.sources", "operators.spatial_join",
                   "kernels.tile_kernel", "operators.ids")


def layer_metrics(b: Bench, loop: dict, cycle: dict, batches: list[str], labels: str) -> dict:
    """Per-layer metrics that need the live session: medians of the
    traced appends' readings, the layer probes and the self times."""
    rows = loop["layers"]
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    probe_batch = batches[2]  # input of the first traced append
    m.update(layers.geometry_probe(b.read(probe_batch), b.read(labels), b.wl.window_bounds))
    m.update(probe_append(b, probe_batch, labels))
    traced_s = statistics.median(loop["traced"])
    untraced_s = statistics.median(loop["untraced"])
    m.update({
        "coco.export_collect_s": cycle["export_collect_s"],
        "coco.json_bytes": cycle["json_bytes"],
        "checkpoint.resume_hits": cycle["resume_hits"],
        "checkpoint.resume_s": cycle["resume_s"],
        "trace.append_s": traced_s,
        "trace.untraced_append_s": untraced_s,
        "trace.overhead_s": traced_s - untraced_s,
    })
    self_times = b.tracer.self_times(set(loop["groups"]))
    for name in SELF_TIME_SPANS:
        m[f"self.{name}_s"] = self_times.get(name, 0.0) / len(loop["traced"])
    return m


def report_self_times(m: dict) -> None:
    """Each layer's self time per traced append, and how they add up to
    the untraced append time once the tracing overhead is taken off."""
    total = 0.0
    for name in SELF_TIME_SPANS:
        s = m[f"self.{name}_s"]
        total += s
        print(f"perfbench: self time {name:<24} {s:8.3f} s", file=sys.stderr)
    print(f"perfbench: self times sum {total:.3f} s = traced append {m['trace.append_s']:.3f} s; "
          f"minus tracing overhead {m['trace.overhead_s']:.3f} s -> "
          f"{total - m['trace.overhead_s']:.3f} s vs untraced append "
          f"{m['trace.untraced_append_s']:.3f} s", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = workloads.WORKLOADS[args.workload]
    out = os.path.join(ROOT, ".bench_out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    dirs = prepare_env(out, bool(args.trace))
    steal0 = tracing.steal_seconds()
    tracer = tracing.Tracer(bool(args.trace))
    cpus = len(os.sched_getaffinity(0))

    with tracing.RssSampler(os.getpid()) as rss:
        with tracer.span("setup", "setup") as setup:
            with tracer.span("session", "setup"):
                spark = get_spark(app_name="perfbench", master=f"local[{cpus}]")
                spark.sparkContext.setLogLevel("ERROR")
            b = Bench(args, spark, tracer, out)
            with tracer.span("stage_inputs", "setup") as sp:
                batches, labels, label_rows = workloads.stage_inputs(
                    spark, wl, args.seed, os.path.join(out, "data"), 1 + workloads.MAX_TIMED
                )
            print(f"perfbench: staged inputs in {sp['seconds']:.2f} s", file=sys.stderr)
            # cmd_add-shaped first append (checkpoint dir + tile sink),
            # which the cmd_add cycle below resumes
            ck, sink = os.path.join(out, "ck"), os.path.join(out, "sink")
            _, state, stats, snap = b.append(
                batches[0], labels, "first", checkpoint_dir=ck, tile_sink_dir=sink
            )
        setup_s = IMPORT_S + setup["seconds"]
        # checks of the first append, outside the set-up clock
        first = workloads.dataset_digest(state)
        b.record("first append", workloads.check_tables(snap, *stats) + workloads.check_oracle(
            state, b.read(batches[0]), label_rows, wl, IMAGES_DIR, pick=args.seed))
        spark.catalog.clearCache()

        loop = timed_loop(b, batches, labels)
        # the rest of the cmd_add cycle, once the timed appends have warmed
        # the session
        cycle = cmd_add_cycle(b, batches[0], labels, ck, sink, first)
        # memory of the same work in both modes: the layer probes come after
        python_peak, jvm_peak = rss.peak, tracing.jvm_peak_bytes(spark)
        m = layer_metrics(b, loop, cycle, batches, labels) if args.trace else {}
    stop_spark(spark)
    peak_mb = (python_peak + jvm_peak) / 2**20

    # host readings come after the session, so that they stay out of set-up
    host = tracing.host_readings()
    host["steal_s"] = tracing.steal_seconds() - steal0  # CPU time taken by other guests
    samples = loop["untraced"]
    if args.trace:
        events = tracing.event_log_totals(dirs["eventlog"], set(loop["groups"]))
        n = len(loop["traced"])
        m["spark.shuffle_write_bytes"] = events.get("shuffle_write_bytes", 0) / n
        m["spark.shuffle_fetch_wait_s"] = events.get("shuffle_fetch_wait_ms", 0) / 1e3 / n
        m["spark.spill_bytes"] = events.get("spill_bytes", 0) / n
        m["memory.python_peak_mb"] = python_peak / 2**20
        m["memory.jvm_peak_mb"] = jvm_peak / 2**20
        tracer.write(os.path.join(out, "spans.json"))
        report_self_times(m)
        metrics = {k: (v, LAYER_UNITS.get(k, "s")) for k, v in m.items()}
    else:
        metrics = {
            "append_s": (statistics.median(samples), "s"),
            "images_per_s": (wl.n_images * len(samples) / sum(samples), "images/s"),
            "setup_s": (setup_s, "s"),
            "export_s": (cycle["export_s"], "s"),
            "load_s": (cycle["load_s"], "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
    with open(os.path.join(out, "run.json"), "w") as fh:
        json.dump({"args": vars(args), "host": host, "cpus": cpus, "setup_s": setup_s,
                   "append_samples": samples, "traced_samples": loop["traced"],
                   "python_peak_mb": python_peak / 2**20, "jvm_peak_mb": jvm_peak / 2**20,
                   "attempted": b.attempted, "failed": b.failed,
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, fh, indent=1)
    for d in ("data", "ck", "sink", "ck_write", "sink_write", "spark-local", "tmp", "eventlog",
              "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    print(f"perfbench: loadavg {host['loadavg']}, calibration loop "
          f"{host['calibration_loop_s']:.3f} s, steal {host['steal_s']:.1f} s, "
          f"setup {setup_s:.2f} s, {len(samples)} appends {[round(s, 3) for s in samples]}",
          file=sys.stderr)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
