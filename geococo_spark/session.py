"""SparkSession factory with the engine's tuned defaults.

Tuning rationale (100 TB target, tested on local[N]):
- AQE on (runtime coalesce + skew-join splitting backs up the engine's
  explicit salting, SURVEY.md §4.2),
- Arrow enabled and batch-size bounded so decoded-image batches fit in
  executor memory (SURVEY.md §4.2 codegen row),
- shuffle partitions default to cores on local mode; a real cluster
  would size this to ~2-3x total cores / target 128-256 MB partitions,
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``F.*``/``Column`` call captures the Python stack and sends it
  to the JVM, to name the calling line in an ``AnalysisException``:
  on a shared 4-core VM a call took 11.3 py4j round trips and
  0.9-1.2 ms instead of 2.6 and 0.26 ms, and a label_sparse perfbench
  append made 7.4k-7.7k py4j calls instead of 3.5k-3.6k. To get call
  sites back while chasing an ``AnalysisException``, flip the setting to
  ``"true"`` below, locally. It is a static conf that PySpark reads once
  per process, and the builder's value wins over ``--conf``.
  Sessions not made here (``jobs/annotate*.py`` build their own) keep
  PySpark's default unless launched with
  ``--conf spark.python.sql.dataFrameDebugging.enabled=false``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "geococo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = cores if inner == "*" else int(inner)
        else:
            shuffle_partitions = 2 * cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: 1024 rows keeps scalar-UDF batches efficient
        # (64-row batches thrashed the per-batch WKB cache and paid ~16x
        # the per-batch overhead — measured round 2) while staying bounded
        # for fat rows: kernel groups are small and tile rows cap batch
        # memory at ~16 tiles x 200KB per group
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master.startswith("local-cluster"):
        # separate executor JVMs spawn their own python workers, which do
        # NOT inherit the driver's sys.path — module-referencing UDFs
        # (cloudpickle by-reference) need the repo importable there. On a
        # real cluster this is spark-submit --py-files instead.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        extra = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            f"{repo_root}:{extra}" if extra else repo_root,
        )
        # local-cluster[n, cores, memMB] sets the WORKER's advertised
        # memory only; executors still default to 1g heap and get
        # OOM-churned on image workloads — size them explicitly
        builder = builder.config(
            "spark.executor.memory", os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "6g")
        )
    return builder.getOrCreate()
