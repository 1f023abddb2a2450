"""Restartable incremental annotation: a Structured Streaming front end
over the batch append pipeline with DURABLE dataset state.

``StreamingAnnotator`` turns the engine into a continuously-appendable
dataset service: image files land under a drop directory, each
micro-batch flows through :func:`pipeline.append_dataset` against the
persistent :class:`CocoState`, and the updated state is snapshotted to
parquet with an atomically-committed manifest. Sequential image /
annotation / source ids CONTINUE across batches and across process
restarts — exactly the reference's multi-append contract
(`/root/reference/geococo/coco_manager.py` append flow and
`coco_models.py:24-29` count-derived counters), lifted to streaming.

Exactly-once story (the standard idempotent-foreachBatch pattern):

- the file-source checkpoint guarantees each input file is delivered in
  exactly one epoch (at-least-once execution of that epoch);
- the state manifest records the last COMMITTED epoch id; a replayed
  epoch (crash after snapshot commit but before the streaming
  checkpoint advanced) compares ``epoch_id <= last_epoch`` and becomes
  a no-op;
- a crash BEFORE the snapshot's manifest rename leaves the previous
  snapshot authoritative, and the epoch re-runs from it — id assignment
  is deterministic given (state, batch), so the retry produces the
  identical tables.

Scale notes: state snapshots are distributed parquet writes (no
collect); each batch's append reads only that batch's files plus the
static labels side; the growing annotations table crosses each epoch as
a parquet scan (lineage durably truncated by the snapshot itself, so
epoch N's plan never replays epochs 0..N-1).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from geococo_spark import pipeline, schemas
from geococo_spark.coco import CocoState

LATEST = "_latest.json"


def run_available_now(
    spark: SparkSession,
    input_dir: str,
    stream_checkpoint: str,
    batch_fn,
    timeout_sec: int = 600,
) -> None:
    """Drain all currently-available image parquet files under
    ``input_dir`` through ``batch_fn(df, epoch)`` (Trigger.AvailableNow).
    The streaming checkpoint remembers processed files, so a restart
    ingests only new ones: exactly once per file. ``batch_fn`` receives
    each micro-batch as a plain DataFrame."""
    q = (
        spark.readStream.schema(schemas.IMAGES)
        .option("maxFilesPerTrigger", 16)  # bounds per-batch decode memory
        .parquet(input_dir)
        .writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError("availableNow drain did not finish in time")


def _read_latest(state_dir: str) -> dict | None:
    p = os.path.join(state_dir, LATEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_latest(state_dir: str, doc: dict) -> None:
    tmp = os.path.join(state_dir, f".{LATEST}.tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, os.path.join(state_dir, LATEST))


def load_latest_state(spark: SparkSession, state_dir: str) -> CocoState:
    """Load the last COMMITTED snapshot under ``state_dir`` (the one the
    atomic ``_latest.json`` manifest points at) without constructing an
    annotator — the read side of the export path (``geococo export``).
    Raises ``FileNotFoundError`` if no epoch has ever committed."""
    latest = _read_latest(state_dir)
    if latest is None:
        raise FileNotFoundError(
            f"no committed streaming state under {state_dir!r} "
            f"(missing {LATEST})"
        )
    return CocoState.load_tables(spark, latest["path"])


class StreamingAnnotator:
    """Incremental annotate with durable state under ``state_dir``.

    Construct, then either drive it from any Structured Streaming query
    via :meth:`process_batch` (a ``foreachBatch`` callable) or call
    :meth:`run_available_now` to drain a drop directory. A new
    ``StreamingAnnotator`` on the same ``state_dir`` resumes from the
    last committed snapshot.
    """

    def __init__(
        self,
        spark: SparkSession,
        labels: DataFrame,
        state_dir: str,
        images_dir: str = "images",
        keep_snapshots: int = 2,
        **append_kwargs,
    ) -> None:
        self.spark = spark
        self.labels = labels
        self.state_dir = state_dir
        self.images_dir = images_dir
        self.keep_snapshots = max(1, keep_snapshots)
        self.append_kwargs = append_kwargs
        os.makedirs(state_dir, exist_ok=True)
        latest = _read_latest(state_dir)
        if latest is not None:
            self.state = CocoState.load_tables(spark, latest["path"])
            self.last_epoch = int(latest["epoch"])
        else:
            self.state = CocoState.create(spark)
            self.last_epoch = -1

    # -- foreachBatch callable ------------------------------------------

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= self.last_epoch:
            return  # replayed, already committed — idempotent no-op
        if batch_df.isEmpty():
            return
        self.state = pipeline.append_dataset(
            self.spark,
            self.state,
            batch_df,
            self.labels,
            images_dir=self.images_dir,
            **self.append_kwargs,
        )
        snap = os.path.join(self.state_dir, f"epoch_{epoch_id}")
        self.state.save_tables(snap)
        _write_latest(self.state_dir, {"epoch": int(epoch_id), "path": snap})
        self.last_epoch = int(epoch_id)
        # re-root the in-memory state on the snapshot: durable lineage
        # truncation, so the next epoch's plan scans parquet instead of
        # replaying every prior epoch's append
        self.state = CocoState.load_tables(self.spark, snap)
        self._prune()

    def _prune(self) -> None:
        pat = re.compile(r"^epoch_(\d+)$")
        epochs = sorted(
            int(m.group(1))
            for m in (pat.match(d) for d in os.listdir(self.state_dir))
            if m
        )
        for e in epochs[: -self.keep_snapshots]:
            shutil.rmtree(os.path.join(self.state_dir, f"epoch_{e}"), ignore_errors=True)

    # -- drop-directory drain -------------------------------------------

    def run_available_now(self, input_dir: str, stream_checkpoint: str) -> CocoState:
        """Drain every not-yet-processed file under ``input_dir``
        (Trigger.AvailableNow) through the append pipeline; returns the
        resulting state (also durably committed under ``state_dir``)."""
        run_available_now(self.spark, input_dir, stream_checkpoint, self.process_batch)
        return self.state
