"""COCO dataset state: info/versioning (X3), counters (A7), JSON round
trip (S4/S6) — SURVEY.md §2.9, §3.3.

The four entity collections are DataFrames; ``info`` plus the version
are a tiny driver-side dict, exactly as SURVEY.md §1.1 maps
``CocoDataset`` (reference geococo/coco_models.py:14-29).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType

from geococo_spark import schemas


def state_table(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """A table the driver builds from rows, as a JVM ``LocalRelation``.

    Every driver-built state table goes through here. The rows cross to
    the JVM as one Arrow table; ``createDataFrame(<python list>)`` would
    instead make a ``PythonRDD`` that every query over the dataset
    rescans with ``defaultParallelism`` Python-worker tasks, and that
    the optimizer cannot prune when empty (``PropagateEmptyRelation``
    removes an empty ``LocalRelation`` from unions and joins)."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, f, af in zip(columns, schema.fields, arrow_schema):
        if isinstance(f.dataType, TimestampType):
            # a naive datetime is local time, as in Spark's row conversion
            values = [v.astimezone(timezone.utc) if v is not None else None for v in values]
        arrays.append(pa.array(values, type=af.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)


def bump_version(version: str, bump_method: str) -> str:
    """SemVer bump without the semver lib (reference
    geococo/coco_models.py:130-143; truth table tested at
    tests/test_coco_models.py:161-178)."""
    methods = ["patch", "minor", "major"]
    if bump_method not in methods:
        raise ValueError(f"bump_method needs to be one of {methods}")
    core = version.split("-")[0].split("+")[0]
    major, minor, patch = (int(x) for x in core.split("."))
    if bump_method == "patch":
        patch += 1
    elif bump_method == "minor":
        minor, patch = minor + 1, 0
    else:
        major, minor, patch = major + 1, 0, 0
    return f"{major}.{minor}.{patch}"


def bulk_bump(version: str, n_minor: int, n_patch_after: int) -> str:
    """Closed form of applying ``n_minor`` minor bumps then
    ``n_patch_after`` patch bumps (a minor bump zeroes patch, so only
    the trailing patches survive). O(1) — never loop bump_version per
    registered source at raster-count scale."""
    core = version.split("-")[0].split("+")[0]
    major, minor, patch = (int(x) for x in core.split("."))
    if n_minor > 0:
        minor += n_minor
        patch = n_patch_after
    else:
        patch += n_patch_after
    return f"{major}.{minor}.{patch}"


def copy_dataset(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    update_info: Callable[[dict], None] | None = None,
) -> "CocoState":
    """S8 — load, optionally update info in place, save to a new file
    (reference CLI ``copy``, geococo/cli.py:44-90)."""
    state = CocoState.from_json_file(spark, src_path)
    if update_info is not None:
        update_info(state.info)
    state.to_json_file(dst_path)
    return state


@dataclass
class CocoState:
    """Driver handle on the four engine tables + info.

    Counters are *derived* from counts (A7, coco_models.py:24-29) so
    resume-from-checkpoint = load tables + recompute offsets, preserving
    the append contract (reference tests/test_coco_processing.py:77-107).
    Note the source-counter asymmetry: next_source_id = len(sources), no
    +1 (coco_models.py:28).
    """

    images: DataFrame
    annotations: DataFrame
    categories: DataFrame
    sources: DataFrame
    info: dict = field(default_factory=dict)
    tiles: DataFrame | None = None  # tile payloads (bytes) from the last append
    knn_assignments: DataFrame | None = None  # J5 fallback output (last append)
    # known row counts ("images"/"annotations"/"sources") maintained where
    # they are cheap to know exactly (create/load/register); a missing key
    # falls back to a count() job. Shaves serial driver jobs off the
    # append prologue — the counts of EMPTY tables were costing one
    # scheduler round-trip each.
    cached_counts: dict = field(default_factory=dict)

    def _known_count(self, table: str, df: DataFrame) -> int:
        n = self.cached_counts.get(table)
        if n is None:
            n = df.count()
            self.cached_counts[table] = n
        return n

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        description: str | None = None,
        contributor: str | None = None,
        version: str = "0.0.0",
        date_created: datetime | None = None,
    ) -> "CocoState":
        """create_dataset equivalent (geococo/coco_manager.py:22-47)."""
        return cls(
            images=state_table(spark, [], schemas.COCO_IMAGES),
            annotations=state_table(spark, [], schemas.COCO_ANNOTATIONS),
            categories=state_table(spark, [], schemas.CATEGORIES),
            sources=state_table(spark, [], schemas.COCO_SOURCES),
            info={
                "version": version,
                "year": date_created.year if date_created else None,
                "description": description,
                "contributor": contributor,
                "date_created": date_created.isoformat() if date_created else None,
            },
            cached_counts={"images": 0, "annotations": 0, "sources": 0},
        )

    def next_image_id(self) -> int:
        return self._known_count("images", self.images) + 1

    def next_annotation_id(self) -> int:
        return self._known_count("annotations", self.annotations) + 1

    def next_source_id(self) -> int:
        return self._known_count("sources", self.sources)

    # ---------- JSON sink/source (S6/S4) ----------

    # single-file collect ceiling: ~5M annotation rows is ~2-4 GB of
    # driver JSON — beyond it the contract API must shard
    MAX_SINGLE_FILE_ANNOTATIONS = 5_000_000

    # shard timestamps round-trip through this exact pattern (Spark
    # timestamps are microsecond-precision, SSSSSS prints all of them)
    _SHARD_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

    def to_json_file(
        self,
        path: str,
        shard_annotations_dir: str | None = None,
        shard_images_dir: str | None = None,
        max_collect_rows: int | None = None,
    ) -> None:
        """save_dataset equivalent (geococo/coco_manager.py:50-59).

        The dimension sections are small (categories, sources);
        annotations — and at tile scale the images list too — can be
        large: for the single-file COCO contract they are collected
        here, while the scalable path keeps them as parquet/Iceberg
        tables (checkpoint.py).

        Guard rails (a 10^12-row state must not OOM the driver through
        the contract API): with more than
        ``max_collect_rows`` annotations (default
        :data:`MAX_SINGLE_FILE_ANNOTATIONS`) a plain call raises; pass
        ``shard_annotations_dir`` to write the annotation section as
        distributed JSON-lines shards (``df.write.json``) instead — the
        main file then carries an ``annotation_shards`` manifest and
        OMITS the ``annotations`` key entirely (ADVICE r06: an empty
        list parsed as a valid zero-annotation dataset in standard COCO
        consumers — silent data loss; a missing required section fails
        loudly instead). The IMAGES section has the same ceiling and the
        same hatch (``shard_images_dir`` -> ``image_shards`` manifest,
        no ``images`` key): one row per tile means the images list blows
        up the driver exactly like annotations do, just later. Sharded
        main files are therefore NOT standard COCO and are only readable
        via :meth:`from_json_file`.
        """
        limit = (
            self.MAX_SINGLE_FILE_ANNOTATIONS if max_collect_rows is None else max_collect_rows
        )
        n_anns = self._known_count("annotations", self.annotations)
        if shard_annotations_dir is None and n_anns > limit:
            raise ValueError(
                f"to_json_file: {n_anns} annotations exceed the single-file "
                f"collect ceiling ({limit}); pass shard_annotations_dir= to "
                "write the annotation section as distributed JSON shards, "
                "or raise max_collect_rows explicitly"
            )
        n_images = self._known_count("images", self.images)
        if shard_images_dir is None and n_images > limit:
            raise ValueError(
                f"to_json_file: {n_images} images exceed the single-file "
                f"collect ceiling ({limit}); pass shard_images_dir= to "
                "write the images section as distributed JSON shards, "
                "or raise max_collect_rows explicitly"
            )
        if shard_annotations_dir is not None:
            # COCO-JSON-shaped rows, written by the executors (no collect):
            # one JSON object per line, schema identical to the inline
            # section so shard consumers parse the same shape
            (
                self.annotations.orderBy("id")
                .select(
                    "id",
                    "image_id",
                    "category_id",
                    F.struct(
                        F.col("segmentation.size").alias("size"),
                        F.decode(F.col("segmentation.counts"), "US-ASCII").alias("counts"),
                    ).alias("segmentation"),
                    "area",
                    "bbox",
                    "iscrowd",
                )
                .write.mode("overwrite")
                .json(shard_annotations_dir)
            )
        if shard_images_dir is not None:
            # executor-written JSON-lines, same row shape as the inline
            # section; timestamps as ISO strings the reader re-parses
            # with the same pattern (exact microsecond round-trip)
            (
                self.images.orderBy("id")
                .select(
                    "id",
                    "width",
                    "height",
                    "file_name",
                    "source_id",
                    F.date_format("date_captured", self._SHARD_TS_FMT).alias(
                        "date_captured"
                    ),
                )
                .write.mode("overwrite")
                .json(shard_images_dir)
            )
        doc = {
            "info": self.info,
        }
        if shard_images_dir is not None:
            # like annotations: no "images" key at all — a standard COCO
            # consumer must fail on the missing section, never silently
            # parse a zero-image dataset
            doc["image_shards"] = {
                "dir": shard_images_dir,
                "count": n_images,
                "format": "json-lines",
            }
        else:
            doc["images"] = [
                {
                    "id": r["id"],
                    "width": r["width"],
                    "height": r["height"],
                    "file_name": r["file_name"],
                    "source_id": r["source_id"],
                    "date_captured": r["date_captured"].isoformat()
                    if r["date_captured"]
                    else None,
                }
                for r in self.images.orderBy("id").collect()
            ]
        doc.update({
            "categories": [
                {"id": r["id"], "name": r["name"], "supercategory": r["supercategory"]}
                for r in self.categories.orderBy("id").collect()
            ],
            "sources": [
                {
                    "id": r["id"],
                    "file_name": r["file_name"],
                    "date_captured": r["date_captured"].isoformat()
                    if r["date_captured"]
                    else None,
                }
                for r in self.sources.orderBy("id").collect()
            ],
        })
        if shard_annotations_dir is not None:
            # no "annotations" key AT ALL (ADVICE r06): a standard COCO
            # consumer must fail on the missing section, never silently
            # parse a zero-annotation dataset
            doc["annotation_shards"] = {
                "dir": shard_annotations_dir,
                "count": n_anns,
                "format": "json-lines",
            }
        else:
            doc["annotations"] = [
                {
                    "id": r["id"],
                    "image_id": r["image_id"],
                    "category_id": r["category_id"],
                    "segmentation": {
                        "size": list(r["segmentation"]["size"]),
                        # COCO JSON carries counts ascii-decoded
                        "counts": bytes(r["segmentation"]["counts"]).decode("ascii"),
                    },
                    "area": r["area"],
                    "bbox": list(r["bbox"]),
                    "iscrowd": r["iscrowd"],
                }
                for r in self.annotations.orderBy("id").collect()
            ]
        with open(path, "w") as fh:
            json.dump(doc, fh)

    @classmethod
    def from_json_file(cls, spark: SparkSession, path: str) -> "CocoState":
        """load_dataset equivalent (geococo/coco_manager.py:7-19).

        Reads back both sink shapes: inline annotations, or the
        ``annotation_shards`` manifest written by
        ``to_json_file(shard_annotations_dir=...)`` — the shards load as
        a distributed ``spark.read.json`` scan (never through the
        driver). A manifest's ``count`` sets the next id, so it is
        checked against a count of the shard scan: a mismatch raises
        ``ValueError`` rather than mint ids that collide."""
        with open(path) as fh:
            doc = json.load(fh)

        def ts(v):
            return datetime.fromisoformat(v) if v else None

        def shard_count(key: str, df: DataFrame) -> int:
            n = df.count()
            manifest = doc[key]
            if "count" in manifest and int(manifest["count"]) != n:
                raise ValueError(
                    f"{path}: {key} count {manifest['count']} does not match the "
                    f"{n} rows under {manifest['dir']}"
                )
            return n

        img_shards = doc.get("image_shards")
        if img_shards is not None:
            img_json_schema = (
                "id BIGINT, width INT, height INT, file_name STRING, "
                "source_id BIGINT, date_captured STRING"
            )
            images = (
                spark.read.schema(img_json_schema)
                .json(img_shards["dir"])
                .select(
                    "id",
                    "width",
                    "height",
                    "file_name",
                    "source_id",
                    F.to_timestamp("date_captured", cls._SHARD_TS_FMT).alias(
                        "date_captured"
                    ),
                )
            )
            n_images = shard_count("image_shards", images)
        else:
            images = state_table(
                spark,
                [
                    (r["id"], r["width"], r["height"], r["file_name"], r["source_id"], ts(r["date_captured"]))
                    for r in doc.get("images", [])
                ],
                schemas.COCO_IMAGES,
            )
            n_images = len(doc.get("images", []))
        shards = doc.get("annotation_shards")
        if shards is not None:
            ann_json_schema = (
                "id BIGINT, image_id BIGINT, category_id INT, "
                "segmentation STRUCT<size: ARRAY<INT>, counts: STRING>, "
                "area DOUBLE, bbox ARRAY<INT>, iscrowd INT"
            )
            annotations = (
                spark.read.schema(ann_json_schema)
                .json(shards["dir"])
                .select(
                    "id",
                    "image_id",
                    "category_id",
                    F.struct(
                        F.col("segmentation.size").alias("size"),
                        F.encode(F.col("segmentation.counts"), "US-ASCII").alias("counts"),
                    ).alias("segmentation"),
                    "area",
                    "bbox",
                    "iscrowd",
                )
            )
            n_annotations = shard_count("annotation_shards", annotations)
        else:
            annotations = state_table(
                spark,
                [
                    (
                        r["id"],
                        r["image_id"],
                        r["category_id"],
                        (r["segmentation"]["size"], r["segmentation"]["counts"].encode("ascii")),
                        r["area"],
                        r["bbox"],
                        r["iscrowd"],
                    )
                    for r in doc.get("annotations", [])
                ],
                schemas.COCO_ANNOTATIONS,
            )
            n_annotations = len(doc.get("annotations", []))
        categories = state_table(
            spark,
            [(r["id"], r["name"], r["supercategory"]) for r in doc.get("categories", [])],
            schemas.CATEGORIES,
        )
        sources = state_table(
            spark,
            [(r["id"], r["file_name"], ts(r["date_captured"])) for r in doc.get("sources", [])],
            schemas.COCO_SOURCES,
        )
        return cls(
            images, annotations, categories, sources, doc.get("info", {}),
            cached_counts={
                "images": n_images,
                "annotations": n_annotations,
                "sources": len(doc.get("sources", [])),
            },
        )

    # ---------- durable parquet snapshots (streaming / resume) ----------

    STATE_MANIFEST = "_state.json"

    def save_tables(self, path: str) -> None:
        """Durable, collect-free snapshot of the dataset state: the four
        COCO tables as parquet plus a ``_state.json`` manifest (info +
        exact row counts). The manifest is written LAST via tmp+rename,
        so a crash mid-snapshot leaves a directory :meth:`load_tables`
        refuses to load — never a half-state. This is the distributed
        counterpart of :meth:`to_json_file` (which collects) and the
        restart substrate for :class:`streaming.annotate.StreamingAnnotator`.

        ``tiles``/``knn_assignments`` are per-append byproducts, not
        dataset state, and are not snapshotted (sink them per batch via
        ``tile_sink_dir=`` instead).
        """
        import json as _json
        import os as _os

        for name, df in (
            ("images", self.images),
            ("annotations", self.annotations),
            ("categories", self.categories),
            ("sources", self.sources),
        ):
            df.write.mode("overwrite").parquet(f"{path}/{name}")
        spark = self.images.sparkSession
        counts = {}
        for name in ("images", "annotations", "sources"):
            n = self.cached_counts.get(name)
            if n is None:
                # count the WRITTEN parquet (cheap metadata-backed scan)
                # rather than re-running the pre-write lineage
                n = spark.read.parquet(f"{path}/{name}").count()
            counts[name] = n
        tmp = _os.path.join(path, f".{self.STATE_MANIFEST}.tmp")
        with open(tmp, "w") as f:
            _json.dump({"info": self.info, "counts": counts}, f)
        _os.replace(tmp, _os.path.join(path, self.STATE_MANIFEST))

    @classmethod
    def load_tables(cls, spark: SparkSession, path: str) -> "CocoState":
        """Load a :meth:`save_tables` snapshot. The parquet scan replaces
        the full pre-snapshot lineage (durable truncation — recoverable
        after executor loss, unlike localCheckpoint) and the manifest's
        exact counts restore the id counters without count() jobs,
        preserving the append contract across restarts (A7)."""
        import json as _json
        import os as _os

        mpath = _os.path.join(path, cls.STATE_MANIFEST)
        if not _os.path.exists(mpath):
            raise FileNotFoundError(
                f"no committed state snapshot at {path} (missing "
                f"{cls.STATE_MANIFEST} — snapshot incomplete or never written)"
            )
        with open(mpath) as f:
            doc = _json.load(f)
        return cls(
            images=spark.read.parquet(f"{path}/images"),
            annotations=spark.read.parquet(f"{path}/annotations"),
            categories=spark.read.parquet(f"{path}/categories"),
            sources=spark.read.parquet(f"{path}/sources"),
            info=doc["info"],
            cached_counts=dict(doc["counts"]),
        )

    # ---------- sources / version bumps (J4/X3) ----------

    def register_sources_df(
        self,
        file_names: DataFrame,
        date_captured: datetime | None,
        incoming_count: int | None = None,
    ) -> DataFrame:
        """Distributed add_source (J4/X3): no per-source driver rows.

        ``file_names`` is a one-column DataFrame (``file_name``) of
        UNIQUE names (it is the images table's key); ``incoming_count``,
        when given, must be its exact DISTINCT row count — the pipeline
        passes the n_images aggregate after verifying
        countDistinct(image_id) == n_images in the same pass (ADVICE
        r02: a duplicate key would otherwise inflate ids and bumps). Matched names reuse their id (patch bump
        each, coco_models.py:44-46); new names get ids continuing from
        the existing count in sorted-name order (minor bump each,
        :48-53). Bumps are applied in sorted file_name order via
        *counts* in closed form (bulk_bump) — a minor bump zeroes patch,
        so the final version is (minor + n_new, patches-after-last-new)
        — and the method returns the (file_name, id) mapping DataFrame.
        Only O(1) scalars ever reach the driver.
        """
        from geococo_spark.operators import ids as ids_ops

        existing = self.sources.select("file_name", F.col("id").alias("_src_id"))
        incoming = file_names.select("file_name").distinct()
        # on a fresh state the sources table is an empty LocalRelation,
        # so the optimizer prunes this join and its filters below
        joined = incoming.join(F.broadcast(existing), "file_name", "left")
        if self.cached_counts.get("sources") == 0 and incoming_count is not None:
            # nothing can match: no stats job, every incoming name is new
            n_new, n_matched = incoming_count, 0
        else:
            stats = joined.agg(
                F.count(F.lit(1)).alias("n_in"),
                F.sum(F.col("_src_id").isNotNull().cast("int")).alias("n_matched"),
                F.max(F.when(F.col("_src_id").isNull(), F.col("file_name"))).alias("max_new"),
            ).first()
            n_matched = int(stats["n_matched"] or 0)
            n_new = int(stats["n_in"]) - n_matched
        if n_new:
            # patch bumps that survive = matched names sorted after the
            # last new name (every earlier patch is zeroed by a minor bump)
            p_after = 0
            if n_matched:
                p_after = joined.filter(
                    F.col("_src_id").isNotNull() & (F.col("file_name") > F.lit(stats["max_new"]))
                ).count()
            self.info["version"] = bulk_bump(self.info["version"], n_new, p_after)
        else:
            self.info["version"] = bulk_bump(self.info["version"], 0, n_matched)
        matched_map = joined.filter(F.col("_src_id").isNotNull()).select(
            "file_name", F.col("_src_id").cast("long").alias("id")
        )
        if n_new:
            n_existing = self._known_count("sources", self.sources)
            fresh = ids_ops.assign_sequential_ids(
                joined.filter(F.col("_src_id").isNull()).select("file_name"),
                ["file_name"],
                "id",
                offset=n_existing,
                n_rows=n_new,
            ).select("file_name", F.col("id").cast("long"))
            self.sources = self.sources.unionByName(
                fresh.select(
                    "id", "file_name", F.lit(date_captured).cast("timestamp").alias("date_captured")
                )
            )
            self.cached_counts["sources"] = n_existing + n_new
            return matched_map.unionByName(fresh.select("file_name", "id"))
        return matched_map

    def verify_used_dir(self, images_dir: str) -> None:
        """Major bump when images_dir unseen (coco_models.py:145-148).

        Aggregate existence check — never collects per-image rows (the
        images table is tile-scale at 100 TB)."""
        if self.cached_counts.get("images") == 0:
            # empty dataset: no dir has ever been used (skip the job)
            self.info["version"] = bump_version(self.info["version"], "major")
            return
        seen = self.images.agg(
            F.max(
                (
                    F.regexp_extract("file_name", r"^(.*)/[^/]+$", 1)
                    == F.lit(images_dir.rstrip("/"))
                ).cast("int")
            ).alias("seen")
        ).first()["seen"]
        if not seen:
            self.info["version"] = bump_version(self.info["version"], "major")
