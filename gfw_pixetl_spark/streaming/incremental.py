"""Streaming incremental tiling: re-run the tile pipeline on NEW source
drops only — the streaming generalization of the reference's batch
target-exists skip (F5, ``gfw_pixetl/pipes/pipe.py:90-109``) and of its
one-shot Batch-job submission model (``gfw_pixetl/submit_job.py``).

Contract
--------
Producers append *manifest files* (JSON lines, one object per new source
raster: ``{"uri", "band", "left", "bottom", "right", "top"}``) into a
drop directory. A Structured Streaming file source tails that directory;
each micro-batch carries exactly the not-yet-processed manifest rows, and
``foreachBatch`` runs the normal :class:`~..plans.raster_pipe.RasterPipe`
restricted to the tiles those new files touch. The stream checkpoint is
the incremental ledger: a manifest file is consumed exactly once, so
re-triggering with no new drops is a no-op (no tile re-burns), and a
crashed batch replays in full — idempotent because the tile writer
overwrites deterministically keyed outputs.

Scale notes. Manifest rows are metadata (a few dozen bytes); the heavy
work happens inside the pipe's own distributed stages. The one
``collect()`` here pulls only the micro-batch's manifest rows to the
driver — bounded by drop size, never by data size — because the pipe's
file catalog is a broadcast-side input anyway (SURVEY §3.1). With
``availableNow`` the stream drains all pending drops and stops, which is
the cron-driven "process whatever landed since last run" deployment
shape; a continuous trigger gives a long-running tiler.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.raster_pipe import RasterPipe

MANIFEST_SCHEMA = (
    "uri string, band int, left double, bottom double, "
    "right double, top double"
)


def manifest_stream(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """File-source stream over the manifest drop directory (S1 as a
    stream). ``maxFilesPerTrigger`` is left default: a micro-batch is one
    or more whole manifest files, never a partial file."""
    return (
        spark.readStream.schema(MANIFEST_SCHEMA)
        .option("pathGlobFilter", "*.json")
        .json(manifest_dir)
    )


@dataclass
class IncrementalTiler:
    """Drive a :class:`RasterPipe` from a manifest drop directory.

    ``statuses_of(spark)`` exposes the accumulated per-tile status ledger
    (F10) that every processed batch appends to.
    """

    pipe: RasterPipe
    manifest_dir: str
    checkpoint_dir: str
    status_dir: str
    subset: list[str] | None = None
    batches_seen: list[int] = field(default_factory=list)

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # manifest rows only — bounded by the drop, not the data
        files = [r.asDict() for r in batch_df.collect()]
        if not files:
            return
        self.batches_seen.append(batch_id)
        spark = batch_df.sparkSession
        status = self.pipe.run(spark, files, subset=self.subset)
        (
            status.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(self.status_dir)
        )

    def run_available_now(self, spark: SparkSession) -> None:
        """Drain all pending manifest drops, then stop — exactly-once per
        manifest file via the stream checkpoint."""
        q = (
            manifest_stream(spark, self.manifest_dir)
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName(f"incremental_tiler_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def statuses_of(self, spark: SparkSession) -> DataFrame:
        """The accumulated status ledger across all processed batches."""
        return spark.read.schema(
            "tile_id string, status string, n_windows int, "
            "out_path string, batch_id long"
        ).parquet(self.status_dir)


class IncrementalVectorTiler:
    """Streaming twin of the vector pipe: manifest drops announce newly
    landed feature files; each batch re-burns exactly the tiles those new
    features touch, reading the FULL feature store for the affected
    tiles (last-wins paint needs every feature of a tile, so the
    incremental unit is the tile, not the feature — same invariant as
    the reference's whole-tile rasterize, SURVEY §3.2).
    """

    def __init__(
        self,
        pipe,  # plans.vector_pipe.VectorPipe
        features_path: str,
        manifest_dir: str,
        checkpoint_dir: str,
        status_dir: str,
    ) -> None:
        self.pipe = pipe
        self.features_path = features_path
        self.manifest_dir = manifest_dir
        self.checkpoint_dir = checkpoint_dir
        self.status_dir = status_dir

    def _affected_tiles(self, spark: SparkSession, new_feats: DataFrame) -> list[str]:
        from ..plans.raster_pipe import seed_tiles
        from ..plans.vector_pipe import feature_tiles

        tiles = seed_tiles(spark, self.pipe.grid_obj)
        # tile ids only — bounded by the lattice, not the feature count
        return [
            r.tile_id
            for r in feature_tiles(new_feats, tiles)
            .select("tile_id").distinct().collect()
        ]

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        paths = [r.path for r in batch_df.collect()]
        if not paths:
            return
        spark = batch_df.sparkSession
        new_feats = spark.read.parquet(*paths)
        affected = self._affected_tiles(spark, new_feats)
        if not affected:
            return
        all_feats = spark.read.parquet(self.features_path)
        status = self.pipe.run(spark, all_feats, subset=affected)
        (
            status.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(self.status_dir)
        )

    def run_available_now(self, spark: SparkSession) -> None:
        stream = (
            spark.readStream.schema("path string")
            .option("pathGlobFilter", "*.json")
            .json(self.manifest_dir)
        )
        q = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName(f"incremental_vector_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def statuses_of(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(
            "tile_id string, status string, n_windows int, "
            "out_path string, batch_id long"
        ).parquet(self.status_dir)
