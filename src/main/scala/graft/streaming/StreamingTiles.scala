package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.SpatialJoins
import graft.sql.Geo

/** Structured Streaming ingest operators. The reference itself is batch-only
  * (SURVEY.md §7), but a 100-TB training-data pipeline ingests continuously:
  * the same codegen'd kernels apply unchanged to streaming DataFrames, so
  * tile/cell assignment is a stateless projection, aggregation uses
  * watermarked windows, and exactly-once style dedup keeps per-key state in
  * `flatMapGroupsWithState`. A stream-static spatial join needs no
  * streaming copy: `SpatialJoins.pipJoin`/`intersectsJoin` take the stream
  * as their big side and broadcast the static side, so each micro-batch is
  * a map-side join with no streaming state and no shuffle of the stream. */
object StreamingTiles {

  /** Watermarked per-tile windowed counts (update-mode friendly). */
  def tileCounts(stream: DataFrame, tsCol: String, lonCol: String,
                 latCol: String, zoom: Int, windowDur: String,
                 watermark: String): DataFrame = {
    SpatialJoins.assignTiles(stream, lonCol, latCol, zoom)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col("tile_id"))
      .agg(count(lit(1)).as("n"))
  }

  /** Watermarked streaming sessionization: Spark's built-in
    * `session_window` (gap-based, merging as late events arrive) keyed per
    * user — the streaming twin of [[graft.operators.Sessions.sessionize]].
    * State is one open session per active key, evicted when the watermark
    * passes the session close. */
  def sessionCounts(stream: DataFrame, keyCol: String, tsCol: String,
                    gap: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))

  /** Watermarked per-(window, tile, pixel) counts in APPEND mode — the
    * streaming front half of live heatmap-tile rendering. Append output
    * means a (window, tile, pixel) group emits exactly once, when the
    * watermark passes the window close — and since every pixel of a
    * (window, tile) shares the same window end, ALL of a tile's pixels
    * finalize in the same micro-batch, which is what lets the batch
    * render tail run per micro-batch in [[renderedTileSink]] without
    * cross-batch stitching. State is bounded by occupied pixels within
    * the watermark horizon. */
  def tilePixelCounts(stream: DataFrame, tsCol: String, lonCol: String,
                      latCol: String, zoom: Int, size: Int,
                      windowDur: String, watermark: String): DataFrame = {
    Geo.register(stream.sparkSession)
    val lon = col(lonCol).cast("double")
    val lat = col(latCol).cast("double")
    stream
      .where(lon.isNotNull && lat.isNotNull)
      // one mercator projection per event; tile and in-tile pixel are
      // integer decompositions of the world pixel (same as the batch path)
      .select(col(tsCol),
        call_function("st_worldpixelx", lon, lit(zoom), lit(size)).as("wx"),
        call_function("st_worldpixely", lat, lit(zoom), lit(size)).as("wy"))
      .select(col(tsCol),
        call_function("st_tilepack", lit(zoom),
          expr(s"CAST(wx DIV $size AS INT)"),
          expr(s"CAST(wy DIV $size AS INT)")).as("tile_id"),
        ((col("wy") % size) * size + col("wx") % size).cast("int").as("pixel"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col("tile_id"), col("pixel"))
      .agg(count(lit(1)).as("n"))
  }

  /** Live heatmap tiles end-to-end: render each finalized (window, tile)
    * of [[tilePixelCounts]] to a PNG row and write it to a parquet tile
    * store. foreachBatch runs the SAME batch render tail as
    * `TileRender.renderTiles` (clamped pack, size²-bounded per-tile
    * state), so a streamed window's tile is byte-identical to a batch
    * render of that window's points. Idempotent under micro-batch
    * replay: each batch OVERWRITES its own `batch_id=<id>` partition
    * directory (a deterministic function of the replayed batch), so a
    * failure after the write but before the checkpoint commit re-writes
    * the same files instead of appending duplicates. Readers just
    * `spark.read.parquet(outDir)` — `batch_id` surfaces as a partition
    * column. */
  def renderedTileSink(counts: DataFrame, size: Int, outDir: String,
                       checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    counts.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.TileRender.renderCells(batch, size, Seq("window"))
          .withColumn("window_start", col("window.start"))
          .withColumn("window_end", col("window.end"))
          .drop("window")
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()

  /** Bounded-state streaming dedup — the 100-TB ingest path: duplicates
    * are dropped within the watermark horizon and per-key state is evicted
    * once the event-time watermark passes, so state size is bounded by the
    * key arrival rate times the horizon (vs. unbounded in [[dedupStream]]).
    * Training-data ingest dedup is horizon-tolerant: a re-crawled document
    * arriving months later is handled by the batch MinHash pass, not the
    * ingest stream. */
  def dedupStreamWatermarked(stream: DataFrame, keyCol: String, tsCol: String,
                             watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(keyCol))

  /** Streaming consumption of a [[graft.pipeline.Pipeline]] table — the
    * streaming twin of `Pipeline.readIncremental`: the parquet file source
    * discovers each newly-committed snapshot's files and emits them as
    * micro-batches, so a downstream job tails the table continuously with
    * exactly-once file tracking in its own checkpoint. `maxFilesPerTrigger`
    * bounds batch size (backpressure); partition columns (snapshot_id,
    * bucket) surface as data columns for lineage.
    *
    * CONSTRAINT: tail APPEND-ONLY tables. `Pipeline.compactSnapshots`
    * rewrites historical rows into NEW files, which a file-tracking
    * source re-emits as fresh data — every compacted row would be
    * re-delivered downstream. Run compaction only on tables no stream is
    * tailing (or restart consumers from a fresh checkpoint + dedup); a
    * real catalog stream source (Iceberg incremental scan) avoids this by
    * reading snapshot metadata instead of file paths. */
  def streamTable(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                  schema: org.apache.spark.sql.types.StructType,
                  maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$tableDir/data")

  /** Streaming exact dedup on a key column: the first row per key passes,
    * later duplicates are dropped. State is one boolean per key — unbounded
    * across the stream lifetime; prefer [[dedupStreamWatermarked]] at scale. */
  def dedupStream(stream: DataFrame, keyCol: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val schema = stream.schema
    val keyIdx = schema.fieldIndex(keyCol)
    implicit val rowEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    stream
      .groupByKey(row => row.getString(keyIdx))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (_: String, rows: Iterator[org.apache.spark.sql.Row],
         state: GroupState[Boolean]) => {
          if (state.exists) {
            Iterator.empty // key already emitted
          } else {
            state.update(true)
            (if (rows.hasNext) Some(rows.next()) else None).iterator
          }
        })
  }
}
