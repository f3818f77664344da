package graft.streaming

import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous video-ingest indexing: a video-payload stream indexed per
  * micro-batch through [[Multimodal.indexVideoAuto]] (progressive AND
  * fragmented MP4, plus WebM/Matroska — per-payload magic-byte dispatch,
  * since real crawls mix containers in one stream),
  * with undecodable payloads quarantined instead of dropped silently —
  * the media twin of the curation streams, for the first pass a video
  * corpus needs before any frame ever decodes: WHERE every sample lives
  * (byte range, chunk, timestamp, keyframe flag) so later stages can
  * fetch exactly the keyframes they want.
  *
  * Three per-batch outputs, each under `batch=<id>` subdirectories:
  *  - `indexDir`  — per-sample index rows (id + sample_no/chunk_no/
  *    offset/size/dts/duration/time_ms/keyframe/timescale/width/height);
  *  - `quarantineDir` — (id, n_bytes, reason) for payloads Mp4.index
  *    rejects (malformed boxes parse to None by contract — one corrupt
  *    crawl row must never fail the job) and for null payloads;
  *  - `statsDir`  — ONE row per batch: videos / indexed / quarantined /
  *    sample / keyframe counts — the ingest health line a monitor reads.
  *
  * Scale shape (100 TB): indexing is scan-local arithmetic per payload
  * (no shuffle — the container parse touches only that row's bytes); the
  * only exchanges are the one-row stats aggregation and the broadcastable
  * indexed-id anti-join that isolates the quarantine lane. Payload bytes
  * are read exactly once and never persisted — the index rows (~50 B per
  * sample) are the stored artifact, mirroring the fingerprint-only state
  * of [[StreamingMediaDedup]].
  *
  * Exactly-once across restarts: same protocol as the other streaming
  * twins — a replayed micro-batch overwrites its own `batch=<id>`
  * directories, so restart converges to identical outputs.
  */
object StreamingVideoIndex {

  /** Wire a media stream (id + MP4 payload column) into continuous
    * indexing. Caller sets checkpoint/trigger and starts the writer.
    */
  def writer(
      media: DataFrame,
      payloadCol: String,
      idCol: String,
      indexDir: String,
      quarantineDir: String,
      statsDir: String
  ): DataStreamWriter[Row] =
    media.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, payloadCol, idCol, indexDir, quarantineDir, statsDir)
    }

  /** One micro-batch (also usable for batch backfill replays). */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      payloadCol: String,
      idCol: String,
      indexDir: String,
      quarantineDir: String,
      statsDir: String
  ): Unit = graft.Pins.scoped { scope =>
    // payloads parse ONCE; the index is both the output and the basis of
    // the quarantine anti-join and the stats line. Both pins are per
    // batch: a long stream would otherwise hold batch-sized blocks per
    // micro-batch until ContextCleaner GC
    val index = scope.pin(Multimodal.indexVideoAuto(batch, idCol, payloadCol))
    index.write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    val quarantined = scope.pinCounted(batch
      .join(index.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
      .select(col(idCol),
        coalesce(length(col(payloadCol)).cast("long"), lit(0L)).as("n_bytes"),
        when(col(payloadCol).isNull, lit("null_payload"))
          .otherwise(lit("unparseable_container")).as("reason")))
    quarantined.df.write.mode("overwrite").parquet(s"$quarantineDir/batch=$batchId")
    val counts = index.agg(
      countDistinct(col(idCol)).as("n_indexed"),
      count(lit(1)).as("n_samples"),
      coalesce(sum(when(col("keyframe"), 1L).otherwise(0L)), lit(0L)).as("n_keyframes"))
    val nQuarantined = quarantined.rows
    counts
      .select(lit(batchId).as("batch_id"),
        (col("n_indexed") + lit(nQuarantined)).as("n_videos"),
        col("n_indexed"), lit(nQuarantined).as("n_quarantined"),
        col("n_samples"), col("n_keyframes"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$statsDir/batch=$batchId")
  }

  /** All index rows committed so far. Fails with a clear message before
    * the first batch commits (the schema is unknowable until then).
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    BatchDirs.readAllOrFail(spark, indexDir)

  /** The per-batch ingest-health lines, batch_id ascending. */
  def readStats(spark: SparkSession, statsDir: String): DataFrame =
    BatchDirs.readAllOrFail(spark, statsDir).orderBy(col("batch_id"))
}
