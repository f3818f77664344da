package graft.streaming

import graft.functions.{TextFunctions => T}
import graft.text.Blocklist
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous corpus-hygiene pass — the streaming twin of the
  * blocklist-filter + PII-redaction curation stage: each micro-batch's
  * documents are dropped if they exceed the blocklist threshold and
  * otherwise re-emitted with emails / dashed phones / IPv4 shapes
  * redacted ([[graft.expressions.PiiScan]] char-scan kernels — the
  * per-row work is stateless, so unlike the dedup twins this pass needs
  * NO cross-batch state, and the per-batch cost is exactly the batch
  * scan).
  *
  * Exactly-once across restarts via the [[BatchDirs]] layout: cleaned
  * docs land in `outDir/batch=N` (overwritten on replay — idempotent by
  * statelessness, the strongest replay guarantee in the streaming
  * family). Each batch also writes an AUDIT row to
  * `outDir/_audit/batch=N` AFTER its data commit (the data-first /
  * manifest-last ordering of the export layer): input/kept/dropped
  * counts and per-class redaction totals — the operational evidence a
  * compliance pass needs, derived from the same single scan.
  */
object StreamingClean {

  /** Wire a document stream into the cleaning pass. Caller sets
    * checkpoint/trigger and starts the writer.
    */
  def writer(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      maxHits: Int,
      outDir: String
  ): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, textCol, idCol, terms, maxHits, outDir)
    }

  /** One micro-batch (also usable for batch backfill replays). */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      maxHits: Int,
      outDir: String
  ): Unit = graft.Pins.scoped { scope =>
    // pin: the data write and the audit agg are two actions over the same
    // plan — micro-batch sources don't like multiple passes (the
    // StreamingComponents rule), and an unpinned plan re-runs the
    // blocklist/PII kernels twice per batch.
    val tagged = scope.pin(batch.select(
      col(idCol).as("id"),
      col(textCol).as("__text"),
      Blocklist.totalHits(col(textCol), terms).as("__bl"),
      T.piiCounts(col(textCol)).as("__pii")))
    tagged.where(col("__bl") <= maxHits)
      .select(col("id").as(idCol), T.piiRedact(col("__text")).as(textCol))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    // audit AFTER the data commit: presence certifies batch completeness;
    // redaction totals count only KEPT docs (what actually shipped)
    tagged
      .agg(
        count(lit(1)).as("n_in"),
        sum(when(col("__bl") <= maxHits, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__bl") > maxHits, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("__bl") <= maxHits, col("__pii.n_emails").cast("long"))
          .otherwise(0L)).as("n_emails_redacted"),
        sum(when(col("__bl") <= maxHits, col("__pii.n_phones").cast("long"))
          .otherwise(0L)).as("n_phones_redacted"),
        sum(when(col("__bl") <= maxHits, col("__pii.n_ips").cast("long"))
          .otherwise(0L)).as("n_ips_redacted"))
      .withColumn("batch_id", lit(batchId))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/_audit/batch=$batchId")
  }

  /** All cleaned batches written so far. */
  def readClean(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)

  /** The per-batch audit trail. */
  def readAudit(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/_audit")
}
