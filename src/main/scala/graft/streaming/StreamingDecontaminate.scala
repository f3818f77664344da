package graft.streaming

import graft.dedup.Decontaminate
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous eval-set decontamination — the streaming twin of
  * [[Decontaminate.clean]]: a stream of incoming training documents is
  * filtered against a STATIC held-out evaluation set, so contaminated
  * docs never enter the corpus in the first place (the shape a live
  * ingest pipeline needs — decontaminating after the fact means
  * re-exporting).
  *
  * The eval side is indexed ONCE at wiring time ([[buildIndex]]): the
  * Bloom sketch rides into every micro-batch plan as a binary literal
  * (scan-side `might_contain`, no per-batch eval scan), and the exact
  * span set is pinned ([[graft.Pins.counted]]) so the per-batch
  * verification join reads cached blocks, not the eval parquet. State
  * never grows — the eval set is immutable, unlike the dedup twins'
  * admitted sets.
  *
  * Durability: the [[BatchDirs]] protocol shared by all twins — each
  * micro-batch OVERWRITES its own `batch=N` directory, so replays are
  * idempotent and partial writes stay invisible (`_SUCCESS` gate).
  */
object StreamingDecontaminate {

  /** Precomputed eval-side artifact. `bloom` is null iff the eval set
    * has no spans (then nothing can be contaminated). `spans` is pinned
    * (checkpointed) — safe to reuse across arbitrarily many batches.
    */
  final case class EvalIndex private[streaming] (
      bloom: Array[Byte], spans: DataFrame, w: Int, maxOverlap: Double)

  /** Build the static eval index: distinct span hashes (pinned) + Bloom.
    * `maxOverlap` follows [[Decontaminate.clean]] (0.0 = drop a doc on
    * any shared span); docs shorter than `w` tokens always survive.
    */
  def buildIndex(
      eval: DataFrame,
      textCol: String,
      w: Int = 8,
      maxOverlap: Double = 0.0,
      fpp: Double = 0.01
  ): EvalIndex = {
    require(fpp > 0 && fpp < 1, s"StreamingDecontaminate: fpp $fpp out of (0,1)")
    val spans = graft.Pins.counted(eval
      .select(explode(T.shingleHashes(col(textCol), w)).as("span_hash"))
      .distinct())
    val bloom =
      if (spans.rows == 0) null
      else Decontaminate.bloomBytes(spans.df, "span_hash", spans.rows, fpp)
    EvalIndex(bloom, spans.df, w, maxOverlap)
  }

  /** Wire a streaming `docs` source into foreachBatch decontamination.
    * Returns the writer (caller sets checkpoint/trigger and starts it).
    */
  def writer(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      index: EvalIndex,
      survDir: String
  ): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, textCol, idCol, index, survDir)
    }

  /** One micro-batch: Bloom-gate the batch's spans, verify candidates
    * against the exact eval span set, drop docs over the overlap
    * threshold, write survivors (all original columns) to this batch's
    * directory. Idempotent per (batch, batchId).
    */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      index: EvalIndex,
      survDir: String
  ): Unit = {
    val survivors =
      if (index.bloom == null) batch
      else {
        val arr = batch
          .select(col(idCol).as("__id"), T.shingleHashes(col(textCol), index.w).as("__spans"))
          .where(size(col("__spans")) > 0)
        val contaminated = arr
          .select(col("__id"), size(col("__spans")).cast("long").as("__n"))
          .join(
            arr.select(col("__id"), explode(col("__spans")).as("span_hash"))
              .where(Decontaminate.mightContain(index.bloom, col("span_hash")))
              .join(index.spans, Seq("span_hash"))
              .groupBy(col("__id")).agg(count(lit(1)).as("__hits")),
            Seq("__id"))
          .where(col("__hits").cast("double") / col("__n") > index.maxOverlap)
          .select(col("__id").as(idCol))
        batch.join(contaminated, Seq(idCol), "left_anti")
      }
    survivors.write.mode("overwrite").parquet(s"$survDir/batch=$batchId")
  }

  /** The decontaminated corpus so far (committed batches only). */
  def readSurvivors(spark: org.apache.spark.sql.SparkSession, survDir: String): DataFrame =
    BatchDirs.readAllOrFail(spark, survDir)
}
