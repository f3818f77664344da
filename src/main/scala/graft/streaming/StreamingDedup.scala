package graft.streaming

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous near-dedup: a document stream filtered so each micro-batch
  * admits only docs that are not near-duplicates of previously-ADMITTED
  * docs (nor of lower-id peers in the same batch) — the streaming twin of
  * [[Dedup.minHashIncremental]].
  *
  * The only persistent state is the admitted docs' signature table
  * (~100 B/doc: id + 64-lane MinHash signature + shingle-hash set), the
  * same artifact a batch ingest pipeline stores between runs
  * ([[Dedup.minHashSignatureTable]]) — document text is NEVER rescanned.
  * At 100 TB/day ingest the per-batch cost is
  * batch × (stored signatures via LSH band join), not batch × corpus.
  *
  * Exactly-once across restarts: survivors AND their signatures land in
  * `batch=<id>` subdirectories, so a replayed micro-batch (stream
  * checkpoint behind the last commit) OVERWRITES its own previous output
  * instead of appending duplicates. Signature reads exclude the replaying
  * batch's own directory; for the normal restart case (replaying the
  * LATEST batch) that reproduces the state of its first run exactly. A
  * backfill replay of an OLDER batch additionally sees signatures of
  * batches committed after it — still convergent, because band collision
  * and Jaccard verification are symmetric and deterministic: any later
  * survivor colliding with the replayed batch's docs would already have
  * been dropped at ITS admission, so the extra state can only re-confirm,
  * never flip, the original survivor set.
  */
object StreamingDedup {

  /** Wire a document stream into continuous near-dedup. Caller sets
    * checkpoint/trigger and starts the writer. Survivors land under
    * `survivorsDir/batch=N/`, signatures under `sigDir/batch=N/`.
    */
  def writer(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      survivorsDir: String,
      sigDir: String,
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, textCol, idCol, survivorsDir, sigDir,
        threshold, shingleSize, numHashes, bands)
    }

  /** One micro-batch (also usable for batch backfill replays). */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      idCol: String,
      survivorsDir: String,
      sigDir: String,
      threshold: Double,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): Unit = {
    val spark = batch.sparkSession
    // batch signatures are computed ONCE and reused as both the dedup
    // input and the persisted state — the batch text is hashed exactly
    // one time
    val batchSigs = Dedup.minHashSignatureTable(batch, textCol, idCol, shingleSize, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try graft.Pins.scoped { scope =>
      // prior state: every batch directory except our own (a replay must
      // not dedup the batch against its own signatures)
      val corpusSigs = readSignatures(spark, sigDir, excludeBatch = Some(batchId))
        .getOrElse(emptySignatures(spark))
      val survivors = scope.pin(Dedup
        .minHashIncrementalSigs(corpusSigs, batchSigs, batch, idCol, numHashes, bands, threshold))
      survivors.write.mode("overwrite").parquet(s"$survivorsDir/batch=$batchId")
      batchSigs
        .join(survivors.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .write.mode("overwrite").parquet(s"$sigDir/batch=$batchId")
    } finally batchSigs.unpersist()
  }

  /** All admitted survivors so far. Fails with a clear message before the
    * first batch commits (the schema is unknowable until then).
    */
  def readSurvivors(spark: SparkSession, survivorsDir: String): DataFrame =
    BatchDirs.readAllOrFail(spark, survivorsDir)

  /** Fold the accumulated per-batch signature tables into a
    * [[graft.dedup.MinHashStore]] serving artifact — the dedup twin of
    * [[StreamingBm25.compactTo]]: the stream's `batch=N` signature dirs
    * are the write-optimized shape (one dir per micro-batch, no bucket
    * pruning), the store is the read-optimized one (band-posting inverted
    * index, bucket-pruned candidate reads). Signatures are REUSED, never
    * recomputed — the caller passes the stream's own
    * `shingleSize`/`numHashes`/`bands` so the store's manifest matches
    * what the signatures were computed with (a mismatch would band the
    * wrong lanes and silently miss candidates). Store-served
    * [[graft.dedup.MinHashStore.dedupBatch]] verdicts are then
    * bit-identical to the streaming incremental path's
    * (StreamingDedupSpec asserts it).
    */
  def compactTo(spark: SparkSession, sigDir: String, outDir: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      nBuckets: Int = 64): Unit =
    graft.dedup.MinHashStore.buildFromSigs(
      BatchDirs.readAllOrFail(spark, sigDir),
      outDir, shingleSize, numHashes, bands, nBuckets)

  private def emptySignatures(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("id", LongType), StructField("sig", ArrayType(LongType, containsNull = false)),
      StructField("shset", ArrayType(LongType, containsNull = false)))))
  }

  private def readSignatures(spark: SparkSession, sigDir: String, excludeBatch: Option[Long]): Option[DataFrame] =
    BatchDirs.read(spark, sigDir, excludeBatch)
}
