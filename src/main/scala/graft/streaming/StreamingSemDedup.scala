package graft.streaming

import graft.dedup.SemDedup
import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous SEMANTIC near-dedup: an embedding stream filtered so each
  * micro-batch admits only vectors that are not semantic near-duplicates
  * (rounded cosine ≥ τ, same cluster) of previously-ADMITTED vectors nor
  * of lower-id peers in the same batch — the semantic twin of
  * [[StreamingDedup]] (text MinHash) and [[StreamingMediaDedup]] (frame
  * fingerprints), built on [[SemDedup]]'s cluster-bounded pair pass.
  *
  * Centroids are FROZEN at wiring time (train once with
  * [[SemDedup.kmeansDeterministic]] on a bounded sample — the paper's
  * own shape: clustering is an index, not per-batch state), so
  * assignment is the codegen'd broadcast kernel with no state read. The
  * only persistent state is the admitted `(id, cluster, vec)` table —
  * the embedding IS the verification artifact, so state is
  * ~4·d bytes/doc and per-batch cost is batch × (same-cluster admitted
  * vectors), never batch × corpus (clusters bound the candidate set the
  * way LSH bands do for text).
  *
  * Exactly-once across restarts: the same `batch=<id>` overwrite
  * protocol as the twins — survivors and state land in per-batch
  * subdirectories, a replay excludes its own batch's state and
  * overwrites its own output. Backfill replays of OLDER batches stay
  * convergent for the twins' reason: cosine is symmetric and
  * deterministic (rounded before the threshold), so any later-admitted
  * vector colliding with a replayed survivor would have been dropped at
  * its OWN admission — extra state can re-confirm but never flip a
  * survivor.
  */
object StreamingSemDedup {

  /** Wire an embedding stream into continuous semantic dedup. Caller
    * sets checkpoint/trigger and starts the writer. Survivors land under
    * `survivorsDir/batch=N/`, admitted-vector state under
    * `stateDir/batch=N/`.
    */
  def writer(
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      survivorsDir: String,
      stateDir: String,
      centroids: Array[Array[Double]],
      tau: Double = 0.9
  ): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, idCol, vecCol, survivorsDir, stateDir, centroids, tau)
    }

  /** One micro-batch (also usable for batch backfill replays). */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      survivorsDir: String,
      stateDir: String,
      centroids: Array[Array[Double]],
      tau: Double
  ): Unit = {
    val spark = batch.sparkSession
    // assign ONCE; the assigned shape is both the dedup input and the
    // persisted state of its survivors
    val assigned = SemDedup.assignClusters(batch, vecCol, centroids)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"), col("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try graft.Pins.scoped { scope =>
      val prior = readState(spark, stateDir, excludeBatch = Some(batchId))
        .getOrElse(emptyState(spark))
      val dropped = droppedIds(prior, assigned, tau).withColumnRenamed("drop_id", idCol)
      // survivors = the ORIGINAL batch rows (all payload columns, caller's
      // column names) — the twins' contract
      val survivors = scope.pin(batch.join(dropped, Seq(idCol), "left_anti"))
      survivors.write.mode("overwrite").parquet(s"$survivorsDir/batch=$batchId")
      // state = the survivors' (id, cluster, vec) rows only
      assigned
        .join(survivors.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .select(col("id"), col("cluster"), col("vec"))
        .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
    } finally assigned.unpersist()
  }

  /** The exact drop rule, shared with the persisted serving artifact
    * ([[graft.dedup.SemDedupStore.dedupBatch]] feeds it cluster-pruned
    * state - clusters bound candidates exactly, so pruning cannot change
    * verdicts): a batch vector drops iff some admitted state vector in
    * the SAME cluster has rounded cosine >= tau, or some LOWER-id batch
    * peer in the same cluster does. Both frames are (id, cluster, vec)
    * with vec cast to array<double>; returns distinct `drop_id`.
    */
  def droppedIds(state: DataFrame, assigned: DataFrame, tau: Double): DataFrame = {
    val vsState = assigned.as("b")
      .join(state.as("s"), col("b.cluster") === col("s.cluster"))
      .where(round(V.cosine(col("b.vec"), col("s.vec")), 6) >= tau)
      .select(col("b.id").as("drop_id"))
    val inBatch = assigned.as("a")
      .join(assigned.as("b"), col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .where(round(V.cosine(col("a.vec"), col("b.vec")), 6) >= tau)
      .select(col("b.id").as("drop_id"))
    vsState.unionAll(inBatch).distinct()
  }

  /** Fold the stream's per-batch admitted state into a serving
    * [[graft.dedup.SemDedupStore]] artifact at `outDir` - assignments
    * and vectors are REUSED, the centroids (the stream's frozen ones,
    * caller-held since wiring) are persisted alongside so downstream
    * [[graft.dedup.SemDedupStore.dedupBatch]] probes assign identically.
    * Verdicts from the store are bit-identical to continuing this
    * stream's rule (spec-asserted).
    */
  def compactTo(spark: SparkSession, stateDir: String, outDir: String,
      centroids: Array[Array[Double]], nBuckets: Int = 16): Unit = {
    val state = readState(spark, stateDir, excludeBatch = None)
      .getOrElse(emptyState(spark))
    graft.dedup.SemDedupStore.buildFromState(state, outDir, centroids, nBuckets)
  }

  /** All admitted survivors so far (original input rows). Fails with a
    * clear message before the first batch commits.
    */
  def readSurvivors(spark: SparkSession, survivorsDir: String): DataFrame =
    BatchDirs.readAllOrFail(spark, survivorsDir)

  private def emptyState(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("id", LongType),
      StructField("cluster", IntegerType),
      StructField("vec", ArrayType(DoubleType)))))
  }

  private def readState(spark: SparkSession, stateDir: String, excludeBatch: Option[Long]): Option[DataFrame] =
    BatchDirs.read(spark, stateDir, excludeBatch)
      .map(_.select(col("id"), col("cluster"), col("vec")))
}
