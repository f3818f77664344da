package graft.streaming

import graft.text.LinkGraph
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous connected-components maintenance: a stream of NEW edges
  * folded micro-batch by micro-batch into a persisted component-label
  * snapshot — the streaming twin of
  * [[LinkGraph.connectedComponentsIncremental]], for the link/near-dup
  * graph a continuously-ingesting corpus keeps current (every batch of
  * crawled pages adds shared-span / near-dup edges; curation reads
  * component labels, never the historical edge set).
  *
  * State is the LABEL SNAPSHOT, not the edge history: the prior labels'
  * star edges are a connectivity-equivalent contraction of every edge
  * ever seen (see [[LinkGraph.connectedComponentsIncremental]]), so each
  * micro-batch costs O(nodes seen + batch edges) regardless of how many
  * edges history holds — the property that makes streaming components
  * viable at all at corpus scale.
  *
  * Layout — a SNAPSHOT CHAIN, not the append layout of the dedup twins:
  * `dir/batch=0` is the initial labeling ([[initialize]]); micro-batch N
  * reads its fixed predecessor `dir/batch=N` and overwrites
  * `dir/batch=N+1`. A replayed micro-batch re-reads the same predecessor
  * and rewrites only its OWN snapshot — byte-identical output,
  * exactly-once across restarts (the spec replays a batch to prove it).
  * [[readLabels]] serves the highest committed snapshot; [[prune]] drops
  * superseded ones (each snapshot is node-sized, so pruning is hygiene,
  * not correctness).
  */
object StreamingComponents {

  /** Write the initial snapshot (`batch=0`): every known node a
    * singleton, or the output of a batch [[LinkGraph.connectedComponents]]
    * run when a labeling already exists (pass it through `labels`).
    */
  def initialize(nodes: DataFrame, idCol: String, dir: String): Unit =
    nodes.select(col(idCol), col(idCol).as("rep"), lit(1L).as("component_size"))
      .write.mode("overwrite").parquet(s"$dir/batch=0")

  /** Seed the chain with an existing labeling (columns `(idCol, rep,
    * component_size)`, e.g. a batch-mode backfill).
    */
  def initializeFrom(labels: DataFrame, idCol: String, dir: String): Unit =
    labels.select(col(idCol), col("rep"), col("component_size"))
      .write.mode("overwrite").parquet(s"$dir/batch=0")

  /** Wire an edge stream (`src`, `dst` columns) into continuous label
    * maintenance. Caller sets checkpoint/trigger and starts the writer.
    */
  def writer(edges: DataFrame, idCol: String, dir: String): DataStreamWriter[Row] =
    edges.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, idCol, dir)
    }

  /** Fold one micro-batch of edges into the chain: read snapshot
    * `batch=batchId`, label (prior nodes ∪ batch endpoints), write
    * snapshot `batch=batchId+1`. Deterministic in (predecessor, batch) —
    * the replay-idempotence the layout depends on.
    */
  def applyBatch(batch: DataFrame, batchId: Long, idCol: String, dir: String): Unit = {
    val spark = batch.sparkSession
    val priorPath = s"$dir/batch=$batchId"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(priorPath))) throw new IllegalStateException(
      s"StreamingComponents: predecessor snapshot $priorPath missing - call " +
        "initialize/initializeFrom before starting the stream (the chain needs batch=0).")
    val prior = spark.read.parquet(priorPath)
    // pin: the batch DataFrame is re-read twice for the node union and
    // once as edges; micro-batch sources don't like multiple passes
    // (a per-batch pin, released once the snapshot is on disk)
    graft.Pins.scoped { scope =>
      val e = scope.pin(batch.select(col("src"), col("dst")))
      val nodes = prior.select(col(idCol))
        .unionAll(e.select(col("src").as(idCol)))
        .unionAll(e.select(col("dst").as(idCol)))
        .distinct()
      LinkGraph.connectedComponentsIncremental(nodes, idCol, prior, e)
        .write.mode("overwrite").parquet(s"$dir/batch=${batchId + 1}")
    }
  }

  /** The highest committed snapshot — the labels a reader serves. */
  def readLabels(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/batch=${latestBatch(spark, dir)}")

  /** Drop all snapshots except the newest `keepLast` (hygiene: each is
    * node-sized; the chain only needs the latest plus any batch the
    * stream might still replay — keepLast = 2 is safe under the
    * one-uncommitted-batch replay window).
    */
  def prune(spark: SparkSession, dir: String, keepLast: Int = 2): Unit = {
    require(keepLast >= 2,
      s"StreamingComponents.prune: keepLast $keepLast < 2 would drop a snapshot " +
        "the stream could still replay against")
    val latest = latestBatch(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    batchIds(spark, dir).filter(_ <= latest - keepLast).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=$b"), true)
    }
  }

  private def latestBatch(spark: SparkSession, dir: String): Long = {
    val ids = batchIds(spark, dir)
    if (ids.isEmpty) throw new IllegalStateException(
      s"no committed snapshots under $dir - initialize the chain first")
    ids.max
  }

  private def batchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
  }
}
