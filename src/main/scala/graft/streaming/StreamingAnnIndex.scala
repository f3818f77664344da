package graft.streaming

import graft.similarity.Similarity
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous ANN index maintenance: a stream of new embedding vectors
  * assigned to a persisted IVF index's EXISTING centroids (the build's
  * own assignment kernel, via the `_centroids` sidecar) and appended
  * micro-batch by micro-batch — the streaming twin of
  * [[Similarity.appendToIvfIndex]], for the ingest-while-you-serve shape
  * a corpus-scale vector store actually runs (10⁹ vectors indexed once,
  * thousands/sec arriving).
  *
  * Layout: `dir/batch=0/cell=C/` holds the initial build; each
  * micro-batch N lands WHOLE under `dir/batch=${N+1}/cell=C/`. Two
  * consequences, both deliberate:
  *
  *  - '''exactly-once across restarts''': a replayed micro-batch
  *    overwrites its OWN `batch=` directory (the bare `mode("append")`
  *    of the batch API would duplicate rows under replay — the reason
  *    the streaming twin uses a per-batch layout);
  *  - '''probe pruning intact''': `cell` stays a partition column of the
  *    ONE unified read ([[readIndex]]), so [[Similarity.ivfTopK]] probes
  *    get dynamic partition pruning exactly as against a batch-built
  *    index (the spec asserts the subquery).
  *
  * Per-batch manifest: `statsDir/batch=<id>` records (cell, n_rows) for
  * that batch — written AFTER the data (the engine-wide data-first /
  * manifest-last ordering), replay-idempotent, and batch-proportional;
  * total per-cell counts = the base sidecar + the batch manifests, with
  * no index-sized rescan anywhere.
  *
  * Scale shape: per batch, one broadcast of the tiny sidecar centroid
  * set, one map-side-combined assignment over the batch, one partitioned
  * write. Accumulated small batch files are folded back into the base by
  * [[compact]] — the roll-forward maintenance pass below.
  */
object StreamingAnnIndex {

  /** Write the initial index: the [[Similarity.ivfBuild]] result under
    * `batch=0` plus the appendable `_centroids` sidecar at the root
    * (data first, sidecar last).
    */
  def initialize(corpus: DataFrame, vecCol: String, idCol: String, nlist: Int,
      dir: String): Unit = graft.Pins.scoped { scope =>
    val indexed = scope.pin(Similarity.ivfBuild(corpus, vecCol, idCol, nlist))
    graft.table.WriteModes.staticPartitionOverwrite(indexed, s"$dir/batch=0", "cell")
    // sidecar last, at the ROOT (one certification point for all batches)
    Similarity.writeIvfSidecarFor(indexed, dir, vecCol, idCol, nlist)
  }

  /** Wire a vector stream into continuous index maintenance. Caller sets
    * checkpoint/trigger and starts the writer.
    */
  def writer(
      vectors: DataFrame,
      vecCol: String,
      idCol: String,
      indexDir: String,
      statsDir: String
  ): DataStreamWriter[Row] =
    vectors.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, vecCol, idCol, indexDir, statsDir)
    }

  /** One micro-batch (also usable for batch backfill replays). */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      vecCol: String,
      idCol: String,
      indexDir: String,
      statsDir: String
  ): Unit = graft.Pins.scoped { scope =>
    val (assigned, _) =
      Similarity.assignAgainstSidecar(scope, batch.drop("batch"), vecCol, idCol, indexDir)
    if (assigned != null) { // null for an empty batch: nothing to write
      graft.table.WriteModes.staticPartitionOverwrite(
        assigned, s"$indexDir/batch=${batchId + 1}", "cell")
      // manifest last, per batch: replay overwrites both data and line
      assigned.groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$statsDir/batch=${batchId + 1}")
    }
  }

  /** The unified index: base build + every committed batch, `cell`
    * restored as a long partition column (probe-ready for
    * [[Similarity.ivfTopK]]).
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(indexDir)
      .withColumn("cell", col("cell").cast("long"))
      .withColumn("batch", col("batch").cast("long"))

  /** Maintenance pass: fold the base and every batch up to `upToBatch`
    * into a fresh base — `batch=0` rewritten with ONE file per cell —
    * and drop the folded `batch=` directories and their manifests. A
    * long-running ingest stream accumulates one small file per cell per
    * micro-batch; since Parquet scan parallelism is bounded by row
    * groups but scan COST is per-file (footer reads, open/seek), probes
    * over thousands of batch shards pay real overhead this pass
    * removes. Cost is one read+write of the folded data — maintenance-
    * sized, run on whatever cadence the batch count warrants.
    *
    * Exactly-once interplay: foreachBatch can only replay the LATEST
    * batch after a crash, and a replay rewrites its own `batch=` dir —
    * which must still exist. So fold only batches strictly below the
    * newest while the stream runs (`upToBatch <= maxBatch - 1`), or
    * anything once the stream is stopped.
    *
    * Crash safety is roll-forward, marker-last: the folded data is fully
    * written under the hidden `_compact` staging dir, then an
    * `_UPTO=<n>` marker certifies it, and only then are sources deleted
    * and the staging fold renamed into place. A crash before the marker
    * leaves the sources intact (the unmarked staging is discarded on the
    * next run); a crash after it is completed by the next [[compact]]
    * call. The manifest cleanup runs BEFORE the sidecar recount, so an
    * interrupted finish leaves [[cellCounts]] under-certified — never
    * over — and the next compact repairs it.
    */
  def compact(spark: SparkSession, indexDir: String, statsDir: String,
      upToBatch: Long): Unit = {
    require(upToBatch >= 1, s"compact: upToBatch $upToBatch < 1 - nothing to fold")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(indexDir), conf)
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val staging = new org.apache.hadoop.fs.Path(root, "_compact")
    if (fs.exists(staging)) markerOf(fs, staging) match {
      case Some(n) => finishCompact(spark, fs, indexDir, statsDir, n) // roll forward
      case None    => fs.delete(staging, true) // unmarked = incomplete write: discard
    }
    val present = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).sorted
    require(present.headOption.contains(0L), s"compact: no base batch=0 under $indexDir")
    if (!present.exists(b => b > 0 && b <= upToBatch)) return // base only: already compact
    // one hash partition per cell → exactly one data file per cell
    val ncells = Similarity.loadIvfCentroids(spark, indexDir).count().toInt
    readIndex(spark, indexDir).where(col("batch") <= upToBatch).drop("batch")
      .repartition(ncells, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
    fs.create(new org.apache.hadoop.fs.Path(staging, s"_UPTO=$upToBatch"), true).close()
    finishCompact(spark, fs, indexDir, statsDir, upToBatch)
  }

  private def markerOf(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path): Option[Long] =
    fs.listStatus(staging).map(_.getPath.getName).find(_.startsWith("_UPTO="))
      .map(_.stripPrefix("_UPTO=").toLong)

  private def finishCompact(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String, statsDir: String, upTo: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val staging = new org.apache.hadoop.fs.Path(root, "_compact")
    // folded sources out, certified fold in (idempotent under re-run)
    fs.listStatus(root).map(_.getPath).filter { p =>
      p.getName.startsWith("batch=") && p.getName.stripPrefix("batch=").toLong <= upTo
    }.foreach(fs.delete(_, true))
    require(fs.rename(staging, new org.apache.hadoop.fs.Path(root, "batch=0")),
      s"compact: rename of $staging to batch=0 failed")
    fs.delete(new org.apache.hadoop.fs.Path(root, s"batch=0/_UPTO=$upTo"), false)
    // manifests BEFORE the sidecar recount: an interruption here leaves
    // counts under-certified, never doubled
    val sfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statsDir), spark.sparkContext.hadoopConfiguration)
    (1L to upTo).foreach { n =>
      sfs.delete(new org.apache.hadoop.fs.Path(statsDir, s"batch=$n"), true)
    }
    // recount the new base into the root sidecar (centroids unchanged);
    // pinned first — the write overwrites the files the plan reads
    graft.Pins.scoped { scope =>
      val sidecar = scope.pin(Similarity.loadIvfCentroids(spark, indexDir))
      val counts = spark.read.parquet(s"$indexDir/batch=0")
        .groupBy(col("cell").cast("long").as("cell")).agg(count(lit(1)).as("n_rows"))
      Similarity.writeIvfSidecar(
        sidecar.select(col("cell"), col("centroid"))
          .join(counts, Seq("cell"), "left")
          .withColumn("n_rows", coalesce(col("n_rows"), lit(0L))),
        indexDir)
    }
  }

  /** Per-cell row counts across base + batches: the base `_centroids`
    * sidecar counts plus every batch manifest — certification without an
    * index scan.
    */
  def cellCounts(spark: SparkSession, indexDir: String, statsDir: String): DataFrame = {
    val base = Similarity.loadIvfCentroids(spark, indexDir)
      .select(col("cell"), col("n_rows"))
    val batches =
      // missing stats dir (nothing streamed yet) and empty stats dir
      // (every batch folded away by [[compact]]) both mean "no manifests"
      try spark.read.parquet(statsDir).select(col("cell").cast("long").as("cell"), col("n_rows"))
      catch { case e: Exception if e.getMessage != null &&
        (e.getMessage.toLowerCase.contains("path does not exist") ||
          e.getMessage.toLowerCase.contains("unable to infer schema") ||
          e.getMessage.contains("UNABLE_TO_INFER_SCHEMA")) =>
        base.limit(0)
      }
    base.unionAll(batches).groupBy(col("cell"))
      .agg(sum(col("n_rows")).as("n_rows"))
  }
}
