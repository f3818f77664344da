package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted SEMANTIC dedup index — frozen k-means centroids plus the
  * admitted `(id, cluster, vec)` state as a committed-segment artifact,
  * completing the embedding-dedup lifecycle the way
  * [[MinHashStore]] (text) and
  * [[graft.multimodal.MediaFingerprintStore]] (media) completed theirs:
  * cluster the corpus ONCE, append each admitted batch as a committed
  * segment, and dedup every incoming batch against the store at
  * cluster-bounded cost — q_semdedup previously re-trained the
  * clustering per query. Reference analog: the write-once/read-many
  * batch store (reference
  * org.knime.core.columnar.arrow/…/ArrowBatchStore.java:57-62).
  *
  * == Layout: committed SEGMENTS (the MinHashStore v2 discipline) ==
  * {{{
  *   dir/_centroids/            (c: int, cent: array<double>) — ONE file,
  *                              written at build, FROZEN thereafter
  *   dir/segs/seg=K/state/cb=B/ (id, cluster, vec)
  *                              cb = pmod(xxhash64(cluster), nBuckets)
  *   dir/segs/seg=K/_meta.json  {segId, nDocs, maxId}
  *   dir/segs/seg=K/_done       marker, written LAST
  *   dir/_manifest.json         {version, nBuckets, k, d}
  * }}}
  *
  * Centroids are FROZEN at build time — the SemDeDup paper's own shape
  * (clustering is an index, not per-batch state) and the
  * [[graft.streaming.StreamingSemDedup]] contract. Appends assign
  * against the stored centroids, so every vector ever admitted carries a
  * consistent cluster id and the cluster-bounded candidate rule stays
  * EXACT. Centroid drift (a corpus whose embedding distribution moved)
  * ⇒ rebuild — the HyperBall growth argument: re-training moves cluster
  * boundaries retroactively for every stored vector, so fresh
  * assignments are not derivable from stored ones.
  *
  * [[dedupBatch]] prunes the state read to the batch's clusters' hash
  * buckets (`cb` partition pruning; clusters bound candidates EXACTLY,
  * so pruning cannot change verdicts) and feeds the shared
  * [[graft.streaming.StreamingSemDedup.droppedIds]] rule — store-served
  * verdicts are bit-identical to the streaming twin over the full state
  * and to the from-scratch oracle (the q_semdedup_store gate replays
  * clustering, assignment and the drop rule in SQL).
  */
object SemDedupStore extends graft.sources.SegmentedStore {

  protected def storeName: String = "SemDedupStore"
  protected def tornBuildHint: String =
    "a build crashed mid-overwrite; rebuild with SemDedupStore.build"

  final case class Manifest(version: Int, nBuckets: Int, k: Int, d: Int,
      nDocs: Long, maxId: Long)

  /** Train deterministic k-means on the corpus, assign, persist —
    * centroids + segment 0. Full overwrite of any existing `segs/` tree.
    * At corpus scale train on a BOUNDED SAMPLE instead (the
    * pqRefineDeterministic memory note and the streaming twin's shape):
    * `kmeansDeterministic(sample)` + `assignClusters(corpus)` +
    * [[buildFromState]] — the ScaleProbe semdedup_store pattern.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      k: Int = 16, iters: Int = 1, nBuckets: Int = 16): Unit = {
    val cents = SemDedup.kmeansDeterministic(corpus, vecCol, idCol, k, iters)
    val state = SemDedup.assignClusters(corpus, vecCol, cents)
      .select(col(idCol).cast("long").as("id"),
        col("cluster"), col(vecCol).cast("array<double>").as("vec"))
    buildFromState(state, dir, cents, nBuckets)
  }

  /** Build from precomputed `(id, cluster, vec)` state and its centroids
    * (the [[graft.streaming.StreamingSemDedup.compactTo]] entry point —
    * assignments are reused, never recomputed). The caller owns the
    * match: `state`'s cluster ids must be assignments against exactly
    * these centroids.
    */
  def buildFromState(state: DataFrame, dir: String,
      centroids: Array[Array[Double]], nBuckets: Int = 16): Unit = {
    require(centroids.nonEmpty && centroids.head.nonEmpty,
      "SemDedupStore.build: empty centroid set")
    require(nBuckets >= 1, s"SemDedupStore.build: nBuckets $nBuckets < 1")
    val spark = state.sparkSession
    val fs = fsFor(spark, dir)
    val segsRoot = new org.apache.hadoop.fs.Path(s"$dir/segs")
    if (fs.exists(segsRoot)) fs.delete(segsRoot, true)
    // centroids first (tiny, one file), manifest next, data segments last
    // inside their own marker discipline — a crash anywhere leaves either
    // no manifest or a manifest whose zero committed segments fail loud
    val rows = centroids.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i, c.toSeq)
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1),
        StructType(Seq(StructField("c", IntegerType, nullable = false),
          StructField("cent", ArrayType(DoubleType, containsNull = false)))))
      .write.mode("overwrite").parquet(s"$dir/_centroids")
    graft.sources.ArtifactJson.writeFile(spark, s"$dir/_manifest.json",
      s"""{"version":1,"nBuckets":$nBuckets,"k":${centroids.length},""" +
        s""""d":${centroids.head.length}}""")
    graft.Pins.scoped(scope => writeSegment(scope.pin(state), dir, segmentId = 0L, nBuckets))
  }

  /** Fold a batch of NEW vectors (typically [[dedupBatch]] survivors)
    * into the store as a committed segment — assignment against the
    * FROZEN centroids + one bucketed write, nothing existing is read or
    * rewritten. Same id/replay discipline as the sibling stores.
    */
  def append(newDocs: DataFrame, idCol: String, vecCol: String, dir: String,
      segmentId: Long = -1L): Unit = {
    val spark = newDocs.sparkSession
    // finish any interrupted in-place compaction FIRST (the family rule)
    graft.sources.SegmentCompaction.recover(spark, dir)
    val m = loadManifest(spark, dir)
    val committed = committedSegments(spark, dir)
    val segId = resolveSegmentId(committed, segmentId)
    if (segmentId >= 0L && segmentCommitted(spark, dir, segId))
      return // committed: replay no-op
    graft.Pins.scoped { scope =>
      val state = scope.pin(SemDedup.assignClusters(newDocs, vecCol, loadCentroids(spark, dir))
        .select(col(idCol).cast("long").as("id"),
          col("cluster"), col(vecCol).cast("array<double>").as("vec")))
      val stats = state.agg(count(lit(1)).as("n"), min(col("id")).as("lo"),
        count_distinct(col("id")).as("nd")).head()
      if (stats.getLong(0) > 0L) { // an empty batch leaves the store untouched
        requireMonotonicIds(stats.getLong(0), stats.getLong(2), stats.getLong(1), m.maxId)
        writeSegment(state, dir, segId, m.nBuckets)
      }
    }
  }

  /** Fold every committed segment into a fresh single-segment store at
    * `outDir` — state and centroids reused verbatim (never re-trained,
    * never re-assigned), so verdicts are bit-identical (spec-asserted).
    */
  def compactTo(spark: SparkSession, dir: String, outDir: String,
      nBuckets: Int = -1): Unit = {
    requireDistinctDirs(spark, dir, outDir)
    val m = loadManifest(spark, dir)
    buildFromState(readState(spark, dir), outDir, loadCentroids(spark, dir),
      if (nBuckets < 0) m.nBuckets else nBuckets)
  }

  /** [[append]] with the segment-count maintenance built in (the
    * Bm25Store.appendAuto router). Returns "append" | "append+compact".
    */
  def appendAuto(newDocs: DataFrame, idCol: String, vecCol: String,
      dir: String, segmentId: Long = -1L, maxSegments: Int = 32): String =
    autoRoute(newDocs.sparkSession, dir, maxSegments)(
      append(newDocs, idCol, vecCol, dir, segmentId))

  /** Per-vector verdict for a batch probed against the store:
    * `(idCol, cluster, kept)` — kept = false iff a stored vector in the
    * same cluster (or a lower-id same-cluster batch peer) has rounded
    * cosine ≥ tau. Bit-identical to
    * [[graft.streaming.StreamingSemDedup.droppedIds]] over the FULL
    * state: the state read is pruned to the batch's clusters' buckets,
    * and the rule only ever compares same-cluster rows.
    */
  def dedupVerdict(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, vecCol: String, tau: Double = 0.9): DataFrame = {
    require(tau > -1.0 && tau <= 1.0, s"SemDedupStore: tau must be in (-1, 1], got $tau")
    val m = loadManifest(spark, dir)
    val segs = committedSegments(spark, dir)
    // pins root the RETURNED lazy plan — not released here (the family's
    // returned-plan discipline; both frames are batch-sized)
    val assigned = SemDedup.assignClusters(batch, vecCol, loadCentroids(spark, dir))
      .select(col(idCol).cast("long").as("id"),
        col("cluster"), col(vecCol).cast("array<double>").as("vec"))
      .localCheckpoint(true)
    val cbs = assigned
      .select(pmod(xxhash64(col("cluster")), lit(m.nBuckets.toLong)).cast("int").as("cb"))
      .distinct().collect().map(_.getInt(0)).sorted // bounded by nBuckets
    val state =
      if (cbs.isEmpty || segs.isEmpty) emptyState(spark)
      else readSurface(spark, dir, segs, "state", stateSchema)
        .where(col("cb").isInCollection(cbs))
        .select(col("id"), col("cluster"), col("vec"))
    val dropped = graft.streaming.StreamingSemDedup.droppedIds(state, assigned, tau)
    assigned.join(dropped, col("id") === col("drop_id"), "left_outer")
      .select(col("id").as(idCol), col("cluster"), col("drop_id").isNull.as("kept"))
  }

  /** Batch survivors (original batch rows) — the sibling stores' shape. */
  def dedupBatch(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, vecCol: String, tau: Double = 0.9): DataFrame = {
    val keptIds = dedupVerdict(spark, dir, batch, idCol, vecCol, tau)
      .where(col("kept")).select(col(idCol))
    batch.join(keptIds, Seq(idCol), "left_semi")
  }

  /** The frozen centroids, exactly as persisted (doubles round-trip
    * bit-exact through parquet).
    */
  def loadCentroids(spark: SparkSession, dir: String): Array[Array[Double]] = {
    val m = loadManifest(spark, dir)
    val rows = spark.read.parquet(s"$dir/_centroids")
      .orderBy(col("c")).collect() // k rows — driver-bounded by design
    require(rows.length == m.k,
      s"SemDedupStore: $dir has ${rows.length} centroids, manifest says ${m.k}")
    rows.map(_.getSeq[Double](1).toArray)
  }

  def loadManifest(spark: SparkSession, dir: String): Manifest = {
    import graft.sources.{ArtifactJson => J}
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"SemDedupStore: no _manifest.json under $dir - " +
      "build the store with SemDedupStore.build")
    val node = J.readFile(spark, s"$dir/_manifest.json")
    def num(f: String): Long = J.long(node, f, dir)
    val segs = committedSegments(spark, dir)
    requireCommittedNonEmpty(segs, dir)
    val metas = segs.map { s =>
      val n = J.readFile(spark, s"$dir/segs/seg=$s/_meta.json")
      (J.long(n, "nDocs", dir), J.long(n, "maxId", dir))
    }
    Manifest(num("version").toInt, num("nBuckets").toInt, num("k").toInt,
      num("d").toInt,
      nDocs = metas.map(_._1).sum,
      maxId = (Long.MinValue +: metas.map(_._2)).max)
  }

  /** All committed state rows (id, cluster, vec). */
  def readState(spark: SparkSession, dir: String): DataFrame =
    readSurface(spark, dir, committedSegments(spark, dir), "state", stateSchema)
      .select(col("id"), col("cluster"), col("vec"))

  // ---- internals ----

  private def writeSegment(state: DataFrame, dir: String, segmentId: Long,
      nBuckets: Int): Unit = {
    val spark = state.sparkSession
    val sDir = s"$dir/segs/seg=$segmentId"
    graft.table.WriteModes.staticPartitionOverwrite(
      state.withColumn("cb",
          pmod(xxhash64(col("cluster")), lit(nBuckets.toLong)).cast("int"))
        .repartition(col("cb")),
      s"$sDir/state", "cb")
    val stats = state.agg(count(lit(1)).as("n"), max(col("id")).as("mx")).head()
    graft.sources.ArtifactJson.writeFile(spark, s"$sDir/_meta.json",
      s"""{"segId":$segmentId,"nDocs":${stats.getLong(0)},""" +
        s""""maxId":${if (stats.isNullAt(1)) Long.MinValue else stats.getLong(1)}}""")
    graft.sources.ArtifactJson.writeFile(spark, s"$sDir/_done", "") // commit LAST
  }

  import org.apache.spark.sql.types._
  private val stateSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("cluster", IntegerType),
    StructField("vec", ArrayType(DoubleType)),
    StructField("cb", IntegerType)))

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", LongType),
        StructField("cluster", IntegerType),
        StructField("vec", ArrayType(DoubleType)))))
}
