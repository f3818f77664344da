package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted-index artifact — the serving shape a
  * retrieval corpus maintains between jobs, completing [[Bm25]]'s
  * in-memory `Index`/`mergeIndex` story the same way the IVF sidecar
  * completed the ANN build ([[graft.similarity.Similarity.saveIvfIndexAppendable]]):
  * build once, append segments, score many. Reference analog: the batch
  * store's write-once/read-many contract with footer-certified metadata
  * (reference org.knime.core.columnar.arrow/…/ArrowBatchStore.java:57-62).
  *
  * == Layout: committed SEGMENTS (round-12 review fix) ==
  * {{{
  *   dir/segs/seg=K/postings/bucket=B/  (doc_id, term, tf, len)
  *   dir/segs/seg=K/dfs/bucket=B/       (term, df)     segment-local
  *   dir/segs/seg=K/_meta.json          {segId, nDocs, sumLen, maxDocId}
  *   dir/segs/seg=K/_done               marker, written LAST
  *   dir/_manifest.json                 {version, nBuckets}
  * }}}
  * An earlier revision file-appended postings into shared buckets and
  * merged the df surface in place — which made a crashed-then-retried
  * append DOUBLE-APPLY the segment (the manifest's maxDocId had not
  * advanced, so the retry passed the disjointness guard and duplicated
  * every tf row, silently corrupting scores). Segments fix that the
  * Lucene way, with the [[graft.streaming.StreamingLinkGraph]] marker
  * discipline: every write inside `seg=K` is an OVERWRITE keyed by the
  * caller's `segmentId`, the `_done` marker commits last, so a torn
  * attempt is invisible to readers and a retry rewrites byte-identically;
  * a COMMITTED segment's replay short-circuits on the marker. Readers
  * union committed segments: postings concatenate (bucket stays a
  * partition level, so query-vocabulary pruning still works —
  * [[scoreTopKPersisted]]), the df surface is a vocabulary-sized sum,
  * the scalars add from the metas — exactly [[Bm25.mergeIndex]]'s
  * merge-at-read, so append ≡ rebuild holds bit-for-bit
  * (Bm25StoreSpec + the q_bm25_index_append oracle prove it).
  *
  * Df pruning stays SCORE-time ([[Bm25]] scaladoc: the `floor(n·f)` cap
  * depends on the corpus size, which appending changes), so stored dfs
  * are unpruned.
  *
  * Append contracts, fail-fast: segment doc ids sort above every
  * committed segment's `maxDocId` ([[Bm25.mergeIndex]]'s disjointness
  * made checkable), and a segment whose docs ALL tokenize to zero terms
  * is rejected — its doc ids are unknowable from an `Index`, so the id
  * guard could not protect later appends (drop empty-text docs upstream
  * or count them out of the segment).
  */
object Bm25Store extends graft.sources.SegmentedStore {

  protected def storeName: String = "Bm25Store"
  protected def tornBuildHint: String =
    "a rebuild crashed mid-overwrite; rebuild the index with Bm25Store.save"
  override protected def compactNoun: String = "index"

  final case class Manifest(version: Int, nBuckets: Int, nDocs: Long,
      sumLen: Long, maxDocId: Long)

  /** Persist an in-memory [[Bm25.Index]] as segment 0.
    *
    * A rebuild over a directory that already holds committed segments is a
    * FULL overwrite: the whole `segs/` tree is deleted first, matching the
    * sibling stores' overwrite discipline ([[LinkGraphStore.build]],
    * [[graft.dedup.MinHashStore.build]]). Without the delete, stale
    * `seg>0` directories would stay committed and [[loadManifest]] would
    * fold them in — double-counting docs whose ids overlap the rebuilt
    * seg 0, and (if `nBuckets` changed) mis-bucketing their postings so
    * [[scoreTopKPersisted]]'s pruning silently drops them.
    */
  def save(index: Bm25.Index, dir: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"Bm25Store.save: nBuckets $nBuckets < 1")
    val spark = index.postings.sparkSession
    val fs = fsFor(spark, dir)
    val segsRoot = new org.apache.hadoop.fs.Path(s"$dir/segs")
    if (fs.exists(segsRoot)) fs.delete(segsRoot, true)
    writeRootManifest(spark, dir, nBuckets)
    writeSegment(index, dir, segmentId = 0L, nBuckets)
  }

  /** Build from a corpus and persist — [[Bm25.buildIndex]] + [[save]]. */
  def build(corpus: DataFrame, textCol: String, idCol: String, dir: String,
      nBuckets: Int = 64): Unit = graft.Pins.scoped { scope =>
    val index = Bm25.buildIndex(corpus, textCol, idCol)
    scope.adopt(index.postings) // buildIndex's pin: the index ends with the save
    save(index, dir, nBuckets)
  }

  /** Fold a new segment (disjoint doc ids, built with
    * [[Bm25.buildIndex]] over the NEW documents only) into the artifact
    * under the caller's `segmentId` — monotonically increasing per
    * append (a stream passes its batch id). Exactly-once: a committed
    * segmentId's replay is a no-op; a torn attempt rewrites its own
    * directory. Cost proportional to the SEGMENT, never the corpus.
    */
  def append(segment: Bm25.Index, dir: String, segmentId: Long): Unit = {
    val spark = segment.postings.sparkSession
    // finish any interrupted in-place compaction FIRST - a segment
    // committed into the old segs tree would be lost to the pending swap
    graft.sources.SegmentCompaction.recover(spark, dir)
    val m = loadManifest(spark, dir)
    require(segmentId > 0, s"Bm25Store.append: segmentId $segmentId must be > 0 " +
      "(0 is the base segment)")
    if (segmentCommitted(spark, dir, segmentId))
      return // committed: replay no-op
    val bounds = segment.postings.agg(count(lit(1)).as("n"),
      min(col("doc_id").cast("long")).as("lo"),
      max(col("doc_id").cast("long")).as("hi")).head()
    if (bounds.getLong(0) == 0L && segment.nDocs == 0L) return // empty segment
    require(bounds.getLong(0) > 0L,
      s"Bm25Store.append: segment claims ${segment.nDocs} docs but has ZERO postings " +
        "- its doc ids are unknowable, so the disjointness guard cannot protect " +
        "later appends; drop empty-text docs upstream")
    require(bounds.getLong(1) > m.maxDocId,
      s"Bm25Store.append: segment doc ids start at ${bounds.getLong(1)} but the " +
        s"index already contains ids up to ${m.maxDocId} - segments must index " +
        "disjoint doc-id sets (re-indexing an updated doc is delete + add)")
    writeSegment(segment, dir, segmentId, m.nBuckets)
  }

  /** Fold every committed segment into a fresh SINGLE-segment store at
    * `outDir` — the segment-count maintenance a long-running ingest needs:
    * each append adds a segment and every read unions all of them, so a
    * daily append left unfolded for years turns one logical scan into
    * thousands of per-segment reads. Folding at a schedule (or a segment-
    * count bound) restores O(1) segments; [[save]]'s full-overwrite
    * discipline makes the output crash-safe (a torn compact leaves outDir
    * failing loud on the zero-segments guard, the source untouched).
    * OUT-OF-PLACE only (enforced): save() deletes outDir's segments
    * before [[load]]'s lazy readers materialize, so compacting onto the
    * source would scan its own deleted files and destroy the index.
    * Scoring from the compacted store is bit-identical (merge-at-read ≡
    * merge-at-write; spec-asserted).
    */
  def compactTo(spark: SparkSession, dir: String, outDir: String,
      nBuckets: Int = -1): Unit = {
    requireDistinctDirs(spark, dir, outDir)
    val m = loadManifest(spark, dir)
    save(load(spark, dir), outDir, if (nBuckets < 0) m.nBuckets else nBuckets)
  }

  /** [[append]] with the segment-count maintenance built in: one call
    * appends the segment and, when the committed-segment count reaches
    * `maxSegments`, folds the store in place ([[compactInPlace]]) — so a
    * daily-append pipeline never accumulates unbounded per-read segment
    * fan-out without anyone remembering to run the compaction. Amortized
    * fold cost is O(store / maxSegments) per append; choose the bound to
    * trade read fan-out against fold frequency. Returns the route taken
    * ("append" | "append+compact") for callers/specs to assert.
    */
  def appendAuto(segment: Bm25.Index, dir: String, segmentId: Long,
      maxSegments: Int = 32): String =
    autoRoute(segment.postings.sparkSession, dir, maxSegments)(
      append(segment, dir, segmentId))

  /** Load the artifact back as an in-memory [[Bm25.Index]] — plugs into
    * [[Bm25.scoreTopK]] (and [[Bm25.mergeIndex]]) unchanged.
    */
  def load(spark: SparkSession, dir: String): Bm25.Index = {
    val m = loadManifest(spark, dir)
    val segs = committedSegments(spark, dir)
    Bm25.Index(
      readPostings(spark, dir, segs)
        .select(col("doc_id"), col("term"), col("tf"), col("len")),
      readDfs(spark, dir, segs),
      m.nDocs, m.sumLen)
  }

  /** Score queries against the PERSISTED artifact with term-bucket
    * pruning: the query vocabulary's buckets are computed up front
    * (driver-bounded) and every committed segment's postings scan is
    * pruned to them — serving reads ~|query buckets|/nBuckets of the
    * index, the inverted-index access pattern as partition pruning.
    * Scores are identical to [[Bm25.scoreTopK]] over [[load]] (inner
    * joins drop the unread buckets' rows anyway; Bm25StoreSpec asserts
    * both equality and the pruned scan).
    */
  def scoreTopKPersisted(spark: SparkSession, dir: String, queries: DataFrame,
      textCol: String, idCol: String, k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Option[Double] = Some(0.5)): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val m = loadManifest(spark, dir)
    val segs = committedSegments(spark, dir)
    val qb = queries.select(explode(T.tokenize(col(textCol))).as("term"))
      .select(pmod(xxhash64(col("term")), lit(m.nBuckets.toLong)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
    val posts = readPostings(spark, dir, segs)
      .where(col("bucket").isInCollection(qb))
      .select(col("doc_id"), col("term"), col("tf"), col("len"))
    val dfsPruned = readDfsRaw(spark, dir, segs)
      .where(col("bucket").isInCollection(qb))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    Bm25.scoreTopK(Bm25.Index(posts, dfsPruned, m.nDocs, m.sumLen),
      queries, textCol, idCol, k, k1, b, maxDfFraction)
  }

  /** Root manifest + folded committed-segment metas — same shape callers
    * always consumed (nDocs/sumLen/maxDocId are the committed totals).
    */
  def loadManifest(spark: SparkSession, dir: String): Manifest = {
    import graft.sources.{ArtifactJson => J}
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"Bm25Store: no _manifest.json under $dir - " +
      "build the artifact with Bm25Store.build/save")
    val node = J.readFile(spark, s"$dir/_manifest.json")
    val segs = committedSegments(spark, dir)
    // save() always commits seg 0 (even for an empty index) — fail loud
    // instead of silently scoring against an empty index
    requireCommittedNonEmpty(segs, dir)
    val metas = segs.map { s =>
      val n = J.readFile(spark, s"$dir/segs/seg=$s/_meta.json")
      (J.long(n, "nDocs", dir), J.long(n, "sumLen", dir), J.long(n, "maxDocId", dir))
    }
    Manifest(J.long(node, "version", dir).toInt, J.long(node, "nBuckets", dir).toInt,
      nDocs = metas.map(_._1).sum,
      sumLen = metas.map(_._2).sum,
      maxDocId = (Long.MinValue +: metas.map(_._3)).max)
  }

  // ---- internals ----

  private def writeSegment(index: Bm25.Index, dir: String, segmentId: Long,
      nBuckets: Int): Unit = graft.Pins.scoped { scope =>
    val spark = index.postings.sparkSession
    // buildIndex's postings are already a pin: write them as they are
    val seg =
      if (graft.Pins.isPinned(index.postings)) index.postings else scope.pin(index.postings)
    val sDir = s"$dir/segs/seg=$segmentId"
    seg.withColumn("bucket", termBucket(nBuckets))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$sDir/postings")
    index.dfTab.withColumn("bucket", termBucket(nBuckets))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$sDir/dfs")
    val mx = seg.agg(max(col("doc_id").cast("long"))).head() match {
      case r if r.isNullAt(0) => Long.MinValue
      case r => r.getLong(0)
    }
    graft.sources.ArtifactJson.writeFile(spark, s"$sDir/_meta.json",
      s"""{"segId":$segmentId,"nDocs":${index.nDocs},"sumLen":${index.sumLen},""" +
        s""""maxDocId":$mx}""")
    graft.sources.ArtifactJson.writeFile(spark, s"$sDir/_done", "") // commit LAST
  }

  private def writeRootManifest(spark: SparkSession, dir: String, nBuckets: Int): Unit =
    graft.sources.ArtifactJson.writeFile(spark, s"$dir/_manifest.json",
      s"""{"version":2,"nBuckets":$nBuckets}""")

  private def termBucket(nBuckets: Int) =
    pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")

  import org.apache.spark.sql.types._
  private val postingsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("term", StringType),
    StructField("tf", LongType), StructField("len", IntegerType),
    StructField("bucket", IntegerType)))
  private val dfsSchema = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType),
    StructField("bucket", IntegerType)))

  private def readPostings(spark: SparkSession, dir: String, segs: Seq[Long]): DataFrame = {
    require(segs.nonEmpty, s"Bm25Store: no committed segments under $dir")
    readSurface(spark, dir, segs, "postings", postingsSchema)
  }

  private def readDfsRaw(spark: SparkSession, dir: String, segs: Seq[Long]): DataFrame = {
    require(segs.nonEmpty, s"Bm25Store: no committed segments under $dir")
    readSurface(spark, dir, segs, "dfs", dfsSchema)
  }

  private def readDfs(spark: SparkSession, dir: String, segs: Seq[Long]): DataFrame =
    readDfsRaw(spark, dir, segs)
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
}
