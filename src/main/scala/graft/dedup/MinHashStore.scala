package graft.dedup

import graft.functions.{HashFunctions => H}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash near-dup index — the serving artifact for
  * [[Dedup.minHashIncrementalAgainst]]'s "~100 B/doc signature table a
  * pipeline stores between ingests", completing the dedup lifecycle the
  * same way [[graft.text.Bm25Store]] completed retrieval's: build once
  * over the corpus, APPEND each admitted batch as a committed segment,
  * and dedup every incoming batch against the store at batch-proportional
  * cost. Reference analog: the write-once/read-many batch store
  * (reference org.knime.core.columnar.arrow/…/ArrowBatchStore.java:57-62).
  *
  * == Layout: committed SEGMENTS (round-13 review fix) ==
  * {{{
  *   dir/segs/seg=K/sigs/pb=B/      (id, sig: array<long>, shset: array<long>)
  *                                  pb = pmod(xxhash64(id), nBuckets)
  *   dir/segs/seg=K/postings/pb=B/  (band, bucket, id)  — LSH band keys,
  *                                  pb = pmod(xxhash64(band, bucket), nBuckets)
  *   dir/segs/seg=K/_meta.json      {segId, nDocs, maxId}
  *   dir/segs/seg=K/_done           marker, written LAST
  *   dir/_manifest.json             {version, nBuckets, shingleSize,
  *                                   numHashes, bands}
  * }}}
  * An earlier revision file-appended both surfaces with raw
  * `mode("append")` and advanced a mutable manifest — which made a
  * crashed-then-retried append DOUBLE-APPLY the batch (the manifest's
  * maxId had not advanced, so the retry passed the disjointness guard and
  * duplicated every signature and posting row; verdicts survived via the
  * `distinct()`s but the store bloated permanently). Segments fix that
  * with the [[graft.text.Bm25Store]] marker discipline: every write
  * inside `seg=K` is an OVERWRITE keyed by the segment id, the `_done`
  * marker commits last, so a torn attempt is invisible to readers and a
  * retry rewrites byte-identically; a COMMITTED segment's explicit-id
  * replay short-circuits on the marker. Readers union committed segments
  * (per-segment reads — multi-path parquet over seg roots hits
  * CONFLICTING_DIRECTORY_STRUCTURES); corpus stats fold from the metas.
  *
  * The band-posting surface is the INVERTED index of the LSH join: a
  * batch's band keys prune every segment's posting scan to their hash
  * buckets, the surviving candidate ids prune the signature scan to THEIR
  * buckets, and only the candidates' (id, shset) rows flow into the exact
  * verification — per-batch reads scale with the batch's band fan-out,
  * never the corpus. Candidate generation from the store is a SUPERSET
  * of the in-memory path's (the store posts every doc; the in-memory
  * path bands only set-group representatives) — verification is exact,
  * so extra candidates can never flip a verdict, and
  * [[dedupBatch]] ≡ [[Dedup.minHashIncremental]] bit-for-bit (the
  * q_minhash_store gate shares q_minhash_incremental's oracle).
  *
  * Append contract: batch ids sort above every committed segment's
  * `maxId` (the artifact-family id discipline). With the default
  * auto-assigned segment id, a retry of a COMMITTED append fails loudly
  * on that guard (never silently duplicates); pass an explicit
  * monotonically-increasing `segmentId` ≥ 1 for exactly-once no-op
  * replays — segment 0 belongs to the BUILD, so a stream passes
  * `batchId + 1` (enforced fail-fast: a raw first batch id of 0 would
  * match the build's committed marker and silently drop the batch).
  */
object MinHashStore extends graft.sources.SegmentedStore {

  protected def storeName: String = "MinHashStore"
  protected def tornBuildHint: String =
    "a build crashed mid-overwrite; rebuild the store with MinHashStore.build"

  final case class Manifest(version: Int, nBuckets: Int, shingleSize: Int,
      numHashes: Int, bands: Int, nDocs: Long, maxId: Long)

  /** Build the store from a corpus — a FULL overwrite of any existing
    * `segs/` tree (stale committed segments must not survive a rebuild:
    * they would double-count docs and, under a changed `nBuckets`,
    * mis-bucket postings so [[dedupBatch]]'s pruning dropped candidates).
    */
  def build(corpus: DataFrame, textCol: String, idCol: String, dir: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      nBuckets: Int = 64): Unit =
    // unpinned: buildFromSigs owns the single checkpoint (pinning here too
    // would materialize and hold TWO corpus-sized signature copies)
    buildFromSigs(
      Dedup.minHashSignatureTable(corpus, textCol, idCol, shingleSize, numHashes),
      dir, shingleSize, numHashes, bands, nBuckets)

  /** Build the store from a PRECOMPUTED signature table (schema of
    * [[Dedup.minHashSignatureTable]]: id, sig, shset). The caller owns
    * the parameter match: `shingleSize`/`numHashes`/`bands` must be the
    * values the signatures were computed with — this is the
    * [[graft.streaming.StreamingDedup.compactTo]] entry point, where the
    * per-batch signature tables already exist and re-signing the corpus
    * would defeat the compaction.
    */
  def buildFromSigs(sigs: DataFrame, dir: String, shingleSize: Int,
      numHashes: Int, bands: Int, nBuckets: Int = 64): Unit = {
    require(numHashes % bands == 0,
      s"MinHashStore.build: numHashes $numHashes not divisible by bands $bands")
    require(nBuckets >= 1, s"MinHashStore.build: nBuckets $nBuckets < 1")
    val spark = sigs.sparkSession
    val fs = fsFor(spark, dir)
    val segsRoot = new org.apache.hadoop.fs.Path(s"$dir/segs")
    if (fs.exists(segsRoot)) fs.delete(segsRoot, true)
    writeRootManifest(spark, dir, nBuckets, shingleSize, numHashes, bands)
    graft.Pins.scoped(scope => writeSegment(scope.pin(sigs), dir, segmentId = 0L, bands,
      numHashes / bands, nBuckets))
  }

  /** Fold a batch of NEW documents (typically [[dedupBatch]] survivors)
    * into the store as a committed segment. Cost: one signature pass over
    * the batch + two bucketed segment writes — nothing existing is read
    * or rewritten. `segmentId` < 0 auto-assigns the next id (committed
    * retry then fails the id guard loudly); an explicit id makes a
    * committed replay a no-op (see class doc).
    */
  def append(newDocs: DataFrame, textCol: String, idCol: String, dir: String,
      segmentId: Long = -1L): Unit = {
    val spark = newDocs.sparkSession
    // recover BEFORE loadManifest: a compaction that crashed mid-swap
    // leaves zero committed segments, and loadManifest would throw before
    // the roll-forward its own error message promises
    graft.sources.SegmentCompaction.recover(spark, dir)
    val m = loadManifest(spark, dir)
    graft.Pins.scoped(scope => appendSigs(scope.pin(Dedup.minHashSignatureTable(newDocs,
      textCol, idCol, m.shingleSize, m.numHashes)), dir, segmentId, m))
  }

  /** [[append]] from a precomputed signature table (see [[buildFromSigs]]
    * for the parameter-match contract).
    */
  def appendFromSigs(sigs: DataFrame, dir: String, segmentId: Long = -1L): Unit = {
    graft.sources.SegmentCompaction.recover(sigs.sparkSession, dir) // before loadManifest
    graft.Pins.scoped(scope => appendSigs(scope.pin(sigs), dir, segmentId,
      loadManifest(sigs.sparkSession, dir)))
  }

  private def appendSigs(sigs: DataFrame, dir: String, segmentIdArg: Long,
      m: Manifest): Unit = {
    val spark = sigs.sparkSession
    // finish any interrupted in-place compaction FIRST - a segment
    // committed into the old segs tree would be lost to the pending swap
    graft.sources.SegmentCompaction.recover(spark, dir)
    val committed = committedSegments(spark, dir)
    val segmentId = resolveSegmentId(committed, segmentIdArg)
    if (segmentIdArg >= 0L && segmentCommitted(spark, dir, segmentId))
      return // committed: replay no-op
    val stats = sigs.agg(count(lit(1)).as("n"), min(col("id")).as("lo"),
      max(col("id")).as("hi"), count_distinct(col("id")).as("nd")).head()
    if (stats.getLong(0) == 0L) return // empty batch: store untouched
    requireMonotonicIds(stats.getLong(0), stats.getLong(3), stats.getLong(1), m.maxId)
    writeSegment(sigs, dir, segmentId, m.bands, m.numHashes / m.bands, m.nBuckets)
  }

  /** Fold every committed segment into a fresh SINGLE-segment store at
    * `outDir` (signatures reused — the corpus is never re-signed; band
    * postings are recomputed from the signatures, a deterministic
    * function). The segment-count maintenance a long-running ingest
    * needs: every [[dedupBatch]] unions per-segment reads, so unbounded
    * appends turn one logical probe into thousands of segment scans.
    * The output is build-shaped (crash-safe by the overwrite discipline;
    * a torn compact fails loud on the zero-segments guard, the source
    * untouched). Verdicts from the compacted store are bit-identical
    * (spec-asserted).
    */
  def compactTo(spark: SparkSession, dir: String, outDir: String,
      nBuckets: Int = -1): Unit = {
    // OUT-OF-PLACE only: buildFromSigs deletes outDir/segs BEFORE the
    // lazy readSigs reader materializes — compacting onto the source
    // would scan its own deleted files and destroy the store
    requireDistinctDirs(spark, dir, outDir)
    val m = loadManifest(spark, dir)
    buildFromSigs(readSigs(spark, dir), outDir, m.shingleSize, m.numHashes,
      m.bands, if (nBuckets < 0) m.nBuckets else nBuckets)
  }

  /** [[append]] with the segment-count maintenance built in (the
    * Bm25Store.appendAuto router): appends the batch, then folds the
    * store in place once the committed-segment count reaches
    * `maxSegments`. Verdicts are bit-identical across the fold
    * (signatures reused; spec-asserted). Returns the route taken
    * ("append" | "append+compact").
    */
  def appendAuto(newDocs: DataFrame, textCol: String, idCol: String,
      dir: String, segmentId: Long = -1L, maxSegments: Int = 32): String =
    autoRoute(newDocs.sparkSession, dir, maxSegments)(
      append(newDocs, textCol, idCol, dir, segmentId))

  /** Batch survivors against the store — bit-identical to
    * [[Dedup.minHashIncremental]] over the full stored corpus, at
    * bucket-pruned cost (see class doc).
    */
  def dedupBatch(spark: SparkSession, dir: String, batch: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.7): DataFrame =
    graft.Pins.scoped { scope =>
      val m = loadManifest(spark, dir)
      val segs = committedSegments(spark, dir)
      val rows = m.numHashes / m.bands
      val batchSigs = scope.pin(Dedup.minHashSignatureTable(batch, textCol, idCol,
        m.shingleSize, m.numHashes))
      // batch band keys (empty shingle sets never band — the sentinel
      // collision rule shared with the in-memory path's collapse)
      val bandKeys = scope.pin(batchSigs.where(size(col("shset")) > 0)
        .select(posexplode(H.bandHashes(col("sig"), m.bands, rows)).as(Seq("band", "bucket")))
        .distinct())
      val tb = bandKeys.select(postingBucket(m.nBuckets).as("b")).distinct()
        .collect().map(_.getInt(0)).sorted
      val candIds = scope.pin(
        if (tb.isEmpty || segs.isEmpty) emptyIds(spark)
        else readSurface(spark, dir, segs, "postings", postingsSchema)
          .where(col("pb").isInCollection(tb))
          .join(bandKeys, Seq("band", "bucket"))
          .select(col("id")).distinct())
      val sb = candIds.select(sigBucket(m.nBuckets).as("b")).distinct()
        .collect().map(_.getInt(0)).sorted
      val candSigs =
        if (sb.isEmpty || segs.isEmpty) emptySigs(spark)
        else readSurface(spark, dir, segs, "sigs", sigsSchema)
          .where(col("pb").isInCollection(sb))
          .join(candIds, Seq("id"))
          .select(col("id"), col("sig"), col("shset"))
      Dedup.minHashIncrementalSigs(candSigs, batchSigs, batch, idCol,
        m.numHashes, m.bands, threshold)
    }

  /** Root manifest + folded committed-segment metas — callers see the
    * committed totals (nDocs, maxId) exactly as before the segment split.
    */
  def loadManifest(spark: SparkSession, dir: String): Manifest = {
    import graft.sources.{ArtifactJson => J}
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"MinHashStore: no _manifest.json under $dir - " +
      "build the store with MinHashStore.build")
    val node = J.readFile(spark, s"$dir/_manifest.json")
    def num(f: String): Long = J.long(node, f, dir)
    require(num("version") == 2L,
      s"MinHashStore: $dir has manifest version ${num("version")}, this reader " +
        "needs the segmented v2 layout - rebuild the store with MinHashStore.build")
    val segs = committedSegments(spark, dir)
    // build ALWAYS commits seg 0 (even for an empty corpus) — fail loud:
    // reading on would serve a silently-EMPTY store that admits every dup
    requireCommittedNonEmpty(segs, dir)
    val metas = segs.map { s =>
      val n = J.readFile(spark, s"$dir/segs/seg=$s/_meta.json")
      (J.long(n, "nDocs", dir), J.long(n, "maxId", dir))
    }
    Manifest(num("version").toInt, num("nBuckets").toInt, num("shingleSize").toInt,
      num("numHashes").toInt, num("bands").toInt,
      nDocs = metas.map(_._1).sum,
      maxId = (Long.MinValue +: metas.map(_._2)).max)
  }

  /** All committed signatures (id, sig, shset) — the spec's
    * append ≡ rebuild surface comparison.
    */
  def readSigs(spark: SparkSession, dir: String): DataFrame =
    readSurface(spark, dir, committedSegments(spark, dir), "sigs", sigsSchema)
      .select(col("id"), col("sig"), col("shset"))

  /** All committed band postings (band, bucket, id). */
  def readPostings(spark: SparkSession, dir: String): DataFrame =
    readSurface(spark, dir, committedSegments(spark, dir), "postings", postingsSchema)
      .select(col("band"), col("bucket"), col("id"))

  // ---- internals ----

  /** Write both surfaces of one segment; `_done` marker commits LAST. */
  private def writeSegment(sigs: DataFrame, dir: String, segmentId: Long,
      bands: Int, rows: Int, nBuckets: Int): Unit = {
    val spark = sigs.sparkSession
    val sDir = s"$dir/segs/seg=$segmentId"
    sigs.withColumn("pb", sigBucket(nBuckets))
      .repartition(col("pb"))
      .write.mode("overwrite").partitionBy("pb").parquet(s"$sDir/sigs")
    sigs.where(size(col("shset")) > 0)
      .select(col("id"), posexplode(H.bandHashes(col("sig"), bands, rows)).as(Seq("band", "bucket")))
      .withColumn("pb", postingBucket(nBuckets))
      .repartition(col("pb"))
      .write.mode("overwrite").partitionBy("pb").parquet(s"$sDir/postings")
    val stats = sigs.agg(count(lit(1)).as("n"), max(col("id")).as("mx")).head()
    graft.sources.ArtifactJson.writeFile(spark, s"$sDir/_meta.json",
      s"""{"segId":$segmentId,"nDocs":${stats.getLong(0)},""" +
        s""""maxId":${if (stats.isNullAt(1)) Long.MinValue else stats.getLong(1)}}""")
    graft.sources.ArtifactJson.writeFile(spark, s"$sDir/_done", "") // commit LAST
  }

  private def writeRootManifest(spark: SparkSession, dir: String, nBuckets: Int,
      shingleSize: Int, numHashes: Int, bands: Int): Unit =
    graft.sources.ArtifactJson.writeFile(spark, s"$dir/_manifest.json",
      s"""{"version":2,"nBuckets":$nBuckets,"shingleSize":$shingleSize,""" +
        s""""numHashes":$numHashes,"bands":$bands}""")

  private def sigBucket(nBuckets: Int) =
    pmod(xxhash64(col("id")), lit(nBuckets.toLong)).cast("int")

  private def postingBucket(nBuckets: Int) =
    pmod(xxhash64(col("band"), col("bucket")), lit(nBuckets.toLong)).cast("int")

  import org.apache.spark.sql.types._
  private val sigsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sig", ArrayType(LongType, containsNull = false)),
    StructField("shset", ArrayType(LongType, containsNull = false)),
    StructField("pb", IntegerType)))
  private val postingsSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bucket", LongType),
    StructField("id", LongType), StructField("pb", IntegerType)))

  private def emptyIds(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType))))

  private def emptySigs(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", LongType),
        StructField("sig", ArrayType(LongType, containsNull = false)),
        StructField("shset", ArrayType(LongType, containsNull = false)))))
}
