package graft.multimodal

import graft.functions.{HashFunctions => H}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted PERCEPTUAL media fingerprint index — the serving artifact
  * for [[graft.streaming.StreamingMediaDedup]]'s admitted-set state,
  * completing the media-dedup lifecycle the way [[graft.dedup.MinHashStore]]
  * completed text near-dup's: fingerprint the corpus ONCE (payloads
  * decode exactly once, at index time), append each admitted batch as a
  * committed segment, and dedup every incoming batch against the store at
  * batch-proportional cost — q_media-style lanes previously re-decoded
  * and re-hashed the corpus per query. Reference analog: the
  * write-once/read-many batch store (reference
  * org.knime.core.columnar.arrow/…/ArrowBatchStore.java:57-62).
  *
  * == Layout: committed SEGMENTS (the MinHashStore v2 discipline) ==
  * {{{
  *   dir/segs/seg=K/fps/pb=B/       (id, slot, fp)  pb = pmod(xxhash64(id), nB)
  *   dir/segs/seg=K/postings/pb=B/  (slot, band, bucket, id, fp)
  *                                  pb = pmod(xxhash64(slot, band, bucket), nB)
  *   dir/segs/seg=K/_meta.json      {segId, nDocs, maxId}
  *   dir/segs/seg=K/_done           marker, written LAST
  *   dir/_manifest.json             {version, nBuckets, n, bands}
  * }}}
  * Every write inside `seg=K` is an overwrite keyed by the segment id and
  * the `_done` marker commits last, so a torn attempt is invisible and a
  * retry rewrites byte-identically; a committed explicit-id replay
  * short-circuits on the marker; a torn REBUILD fails loud on the
  * zero-segments guard in [[loadManifest]].
  *
  * The postings surface is the inverted index of the slot-aligned banded
  * Hamming join ([[Multimodal.videoPerceptualPairs]]'s rule): a batch's
  * (slot, band, bucket) keys prune every segment's posting scan to their
  * hash buckets and only the candidates' (id, slot, fp) rows flow into
  * the exact Hamming verification — per-batch reads scale with the
  * batch's band fan-out, never the corpus. Because maxHamming < bands
  * guarantees a matching pair shares at least one clean band (pigeonhole),
  * the pruned candidate set contains EVERY pair the exact rule accepts,
  * so [[dedupBatch]] ≡ [[graft.streaming.StreamingMediaDedup.incrementalFps]]
  * over the full stored fingerprints, bit-for-bit (the verification IS
  * that function, fed the pruned candidates; spec + the
  * q_media_dedup_store gate's full SQL oracle assert it).
  *
  * Append contract: batch ids sort above every committed segment's maxId
  * (the artifact-family id discipline); segment 0 belongs to the build,
  * explicit ids start at 1 (a stream passes batchId + 1).
  */
object MediaFingerprintStore extends graft.sources.SegmentedStore {

  protected def storeName: String = "MediaFingerprintStore"
  protected def tornBuildHint: String =
    "a build crashed mid-overwrite; rebuild with MediaFingerprintStore.build"

  final case class Manifest(version: Int, nBuckets: Int, n: Int, bands: Int,
      nDocs: Long, maxId: Long)

  /** Build the store from a media corpus (id + video payload): decode +
    * fingerprint once, write segment 0. Full overwrite of any existing
    * `segs/` tree — stale committed segments must not survive a rebuild.
    */
  def build(corpus: DataFrame, payloadCol: String, idCol: String, dir: String,
      n: Int = 8, bands: Int = 8, nBuckets: Int = 64): Unit = {
    val fps = Multimodal.videoFrameHashes(corpus, idCol, payloadCol, n)
      .select(col(idCol).cast("long").as("id"), col("sample_idx").as("slot"),
        col("frame_hash").as("fp"))
    buildFromFps(fps, corpus.select(col(idCol).cast("long").as("id")),
      dir, n, bands, nBuckets)
  }

  /** Build from PRECOMPUTED fingerprints (schema id, slot, fp — the
    * [[graft.streaming.StreamingMediaDedup]] state shape). The caller owns
    * the parameter match: `n` must be the sample count the fingerprints
    * were computed with. `ids` = the full document id set (undecodable
    * payloads produce no fingerprints but still advance maxId, so a
    * duplicate id can never be re-appended).
    */
  def buildFromFps(fps: DataFrame, ids: DataFrame, dir: String, n: Int,
      bands: Int, nBuckets: Int = 64): Unit = {
    require(n >= 1, s"MediaFingerprintStore.build: n $n < 1")
    require(bands >= 1 && 64 % bands == 0,
      s"MediaFingerprintStore.build: bands $bands must divide 64")
    require(nBuckets >= 1, s"MediaFingerprintStore.build: nBuckets $nBuckets < 1")
    val spark = fps.sparkSession
    val fs = fsFor(spark, dir)
    val segsRoot = new org.apache.hadoop.fs.Path(s"$dir/segs")
    if (fs.exists(segsRoot)) fs.delete(segsRoot, true)
    graft.sources.ArtifactJson.writeFile(spark, s"$dir/_manifest.json",
      s"""{"version":1,"nBuckets":$nBuckets,"n":$n,"bands":$bands}""")
    graft.Pins.scoped(scope => writeSegment(scope.pin(fps), ids, dir, segmentId = 0L, bands,
      nBuckets))
  }

  /** Fold a batch of NEW media (typically [[dedupBatch]] survivors) into
    * the store as a committed segment — one decode+fingerprint pass over
    * the batch + two bucketed segment writes, nothing existing is read or
    * rewritten. `segmentId` < 0 auto-assigns (committed retry then fails
    * the id guard loudly); an explicit id makes a committed replay a
    * no-op.
    */
  def append(newDocs: DataFrame, payloadCol: String, idCol: String, dir: String,
      segmentId: Long = -1L): Unit = {
    val spark = newDocs.sparkSession
    // recover BEFORE loadManifest (mid-swap crash leaves zero committed
    // segments), and short-circuit a committed replay BEFORE paying the
    // decode+fingerprint pass the store exists to avoid (id 0 falls
    // through to appendFps's loud reserved-segment guard)
    graft.sources.SegmentCompaction.recover(spark, dir)
    val m = loadManifest(spark, dir)
    if (segmentId > 0L && segmentCommitted(spark, dir, segmentId))
      return
    graft.Pins.scoped(scope => appendFps(
      scope.pin(Multimodal.videoFrameHashes(newDocs, idCol, payloadCol, m.n)
        .select(col(idCol).cast("long").as("id"), col("sample_idx").as("slot"),
          col("frame_hash").as("fp"))),
      newDocs.select(col(idCol).cast("long").as("id")), dir, segmentId, m))
  }

  /** [[append]] from precomputed fingerprints (see [[buildFromFps]] for
    * the parameter-match and `ids` contracts).
    */
  def appendFromFps(fps: DataFrame, ids: DataFrame, dir: String,
      segmentId: Long = -1L): Unit = {
    graft.sources.SegmentCompaction.recover(fps.sparkSession, dir) // before loadManifest
    graft.Pins.scoped(scope => appendFps(scope.pin(fps), ids, dir, segmentId,
      loadManifest(fps.sparkSession, dir)))
  }

  private def appendFps(fps: DataFrame, ids: DataFrame, dir: String,
      segmentIdArg: Long, m: Manifest): Unit = {
    val spark = fps.sparkSession
    // finish any interrupted in-place compaction FIRST (the family rule)
    graft.sources.SegmentCompaction.recover(spark, dir)
    val committed = committedSegments(spark, dir)
    val segmentId = resolveSegmentId(committed, segmentIdArg)
    if (segmentIdArg >= 0L && segmentCommitted(spark, dir, segmentId))
      return // committed: replay no-op
    val stats = ids.agg(count(lit(1)).as("n"), min(col("id")).as("lo"),
      count_distinct(col("id")).as("nd")).head()
    if (stats.getLong(0) == 0L) return // empty batch: store untouched
    requireMonotonicIds(stats.getLong(0), stats.getLong(2), stats.getLong(1), m.maxId)
    writeSegment(fps, ids, dir, segmentId, m.bands, m.nBuckets)
  }

  /** Fold every committed segment into a fresh single-segment store at
    * `outDir` (fingerprints reused — payloads are never re-decoded;
    * postings are recomputed from the fingerprints, a deterministic
    * function). Bounds the per-probe segment fan-out a long-running
    * ingest accumulates. Verdicts from the compacted store are
    * bit-identical (spec-asserted).
    */
  def compactTo(spark: SparkSession, dir: String, outDir: String,
      nBuckets: Int = -1): Unit = {
    // OUT-OF-PLACE only: buildFromFps deletes outDir/segs before the lazy
    // readFps reader materializes — an in-place compact would destroy the
    // store (the MinHashStore.compactTo hazard)
    requireDistinctDirs(spark, dir, outDir)
    val m = loadManifest(spark, dir)
    // ids: reconstruct from metas is impossible (only counts survive), so
    // carry the fingerprinted ids; maxId continuity is preserved via an
    // explicit synthetic row when the stored maxId has no fingerprints
    val fpIds = readFps(spark, dir).select(col("id")).distinct()
    val ids =
      if (m.maxId == Long.MinValue) fpIds
      else fpIds.unionAll(spark.range(m.maxId, m.maxId + 1).select(col("id"))).distinct()
    buildFromFps(readFps(spark, dir), ids, outDir, m.n, m.bands,
      if (nBuckets < 0) m.nBuckets else nBuckets)
  }

  /** [[append]] with the segment-count maintenance built in (the
    * Bm25Store.appendAuto router). Returns "append" | "append+compact".
    */
  def appendAuto(newDocs: DataFrame, payloadCol: String, idCol: String,
      dir: String, segmentId: Long = -1L, maxSegments: Int = 32): String =
    autoRoute(newDocs.sparkSession, dir, maxSegments)(
      append(newDocs, payloadCol, idCol, dir, segmentId))

  /** Batch survivors against the store — bit-identical to
    * [[graft.streaming.StreamingMediaDedup.incrementalFps]] over the full
    * stored fingerprint state, at bucket-pruned cost (see class doc).
    */
  def dedupBatch(spark: SparkSession, dir: String, batch: DataFrame,
      payloadCol: String, idCol: String, maxHamming: Int = 6,
      minMatches: Int = 4): DataFrame = {
    val m = loadManifest(spark, dir)
    // the streaming twin's full-recall precondition, enforced HERE too:
    // the bucket pruning leans on the same pigeonhole (a pair within
    // maxHamming shares a clean band only when maxHamming < bands), so
    // violating it would silently admit true near-duplicates
    require(maxHamming < m.bands,
      s"MediaFingerprintStore.dedupBatch: maxHamming ($maxHamming) must be < " +
        s"the store's bands (${m.bands}) for full recall")
    require(minMatches >= 1,
      s"MediaFingerprintStore.dedupBatch: minMatches must be >= 1, got $minMatches")
    val segs = committedSegments(spark, dir)
    // both pins root the RETURNED lazy plan, so they are NOT released here
    // (the family's returned-plan discipline — GC frees them); each is
    // fingerprint-sized (~20 B per sampled frame), never payload bytes
    val batchFps = Multimodal.videoFrameHashes(batch, idCol, payloadCol, m.n)
      .select(col(idCol).cast("long").as("id"), col("sample_idx").as("slot"),
        col("frame_hash").as("fp"))
      .localCheckpoint(true)
    // batch collapsed to one rep per distinct fingerprint vector
    // (optimization round 19, StreamingMediaDedup.batchGroups): the
    // posting join and the in-batch pairing run on reps only — members
    // share their rep's vector, so the probed bucket set is UNCHANGED
    // and the verdicts expand exactly (survivorsCollapsed scaladoc)
    val (members, repFps) = graft.streaming.StreamingMediaDedup.batchGroups(batchFps)
    val keyedB = graft.streaming.StreamingMediaDedup.keyedFps(repFps, m.bands)
      .localCheckpoint(true)
    val tb = keyedB.select(postingBucket(m.nBuckets).as("b")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded by nBuckets
    // the stored posting surface IS keyedFps(corpusFps) materialized, so
    // the pruned posting rows join the batch keys DIRECTLY — no corpus-
    // side re-banding (measured 1.4x of the whole probe at sf10). The
    // rule itself is the streaming twin's (survivorsFrom): pruning only
    // drops rows sharing no (slot, band, bucket) with the batch, which
    // (maxHamming < bands, pigeonhole) is never a row the rule accepts
    val candCB =
      if (tb.isEmpty || segs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id_b", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("id_other", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("slot", org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("fp_b", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("fp_o", org.apache.spark.sql.types.LongType))))
      else readSurface(spark, dir, segs, "postings", postingsSchema)
        .where(col("pb").isInCollection(tb)).as("c")
        .join(keyedB.as("b"), Seq("slot", "band", "bucket"))
        .select(col("b.id").as("id_b"), col("c.id").as("id_other"), col("slot"),
          col("b.fp").as("fp_b"), col("c.fp").as("fp_o"))
    graft.streaming.StreamingMediaDedup.survivorsCollapsed(
      candCB, keyedB, members, batch, idCol, maxHamming, minMatches)
  }

  /** Root manifest + folded committed-segment metas. */
  def loadManifest(spark: SparkSession, dir: String): Manifest = {
    import graft.sources.{ArtifactJson => J}
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"MediaFingerprintStore: no _manifest.json under " +
      s"$dir - build the store with MediaFingerprintStore.build")
    val node = J.readFile(spark, s"$dir/_manifest.json")
    def num(f: String): Long = J.long(node, f, dir)
    val segs = committedSegments(spark, dir)
    // build always commits seg 0 — fail loud: reading on would serve a
    // silently-EMPTY store that admits every duplicate
    requireCommittedNonEmpty(segs, dir)
    val metas = segs.map { s =>
      val n = J.readFile(spark, s"$dir/segs/seg=$s/_meta.json")
      (J.long(n, "nDocs", dir), J.long(n, "maxId", dir))
    }
    Manifest(num("version").toInt, num("nBuckets").toInt, num("n").toInt,
      num("bands").toInt,
      nDocs = metas.map(_._1).sum,
      maxId = (Long.MinValue +: metas.map(_._2)).max)
  }

  /** All committed fingerprints (id, slot, fp) — the spec's
    * append ≡ rebuild surface and the compaction input.
    */
  def readFps(spark: SparkSession, dir: String): DataFrame =
    readSurface(spark, dir, committedSegments(spark, dir), "fps", fpsSchema)
      .select(col("id"), col("slot"), col("fp"))

  // ---- internals ----

  /** Write both surfaces of one segment; `_done` marker commits LAST.
    *
    * The posting surface carries one REPRESENTATIVE (lowest id) per
    * distinct fingerprint VECTOR — the media analog of
    * [[graft.dedup.Dedup.minHashIncrementalSigs]]'s set-group collapse.
    * Identical vectors are interchangeable for the kill rule (batch doc b
    * matches member m on exactly the slots it matches m's rep on, so the
    * per-pair slot counts — and therefore every verdict — are identical),
    * while an exact-duplicate-heavy corpus otherwise turns the candidate
    * join quadratic in the duplicate cluster: measured at sf10 on the
    * degenerate synthetic corpus, rep-collapsed serving is 218 s → ~2 s.
    * Reps are segment-local (a vector duplicated across segments yields
    * one rep each — a few extra candidate rows, never a changed verdict);
    * [[compactTo]] re-collapses globally through this same writer.
    */
  private def writeSegment(fps: DataFrame, ids: DataFrame, dir: String,
      segmentId: Long, bands: Int, nBuckets: Int): Unit = {
    val spark = fps.sparkSession
    val sDir = s"$dir/segs/seg=$segmentId"
    graft.table.WriteModes.staticPartitionOverwrite(
      fps.withColumn("pb", fpBucket(nBuckets)).repartition(col("pb")),
      s"$sDir/fps", "pb")
    val reps = fps
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("slot"), col("fp")))).as("__v"))
      .groupBy(col("__v")).agg(min(col("id")).as("id"))
      .select(col("id"))
    graft.table.WriteModes.staticPartitionOverwrite(
      fps.join(reps, Seq("id"), "left_semi")
        .select(col("id"), col("slot"), col("fp"),
          explode(H.simHashBands(col("fp"), bands)).as("bk"))
        .select(col("slot"), col("bk.band").as("band"),
          col("bk.bucket").as("bucket"), col("id"), col("fp"))
        .withColumn("pb", postingBucket(nBuckets))
        .repartition(col("pb")),
      s"$sDir/postings", "pb")
    val stats = ids.agg(count(lit(1)).as("n"), max(col("id")).as("mx")).head()
    graft.sources.ArtifactJson.writeFile(spark, s"$sDir/_meta.json",
      s"""{"segId":$segmentId,"nDocs":${stats.getLong(0)},""" +
        s""""maxId":${if (stats.isNullAt(1)) Long.MinValue else stats.getLong(1)}}""")
    graft.sources.ArtifactJson.writeFile(spark, s"$sDir/_done", "") // commit LAST
  }

  private def fpBucket(nBuckets: Int) =
    pmod(xxhash64(col("id")), lit(nBuckets.toLong)).cast("int")

  private def postingBucket(nBuckets: Int) =
    pmod(xxhash64(col("slot"), col("band"), col("bucket")), lit(nBuckets.toLong))
      .cast("int")

  import org.apache.spark.sql.types._
  private val fpsSchema = StructType(Seq(
    StructField("id", LongType), StructField("slot", IntegerType),
    StructField("fp", LongType), StructField("pb", IntegerType)))
  private val postingsSchema = StructType(Seq(
    StructField("slot", IntegerType), StructField("band", IntegerType),
    StructField("bucket", LongType), StructField("id", LongType),
    StructField("fp", LongType), StructField("pb", IntegerType)))

}
