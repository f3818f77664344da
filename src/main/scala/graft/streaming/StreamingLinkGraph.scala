package graft.streaming

import graft.functions.{TextFunctions => T}
import graft.text.LinkGraphStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous link-graph maintenance: a stream of NEW documents folded
  * micro-batch by micro-batch into the persisted shared-span edge
  * artifact — the streaming twin of [[LinkGraphStore.append]], feeding
  * the label maintenance of [[StreamingComponents]]. A crawling corpus
  * ingests pages continuously; the edge artifact (the expensive part —
  * SCALE.md round 11 measured the from-scratch edge build at 8× the
  * labeling it feeds) must advance per batch without ever rescanning
  * the historical corpus.
  *
  * == Exactly-once layout: base + delta log ==
  *
  * [[LinkGraphStore.append]] mutates its surfaces in place, so a
  * replayed micro-batch would double-apply its ±support deltas. The twin
  * therefore NEVER mutates the base: each batch writes its own
  * delta-log entry
  * {{{
  *   dir/base/                      a LinkGraphStore artifact (immutable)
  *   dir/deltas/batch=N/edges/      (id_a, id_b, d)   net ±support
  *   dir/deltas/batch=N/dfs/        (h, df)           touched spans' NEW df
  *   dir/deltas/batch=N/post_add/   (h, id)           new posting rows
  *   dir/deltas/batch=N/blown/      (h)               spans crossing maxDf
  *   dir/deltas/batch=N/_meta.json  {batchId, nDocs, maxId, nRetractions}
  *   dir/deltas/batch=N/_done       marker, written LAST
  * }}}
  * A batch's delta is a deterministic function of (base, committed
  * deltas < N, batch docs) — the same inputs on every replay — and is
  * written by overwrite with the `_done` marker last, so a torn attempt
  * is invisible (no marker → recompute overwrites it byte-identically)
  * and a committed batch's replay is a no-op (marker → return). This is
  * the [[StreamingComponents]] snapshot-chain guarantee applied to a
  * delta log. [[compactTo]] folds base + deltas into a fresh standalone
  * artifact when the log grows long (the [[graft.streaming.StreamingAnnIndex]]
  * compaction shape).
  *
  * Readers: [[readEdgesCanonical]]/[[readEdges]] merge base + committed
  * deltas (support > 0 survives) — bit-identical to a batch rebuild over
  * all documents ever ingested (StreamingLinkGraphSpec proves it,
  * retractions included). Per-batch NEW positive edges
  * ([[newEdges]]) feed [[StreamingComponents.applyBatch]]; component
  * labels stay exact under edge ADDITIONS, so consult the delta's
  * `nRetractions` meta — a retracting batch can split a component, and
  * the labels then need a recompute over [[readEdges]] (cheap relative
  * to the edge build this twin amortizes).
  */
object StreamingLinkGraph {

  /** Build the immutable base artifact under `dir/base`. */
  def initialize(docs: DataFrame, idCol: String, textCol: String, w: Int,
      maxDf: Int, dir: String, nBuckets: Int = 64): Unit =
    LinkGraphStore.build(docs, idCol, textCol, w, maxDf, s"$dir/base", nBuckets)

  // The delta machinery below is parameterized by (baseDir, deltaRoot) so
  // the SAME code backs two layouts: this twin's streaming dir
  // (base = dir/base, deltas = dir/deltas) and [[LinkGraphStore.appendAuto]]'s
  // flat artifact with its own sidecar log (base = dir, deltas = dir/deltas)
  // — one delta format, one effective-surface merge, two entry points.

  /** Wire a document stream into continuous edge maintenance. Caller
    * sets checkpoint/trigger and starts the writer.
    */
  def writer(docs: DataFrame, idCol: String, textCol: String, dir: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyBatch(batch, batchId, idCol, textCol, dir)
    }

  /** Fold one micro-batch of documents into the delta log (see class
    * doc). Also usable for batch backfill replays — but batches must be
    * applied IN ORDER: a committed batch's delta was computed against
    * every delta before it, so applying a LOWER batch id after a higher
    * one committed would leave the higher delta blind to this batch's df
    * contributions (silently breaking append ≡ rebuild). Enforced
    * fail-fast below; a replay of an already-COMMITTED id is still a
    * no-op (the marker check precedes the order guard).
    */
  def applyBatch(batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      dir: String): Unit =
    applyBatchTo(batch, batchId, idCol, textCol, s"$dir/base", s"$dir/deltas")

  /** [[applyBatch]] against explicit (baseDir, deltaRoot) — the flat-
    * artifact entry point [[LinkGraphStore.appendAuto]] routes small
    * batches through. Committed ids at or below the base manifest's
    * `lastBatchId` are already FOLDED into the base surfaces
    * ([[LinkGraphStore.compactInPlace]]): they are excluded from the
    * prior-delta set below, and a NEW batch arriving at or below that
    * watermark fails loudly (its delta dir may have been cleaned up, so
    * the marker can no longer distinguish replay from out-of-order).
    */
  private[graft] def applyBatchTo(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, baseDir: String, deltaRoot: String): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(deltaRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dDir = s"$deltaRoot/batch=$batchId"
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dDir/_done"))) return // committed: replay no-op
    val m = LinkGraphStore.loadManifest(spark, baseDir)
    val prior = committedBatchesAt(spark, deltaRoot).filter(_ > m.lastBatchId)
    // strict in-order application: every committed id must be SMALLER —
    // out-of-order backfill would invalidate already-committed deltas
    require(prior.isEmpty || batchId > prior.max,
      s"StreamingLinkGraph: batch $batchId applied after batch ${prior.max} " +
        "committed - deltas are computed against every prior delta, so " +
        "batches must be applied in ascending batchId order (a committed " +
        "id's replay is a no-op; an unseen LOWER id cannot be folded in " +
        "after a higher one - rebuild the log from the base instead)")
    require(batchId > m.lastBatchId,
      s"StreamingLinkGraph: batch $batchId is at or below the base's " +
        s"folded-through watermark ${m.lastBatchId} - its id range was " +
        "already compacted into the base surfaces")
    // id discipline (the LinkGraphStore.append contract, across the log)
    val priorMax = (m.maxId +: prior.map(b => readMetaAt(spark, deltaRoot, b).maxId)).max
    // distinct counted over the CAST id — the key ingestion actually
    // uses; distinct raw values that collide after the cast would
    // otherwise slip past the guard and double-count span dfs
    val bounds = batch.agg(count(lit(1)).as("n"),
      min(col(idCol).cast("long")).as("lo"), max(col(idCol).cast("long")).as("hi"),
      count_distinct(col(idCol).cast("long")).as("nd")).head()
    // empty micro-batch: a no-op, NOT an error — foreachBatch delivers
    // empty batches routinely (upstream filters, recovery triggers), and
    // replaying an emptiness is trivially deterministic (no delta entry)
    if (bounds.getLong(0) == 0L) return
    require(bounds.getLong(0) == bounds.getLong(3),
      s"StreamingLinkGraph: batch ids are not unique (${bounds.getLong(0)} rows, " +
        s"${bounds.getLong(3)} distinct)")
    require(bounds.getLong(1) > priorMax,
      s"StreamingLinkGraph: batch ids start at ${bounds.getLong(1)} but the graph " +
        s"already contains ids up to $priorMax - appended ids must sort above every " +
        "existing id")
    graft.Pins.scoped { scope =>
      val batchSpans = scope.pin(batch.select(col(idCol).cast("long").as("id"),
        explode(T.shingleHashes(col(textCol), m.w)).as("h")))
      val batchDf = batchSpans.groupBy(col("h")).agg(count(lit(1)).as("__add"))
      val tb = batchDf.select(LinkGraphStore.spanBucketCol(m.nBuckets).as("b"))
        .distinct().collect().map(_.getInt(0)).sorted
      // effective df per touched span: the LATEST committed delta wins,
      // else base, else 0 (bucket-pruned base scan; deltas are batch-sized)
      val baseDfs = LinkGraphStore.readDfsSurface(spark, baseDir)
        .where(col("bucket").isInCollection(tb)).select(col("h"), col("df"))
      val effDf = effectiveDfs(spark, baseDfs, deltaRoot, prior)
      val touched = scope.pin(batchDf.join(effDf, Seq("h"), "left")
        .select(col("h"), coalesce(col("df"), lit(0L)).as("old_df"),
          (coalesce(col("df"), lit(0L)) + col("__add")).as("new_df")))
      val basePosts = LinkGraphStore.readPostingsSurface(spark, baseDir)
        .where(col("bucket").isInCollection(tb)).select(col("h"), col("id"))
      val effPosts = effectivePostings(spark, basePosts, deltaRoot, prior)
      val delta = LinkGraphStore.edgeDeltas(scope, batchSpans, touched, effPosts, m.maxDf)
      // delta surfaces (all plain overwrites — torn attempts rewrite)
      delta.select(col("id_a"), col("id_b"), col("__d").as("d"))
        .write.mode("overwrite").parquet(s"$dDir/edges")
      touched.select(col("h"), col("new_df").as("df"))
        .write.mode("overwrite").parquet(s"$dDir/dfs")
      batchSpans.join(touched.where(col("new_df") <= m.maxDf).select(col("h")), Seq("h"))
        .select(col("h"), col("id"))
        .write.mode("overwrite").parquet(s"$dDir/post_add")
      touched.where(col("new_df") > m.maxDf).select(col("h"))
        .write.mode("overwrite").parquet(s"$dDir/blown")
      // the batch's doc ids: [[newEdges]] emits them as self-loops so
      // isolated documents still register as nodes downstream (the
      // StreamingComponents node-universe convention)
      batch.select(col(idCol).cast("long").as("id")).distinct()
        .write.mode("overwrite").parquet(s"$dDir/docids")
      val nRetr = delta.where(col("__d") < 0).count()
      graft.sources.ArtifactJson.writeFile(spark, s"$dDir/_meta.json",
        s"""{"batchId":$batchId,"nDocs":${bounds.getLong(0)},""" +
          s""""maxId":${bounds.getLong(2)},"nRetractions":$nRetr}""")
      graft.sources.ArtifactJson.writeFile(spark, s"$dDir/_done", "") // marker LAST
    }
  }

  /** Canonical (id_a, id_b, support) edges = base merged with every
    * committed delta; support > 0 survives. Bit-identical to a batch
    * rebuild over all ingested documents.
    */
  def readEdgesCanonical(spark: SparkSession, dir: String): DataFrame =
    mergedEdgesCanonical(spark,
      LinkGraphStore.loadEdgesCanonical(spark, s"$dir/base"),
      s"$dir/deltas", committedBatches(spark, dir))

  /** Base canonical edges merged with the given committed deltas;
    * support > 0 survives. Shared with the flat-artifact readers.
    */
  private[graft] def mergedEdgesCanonical(spark: SparkSession, baseEdges: DataFrame,
      deltaRoot: String, ids: Seq[Long]): DataFrame = {
    if (ids.isEmpty) return baseEdges
    val base = baseEdges.select(col("id_a"), col("id_b"), col("support").as("d"))
    val deltas = ids.map(b =>
      spark.read.schema(deltaEdgesSchema).parquet(s"$deltaRoot/batch=$b/edges")
        .select(col("id_a"), col("id_b"), col("d")))
    (base +: deltas).reduce(_ unionAll _)
      .groupBy(col("id_a"), col("id_b")).agg(sum(col("d")).as("support"))
      .where(col("support") > 0)
  }

  /** (h, df) with the LATEST committed delta winning over the base rows —
    * the effective document-frequency surface.
    */
  private[graft] def effectiveDfs(spark: SparkSession, baseDfs: DataFrame,
      deltaRoot: String, ids: Seq[Long]): DataFrame = {
    if (ids.isEmpty) return baseDfs
    val dd = ids.map(b =>
        spark.read.schema(deltaDfsSchema).parquet(s"$deltaRoot/batch=$b/dfs")
          .select(col("h"), col("df"), lit(b).as("__b")))
      .reduce(_ unionAll _)
    val latest = dd.groupBy(col("h")).agg(max_by(col("df"), col("__b")).as("__ddf"))
    baseDfs.join(latest, Seq("h"), "full_outer")
      .select(col("h"), coalesce(col("__ddf"), col("df")).as("df"))
  }

  /** (h, id) effective postings: base ∪ committed adds, minus spans
    * blown in any committed delta (df is monotone: once blown, never
    * re-adds).
    */
  private[graft] def effectivePostings(spark: SparkSession, basePosts: DataFrame,
      deltaRoot: String, ids: Seq[Long]): DataFrame = {
    if (ids.isEmpty) return basePosts
    val adds = ids.map(b =>
        spark.read.schema(postAddSchema).parquet(s"$deltaRoot/batch=$b/post_add")
          .select(col("h"), col("id")))
      .reduce(_ unionAll _)
    val blown = ids.map(b =>
        spark.read.schema(blownSchema).parquet(s"$deltaRoot/batch=$b/blown")
          .select(col("h")))
      .reduce(_ unionAll _)
    basePosts.unionAll(adds).join(blown, Seq("h"), "left_anti")
  }

  /** Symmetric (src, dst) edges for the graph operators —
    * explode-symmetrized so the base+delta merge aggregation executes
    * ONCE, not once per direction.
    */
  def readEdges(spark: SparkSession, dir: String): DataFrame =
    readEdgesCanonical(spark, dir)
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** One committed batch's NEW positive edges, symmetric, plus one
    * self-loop per batch document (so isolated docs register as nodes —
    * [[StreamingComponents.applyBatch]] harvests its node universe from
    * edge endpoints and drops self-loops as edges). Exact for labels
    * only when the batch retracted nothing
    * ([[readMeta]].nRetractions == 0); see class doc.
    */
  def newEdges(spark: SparkSession, dir: String, batchId: Long): DataFrame = {
    val d = spark.read.schema(deltaEdgesSchema)
      .parquet(s"$dir/deltas/batch=$batchId/edges")
      .where(col("d") > 0)
    val ids = spark.read.schema(docidsSchema)
      .parquet(s"$dir/deltas/batch=$batchId/docids")
    d.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(d.select(col("id_b").as("src"), col("id_a").as("dst")))
      .unionAll(ids.select(col("id").as("src"), col("id").as("dst")))
  }

  /** Fold base + committed deltas into a fresh standalone
    * [[LinkGraphStore]] artifact at `outDir` (maintenance: bounds the
    * delta log a long-running stream accumulates). The output is
    * byte-for-byte a build-shaped artifact: edges/postings/dfs surfaces
    * plus manifest; downstream batch jobs read it with
    * [[LinkGraphStore.loadEdges]] and future appends go through
    * [[LinkGraphStore.append]] — or re-seed a new stream dir's `base`.
    */
  def compactTo(spark: SparkSession, dir: String, outDir: String): Unit = {
    // OUT-OF-PLACE only (the MinHashStore/Bm25Store.compactTo discipline):
    // compacting onto the stream's base would stamp epochs and overwrite
    // base/edges BEFORE the lazy postings/dfs readers materialize, leaving
    // the stream torn and rebuild-only; onto the stream dir itself would
    // interleave artifact surfaces with the delta log
    locally {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def q(s: String) = fs.makeQualified(new org.apache.hadoop.fs.Path(s))
      val out = q(outDir)
      require(out != q(dir) && out != q(s"$dir/base"),
        "StreamingLinkGraph.compactTo: outDir must differ from the stream " +
          "dir and its base - an in-place compact overwrites surfaces the " +
          "fold still has to read and destroys the stream's base artifact")
    }
    val m = LinkGraphStore.loadManifest(spark, s"$dir/base")
    val committed = committedBatches(spark, dir)
    val nB = m.nBuckets
    graft.Pins.scoped { scope =>
      val edges = scope.pinCounted(readEdgesCanonical(spark, dir))
      val posts = effectivePostings(spark,
        LinkGraphStore.readPostingsSurface(spark, s"$dir/base")
          .select(col("h"), col("id")),
        s"$dir/deltas", committed)
      val dfs = effectiveDfs(spark,
        LinkGraphStore.readDfsSurface(spark, s"$dir/base")
          .select(col("h"), col("df")),
        s"$dir/deltas", committed)
      // epoch stamps FIRST, manifest last (the torn-write detection
      // discipline — matters when outDir is being re-compacted in place
      // over an older artifact)
      val newEpoch = LinkGraphStore.nextEpoch(spark, outDir)
      LinkGraphStore.stampEpochs(spark, outDir, newEpoch)
      // through the store's own writer: repartition-by-bucket = one file
      // per bucket, not tasks x buckets
      LinkGraphStore.writeBucketed(edges.df.withColumn("bucket",
        pmod(xxhash64(col("id_a"), col("id_b")), lit(nB.toLong)).cast("int")),
        s"$outDir/edges")
      LinkGraphStore.writeBucketed(
        posts.withColumn("bucket", LinkGraphStore.spanBucketCol(nB)), s"$outDir/postings")
      LinkGraphStore.writeBucketed(
        dfs.withColumn("bucket", LinkGraphStore.spanBucketCol(nB)), s"$outDir/dfs")
      val metas = committed.map(b => readMeta(spark, dir, b))
      val manifest = LinkGraphStore.Manifest(m.version, m.w, m.maxDf, nB,
        nDocs = m.nDocs + metas.map(_.nDocs).sum,
        nEdges = edges.rows,
        maxId = (m.maxId +: metas.map(_.maxId)).max,
        lastBatchId = (-1L +: committed).max,
        epoch = newEpoch)
      // manifest last, via the store's own writer (same JSON shape)
      LinkGraphStore.writeManifestFor(spark, outDir, manifest)
    }
  }

  final case class DeltaMeta(batchId: Long, nDocs: Long, maxId: Long, nRetractions: Long)

  def readMeta(spark: SparkSession, dir: String, batchId: Long): DeltaMeta =
    readMetaAt(spark, s"$dir/deltas", batchId)

  private[graft] def readMetaAt(spark: SparkSession, deltaRoot: String,
      batchId: Long): DeltaMeta = {
    import graft.sources.{ArtifactJson => J}
    val where = s"$deltaRoot/batch=$batchId"
    val node = J.readFile(spark, s"$where/_meta.json")
    DeltaMeta(J.long(node, "batchId", where), J.long(node, "nDocs", where),
      J.long(node, "maxId", where), J.long(node, "nRetractions", where))
  }

  /** Committed delta batch ids (marker present), ascending. */
  def committedBatches(spark: SparkSession, dir: String): Seq[Long] =
    committedBatchesAt(spark, s"$dir/deltas")

  private[graft] def committedBatchesAt(spark: SparkSession, deltaRoot: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(deltaRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch=") &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_done")))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .sorted
  }

  import org.apache.spark.sql.types._
  private val deltaEdgesSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("d", LongType)))
  private val deltaDfsSchema = StructType(Seq(
    StructField("h", LongType), StructField("df", LongType)))
  private val postAddSchema = StructType(Seq(
    StructField("h", LongType), StructField("id", LongType)))
  private val blownSchema = StructType(Seq(StructField("h", LongType)))
  private val docidsSchema = StructType(Seq(StructField("id", LongType)))
}
