package graft.text

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, APPENDABLE shared-span link-graph artifact — the
  * write-once/read-many lifecycle for [[LinkGraph.sharedSpanEdges]]'s
  * output, mirroring the IVF index artifact
  * ([[graft.similarity.Similarity.saveIvfIndexAppendable]]): nine graph
  * operators (PageRank ×3, components ×2, k-core, LPA, triangles,
  * HyperBall) consume the same edge table, and SCALE.md round 11
  * measured the from-raw-docs edge build at ~180 s of every sf10 graph
  * lane — 8× the labeling it feeds. A real crawl pipeline builds the
  * graph ONCE, appends each ingest batch, and every downstream query
  * reads the artifact. Reference analog: the batch store's
  * write-once/read-many contract (reference
  * org.knime.core.columnar.arrow/…/ArrowBatchStore.java:57-62).
  *
  * == Why append needs more than "emit new edges" ==
  *
  * `sharedSpanEdges` keeps spans whose document frequency lies in
  * [2, maxDf]. New documents move spans ACROSS both band boundaries:
  * a df-1 span reaching df 2 creates edges between OLD documents and
  * new ones, and a df-maxDf span crossing maxDf must RETRACT every edge
  * it alone supported (a rebuild would not emit them). Edges are
  * therefore stored with their exact support count — the number of
  * distinct in-band spans the pair shares (the same statistic as
  * [[LinkGraph.sharedSpanEdgesWeighted]]'s weight) — so span-band
  * transitions become ±1 support deltas and an edge survives iff its
  * support stays positive. That makes append ≡ rebuild EXACT, deletions
  * included (LinkGraphStoreSpec proves it on forced band crossings;
  * the q_linkgraph_append oracle proves it against DuckDB).
  *
  * == Layout ==
  * {{{
  *   dir/edges/bucket=B/     (id_a, id_b, support)   id_a < id_b
  *   dir/postings/bucket=B/  (h, id)                 spans with df ≤ maxDf
  *   dir/dfs/bucket=B/       (h, df)                 every span ever seen
  *   dir/_epoch_edges        per-surface epoch stamps (torn-write
  *   dir/_epoch_postings     detection - see loadManifest; written with
  *   dir/_epoch_dfs          the TARGET epoch before any data write)
  *   dir/deltas/batch=N/     OPTIONAL live delta log (appendAuto's
  *                           small-batch path - StreamingLinkGraph's
  *                           exactly-once entry format; entries with id ≤
  *                           manifest.lastBatchId are folded and ignored)
  *   dir/_manifest.json      {version, w, maxDf, nBuckets, nDocs,
  *                            nEdges, maxId, lastBatchId, epoch}  LAST
  * }}}
  * Every surface is hash-bucketed (`pmod` over `nBuckets`) so an append
  * rewrites ONLY the buckets its batch touches, via dynamic partition
  * overwrite — cost proportional to the batch's span/pair fan-out, not
  * the index (the [[graft.similarity.Similarity.rebalanceIvfIndex]]
  * hot-partition discipline). Spans whose df exceeds maxDf drop out of
  * `postings` permanently (df only grows — monotone), so the postings
  * surface stays bounded by the in-band span volume at any corpus size.
  *
  * == Contracts ==
  *  - Appended ids must sort ABOVE the manifest's `maxId` and be unique
  *    within the batch (the IVF append's id discipline) — enforced
  *    fail-fast; df counting is only exact for first-seen documents.
  *  - Write ordering is stamps-first / data / manifest-LAST: the manifest
  *    never over-certifies, and because every mutation stamps its target
  *    epoch on all three surfaces BEFORE touching data, a crash anywhere
  *    mid-mutation leaves stamps ahead of the manifest — [[loadManifest]]
  *    fails fast naming the recovery (rebuild) instead of silently
  *    serving mixed-epoch surfaces. Re-running a torn in-place append
  *    would double-apply edge deltas, hence rebuild. Crash-safe paths:
  *    [[graft.streaming.StreamingLinkGraph]] or [[appendAuto]] with an
  *    explicit `batchId` (committed delta entries replay as no-ops);
  *    with auto-assigned ids the delta path still never mutates
  *    committed surfaces — a crashed-then-retried call cannot
  *    double-apply, the retry just fails loudly on the id guard.
  */
object LinkGraphStore {

  final case class Manifest(version: Int, w: Int, maxDf: Int, nBuckets: Int,
      nDocs: Long, nEdges: Long, maxId: Long, lastBatchId: Long,
      epoch: Long)

  /** Build the artifact from scratch. One span explode + one df
    * aggregation + the banded pair join (the
    * [[LinkGraph.sharedSpanEdges]] plan with support counts), then three
    * bucketed writes and the manifest last.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, w: Int, maxDf: Int,
      dir: String, nBuckets: Int = 64): Unit = {
    require(maxDf >= 2, s"LinkGraphStore.build: maxDf $maxDf < 2")
    require(nBuckets >= 1, s"LinkGraphStore.build: nBuckets $nBuckets < 1")
    val spark = docs.sparkSession
    // intent-first epoch stamps (see loadManifest): a crash anywhere
    // between here and the manifest write leaves stamps ahead of the
    // manifest and readers fail fast instead of serving mixed surfaces
    val newEpoch = nextEpoch(spark, dir)
    stampEpochs(spark, dir, newEpoch)
    // a REBUILD is a full overwrite: stale appendAuto delta entries must
    // not survive it (readers would fold them into the fresh surfaces)
    val deltaRoot = new org.apache.hadoop.fs.Path(s"$dir/deltas")
    val dfsys = deltaRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (dfsys.exists(deltaRoot)) dfsys.delete(deltaRoot, true)
    graft.Pins.scoped { scope =>
      // pinned: consumed by the df agg, the postings write, and the pair join
      val spans = scope.pin(docs.select(col(idCol).cast("long").as("id"),
        explode(T.shingleHashes(col(textCol), w)).as("h")))
      val dfs = scope.pin(spans.groupBy(col("h")).agg(count(lit(1)).as("df")))
      val inPost = dfs.where(col("df") <= maxDf).select(col("h"))
      val postings = spans.join(inPost, Seq("h"))
      val band = dfs.where(col("df") >= 2 && col("df") <= maxDf).select(col("h"))
      val sp = spans.join(band, Seq("h"))
      val edges = scope.pinCounted(sp.select(col("h"), col("id").as("id_a"))
        .join(sp.select(col("h"), col("id").as("id_b")), Seq("h"))
        .where(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("support")))
      writeBucketed(edges.df.withColumn("bucket", edgeBucket(nBuckets)),
        s"$dir/edges")
      writeBucketed(postings.withColumn("bucket", spanBucket(nBuckets)),
        s"$dir/postings")
      writeBucketed(dfs.withColumn("bucket", spanBucket(nBuckets)),
        s"$dir/dfs")
      val stats = docs.agg(count(lit(1)).as("n"),
        max(col(idCol).cast("long")).as("mx")).head()
      writeManifest(spark, dir, Manifest(1, w, maxDf, nBuckets,
        nDocs = stats.getLong(0), nEdges = edges.rows,
        maxId = if (stats.isNullAt(1)) Long.MinValue else stats.getLong(1),
        lastBatchId = -1L, epoch = newEpoch))
    }
  }

  /** Fold a batch of NEW documents into the artifact: extract spans from
    * the batch only, join the touched spans against the persisted df /
    * postings surfaces (bucket-pruned scans), turn band transitions into
    * exact ±1 support deltas, and rewrite only the touched buckets of
    * all three surfaces. Result is bit-identical to a rebuild over the
    * concatenated corpus. `batchId` stamps the manifest for streaming
    * replay detection (pass the default for plain batch appends).
    */
  def append(newDocs: DataFrame, idCol: String, textCol: String, dir: String,
      batchId: Long = -1L): Unit = {
    val spark = newDocs.sparkSession
    // under the appender lease (reentrant from appendAuto's in-place
    // route): unlike a segmented store's append — which lands in its own
    // disjoint seg dir — this append REWRITES the shared bucket surfaces,
    // so a lease-free run concurrent with a fold would lose updates
    // silently (review-found)
    graft.sources.AppendLease.withLease(spark, dir, "LinkGraphStore") {
      appendUnleased(newDocs, idCol, textCol, dir, batchId)
    }
  }

  private def appendUnleased(newDocs: DataFrame, idCol: String, textCol: String,
      dir: String, batchId: Long): Unit = {
    val spark = newDocs.sparkSession
    val m = loadManifest(spark, dir)
    // in-place append reads ONLY the base surfaces: a live appendAuto
    // delta log would be invisible to its df/postings math and the
    // computed deltas silently wrong — fold the log first
    val live = liveDeltaIds(spark, dir)
    require(live.isEmpty,
      s"LinkGraphStore.append: $dir has ${live.size} live delta entries " +
        s"(batch ids ${live.mkString(",")}) from appendAuto's small-batch " +
        "path - in-place append would compute deltas blind to them. Call " +
        "compactInPlace(dir) first, or keep ingesting through appendAuto")
    // distinct over the CAST id (the ingestion key): distinct raw values
    // colliding after the cast must fail the uniqueness guard
    val bounds = newDocs.agg(count(lit(1)).as("n"),
      min(col(idCol).cast("long")).as("lo"), max(col(idCol).cast("long")).as("hi"),
      count_distinct(col(idCol).cast("long")).as("nd")).head()
    if (bounds.getLong(0) == 0L) return // empty batch: artifact untouched
    require(bounds.getLong(0) == bounds.getLong(3),
      s"LinkGraphStore.append: batch ids are not unique " +
        s"(${bounds.getLong(0)} rows, ${bounds.getLong(3)} distinct) - " +
        "df counting is only exact for first-seen documents")
    require(bounds.getLong(1) > m.maxId,
      s"LinkGraphStore.append: batch ids start at ${bounds.getLong(1)} but the " +
        s"artifact already contains ids up to ${m.maxId} - appended ids must sort " +
        "above every existing id (re-ingesting a document would double-count " +
        "span document frequencies)")
    val nB = m.nBuckets
    // intent-first: from here until the manifest write, a crash is
    // detected at the next loadManifest (stamps ahead of manifest)
    val newEpoch = m.epoch + 1L
    stampEpochs(spark, dir, newEpoch)
    graft.Pins.scoped { scope =>
      val batchSpans = scope.pin(newDocs.select(col(idCol).cast("long").as("id"),
        explode(T.shingleHashes(col(textCol), m.w)).as("h")))
      val batchDf = batchSpans.groupBy(col("h")).agg(count(lit(1)).as("__add"))
      // touched span buckets — the only df/postings partitions read or written
      val tb = batchDf.select(spanBucket(nB).as("b")).distinct()
        .collect().map(_.getInt(0)).sorted
      val oldDfs = readSurface(spark, s"$dir/dfs", dfsSchema)
        .where(col("bucket").isInCollection(tb))
        .select(col("h"), col("df"))
      // (h, old_df, new_df) for every span the batch mentions
      val touched = scope.pin(batchDf.join(oldDfs, Seq("h"), "left")
        .select(col("h"), coalesce(col("df"), lit(0L)).as("old_df"),
          (coalesce(col("df"), lit(0L)) + col("__add")).as("new_df")))
      val oldPostings = readSurface(spark, s"$dir/postings", postingsSchema)
        .where(col("bucket").isInCollection(tb))
        .select(col("h"), col("id"))
      val delta = edgeDeltas(scope, batchSpans, touched, oldPostings, m.maxDf)
      // ---- edges: merge deltas into the touched edge buckets ----
      val eb = delta.select(edgeBucket(nB).as("b")).distinct()
        .collect().map(_.getInt(0)).sorted
      var edgeCountDelta = 0L
      if (eb.nonEmpty) {
        // distinct intermediate name (__olds): aliasing the merged
        // value AS "support" in the same select would SHADOW the
        // input column for later expressions (the Spark 4
        // lateral-alias trap in the verify notes)
        val oldEdges = readSurface(spark, s"$dir/edges", edgesSchema)
          .where(col("bucket").isInCollection(eb))
          .select(col("id_a"), col("id_b"), col("support").as("__olds"))
        // pinned: the write replaces the files it reads
        val merged = scope.pin(oldEdges.join(delta, Seq("id_a", "id_b"), "full_outer")
          .select(col("id_a"), col("id_b"),
            (coalesce(col("__olds"), lit(0L)) + coalesce(col("__d"), lit(0L)))
              .as("support"),
            col("__olds").isNotNull.as("__was")))
        val counts = merged.agg(
          sum(when(col("support") > 0 && !col("__was"), 1L).otherwise(0L)),
          sum(when(col("support") <= 0 && col("__was"), 1L).otherwise(0L))).head()
        edgeCountDelta = counts.getLong(0) - counts.getLong(1)
        overwriteBuckets(merged.where(col("support") > 0)
            .select(col("id_a"), col("id_b"), col("support"))
            .withColumn("bucket", edgeBucket(nB)),
          s"$dir/edges", eb)
      }
      // ---- postings: touched buckets rewritten ----
      // keep: untouched spans + touched spans still ≤ maxDf (old
      // members); add: batch members of spans ending ≤ maxDf;
      // drop: every row of spans crossing above maxDf
      val blown = touched.where(col("new_df") > m.maxDf).select(col("h"))
      val newPostings = scope.pin(oldPostings.join(blown, Seq("h"), "left_anti")
        .unionByName(batchSpans
          .join(touched.where(col("new_df") <= m.maxDf).select(col("h")), Seq("h"))
          .select(col("h"), col("id"))))
      overwriteBuckets(newPostings.withColumn("bucket", spanBucket(nB)),
        s"$dir/postings", tb)
      // ---- dfs: touched buckets rewritten with refreshed counts ----
      val newDfs = scope.pin(oldDfs.join(touched.select(col("h")), Seq("h"), "left_anti")
        .unionByName(touched.select(col("h"), col("new_df").as("df"))))
      overwriteBuckets(newDfs.withColumn("bucket", spanBucket(nB)),
        s"$dir/dfs", tb)
      // manifest last: never over-certifies. lastBatchId only ever
      // ADVANCES (it is the folded-through watermark liveDeltaIds
      // filters on - regressing it would resurrect folded deltas)
      writeManifest(spark, dir, m.copy(
        nDocs = m.nDocs + bounds.getLong(0),
        nEdges = m.nEdges + edgeCountDelta,
        maxId = bounds.getLong(2),
        lastBatchId = math.max(m.lastBatchId, batchId),
        epoch = newEpoch))
    }
  }

  /** Route an append to the cheaper maintenance path — the answer to the
    * measured fact that the two paths differ by ~10× in opposite regimes
    * (SCALE.md round 12, sf10): the in-place bucket rewrite has a
    * TOUCHED-BUCKET floor (~108 s regardless of batch size — any batch's
    * spans hash into all buckets on a small vocabulary), while the
    * delta-log path costs the batch (~11 s) but taxes every later read
    * with a log merge. Without routing, the 10× slower path is whichever
    * one the caller happens to pick.
    *
    *  - batch < `smallBatchFraction` × corpus → a committed DELTA entry
    *    under `dir/deltas` ([[graft.streaming.StreamingLinkGraph]]'s
    *    exactly-once format, applied against this artifact as base);
    *    readers ([[loadEdges]]/[[loadEdgesCanonical]]/
    *    [[spanNoveltyAgainst]]) merge live entries transparently.
    *  - batch ≥ the threshold → fold any live log ([[compactInPlace]]),
    *    then the in-place bucket rewrite ([[append]]) whose floor the
    *    large batch amortizes.
    *  - a log that reaches `maxLiveDeltas` entries is folded immediately
    *    (bounds the read-side merge tax).
    *
    * Returns the route taken (`"inplace"`, `"delta"`, `"delta+compact"`,
    * `"noop"`) — callers and specs assert routing, not timing.
    *
    * Exactly-once: pass an explicit monotonically-increasing `batchId`
    * (an ingest pipeline's own sequence number) and a replay of a
    * COMMITTED-but-unfolded delta batch is a marker no-op; with the
    * default auto-assigned id a crashed-then-retried call fails loudly
    * on the id guard instead (either way nothing double-applies). A
    * replayed batch that was already FOLDED (or took the in-place route)
    * fails loudly too — its delta dir is gone, so the watermark guard is
    * the only thing left to distinguish replay from out-of-order, and it
    * refuses both.
    */
  def appendAuto(newDocs: DataFrame, idCol: String, textCol: String, dir: String,
      smallBatchFraction: Double = 0.05, maxLiveDeltas: Int = 32,
      batchId: Long = -1L): String = {
    require(smallBatchFraction > 0 && smallBatchFraction <= 1,
      s"appendAuto: smallBatchFraction $smallBatchFraction outside (0,1]")
    require(maxLiveDeltas >= 1, s"appendAuto: maxLiveDeltas $maxLiveDeltas < 1")
    val spark = newDocs.sparkSession
    // committed replay short-circuit BEFORE the count (exactly-once for
    // explicit ids; mirrors StreamingLinkGraph.applyBatchTo's ordering)
    if (batchId >= 0L) {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deltas/batch=$batchId/_done")))
        return "noop"
    }
    val n = newDocs.count()
    if (n == 0L) return "noop"
    // mutation under the exclusive appender lease (the read-only noop
    // checks above stay outside it): two out-of-process appendAuto calls
    // interleaving a delta commit with an in-place ±support fold is the
    // single-writer hazard the lease turns into a loud failure. The
    // manifest loads INSIDE the lease: routing and nextId read
    // nDocs/lastBatchId, and a fold racing ahead of a pre-lease snapshot
    // would misroute or compute an at-or-below-watermark id that the
    // replay guard then spuriously rejects (review-found)
    graft.sources.AppendLease.withLease(spark, dir, "LinkGraphStore") {
      val m = loadManifest(spark, dir)
      if (n.toDouble >= smallBatchFraction * math.max(m.nDocs, 1L)) {
        compactInPlace(spark, dir) // no-op when the log is empty
        append(newDocs, idCol, textCol, dir, batchId)
        "inplace"
      } else {
        val live = liveDeltaIds(spark, dir)
        val nextId =
          if (batchId >= 0L) batchId
          else (m.lastBatchId +: live).max + 1L
        graft.streaming.StreamingLinkGraph.applyBatchTo(
          newDocs, nextId, idCol, textCol, dir, s"$dir/deltas")
        if (live.size + 1 >= maxLiveDeltas) { compactInPlace(spark, dir); "delta+compact" }
        else "delta"
      }
    }
  }

  /** Fold the live delta log into the artifact's own surfaces (the
    * in-place twin of [[graft.streaming.StreamingLinkGraph.compactTo]]).
    * Effective surfaces are pinned BEFORE the overwrite (the write
    * replaces the files it reads); epoch stamps first / manifest last
    * makes a crash mid-fold fail-fast at the next load. The manifest's
    * `lastBatchId` advances to the highest folded id — that alone retires
    * the folded entries ([[liveDeltaIds]] filters on it), so the
    * best-effort directory cleanup afterwards can crash harmlessly.
    */
  def compactInPlace(spark: SparkSession, dir: String): Unit =
    graft.sources.AppendLease.withLease(spark, dir, "LinkGraphStore") {
      foldLog(spark, dir) // the lease is thread-reentrant under appendAuto
    }

  /** [[compactInPlace]]'s body, factored so its early no-op return stays
    * a plain method return (a `return` inside the lease closure would
    * ride a NonLocalReturnControl through the finally — works, but one
    * future catch-all away from breaking).
    */
  private def foldLog(spark: SparkSession, dir: String): Unit = {
    val m = loadManifest(spark, dir)
    val live = liveDeltaIds(spark, dir)
    if (live.isEmpty) return
    import graft.streaming.{StreamingLinkGraph => S}
    val deltaRoot = s"$dir/deltas"
    graft.Pins.scoped { scope =>
      val edges = scope.pinCounted(S.mergedEdgesCanonical(spark,
        readSurface(spark, s"$dir/edges", edgesSchema)
          .select(col("id_a"), col("id_b"), col("support")),
        deltaRoot, live))
      val posts = scope.pin(S.effectivePostings(spark,
        readSurface(spark, s"$dir/postings", postingsSchema).select(col("h"), col("id")),
        deltaRoot, live))
      val dfs = scope.pin(S.effectiveDfs(spark,
        readSurface(spark, s"$dir/dfs", dfsSchema).select(col("h"), col("df")),
        deltaRoot, live))
      val newEpoch = m.epoch + 1L
      stampEpochs(spark, dir, newEpoch)
      writeBucketed(edges.df.withColumn("bucket", edgeBucket(m.nBuckets)),
        s"$dir/edges")
      writeBucketed(posts.withColumn("bucket", spanBucket(m.nBuckets)),
        s"$dir/postings")
      writeBucketed(dfs.withColumn("bucket", spanBucket(m.nBuckets)),
        s"$dir/dfs")
      val metas = live.map(b => S.readMetaAt(spark, deltaRoot, b))
      writeManifest(spark, dir, m.copy(
        nDocs = m.nDocs + metas.map(_.nDocs).sum,
        nEdges = edges.rows,
        maxId = (m.maxId +: metas.map(_.maxId)).max,
        lastBatchId = live.max,
        epoch = newEpoch))
      // retired by the watermark above; delete best-effort
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      live.foreach(b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$deltaRoot/batch=$b"), true))
    }
  }

  /** Committed delta entries not yet folded into the surfaces (ids above
    * the manifest's folded-through watermark), ascending.
    */
  def liveDeltaIds(spark: SparkSession, dir: String): Seq[Long] = {
    val watermark = readManifestRaw(spark, dir).lastBatchId
    graft.streaming.StreamingLinkGraph.committedBatchesAt(spark, s"$dir/deltas")
      .filter(_ > watermark)
  }

  /** The exact ±support edge deltas one batch of spans induces against
    * an existing (df, postings) state — the append's core math, shared
    * with [[graft.streaming.StreamingLinkGraph]] (which evaluates it
    * against its base ∪ delta-log effective surfaces).
    *
    * @param batchSpans (h, id) distinct spans of the NEW documents (pinned)
    * @param touched    (h, old_df, new_df) for every span the batch
    *                   mentions (pinned)
    * @param oldPostings (h, id) existing members — only touched spans'
    *                   rows are consumed
    * @return (id_a, id_b, __d) with nonzero net deltas, pinned in the
    *         caller's `scope` (with the tagged members it reads)
    */
  private[graft] def edgeDeltas(scope: graft.Pins.Scope, batchSpans: DataFrame,
      touched: DataFrame, oldPostings: DataFrame, maxDf: Int): DataFrame = {
    // members of each touched span, old and new, tagged — per-span
    // fan-out is ≤ maxDf + batch members by the band conditions below
    val members = scope.pin(oldPostings.join(touched, Seq("h"))
      .select(col("h"), col("id"), lit(false).as("__new"),
        col("old_df"), col("new_df"))
      .unionByName(batchSpans.join(touched, Seq("h"))
        .select(col("h"), col("id"), lit(true).as("__new"),
          col("old_df"), col("new_df"))))
    // +1 deltas: spans landing in band. If the span was ALREADY in
    // band its old×old pairs exist — only pairs touching a new
    // member are added; a span entering the band adds ALL pairs.
    val inBand = members.where(col("new_df") >= 2 && col("new_df") <= maxDf)
    val added = inBand.select(col("h"), col("id").as("id_a"),
        col("__new").as("__na"), col("old_df"))
      .join(inBand.select(col("h"), col("id").as("id_b"), col("__new").as("__nb")),
        Seq("h"))
      .where(col("id_a") < col("id_b") &&
        (col("old_df") < 2 || col("__na") || col("__nb")))
      .select(col("id_a"), col("id_b"), lit(1L).as("__d"))
    // −1 deltas: spans crossing ABOVE the band retract the pairs
    // they supported — old members only (new ones never contributed)
    val leaving = members.where(!col("__new") &&
      col("old_df") >= 2 && col("old_df") <= maxDf && col("new_df") > maxDf)
    val removed = leaving.select(col("h"), col("id").as("id_a"))
      .join(leaving.select(col("h"), col("id").as("id_b")), Seq("h"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(-1L).as("__d"))
    scope.pin(added.unionAll(removed)
      .groupBy(col("id_a"), col("id_b")).agg(sum(col("__d")).as("__d"))
      .where(col("__d") =!= 0))
  }

  /** The edge table in [[LinkGraph.sharedSpanEdges]]'s symmetric
    * (src, dst) shape — plugs into every graph operator unchanged.
    */
  def loadEdges(spark: SparkSession, dir: String): DataFrame = {
    // explode-symmetrize, not unionAll of two projections: the union
    // shape executes the underlying scan twice, one pass per direction
    val c = loadEdgesCanonical(spark, dir)
    c.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
  }

  /** Canonical (id_a < id_b) edges with their exact span-support count —
    * `support` equals [[LinkGraph.sharedSpanEdgesWeighted]]'s weight, so
    * the canonical table doubles as the weighted graph artifact. Live
    * [[appendAuto]] delta entries merge in transparently (support > 0
    * survives); with an empty log this is the plain bucketed scan.
    * loadManifest first = the torn-write fail-fast on every read path.
    */
  def loadEdgesCanonical(spark: SparkSession, dir: String): DataFrame = {
    loadManifest(spark, dir) // epoch check; manifest itself not needed
    val base = readSurface(spark, s"$dir/edges", edgesSchema)
      .select(col("id_a"), col("id_b"), col("support"))
    graft.streaming.StreamingLinkGraph.mergedEdgesCanonical(
      spark, base, s"$dir/deltas", liveDeltaIds(spark, dir))
  }

  /** Symmetric weighted edges (src, dst, weight) for
    * [[LinkGraph.pageRankWeighted]].
    */
  def loadEdgesWeighted(spark: SparkSession, dir: String): DataFrame = {
    val c = loadEdgesCanonical(spark, dir)
    c.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("support").as("weight")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("support").as("weight"))))
        .as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"), col("__e.weight").as("weight"))
  }

  /** [[LinkGraph.spanNovelty]] served from the artifact's df surface:
    * score a set of documents' span-novelty profile against the CORPUS
    * document frequencies WITHOUT rescanning the corpus — the batch's
    * spans join the bucket-pruned `dfs` surface, so cost is
    * batch-proportional. For documents already ingested into the store
    * the output is bit-identical to a full [[LinkGraph.spanNovelty]]
    * over the whole corpus restricted to those ids (the
    * q_span_novelty_artifact oracle proves it); for un-ingested
    * documents, corpus-absent spans read as unique (df 1) and
    * corpus-present spans at their corpus df — the score a curation
    * pass wants BEFORE deciding to ingest.
    */
  def spanNoveltyAgainst(docs: DataFrame, idCol: String, textCol: String,
      dir: String): DataFrame = graft.Pins.scoped { scope =>
    val spark = docs.sparkSession
    val m = loadManifest(spark, dir)
    // pinned: consumed by the bucket probe and the join
    val spans = scope.pin(docs.select(col(idCol).as("__id"),
      explode(T.shingleHashes(col(textCol), m.w)).as("h")))
    val tb = spans.select(spanBucket(m.nBuckets).as("b")).distinct()
      .collect().map(_.getInt(0)).sorted
    // live appendAuto deltas carry the freshest df for their spans —
    // merged latest-wins (delta entries are batch-sized, no pruning
    // needed; extra spans outside tb drop out of the left join below)
    val dfs = graft.streaming.StreamingLinkGraph.effectiveDfs(spark,
      readSurface(spark, s"$dir/dfs", dfsSchema)
        .where(col("bucket").isInCollection(tb)).select(col("h"), col("df")),
      s"$dir/deltas", liveDeltaIds(spark, dir))
    // MATERIALIZED (batch-sized) before the scope releases the spans pin:
    // returning this plan lazily would read checkpoint blocks already
    // freed — the bug class Pins.release made real (the old no-op
    // unpersist silently masked it); the pin is the caller's
    val counts = spans.join(dfs, Seq("h"), "left")
      .select(col("__id"), coalesce(col("df"), lit(1L)).as("__df"))
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("__df") >= 2 && col("__df") <= m.maxDf, 1L).otherwise(0L)).as("n_shared"),
        sum(when(col("__df") > m.maxDf, 1L).otherwise(0L)).as("n_boilerplate"))
      .localCheckpoint(true)
    docs.select(col(idCol)).join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("n_boilerplate"), lit(0L)).as("n_boilerplate"),
        when(coalesce(col("n_spans"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_unique").cast("double") / col("n_spans").cast("double"))
          .as("novelty"))
  }

  /** Manifest read PLUS the torn-write check: every mutation stamps all
    * three surfaces with its target epoch BEFORE touching data and writes
    * the manifest (carrying the same epoch) LAST, so any crash mid-
    * mutation leaves at least one stamp ahead of the manifest — readers
    * fail fast here instead of silently serving mixed-epoch surfaces.
    */
  def loadManifest(spark: SparkSession, dir: String): Manifest = {
    val m = readManifestRaw(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val eps = Surfaces.map(s => s -> surfaceEpoch(fs, dir, s))
    val torn = eps.filter(_._2 != m.epoch)
    require(torn.isEmpty,
      s"LinkGraphStore: torn append/compaction detected under $dir - " +
        torn.map { case (s, e) => s"$s at epoch $e" }.mkString(", ") +
        s" vs manifest epoch ${m.epoch}. A mutation crashed between its " +
        "surface writes; the surfaces are not mutually consistent. " +
        "Recover by rebuilding the artifact (LinkGraphStore.build). For " +
        "crash-safe continuous ingestion use StreamingLinkGraph or " +
        "appendAuto with explicit batch ids (committed delta entries " +
        "replay as no-ops); auto-assigned appendAuto ids make a retry " +
        "fail loudly instead - either way nothing double-applies")
    m
  }

  /** Identity of the graph's CURRENT effective state, for derived
    * artifacts (HyperBallStore registers today; any future
    * built-FROM-this-store index) to record at build time and re-check at
    * serve time. (epoch, nEdges, maxId) alone would miss delta-route
    * [[appendAuto]] appends — those commit entries under `dir/deltas`
    * that every reader merges WITHOUT touching the manifest — so the
    * fingerprint includes the live (committed, unfolded) delta ids too:
    * any append changes it (delta ids are strictly increasing), any fold
    * advances `lastBatchId`, any in-place mutation bumps `epoch`.
    * Loads through the torn-write check: a derived artifact must not
    * certify itself against a torn source.
    */
  def stateFingerprint(spark: SparkSession, dir: String): String = {
    val m = loadManifest(spark, dir)
    val live = liveDeltaIds(spark, dir)
    s"linkgraph;epoch=${m.epoch};nEdges=${m.nEdges};maxId=${m.maxId};" +
      s"lastBatchId=${m.lastBatchId};live=${live.mkString(",")}"
  }

  private def readManifestRaw(spark: SparkSession, dir: String): Manifest = {
    import graft.sources.{ArtifactJson => J}
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"LinkGraphStore: no _manifest.json under $dir - " +
      "build the artifact with LinkGraphStore.build")
    val node = J.readFile(spark, s"$dir/_manifest.json")
    def num(f: String): Long = J.long(node, f, dir)
    Manifest(num("version").toInt, num("w").toInt, num("maxDf").toInt,
      num("nBuckets").toInt, num("nDocs"), num("nEdges"), num("maxId"),
      num("lastBatchId"), num("epoch"))
  }

  private val Surfaces = Seq("edges", "postings", "dfs")

  /** The epoch the next mutation of `dir` should stamp: manifest epoch + 1,
    * or 0 for a fresh directory. Reads RAW (a rebuild over a torn artifact
    * must still be able to pick its epoch).
    */
  private[graft] def nextEpoch(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0L else readManifestRaw(spark, dir).epoch + 1L
  }

  /** Stamp all three surfaces with `epoch` — called BEFORE any surface
    * data write (intent-first): from the first stamp until the manifest
    * lands, loadManifest sees a mismatch and fails fast. Stamps are
    * ROOT-LEVEL siblings (`_epoch_<surface>`), not files inside the
    * surface dirs — a full-overwrite data write deletes the whole surface
    * path and would silently wipe an in-dir stamp.
    */
  private[graft] def stampEpochs(spark: SparkSession, dir: String, epoch: Long): Unit =
    Surfaces.foreach(s =>
      graft.sources.ArtifactJson.writeFile(spark, s"$dir/_epoch_$s", epoch.toString))

  private def surfaceEpoch(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      surface: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_epoch_$surface")
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** Manifest writer for artifact-shaped outputs produced elsewhere
    * (the streaming twin's [[graft.streaming.StreamingLinkGraph.compactTo]]).
    */
  private[graft] def writeManifestFor(spark: SparkSession, dir: String, m: Manifest): Unit =
    writeManifest(spark, dir, m)

  private def writeManifest(spark: SparkSession, dir: String, m: Manifest): Unit =
    graft.sources.ArtifactJson.writeFile(spark, s"$dir/_manifest.json",
      s"""{"version":${m.version},"w":${m.w},"maxDf":${m.maxDf},""" +
        s""""nBuckets":${m.nBuckets},"nDocs":${m.nDocs},"nEdges":${m.nEdges},""" +
        s""""maxId":${m.maxId},"lastBatchId":${m.lastBatchId},""" +
        s""""epoch":${m.epoch}}""")

  private def spanBucket(nBuckets: Int) =
    pmod(col("h"), lit(nBuckets.toLong)).cast("int")

  private def edgeBucket(nBuckets: Int) =
    pmod(xxhash64(col("id_a"), col("id_b")), lit(nBuckets.toLong)).cast("int")

  import org.apache.spark.sql.types._
  private val edgesSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("support", LongType), StructField("bucket", IntegerType)))
  private val postingsSchema = StructType(Seq(
    StructField("h", LongType), StructField("id", LongType),
    StructField("bucket", IntegerType)))
  private val dfsSchema = StructType(Seq(
    StructField("h", LongType), StructField("df", LongType),
    StructField("bucket", IntegerType)))

  /** Read a bucketed surface with its EXPLICIT schema: skips inference
    * (one fewer footer pass) and stays well-defined when the surface has
    * zero data files (an empty-graph artifact is legal).
    */
  private def readSurface(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** The raw df surface (h, df, bucket) — for the streaming twin's
    * effective-state merge.
    */
  private[graft] def readDfsSurface(spark: SparkSession, dir: String): DataFrame =
    readSurface(spark, s"$dir/dfs", dfsSchema)

  /** The raw postings surface (h, id, bucket) — same consumer. */
  private[graft] def readPostingsSurface(spark: SparkSession, dir: String): DataFrame =
    readSurface(spark, s"$dir/postings", postingsSchema)

  private[graft] def spanBucketCol(nBuckets: Int) = spanBucket(nBuckets)

  /** Full bucketed overwrite (build path and the streaming twin's
    * compaction). The repartition-by-bucket
    * shuffle buys one file per bucket instead of (tasks × buckets) — the
    * surfaces are REWRITTEN per append, so without it file counts
    * multiply into exactly the fragmented layout
    * [[graft.sources.Layout]] exists to diagnose; the shuffle is cheap
    * relative to the write it shapes.
    */
  private[graft] def writeBucketed(rows: DataFrame, path: String): Unit =
    // static pin (the inverse of overwriteBuckets' dynamic pin): a
    // full-surface rewrite must delete buckets absent from the new data —
    // under a user session's dynamic mode a bucket whose rows all vanished
    // (e.g. every edge retracted before a compact) would keep stale files
    graft.table.WriteModes.staticPartitionOverwrite(
      rows.repartition(col("bucket")), path, "bucket")

  /** Rewrite exactly the `touched` buckets (append path): dynamic
    * partition overwrite for buckets present in `rows`, plus explicit
    * deletion of touched buckets that became EMPTY — dynamic overwrite
    * only replaces partitions it writes, so a bucket whose rows all
    * vanished (every edge retracted / every span blown past maxDf) would
    * otherwise keep its stale files.
    */
  private def overwriteBuckets(rows: DataFrame, path: String, touched: Array[Int]): Unit = {
    val spark = rows.sparkSession
    // one file per rewritten bucket (see writeBucketed); per-write option,
    // never a session-conf mutation (the WriteModes race argument)
    rows.repartition(col("bucket"))
      .write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("bucket").parquet(path)
    // rows is pinned by every caller, so this re-read is checkpoint-local
    val present = rows.select(col("bucket")).distinct().collect()
      .map(_.getInt(0)).toSet
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(present.contains).foreach { b =>
      val p = new org.apache.hadoop.fs.Path(root, s"bucket=$b")
      if (fs.exists(p)) fs.delete(p, true)
    }
  }
}
