package graft.similarity

import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design: queries are assumed small relative to the corpus (the
  * typical 100 TB case: ~10²–10⁵ probes against ~10⁹⁺ vectors), so the
  * query side is always broadcast — brute force is then ONE narrow pass
  * over the corpus (no corpus shuffle) followed by a top-k aggregation
  * whose intermediate is k rows per partition per query. The IVF variant
  * cuts the scanned fraction to ~nprobe/nlist by pre-assigning corpus
  * vectors to centroid cells (a one-off partitioned build, amortized
  * across queries), which is the standard inverted-file ANN layout
  * (Jégou et al., IVF; public FAISS design).
  */
object Similarity {

  /** Brute-force cosine top-k: for every query vector, the k most similar
    * corpus vectors. Output: (query_id, neighbor_id, cosine_sim, rank).
    *
    * COST FORMULA (this is the exact recall baseline, quadratic BY
    * DESIGN — budget before calling): |queries| × |corpus| × d
    * multiply-adds for the distance pass, plus a per-query top-k whose
    * shuffled intermediate is k rows × partitions × queries; the query
    * side (id + d floats per row) broadcasts whole to every executor.
    * Rule of thumb at d = 64: ~10⁹ pair-kernels ≈ 10 s of one core —
    * 10³ queries × 10⁶ corpus rows is seconds across a cluster, while a
    * corpus×corpus self-probe at 5·10⁴ docs measured 911 s on 32 cores.
    * Keep |queries| a bounded eval slice here; [[Evaluation.knnClassify]]
    * enforces that contract with its `maxQueries` require, and the ANN
    * variants ([[ivfTopK]], [[sketchTopK]], [[ivfPqTopK]]) are the scale
    * path when the query side is corpus-sized.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_sim", round(V.cosine(col("qvec"), col("cvec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"), col("rank"))
  }

  /** IVF (inverted-file) index: deterministic centroids (the `nlist`
    * lowest-id corpus vectors — reproducible without an RNG; a kmeans
    * refinement can replace the seeding without changing the layout),
    * corpus pre-assigned to its nearest centroid cell.
    * Returns the corpus with a `cell` column — write it partitioned by
    * `cell` for pruned probes at scale.
    */
  def ivfBuild(corpus: DataFrame, vecCol: String, idCol: String, nlist: Int): DataFrame = {
    val centroids = corpus
      .select(col(idCol).as("cell"), col(vecCol).as("centroid"))
      .orderBy(col("cell"))
      .limit(nlist)
    assignCells(corpus, vecCol, idCol, centroids)
  }

  /** Nearest-cell assignment — the ONE definition [[ivfBuild]] and
    * [[appendToIvfIndex]] share, so appended vectors land in exactly the
    * cell a full rebuild would give them. Via max_by aggregation, NOT a
    * window: the broadcast join fans each row out nlist× locally, and
    * the partial (map-side) max_by collapses it back to one row per id
    * before any shuffle — so the exchange carries corpus-sized data,
    * never corpus×nlist, and there is no per-partition sort.
    */
  private def assignCells(corpus: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame): DataFrame = {
    val cols = corpus.columns.toSeq
    corpus
      .join(broadcast(centroids))
      // rounded before the argmax: assignment ties then break on cell id,
      // making the index layout reproducible ACROSS ENGINES and platforms
      // (raw-double argmax can flip on last-ulp differences)
      .withColumn("sim", round(V.cosine(col(vecCol), col("centroid")), 6))
      .groupBy(col(idCol).as("__gid"))
      .agg(max_by(
        struct((cols :+ "cell").map(col): _*),
        struct(col("sim"), (-col("cell")).cast("long").as("tb"))).as("s"))
      .select(col("s.*"))
  }

  /** IVF with a Lloyd-REFINED coarse quantizer: centroids TRAINED by
    * deterministic k-means ([[graft.dedup.SemDedup.kmeansDeterministic]]
    * — the nlist lowest-id seeds, id-ordered sequential component folds,
    * `iters` Lloyd steps; bit-reproducible, no RNG), then the corpus
    * assigned with the SAME rounded-cosine [[assignCells]] kernel as
    * [[ivfBuild]]. What refinement buys — measured at the sf10 tier
    * (200k vectors, nlist 64, nprobe 8): recall@10 0.659 → 0.859 at the
    * same probe budget, for ~1 s of extra build. What it does NOT buy:
    * cell balance — k-means follows density, so a dense region's cell
    * can GROW under refinement (max cell 6 198 → 11 642 in the same
    * run); balancing is [[rebalanceIvfIndex]]'s job, and the refined
    * artifact composes with it. Training metric (squared-L2 Lloyd) and
    * serving metric (cosine) are deliberately distinct: assignment and
    * probe stay on the one serving kernel, so a refined artifact remains
    * lifecycle-compatible with [[appendToIvfIndex]] /
    * [[rebalanceIvfIndex]] / [[ivfTopKPersisted]], which all speak
    * rounded cosine against sidecar centroids. Cell ids are the centroid
    * ordinals 0..nlist-1.
    */
  def ivfBuildRefined(corpus: DataFrame, vecCol: String, idCol: String, nlist: Int,
      iters: Int = 1): DataFrame =
    assignCells(corpus, vecCol, idCol,
      refinedCentroids(corpus, vecCol, idCol, nlist, iters))

  /** The Lloyd-refined (cell, centroid) set as a broadcast-sized
    * DataFrame — cell = centroid ordinal, centroid = double components.
    * Driver-built from the collected k-means result (nlist×d doubles —
    * tiny), so downstream plans treat it as a local relation.
    */
  def refinedCentroids(corpus: DataFrame, vecCol: String, idCol: String, nlist: Int,
      iters: Int): DataFrame = {
    val arr = graft.dedup.SemDedup.kmeansDeterministic(corpus, vecCol, idCol, nlist, iters)
    val spark = corpus.sparkSession
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(arr.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i.toLong, c.toSeq)
      }: _*)
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false))))
  }

  /** [[ivfTopK]] over the refined quantizer: probe cells ranked by
    * rounded cosine against the REFINED centroids (the lowest-id
    * recovery does not apply), members scored exactly. Same verdict
    * columns as every ANN lane.
    */
  def ivfRefinedTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, nlist: Int, nprobe: Int, iters: Int = 1): DataFrame = {
    val cents = refinedCentroids(corpus, vecCol, idCol, nlist, iters)
    val indexed = assignCells(corpus, vecCol, idCol, cents)
    val probed = probeCellsWith(cents, queries, vecCol, idCol, nprobe)
    scoreProbed(indexed, probed, queries, vecCol, idCol, k)
  }

  /** Persist a REFINED index as the same appendable artifact as
    * [[saveIvfIndexAppendable]]: data partitioned by cell, `_centroids`
    * sidecar holding the refined centroids + per-cell counts. Because
    * assignment/probe stay on the sidecar-cosine kernel, the artifact
    * plugs into the whole maintenance lifecycle unchanged
    * ([[ivfTopKPersisted]], [[appendToIvfIndex]] — vector ids must
    * exceed nlist-1 — and [[rebalanceIvfIndex]]).
    */
  def saveIvfIndexRefined(corpus: DataFrame, dir: String, vecCol: String,
      idCol: String, nlist: Int, iters: Int = 1): Unit = graft.Pins.scoped { scope =>
    val cents = scope.pin(refinedCentroids(corpus, vecCol, idCol, nlist, iters))
    val indexed = scope.pin(assignCells(corpus, vecCol, idCol, cents))
    graft.table.WriteModes.staticPartitionOverwrite(indexed, dir, "cell")
    val counts = indexed.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_rows"))
    writeIvfSidecar(
      cents.join(counts, Seq("cell"), "left")
        .withColumn("n_rows", coalesce(col("n_rows"), lit(0L))),
      dir)
  }

  /** Persist an IVF index as the on-disk artifact probes reuse across
    * jobs: the indexed corpus written PARTITIONED BY cell. The payoff at
    * scale is dynamic partition pruning — [[ivfTopK]]'s broadcast join
    * on `cell` lets Spark prune the scan to the probed cells' partitions
    * at runtime, so a probe reads ~nprobe/nlist of the index instead of
    * all of it (IvfPersistSpec asserts the pruning subquery in the
    * plan). Build once, probe many — the index maintenance story the
    * reference applies to its own stored tables (footer-certified
    * artifacts, reread cheaply; ArrowReaderWriterUtils.java:229).
    */
  def saveIvfIndex(indexed: DataFrame, dir: String): Unit =
    graft.table.WriteModes.staticPartitionOverwrite(indexed, dir, "cell")

  /** [[saveIvfIndex]] plus the `_centroids` sidecar that makes the
    * artifact APPENDABLE: (cell, centroid, n_rows) — the build-time
    * centroid set (recovered by ivfBuild's own definition, the `nlist`
    * lowest-`idCol` rows) and per-cell row counts for audit. Write
    * ordering is data-first / sidecar-last (the Export manifest
    * discipline): a crash between the two leaves data present but the
    * sidecar stale/absent — an UNDER-certified index a re-run repairs —
    * never a sidecar describing data that isn't on disk. The underscore
    * prefix hides the sidecar from the data scan, so [[loadIvfIndex]]
    * is unchanged.
    */
  def saveIvfIndexAppendable(indexed: DataFrame, dir: String, vecCol: String,
      idCol: String, nlist: Int): Unit = {
    graft.table.WriteModes.staticPartitionOverwrite(indexed, dir, "cell")
    writeIvfSidecarFor(indexed, dir, vecCol, idCol, nlist)
  }

  /** Derive and write the `_centroids` sidecar from a built index —
    * shared by [[saveIvfIndexAppendable]] and the streaming twin's
    * per-batch layout ([[graft.streaming.StreamingAnnIndex]]), whose
    * data lands under a different subdirectory but certifies through the
    * same root sidecar.
    */
  private[graft] def writeIvfSidecarFor(indexed: DataFrame, dir: String,
      vecCol: String, idCol: String, nlist: Int): Unit = {
    val centroids = indexed.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).cast("long").as("cell"), col(vecCol).as("centroid"))
    val counts = indexed.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_rows"))
    writeIvfSidecar(
      centroids.join(counts, Seq("cell"), "left")
        .withColumn("n_rows", coalesce(col("n_rows"), lit(0L))),
      dir)
  }

  private[graft] def writeIvfSidecar(rows: DataFrame, dir: String): Unit =
    rows.select(col("cell"), col("centroid"), col("n_rows"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_centroids")

  /** The `_centroids` sidecar of a [[saveIvfIndexAppendable]] artifact:
    * (cell, centroid, n_rows).
    */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/_centroids")

  /** Incremental IVF index maintenance: assign `newVectors` to the
    * EXISTING centroids (the same [[assignCells]] kernel as the build,
    * so each vector lands in exactly the cell a full rebuild would give
    * it) and APPEND per-cell partition files — no index rebuild, no
    * rewrite of existing data; dynamic partition pruning on probes is
    * untouched because cells only gain files. The result is
    * bit-identical to rebuilding over the concatenated corpus
    * (IvfPersistSpec + the q_ann_ivf_append oracle prove it), PROVIDED
    * the build's centroid recovery is stable — hence the require: every
    * appended id must sort ABOVE every centroid cell id, or the
    * "nlist lowest-id rows" recovery in [[ivfTopK]]'s probe would start
    * returning appended vectors as centroids. Ordering is data-first /
    * sidecar-last, same as the build.
    *
    * Scale shape: one broadcast of the (tiny) sidecar centroids, one
    * map-side-combined assignment over the new batch only, one
    * partitioned append — cost proportional to the BATCH, not the index,
    * which is the point of incremental maintenance at 10⁹+ vectors.
    */
  /** Assign a batch of new vectors to the EXISTING centroids of a
    * persisted appendable index ([[assignCells]] — the build's own
    * kernel), enforcing the append contract (every new id above every
    * centroid cell id). Returns `(assigned, sidecar)`, both pinned in the
    * caller's `scope`; `assigned` is null for an empty batch. The sidecar
    * rides back for callers that update counts. Shared by the batch
    * [[appendToIvfIndex]] and the streaming twin
    * ([[graft.streaming.StreamingAnnIndex]]).
    */
  private[graft] def assignAgainstSidecar(scope: graft.Pins.Scope, newVectors: DataFrame,
      vecCol: String, idCol: String, dir: String): (DataFrame, DataFrame) = {
    val spark = newVectors.sparkSession
    // pin the sidecar BEFORE any write: a refreshed sidecar overwrites
    // the very files this plan would otherwise lazily re-read
    val pinned = scope.pinCounted(loadIvfCentroids(spark, dir))
    val sidecar = pinned.df
    require(pinned.rows > 0, s"ivf append: no _centroids sidecar under " +
      s"$dir - build with saveIvfIndexAppendable")
    val maxCell = sidecar.agg(max(col("cell"))).head().getLong(0)
    val bounds = newVectors.agg(
      min(col(idCol).cast("long")).as("lo"), count(lit(1)).as("n")).head()
    if (bounds.getLong(1) == 0L) return (null, sidecar) // empty batch
    require(bounds.getLong(0) > maxCell,
      s"ivf append: new ids start at ${bounds.getLong(0)} but the centroid set " +
        s"reaches cell $maxCell - appended ids must sort above every centroid id so " +
        "the probe-time centroid recovery (nlist lowest-id rows) stays the build's")
    (scope.pin(assignCells(newVectors, vecCol, idCol,
      sidecar.select(col("cell"), col("centroid")))), sidecar)
  }

  def appendToIvfIndex(newVectors: DataFrame, vecCol: String, idCol: String,
      dir: String): Unit = graft.Pins.scoped { scope =>
    val spark = newVectors.sparkSession
    val (assigned, sidecar) = assignAgainstSidecar(scope, newVectors, vecCol, idCol, dir)
    if (assigned != null) { // null for an empty batch: nothing to append
      // schema discipline: the appended files must carry the index's columns
      val want = spark.read.parquet(dir).columns.toSet
      val have = assigned.columns.toSet
      require(have == want, s"appendToIvfIndex: batch columns $have != index columns $want")
      assigned.write.mode("append").partitionBy("cell").parquet(dir)
      // sidecar last: centroids unchanged by construction (appended ids
      // sort above them); counts = old sidecar + batch — a crash before
      // this line leaves counts stale-low, never over-certified
      val batchCounts = assigned.groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("__add"))
      writeIvfSidecar(
        sidecar.join(batchCounts, Seq("cell"), "left")
          .withColumn("n_rows", col("n_rows") + coalesce(col("__add"), lit(0L))),
        dir)
    }
  }

  /** Read a [[saveIvfIndex]] artifact back. The partition column comes
    * back via directory inference (int for small ids) — recast to long
    * so probe joins and verdicts are type-identical to the in-memory
    * index.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val df = spark.read.parquet(dir)
    df.withColumn("cell", col("cell").cast("long"))
  }

  /** Hot-cell rebalance of a persisted appendable index — the maintenance
    * pass that completes [[appendToIvfIndex]]'s story: appends accumulate
    * into FIXED cells, so a skewed ingest stream grows a few cells until
    * every probe that touches them scans far more than corpus/nlist rows.
    * This operator SPLITS each cell whose sidecar count exceeds
    * `maxCellRows` in two, deterministically and without an RNG (the
    * ivfBuild discipline): the new centroid is the cell member FARTHEST
    * from the old centroid (lowest rounded cosine, ties to the lowest
    * id — its own id becomes the new cell id), and the cell's members are
    * re-assigned between the two centroids by the same rounded-argmax
    * rule as [[ivfBuild]]'s assignment. Untouched cells are not read,
    * not rewritten: the hot cells' partitions are replaced via dynamic
    * partition overwrite and the new cells' partitions created, so the
    * rewrite cost is proportional to the HOT data, not the index —
    * at 10⁹+ vectors that is the difference between a maintenance pass
    * and a rebuild. Ordering is data-first / sidecar-last as everywhere.
    *
    * After a rebalance the centroid set is no longer "the nlist
    * lowest-id rows", so probe with [[ivfTopKPersisted]] (sidecar
    * centroids), not [[ivfTopK]]'s recovery; and future
    * [[appendToIvfIndex]] batches must carry ids above the NEW max cell
    * id (the split centroids' member ids) — the append's existing
    * require enforces exactly that from the refreshed sidecar.
    */
  def rebalanceIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      vecCol: String, idCol: String, maxCellRows: Long): Unit = graft.Pins.scoped { scope =>
    require(maxCellRows >= 2, s"rebalanceIvfIndex: maxCellRows $maxCellRows < 2 " +
      "- a 1-row cell cannot split")
    // pin the sidecar BEFORE any write (it will be overwritten below)
    val sidecar = scope.pin(loadIvfCentroids(spark, dir))
    val hot = sidecar.where(col("n_rows") > maxCellRows)
      .select(col("cell")).collect().map(_.getLong(0)).sorted
    // nothing over budget: no-op, artifact untouched
    if (hot.nonEmpty) {
      // static partition pruning: only the hot cells' files are read
      val members = loadIvfIndex(spark, dir).where(col("cell").isInCollection(hot))
      val dataCols = members.columns.filterNot(_ == "cell").toSeq
      val hotCents = sidecar.where(col("cell").isInCollection(hot))
        .select(col("cell"), col("centroid"))
      // the split centroid: farthest member from the old centroid
      // (lowest rounded cosine, ties to the lowest id) — deterministic
      // across engines, same rounding discipline as the assignment
      val newCents = members
        .join(broadcast(hotCents), Seq("cell"))
        .withColumn("__sim", round(V.cosine(col(vecCol), col("centroid")), 6))
        .groupBy(col("cell").as("old_cell"))
        .agg(min_by(
          struct(col(idCol).cast("long").as("new_cell"), col(vecCol).as("__cent")),
          struct(col("__sim"), col(idCol))).as("s"))
        .select(col("old_cell"), col("s.new_cell"), col("s.__cent").as("centroid"))
      // pinned: the candidate set (2 rows per hot cell) is re-read when
      // the sidecar refreshes BELOW the data overwrite — left lazy it
      // would re-scan the very files the overwrite just replaced
      val cands = scope.pin(hotCents
        .select(col("cell").as("old_cell"), col("cell").as("cand_cell"), col("centroid"))
        .unionByName(newCents
          .select(col("old_cell"), col("new_cell").as("cand_cell"), col("centroid"))))
      // fail fast BEFORE any write: a split id that collides with an
      // existing cell would smash that cell's partition in the dynamic
      // overwrite below. Possible whenever the id space overlaps the
      // cell-id space — e.g. a REFINED artifact's ordinal cells 0..nlist-1
      // vs member ids — and unrecoverable after the write, so it must be
      // a require, not a corruption. Reads the tiny checkpointed
      // candidate set (2 rows per hot cell), no extra scan of members.
      val splitIds = cands.where(col("cand_cell") =!= col("old_cell"))
        .select(col("cand_cell")).collect().map(_.getLong(0))
      val existing = sidecar.select(col("cell")).collect().map(_.getLong(0)).toSet
      require(splitIds.length == hot.length && // == its own old cell is a collision too
        splitIds.distinct.length == splitIds.length &&
        !splitIds.exists(existing.contains),
        s"rebalanceIvfIndex: split cell id(s) ${splitIds.filter(existing.contains).toSeq}" +
          " collide with existing cells (member-id space overlaps the cell-id space);" +
          " rebuild the index instead of rebalancing")
      // re-assign hot members between their cell's two candidates — the
      // assignCells kernel constrained to the member's own old cell
      // (join on old_cell, not a cross), map-side-combined argmax
      val reassigned = scope.pin(members
        .join(broadcast(cands), col("cell") === col("old_cell"))
        .withColumn("__sim", round(V.cosine(col(vecCol), col("centroid")), 6))
        .groupBy(col(idCol).as("__gid"))
        .agg(max_by(
          struct(dataCols.map(col) :+ col("cand_cell").as("cell"): _*),
          struct(col("__sim"), (-col("cand_cell")).cast("long").as("tb"))).as("s"))
        // pin before the overwrite: the write replaces the very
        // partitions this plan reads
        .select(col("s.*")))
      // per-write option, never a session-conf mutation (the WriteModes
      // race argument: a concurrent static writer must not flip this
      // touched-cells-only overwrite into a whole-index delete)
      reassigned.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("cell").parquet(dir)
      // sidecar last: untouched cells keep their rows; hot cells and
      // their splits get recounted from the rewritten data
      val counts = reassigned.groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_rows"))
      val refreshed = sidecar.where(!col("cell").isInCollection(hot))
        .select(col("cell"), col("centroid"), col("n_rows"))
        .unionByName(cands
          .select(col("cand_cell").as("cell"), col("centroid"))
          .join(counts, Seq("cell"), "left")
          .withColumn("n_rows", coalesce(col("n_rows"), lit(0L))))
      writeIvfSidecar(refreshed, dir)
    }
  }

  /** Probe a persisted appendable index with its SIDECAR centroids —
    * the probe that stays correct across the artifact's whole
    * maintenance lifecycle (build → append → [[rebalanceIvfIndex]]),
    * where [[ivfTopK]]'s lowest-id centroid recovery only holds for a
    * freshly built index. nlist is implicit: the sidecar rows ARE the
    * centroid set. Dynamic partition pruning on the probed cells is
    * identical to [[ivfTopK]] — the scan reads ~nprobe/|cells| of the
    * index.
    */
  def ivfTopKPersisted(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, vecCol: String, idCol: String, k: Int, nprobe: Int): DataFrame = {
    val index = loadIvfIndex(spark, dir)
    val centroids = loadIvfCentroids(spark, dir).select(col("cell"), col("centroid"))
    val probed = probeCellsWith(centroids, queries, vecCol, idCol, nprobe)
    scoreProbed(index, probed, queries, vecCol, idCol, k)
  }

  /** Persist the COMPRESSED serving artifact: the IVF-indexed corpus
    * with its PQ codes riding each row (cell-partitioned data — a probe
    * reads ~nprobe/nlist of it AND scans m-byte codes instead of
    * 4·d-byte floats), the `_centroids` sidecar, and the PQ codebooks as
    * a `_codebooks` sidecar (m·k rows of dsub doubles — tens of KB).
    * q_ann_ivfpq previously re-trained and re-encoded per invocation;
    * this is the build-once shape. Write order: data, `_centroids`,
    * `_codebooks` LAST (a missing codebook sidecar fails fast on load —
    * under-certified, never wrong).
    */
  def saveIvfPqIndex(corpus: DataFrame, dir: String, vecCol: String, idCol: String,
      nlist: Int, m: Int, k: Int): Unit = graft.Pins.scoped { scope =>
    val indexed = scope.pin(ivfBuild(corpus, vecCol, idCol, nlist))
    val model = pqTrain(corpus, vecCol, idCol, m, k)
    graft.table.WriteModes.staticPartitionOverwrite(
      pqEncode(indexed, vecCol, model), dir, "cell")
    writeIvfSidecarFor(indexed, dir, vecCol, idCol, nlist)
    val spark = corpus.sparkSession
    val rows = for (j <- 0 until model.m; c <- 0 until model.k)
      yield Row(j, c, model.centroids(j)(c).toSeq)
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.IntegerType, false),
          org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.IntegerType, false),
          org.apache.spark.sql.types.StructField("centroid",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType), false))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_codebooks")
  }

  /** The `_codebooks` sidecar of a [[saveIvfPqIndex]] artifact, as the
    * in-memory [[PqModel]] the ADC kernels take.
    */
  def loadPqModel(spark: org.apache.spark.sql.SparkSession, dir: String): PqModel = {
    val rows = spark.read.parquet(s"$dir/_codebooks").collect()
    require(rows.nonEmpty, s"no _codebooks sidecar under $dir - build with saveIvfPqIndex")
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val cents = Array.ofDim[Array[Double]](m, k)
    rows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    require(cents.forall(_.forall(_ != null)), s"codebook sidecar under $dir has gaps")
    PqModel(cents.map(_.toArray))
  }

  /** IVF×PQ probe over the PERSISTED compressed artifact — codes and
    * vectors read from the cell-partitioned store (partition-pruned to
    * the probed cells), codebooks and centroids from the sidecars.
    * Verdicts identical to [[ivfPqTopK]] over the same build (the shared
    * q_ann_ivfpq oracle proves it).
    */
  def ivfPqTopKPersisted(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, vecCol: String, idCol: String, k: Int, nprobe: Int,
      oversample: Int = 4): DataFrame = {
    val model = loadPqModel(spark, dir)
    val index = loadIvfIndex(spark, dir)
    val centroids = loadIvfCentroids(spark, dir).select(col("cell"), col("centroid"))
    val probed = probeCellsWith(centroids, queries, vecCol, idCol, nprobe)
    val codes = index.select(col(idCol).as("neighbor_id"), col("cell"), col("pq_codes"))
    val qtabs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qtab",
        e2col(graft.expressions.PqAdcTable(col2e(col("qvec")), model.centroids)))
      .select(col("query_id"), col("qtab"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("neighbor_id"))
    val shortlist = codes
      .join(broadcast(probed), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(qtabs), Seq("query_id"))
      .withColumn("adc",
        e2col(graft.expressions.PqAdc(col2e(col("pq_codes")), col2e(col("qtab")), model.k)))
      .withColumn("srn", row_number().over(wAdc))
      .where(col("srn") <= k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    val vecs = index.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine_sim").desc, col("neighbor_id"))
    shortlist
      .join(vecs, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cosine_sim", round(V.cosine(col("qvec"), col("cvec")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"), col("rank"))
  }

  /** Sketch-prefiltered top-k with exact re-rank: a 64-bit
    * random-hyperplane sketch (Charikar bits — cosine-preserving) scores
    * every corpus vector with ONE xor+popcount instead of a d-dim float
    * loop; the per-query shortlist of `k × oversample` best sketch matches
    * is then re-ranked by exact cosine. At 10⁹+ vectors this is the cheap
    * first pass that makes the exact math affordable: the full-dimension
    * loop runs on k×oversample rows per query, not the whole corpus (or
    * the whole probed cell). Compose with IVF by passing a cell-pruned
    * corpus. Sketches would be precomputed and stored at scale
    * (`withSketch`).
    */
  def withSketch(corpus: DataFrame, vecCol: String, nBits: Int = 64): DataFrame =
    corpus.withColumn("__sketch", V.lshBits(col(vecCol), nBits))

  def sketchTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nBits: Int = 64,
      oversample: Int = 4
  ): DataFrame = {
    val c = withSketch(corpus, vecCol, nBits)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("__sketch").as("csk"))
    val q = withSketch(queries, vecCol, nBits)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"), col("__sketch").as("qsk"))
    // pass 1: hamming shortlist (xor+popcount per pair — codegen'd)
    val wSketch = Window.partitionBy(col("query_id"))
      .orderBy(col("ham").asc, col("neighbor_id"))
    val shortlist = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("ham", bit_count(col("csk").bitwiseXOR(col("qsk"))))
      .withColumn("srn", row_number().over(wSketch))
      .where(col("srn") <= k * oversample)
    // pass 2: exact cosine over the shortlist only
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine_sim").desc, col("neighbor_id"))
    shortlist
      .withColumn("cosine_sim", round(V.cosine(col("qvec"), col("cvec")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"), col("rank"))
  }

  /** Product-quantization model: per-subspace codebooks,
    * `centroids(j)(c)` = centroid c of subspace j (dsub doubles each).
    * Deterministic training (subvectors of the `k` lowest-id corpus
    * vectors seed the codebooks — reproducible without an RNG; Lloyd
    * refinement can replace the seeding without changing the layout).
    * Driver-held and shipped inside the codegen'd PQ expressions
    * (graft.expressions.PqEncode/PqAdcTable/PqAdc): m×k×dsub doubles ≈
    * tens of KB riding the serialized plan.
    */
  final case class PqModel(centroids: Array[Array[Array[Double]]]) {
    def m: Int = centroids.length
    def k: Int = centroids(0).length
    def dsub: Int = centroids(0)(0).length
  }

  /** Train a PQ codebook (see [[PqModel]]). `d` must divide by `m`. */
  def pqTrain(corpus: DataFrame, vecCol: String, idCol: String, m: Int, k: Int): PqModel = {
    val seeds = corpus.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty, "corpus is empty")
    val d = seeds.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    PqModel(Array.tabulate(m, seeds.length)((j, c) => seeds(c).slice(j * dsub, (j + 1) * dsub)))
  }

  /** Lloyd refinement of a PQ codebook: `iters` distributed k-means
    * steps — assign every subvector to its nearest centroid (one narrow
    * encode pass), recompute centroids as per-(subspace, code) means (one
    * aggregation shuffling m rows per corpus vector of dsub doubles
    * each), collect the m×k×dsub result to the driver. Assignment ties
    * break to the lowest code; empty cells keep their previous centroid.
    * NOTE: the per-cell mean is a floating-point `sum`, whose partial-
    * combine order depends on partitioning — refined centroids can differ
    * in final ulps across cluster layouts (assignments rarely flip, but
    * bit-reproducibility is NOT guaranteed, which is why the oracle-gated
    * q_ann_pq/q_ann_ivfpq queries use the seed-trained codebook).
    * Quantization error is non-increasing per iteration (the Lloyd
    * guarantee), which SimilaritySpec asserts.
    */
  def pqRefine(corpus: DataFrame, vecCol: String, model: PqModel, iters: Int = 1): PqModel = {
    var cur = model
    (0 until iters).foreach { _ =>
      val m = cur.m; val k = cur.k; val dsub = cur.dsub
      val codesOf = pqEncode(corpus, vecCol, cur)
        .select(col(vecCol).cast("array<double>").as("v"), col("pq_codes"))
        .select(explode(sequence(lit(0), lit(m - 1))).as("j"), col("v"), col("pq_codes"))
        .select(
          col("j"), element_at(col("pq_codes"), col("j") + 1).as("c"),
          slice(col("v"), col("j") * dsub + 1, lit(dsub)).as("sub"))
      val means = codesOf
        .groupBy(col("j"), col("c"))
        .agg(count(lit(1)).as("n"),
          array((0 until dsub).map(t => sum(element_at(col("sub"), t + 1))): _*).as("sums"))
        .collect()
      val next = Array.tabulate(m, k)((j, c) => cur.centroids(j)(c).clone())
      means.foreach { r =>
        val j = r.getInt(0); val c = r.getInt(1); val n = r.getLong(2).toDouble
        val sums = r.getSeq[Double](3)
        next(j)(c) = sums.map(_ / n).toArray
      }
      cur = PqModel(next)
    }
    cur
  }

  /** Bit-reproducible Lloyd refinement: per-(subspace, code) means fold
    * subvector components SEQUENTIALLY in vec-id order, so the refined
    * codebook is identical across engines, partitionings, and cluster
    * layouts — what the cross-engine oracle (q_ann_pq_refined,
    * XxhSql.annPqRefinedSql) gates. Trade-off vs [[pqRefine]]: each
    * (j, c) cell materializes its member subvectors (`collect_list` +
    * sort) instead of streaming a float sum, so per-task memory is
    * O(largest cell) — use [[pqRefine]] when training at corpus scale and
    * this variant when reproducibility is the requirement (models are
    * typically trained on a bounded sample anyway). Assignment ties break
    * to the lowest code; empty cells keep their previous centroid (same
    * policy as [[pqRefine]]). The component fold runs as an interpreted
    * HOF but over only m·k aggregated rows, never per corpus row.
    */
  def pqRefineDeterministic(corpus: DataFrame, vecCol: String, idCol: String,
      model: PqModel, iters: Int = 1): PqModel = {
    var cur = model
    (0 until iters).foreach { _ =>
      val m = cur.m; val k = cur.k; val dsub = cur.dsub
      val cells = pqEncode(corpus, vecCol, cur)
        .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("v"), col("pq_codes"))
        .select(explode(sequence(lit(0), lit(m - 1))).as("j"), col("__id"), col("v"), col("pq_codes"))
        .select(
          col("j"), element_at(col("pq_codes"), col("j") + 1).as("c"),
          col("__id"), slice(col("v"), col("j") * dsub + 1, lit(dsub)).as("sub"))
        .groupBy(col("j"), col("c"))
        .agg(count(lit(1)).as("n"),
          sort_array(collect_list(struct(col("__id"), col("sub")))).as("subs"))
        .select(col("j"), col("c"), col("n"),
          array((0 until dsub).map { t =>
            aggregate(col("subs"), lit(0.0),
              (acc, s) => acc + element_at(s.getField("sub"), t + 1))
          }: _*).as("sums"))
        .collect()
      val next = Array.tabulate(m, k)((j, c) => cur.centroids(j)(c).clone())
      cells.foreach { r =>
        val j = r.getInt(0); val c = r.getInt(1); val n = r.getLong(2).toDouble
        val sums = r.getSeq[Double](3)
        next(j)(c) = sums.map(_ / n).toArray
      }
      cur = PqModel(next)
    }
    cur
  }

  /** Mean squared quantization error of a codebook over the corpus (the
    * Lloyd objective; used to validate refinement).
    */
  def pqQuantizationError(corpus: DataFrame, vecCol: String, model: PqModel): Double = {
    val err = udf { (vec: Seq[Double], codes: Seq[Int]) =>
      var s = 0.0; var j = 0
      while (j < codes.length) {
        val cent = model.centroids(j)(codes(j))
        val off = j * model.dsub
        var t = 0
        while (t < cent.length) { val d = vec(off + t) - cent(t); s += d * d; t += 1 }
        j += 1
      }
      s
    }
    pqEncode(corpus, vecCol, model)
      .select(err(col(vecCol).cast("array<double>"), col("pq_codes")).as("e"))
      .agg(avg(col("e"))).head().getDouble(0)
  }

  /** Encode the corpus: each vector becomes `m` small codes (nearest
    * centroid per subspace) — ~m bytes/vector vs 4·d for raw floats
    * (32× compression at d=64, m=8). THIS is the representation a 100 TB
    * ANN corpus stores and scans; raw vectors are fetched by id only for
    * the final re-rank. Narrow, no shuffle.
    */
  private def e2col(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graftbridge.Bridge.column(e)
  private def col2e(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graftbridge.Bridge.expression(c)

  def pqEncode(corpus: DataFrame, vecCol: String, model: PqModel): DataFrame =
    // native codegen'd kernel (array<float> handled in-kernel — no cast,
    // no per-row Seq boxing): nearest centroid per subspace, ties low
    corpus.withColumn("pq_codes",
      e2col(graft.expressions.PqEncode(col2e(col(vecCol)), model.centroids)))

  /** PQ top-k with asymmetric-distance (ADC) scoring + exact re-rank:
    * each query precomputes its m×k subspace distance table ONCE; scoring
    * a corpus vector is then m table lookups over its codes — no float
    * loop over d dims, no decompression. The `k × oversample` best ADC
    * matches re-rank by exact cosine. Queries (with tables) broadcast;
    * the corpus-side scan is narrow until the per-query top-k aggregation.
    */
  def pqTopK(
      encodedCorpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      kNeighbors: Int,
      model: PqModel,
      oversample: Int = 4
  ): DataFrame = {
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qtab",
        e2col(graft.expressions.PqAdcTable(col2e(col("qvec")), model.centroids)))
    val c = encodedCorpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("pq_codes"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("neighbor_id"))
    val shortlist = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      // codegen'd ADC: m table lookups per (corpus row, query) — the one
      // per-pair kernel on the compressed scan, now boxing-free
      .withColumn("adc",
        e2col(graft.expressions.PqAdc(col2e(col("pq_codes")), col2e(col("qtab")), model.k)))
      .withColumn("srn", row_number().over(wAdc))
      .where(col("srn") <= kNeighbors * oversample)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine_sim").desc, col("neighbor_id"))
    shortlist
      .withColumn("cosine_sim", round(V.cosine(col("qvec"), col("cvec")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= kNeighbors)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"), col("rank"))
  }

  /** Recover the build-time centroid set from an [[ivfBuild]] output and
    * rank each query's `nprobe` nearest cells. Centroids are recovered by
    * ivfBuild's own DEFINITION — the `nlist` lowest-id rows — not by
    * `id === cell`: a corpus vector identical to a lower-id centroid gets
    * assigned to that lower cell, so the `id === cell` filter would
    * silently drop its centroid and diverge from the build (and from the
    * DuckDB oracle's fixed centroid set). `nlist` still bounds the set, so
    * a caller passing a different nlist than the build's cannot probe a
    * larger one. Returns (query_id, cell).
    */
  private def probeCells(
      indexedCorpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int,
      nprobe: Int
  ): DataFrame = {
    val centroids = indexedCorpus
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol))
      .limit(nlist)
      .select(col(idCol).as("cell"), col(vecCol).as("centroid"))
    probeCellsWith(centroids, queries, vecCol, idCol, nprobe)
  }

  /** [[probeCells]] against an EXPLICIT (cell, centroid) set — the
    * sidecar-driven variant [[ivfTopKPersisted]] needs once a rebalance
    * has retired the lowest-id recovery convention.
    */
  private def probeCellsWith(
      centroids: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      nprobe: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cell"))
    q.join(broadcast(centroids))
      .withColumn("csim", round(V.cosine(col("qvec"), col("centroid")), 6))
      .withColumn("rn", row_number().over(wq))
      .where(col("rn") <= nprobe)
      .select(col("query_id"), col("cell"))
  }

  /** IVF × PQ: the composed 100 TB ANN shape. The stored artifact is
    * (id, cell, pq_codes) — cell-partitioned AND 32×-compressed — so a
    * probe touches ~nprobe/nlist of the corpus and scans m-byte codes
    * instead of 4·d-byte vectors: at 10⁹ vectors × d=64 that is ~8 GB of
    * codes across probed cells versus ~256 GB of floats for a flat scan.
    * Raw vectors are fetched by id only for the final
    * `k × oversample`-row re-rank. Probe cells + per-query ADC tables
    * broadcast; the only wide stage is the shortlist top-k.
    */
  def ivfPqTopK(
      indexedCorpus: DataFrame, // ivfBuild output (cell column present)
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int,
      model: PqModel,
      oversample: Int = 4
  ): DataFrame = {
    // the compressed scan artifact (at scale: written partitioned by cell)
    val codes = pqEncode(indexedCorpus, vecCol, model)
      .select(col(idCol).as("neighbor_id"), col("cell"), col("pq_codes"))
    val probed = probeCells(indexedCorpus, queries, vecCol, idCol, nlist, nprobe)
    // ADC tables join by query_id SEPARATELY from the probe-cell pairs so
    // each m·k-double table broadcasts ONCE per query, not once per
    // (query, cell) — at 10⁵ queries × nprobe=8 that is the difference
    // between ~100 MB and ~800 MB of broadcast
    val qtabs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qtab",
        e2col(graft.expressions.PqAdcTable(col2e(col("qvec")), model.centroids)))
      .select(col("query_id"), col("qtab"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc").asc, col("neighbor_id"))
    val shortlist = codes
      .join(broadcast(probed), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(qtabs), Seq("query_id"))
      .withColumn("adc",
        e2col(graft.expressions.PqAdc(col2e(col("pq_codes")), col2e(col("qtab")), model.k)))
      .withColumn("srn", row_number().over(wAdc))
      .where(col("srn") <= k * oversample)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank: vectors fetched BY ID for shortlist rows only
    val vecs = indexedCorpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine_sim").desc, col("neighbor_id"))
    shortlist
      .join(vecs, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cosine_sim", round(V.cosine(col("qvec"), col("cvec")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"), col("rank"))
  }

  /** IVF probe: search only the `nprobe` cells nearest to each query —
    * scans ~nprobe/nlist of the corpus instead of all of it.
    */
  def ivfTopK(
      indexedCorpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int
  ): DataFrame = {
    val probed = probeCells(indexedCorpus, queries, vecCol, idCol, nlist, nprobe)
    scoreProbed(indexedCorpus, probed, queries, vecCol, idCol, k)
  }

  /** The shared IVF scoring stage: members of probed cells scored by
    * exact cosine, per-query top-k. Probed pairs and queries broadcast;
    * the corpus-side scan stays partition-pruned when the index is the
    * cell-partitioned artifact.
    */
  private def scoreProbed(indexedCorpus: DataFrame, probed: DataFrame,
      queries: DataFrame, vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = indexedCorpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("cell"))
      .join(broadcast(probed), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine_sim", round(V.cosine(col("qvec"), col("cvec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine_sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"), col("rank"))
  }
}
