package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted HyperBall register artifact — build the per-hop register
  * snapshots ONCE over a link graph, serve every reach readout from disk.
  * Round 12 measured q_reach_estimate / q_reach_harmonic /
  * q_reach_distribution as three of the most expensive bench lanes, and
  * each one RE-PROPAGATES the same registers over the same edges
  * (O(hops·|E|) register shuffles per query, three times per round).
  * With the artifact the propagation happens once; each readout is a
  * node-sized scan + the estimate expression. Reference analog: the
  * write-once/read-many batch store (reference
  * org.knime.core.columnar.arrow/…/ArrowBatchStore.java:57-62).
  *
  * == Layout ==
  * {{{
  *   dir/regs/hop=D/bucket=B/  (id: long, reg: array<int>)   D = 0…maxHops
  *   dir/_manifest.json        {version, m, maxHops, nNodes, nBuckets}  LAST
  * }}}
  * Registers are integers and every merge is a max, so stored snapshots
  * are BIT-IDENTICAL to the in-memory propagation's — the artifact gates
  * share the from-scratch XxhSql oracles. Buckets (pmod(xxhash64(id)))
  * give one file per bucket and keep a future single-document reach
  * lookup bucket-prunable.
  *
  * == Incremental maintenance: what is (and is not) sound ==
  *
  * [[extendTo]] DEEPENS the horizon on the UNCHANGED graph: hop-(d+1)
  * balls are exactly one max-merge round over hop-d balls
  * (B_(d+1)(v) = {v} ∪ ⋃_(v→u) B_d(u)), so continuing from the stored
  * last hop is bit-identical to a deeper rebuild (HyperBallStoreSpec +
  * the gate prove it). EDGE GROWTH is NOT incrementally serveable: a new
  * edge shortens distances retroactively at every hop — hop-d balls
  * under the grown graph are not derivable from the old hop-d balls
  * (the old registers are only a LOWER bound, and max-merging new paths
  * in would need the new graph's full propagation anyway). On growth,
  * rebuild — the artifact's win is amortizing the per-READOUT
  * re-propagation, which is where the measured cost was.
  *
  * Write ordering: hop surfaces first, manifest LAST. A torn EXTEND is
  * invisible (the manifest still certifies the old horizon; hops above
  * it are uncommitted, and a same-graph retry rewrites them
  * byte-identically) — the [[graft.streaming.StreamingLinkGraph]] replay
  * discipline without a marker per hop. A torn REBUILD cannot hide
  * behind the old manifest (the graph may have changed), so [[build]]
  * deletes the manifest before touching data: a crash mid-rebuild
  * leaves a dir that fails loud with "no _manifest — build", never a
  * stale certificate over mixed-graph registers.
  */
object HyperBallStore {

  /** `source` = the source graph's [[LinkGraphStore.stateFingerprint]]
    * captured at build/extend time (None for stores built from a raw edge
    * frame, which has no persistent identity to check against). It is the
    * cross-artifact staleness handle: registers built before a graph
    * mutation silently serve the OLD graph's reach numbers — correct for
    * the graph they certify, wrong for the graph the caller thinks they
    * describe. [[isStale]]/[[requireFresh]] compare it against the graph's
    * CURRENT fingerprint; the `*Checked` readouts fail fast on mismatch.
    */
  final case class Manifest(version: Int, m: Int, maxHops: Int, nNodes: Long,
      nBuckets: Int, source: Option[String] = None)

  /** Propagate `maxHops` rounds and persist every hop's registers
    * (hop 0 = singleton balls). Ids are ingested as LONG (the
    * artifact-family id discipline). `source` — see [[Manifest]]; use
    * [[buildFromGraph]] to capture it automatically.
    */
  def build(nodes: DataFrame, idCol: String, edges: DataFrame, maxHops: Int,
      dir: String, nBuckets: Int = 64, source: Option[String] = None): Unit = {
    require(maxHops >= 1, s"HyperBallStore.build: maxHops $maxHops < 1")
    require(nBuckets >= 1, s"HyperBallStore.build: nBuckets $nBuckets < 1")
    val spark = nodes.sparkSession
    val regsRoot = new org.apache.hadoop.fs.Path(s"$dir/regs")
    val fs = regsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // REBUILD discipline: invalidate the old manifest FIRST, then clear
    // the hop dirs. A rebuild crash anywhere after this point leaves a
    // manifest-less dir and readers fail with the clean "no _manifest"
    // message — never a stale manifest over deleted/mixed-graph hops
    // (extendTo's marker-free replay safety only holds on an UNCHANGED
    // graph; a rebuild is the changed-graph path)
    val manifestPath = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    if (fs.exists(manifestPath)) fs.delete(manifestPath, false)
    // full overwrite: stale hop dirs from an earlier, deeper build must
    // not survive under the new manifest
    if (fs.exists(regsRoot)) fs.delete(regsRoot, true)
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct().cache()
    try graft.Pins.scoped { scope =>
      val init = scope.pinCounted(
        ids.select(col("id"), HyperBall.initRegisters(col("id")).as("reg")))
      writeHop(init.df, dir, 0, nBuckets)
      scope.adopt(graft.Iterate(init.df, maxHops, done = (regs, d) => {
        writeHop(regs.state, dir, d, nBuckets); false
      })(r => HyperBall.registerRound(e, r.state)))
      writeManifest(spark, dir,
        Manifest(1, HyperBall.M, maxHops, init.rows, nBuckets, source))
    } finally e.unpersist()
  }

  /** [[build]] over a persisted [[LinkGraphStore]]'s edges, recording the
    * graph's state fingerprint in the manifest so staleness is DETECTABLE
    * afterwards ([[isStale]], the `*Checked` readouts). The fingerprint is
    * re-read after the propagation and must be unchanged — a graph mutated
    * mid-build would otherwise get certified registers that describe
    * neither its old nor its new state (the single-writer discipline makes
    * this a belt-and-braces check, but it costs one manifest read).
    */
  def buildFromGraph(spark: SparkSession, nodes: DataFrame, idCol: String,
      graphDir: String, maxHops: Int, dir: String, nBuckets: Int = 64): Unit = {
    val fp = LinkGraphStore.stateFingerprint(spark, graphDir)
    build(nodes, idCol, LinkGraphStore.loadEdges(spark, graphDir), maxHops,
      dir, nBuckets, Some(fp))
    val after = LinkGraphStore.stateFingerprint(spark, graphDir)
    require(after == fp,
      s"HyperBallStore.buildFromGraph: graph $graphDir mutated during the " +
        s"build ($fp -> $after) - the stored registers describe a mixed " +
        "state; rebuild")
  }

  /** [[extendTo]] over the graph the store was built from — refuses a
    * stale store first (deepening hops over a MUTATED graph would stamp a
    * fresh-looking horizon onto old-graph registers), re-checks the
    * fingerprint after, like [[buildFromGraph]].
    */
  def extendToFromGraph(spark: SparkSession, graphDir: String, dir: String,
      newMaxHops: Int): Unit = {
    val fp = LinkGraphStore.stateFingerprint(spark, graphDir)
    requireFresh(spark, dir, graphDir)
    extendTo(LinkGraphStore.loadEdges(spark, graphDir), dir, newMaxHops, Some(fp))
    requireFresh(spark, dir, graphDir)
  }

  /** True when the stored registers do NOT describe `graphDir`'s current
    * state: the graph mutated since the build/extend (epoch bump, fold, or
    * a delta-route append — the fingerprint sees all three), or the store
    * predates fingerprinting / was built from a raw edge frame (no
    * recorded source — conservatively stale: freshness is unverifiable).
    */
  def isStale(spark: SparkSession, dir: String, graphDir: String): Boolean =
    !loadManifest(spark, dir).source
      .contains(LinkGraphStore.stateFingerprint(spark, graphDir))

  /** Fail fast instead of silently serving the old graph's reach numbers.
    * Recovery is always [[build]]/[[buildFromGraph]]: edge growth
    * invalidates every stored hop (see class doc).
    */
  def requireFresh(spark: SparkSession, dir: String, graphDir: String): Unit =
    requireFreshM(loadManifest(spark, dir), dir, graphDir,
      LinkGraphStore.stateFingerprint(spark, graphDir))

  /** [[requireFresh]] against an already-loaded manifest + graph
    * fingerprint — the chain entry points read each exactly once.
    */
  private def requireFreshM(m: Manifest, dir: String, graphDir: String,
      now: String): Unit =
    require(m.source.contains(now),
      s"HyperBallStore: registers under $dir are STALE for graph $graphDir - " +
        s"built at ${m.source.getOrElse("<no recorded source>")}, graph now at " +
        s"$now. Edge-set changes invalidate every stored hop (new edges " +
        "shorten distances retroactively); rebuild with " +
        "HyperBallStore.buildFromGraph")

  /** Continue the propagation from the stored last hop to `newMaxHops`
    * on the SAME graph — bit-identical to a deeper rebuild (see class
    * doc for why this is the one sound incremental axis). Hops already
    * stored are never recomputed or rewritten.
    *
    * `source`: the manifest's source fingerprint AFTER the extend. A raw
    * edge frame has no verifiable identity, so the default DROPS any
    * stored certificate — extending a [[buildFromGraph]] store with
    * edges this method cannot tie to that graph must not leave a
    * fresh-looking fingerprint over possibly mixed registers
    * ([[isStale]] then reads conservatively stale; unchecked readouts
    * still serve). [[extendToFromGraph]] re-verifies and re-records it.
    */
  def extendTo(edges: DataFrame, dir: String, newMaxHops: Int,
      source: Option[String] = None): Unit = {
    val spark = edges.sparkSession
    val m = loadManifest(spark, dir)
    require(newMaxHops > m.maxHops,
      s"HyperBallStore.extendTo: newMaxHops $newMaxHops must exceed the stored " +
        s"horizon ${m.maxHops} (shallower readouts just read the stored hops)")
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct().cache()
    try graft.Pins.scoped { scope =>
      scope.adopt(graft.Iterate(scope.pin(readHop(spark, dir, m.maxHops)),
        newMaxHops - m.maxHops, done = (regs, i) => {
          writeHop(regs.state, dir, m.maxHops + i, m.nBuckets); false
        })(r => HyperBall.registerRound(e, r.state)))
      // manifest LAST; source per the scaladoc (None unless re-verified)
      writeManifest(spark, dir, m.copy(maxHops = newMaxHops, source = source))
    } finally e.unpersist()
  }

  /** [[HyperBall.neighborhoodEstimate]] served from the stored registers
    * at the manifest horizon (or a shallower `hops`).
    */
  def neighborhoodEstimate(spark: SparkSession, dir: String, idCol: String,
      hops: Int = -1): DataFrame = {
    val m = loadManifest(spark, dir)
    val d = if (hops < 0) m.maxHops else hops
    require(d >= 0 && d <= m.maxHops,
      s"HyperBallStore: hop $d outside the stored horizon [0, ${m.maxHops}]")
    readHop(spark, dir, d)
      .select(col("id").as(idCol), HyperBall.estimate(col("reg")).as("__e"))
      .select(col(idCol), col("__e.est_ball").as("est_ball"),
        col("__e.n_zero").as("n_zero"))
  }

  /** Point lookup: reach estimates for a SMALL driver-side id set,
    * reading ONLY the ids' hash buckets of one hop surface (the
    * bucket-partitioned layout's payoff — a "how connected is this
    * document" probe costs a few files, not a corpus scan).
    */
  def neighborhoodEstimateFor(spark: SparkSession, dir: String, idCol: String,
      ids: Seq[Long], hops: Int = -1): DataFrame = {
    val m = loadManifest(spark, dir)
    val d = if (hops < 0) m.maxHops else hops
    require(d >= 0 && d <= m.maxHops,
      s"HyperBallStore: hop $d outside the stored horizon [0, ${m.maxHops}]")
    require(ids.nonEmpty, "HyperBallStore.neighborhoodEstimateFor: empty id set")
    val buckets = ids.map { i =>
      // the write path's pmod(xxhash64(id), n) replayed driver-side:
      // same kernel (seed 42), same sign fold
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        i, org.apache.spark.sql.types.LongType, 42L)
      val n = m.nBuckets.toLong
      (((h % n) + n) % n).toInt
    }.distinct.sorted
    spark.read.schema(regsSchema).parquet(s"$dir/regs/hop=$d")
      .where(col("bucket").isInCollection(buckets) && col("id").isInCollection(ids))
      .select(col("id").as(idCol), HyperBall.estimate(col("reg")).as("__e"))
      .select(col(idCol), col("__e.est_ball").as("est_ball"),
        col("__e.n_zero").as("n_zero"))
  }

  /** [[HyperBall.neighborhoodFunction]] served from the stored snapshots
    * — identical expressions and fold order (bit-portable doubles).
    */
  def neighborhoodFunction(spark: SparkSession, dir: String, idCol: String): DataFrame = {
    val m = loadManifest(spark, dir)
    HyperBall.nfReadout(wideSnapshots(spark, dir, m.maxHops), idCol, m.maxHops)
  }

  /** [[HyperBall.distanceDistribution]] served from the stored snapshots. */
  def distanceDistribution(spark: SparkSession, dir: String, q: Double = 0.9,
      scaleBits: Int = 20): DataFrame = {
    val m = loadManifest(spark, dir)
    HyperBall.ddReadout(wideSnapshots(spark, dir, m.maxHops), spark, m.maxHops,
      q, scaleBits)
  }

  /** [[neighborhoodEstimate]] with the staleness gate on the serving
    * path: refuses to read registers the graph has outgrown.
    */
  def neighborhoodEstimateChecked(spark: SparkSession, dir: String,
      graphDir: String, idCol: String, hops: Int = -1): DataFrame = {
    requireFresh(spark, dir, graphDir)
    neighborhoodEstimate(spark, dir, idCol, hops)
  }

  /** [[neighborhoodFunction]] with the staleness gate. */
  def neighborhoodFunctionChecked(spark: SparkSession, dir: String,
      graphDir: String, idCol: String): DataFrame = {
    requireFresh(spark, dir, graphDir)
    neighborhoodFunction(spark, dir, idCol)
  }

  /** [[distanceDistribution]] with the staleness gate. */
  def distanceDistributionChecked(spark: SparkSession, dir: String,
      graphDir: String, q: Double = 0.9, scaleBits: Int = 20): DataFrame = {
    requireFresh(spark, dir, graphDir)
    distanceDistribution(spark, dir, q, scaleBits)
  }

  /** Stable fingerprint of THIS artifact's state, for downstream
    * [[graft.table.DerivedStore]] certificates. Manifest identity IS
    * register identity: the stored registers are a pure function of
    * (source graph, maxHops) — integer max-merges, bit-stable — so the
    * manifest fields plus the recorded graph fingerprint pin the content.
    * A store with no recorded source (raw edge frame / certificate-
    * dropping extend) fingerprints as `<unverified>`: a derived table
    * certified against it can detect a REBUILD of the registers, but
    * nothing ties either to a graph.
    */
  def stateFingerprint(spark: SparkSession, dir: String): String =
    fingerprintOf(loadManifest(spark, dir))

  private def fingerprintOf(m: Manifest): String =
    s"hyperball;v=${m.version};m=${m.m};hops=${m.maxHops};nodes=${m.nNodes};" +
      s"buckets=${m.nBuckets};src=${m.source.getOrElse("<unverified>")}"

  /** Persist the [[distanceDistribution]] readout as a
    * [[graft.table.DerivedStore]] certified against this store's
    * [[stateFingerprint]] — the q_reach_distribution pattern-mate of the
    * stored PageRank/components tables: the distribution is a pure
    * readout of the registers (hop-sized, tiny), so serving it from disk
    * skips the register scan AND the fixed-point recompute entirely.
    * `graphDir` gates BOTH ends: registers already stale for the graph
    * must not get a fresh-looking derived certificate, and a graph
    * mutating mid-save is caught by the re-check (buildFromGraph's
    * belt-and-braces discipline).
    */
  def saveDistanceDistribution(spark: SparkSession, dir: String,
      graphDir: String, outDir: String, q: Double = 0.9,
      scaleBits: Int = 20): Unit = {
    val m = loadManifest(spark, dir)
    requireFreshM(m, dir, graphDir, LinkGraphStore.stateFingerprint(spark, graphDir))
    graft.table.DerivedStore.save(distanceDistribution(spark, dir, q, scaleBits),
      outDir, fingerprintOf(m))
    // graph-mutated-mid-save caught here (buildFromGraph's belt-and-braces
    // rule); an HB REBUILD mid-save is caught at serve time instead — the
    // certificate records m's fingerprint, which the rebuilt store no
    // longer matches
    requireFreshM(m, dir, graphDir, LinkGraphStore.stateFingerprint(spark, graphDir))
  }

  /** The stored distribution, serving only when the WHOLE chain is fresh:
    * registers still describe `graphDir`'s current state AND the derived
    * table still describes the registers. A delta append to the link
    * graph flips leg 1 (the register store's manifest never changes);
    * a register rebuild/extend flips leg 2. One manifest read and one
    * graph fingerprint serve both legs.
    */
  def distanceDistributionStored(spark: SparkSession, outDir: String,
      dir: String, graphDir: String): DataFrame = {
    val m = loadManifest(spark, dir)
    requireFreshM(m, dir, graphDir, LinkGraphStore.stateFingerprint(spark, graphDir))
    graft.table.DerivedStore.loadChecked(spark, outDir, fingerprintOf(m))
  }

  /** Chained staleness for the stored distribution (see
    * [[distanceDistributionStored]] for the two legs).
    */
  def distributionIsStale(spark: SparkSession, outDir: String,
      dir: String, graphDir: String): Boolean = {
    val m = loadManifest(spark, dir)
    !m.source.contains(LinkGraphStore.stateFingerprint(spark, graphDir)) ||
      graft.table.DerivedStore.isStale(spark, outDir, fingerprintOf(m))
  }

  def loadManifest(spark: SparkSession, dir: String): Manifest = {
    import graft.sources.{ArtifactJson => J}
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"HyperBallStore: no _manifest.json under $dir - " +
      "build the artifact with HyperBallStore.build")
    val node = J.readFile(spark, s"$dir/_manifest.json")
    def num(f: String): Long = J.long(node, f, dir)
    val source = Option(node.get("source")).filter(_.isTextual).map(_.asText())
    Manifest(num("version").toInt, num("m").toInt, num("maxHops").toInt,
      num("nNodes"), num("nBuckets").toInt, source)
  }

  /** Stored registers of one hop (id, reg). */
  def readHop(spark: SparkSession, dir: String, d: Int): DataFrame =
    spark.read.schema(regsSchema).parquet(s"$dir/regs/hop=$d")
      .select(col("id"), col("reg"))

  // ---- internals ----

  /** The wide `(id, __reg1 … __regD)` frame the shared readouts consume,
    * reassembled from the stored hop tables by id-joins (node-sized; the
    * expensive part — propagation — is what the store amortizes).
    */
  private def wideSnapshots(spark: SparkSession, dir: String, maxHops: Int): DataFrame =
    (1 to maxHops).foldLeft(readHop(spark, dir, 0).select(col("id"))) { (acc, d) =>
      acc.join(readHop(spark, dir, d).select(col("id"), col("reg").as(s"__reg$d")),
        Seq("id"))
    }

  private def writeHop(regs: DataFrame, dir: String, d: Int, nBuckets: Int): Unit =
    regs.withColumn("bucket",
        pmod(xxhash64(col("id")), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("bucket")) // one file per bucket
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/regs/hop=$d")

  private def writeManifest(spark: SparkSession, dir: String, m: Manifest): Unit = {
    // Jackson-escape the fingerprint (it's machine-built, but a manifest
    // writer must never emit JSON by unescaped concatenation)
    val src = m.source.fold("") { s =>
      val esc = new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(s)
      s""","source":$esc"""
    }
    graft.sources.ArtifactJson.writeFile(spark, s"$dir/_manifest.json",
      s"""{"version":${m.version},"m":${m.m},"maxHops":${m.maxHops},""" +
        s""""nNodes":${m.nNodes},"nBuckets":${m.nBuckets}$src}""")
  }

  import org.apache.spark.sql.types._
  private val regsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("reg", ArrayType(IntegerType, containsNull = false)),
    StructField("bucket", IntegerType)))
}
