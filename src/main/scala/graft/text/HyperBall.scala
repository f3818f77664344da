package graft.text

import graft.functions.RegisterMaxAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperBall-style approximate neighborhood function (Boldi, Rosa &
  * Vigna 2011, public algorithm): per-node HLL registers, iterated
  * `registers(v) ← elementwise-max(registers(v), registers(u) for
  * v → u)` — after d rounds each node holds the registers of its exact
  * d-hop ball, because max-merge is idempotent (path overcounting
  * cannot inflate it).
  *
  * THIS is the all-roots answer at 100×: exact all-pairs centrality
  * materializes Σ|ball| (root, id) rows — measured 80 GB of spill and
  * an aborted job at the sf10 tier (SCALE.md round 9 finding 2) and
  * fail-fast-guarded since — while HyperBall shuffles |E| fixed-size
  * 64-int register arrays per round: O(hops · |E|) total, ball-size
  * independent, the published trick that took neighborhood functions to
  * web-graph scale. Trade-off: ~±13% standard error at m = 64 (raw
  * estimator, no small-range correction — see
  * [[graft.expressions.Hll.rawEstimate]]); exact lanes remain for
  * sampled roots ([[LinkGraph.centrality]]).
  *
  * Registers are integers and every merge is a max, so results are
  * BIT-DETERMINISTIC across partitionings — and the register/estimate
  * pipeline replays in DuckDB HUGEINT/BIGINT for a full oracle.
  */
object HyperBall {

  /** m = 64 registers (6-bit index / 58-bit rho domain) — fixed so the
    * oracle, the estimator constant (alpha_64 = 0.709), and the shuffle
    * width are all pinned.
    */
  val M: Int = graft.expressions.Hll.M

  private def b = org.apache.spark.sql.graftbridge.Bridge

  /** Singleton-ball registers of an id column. */
  def initRegisters(id: Column): Column =
    b.column(graft.expressions.HllInitRegisters(b.expression(id)))

  /** `struct<est_ball, n_zero>` readout of a register column. */
  def estimate(regs: Column): Column =
    b.column(graft.expressions.HllRawEstimate(b.expression(regs)))

  /** Per-node d-hop ball-size estimate over `edges (src, dst)`:
    * `(idCol, est_ball: double, n_zero: int)`. The ball INCLUDES the
    * node itself (est ≈ |B_d(v)|, v ∈ B_d(v)) — unlike
    * [[LinkGraph.centrality]]'s `reach`, which counts others only.
    * Each round: one equi-join of the register table against the edge
    * list + one map-side-combined max aggregation; register state is
    * localCheckpoint-pinned per round (same loop hygiene as the BFS).
    */
  def neighborhoodEstimate(nodes: DataFrame, idCol: String, edges: DataFrame,
      maxHops: Int): DataFrame = {
    val regs = propagate(nodes, idCol, edges, maxHops, perHop = false)
    regs.select(col("id").as(idCol), estimate(col("reg")).as("__e"))
      .select(col(idCol), col("__e.est_ball").as("est_ball"), col("__e.n_zero").as("n_zero"))
  }

  /** The approximate NEIGHBORHOOD FUNCTION readout — HyperBall's
    * original purpose: per-hop ball estimates `est_1 … est_maxHops`
    * plus the approximate harmonic centrality
    * `Σ_d (est_d − est_(d−1)) / d` (est_0 = the singleton-ball
    * estimate), evaluated left-to-right — the same fixed-order
    * expression contract as [[LinkGraph.centrality]]'s exact harmonic
    * lane, so the doubles are bit-portable and the DuckDB oracle
    * replays them exactly. Per-hop register snapshots ride the same
    * pinned loop (one extra narrow readout per hop, no extra shuffle).
    */
  def neighborhoodFunction(nodes: DataFrame, idCol: String, edges: DataFrame,
      maxHops: Int): DataFrame =
    nfReadout(propagate(nodes, idCol, edges, maxHops, perHop = true), idCol, maxHops)

  /** The neighborhood-function readout over a wide per-hop snapshot frame
    * `(id, __reg1 … __regMaxHops)` — extracted so [[HyperBallStore]] can
    * serve the SAME expressions (bit-portable doubles, same fold order)
    * from stored registers.
    */
  private[graft] def nfReadout(hops: DataFrame, idCol: String, maxHops: Int): DataFrame = {
    val perHopCols = (1 to maxHops).map(d =>
      estimate(col(s"__reg$d")).getField("est_ball").as(s"est_$d"))
    val base = hops.select(col("id") +: perHopCols: _*)
      .withColumn("__e0", estimate(initRegisters(col("id"))).getField("est_ball"))
    val harmonic = (1 to maxHops)
      .map(d => (col(s"est_$d") - col(if (d == 1) "__e0" else s"est_${d - 1}")) / lit(d.toDouble))
      .reduce(_ + _)
    base.select(
      (col("id").as(idCol) +: (1 to maxHops).map(d => col(s"est_$d"))) :+
        harmonic.as("harmonic_est"): _*)
  }

  /** The global DISTANCE DISTRIBUTION readout — HyperANF's headline
    * product: `N(d) = Σ_v |B_d(v)|` per hop, its fraction of `N(maxHops)`,
    * and the reach-q flag whose first true row is the EFFECTIVE DIAMETER
    * at quantile `q` (the classic "90% of connected pairs within d hops"
    * statistic — the one-number summary of how tangled a corpus link
    * graph is).
    *
    * Determinism: per-node estimates are bit-exact (pinned-order folds),
    * but a DOUBLE sum over nodes would be partition-order-dependent — so
    * the global sum runs in FIXED POINT: each node contributes
    * `floor(est · 2^scaleBits)` (one IEEE multiply + floor, bit-portable)
    * and the Σ is exact Long addition. `frac` is then a single division
    * of exact longs. Same philosophy as the fixed-point PageRank lane.
    * 64-bit headroom: nodes · maxEst · 2^scaleBits must stay under 2^63 —
    * at 10⁹ nodes drop `scaleBits` to ~10 (the default 20 covers any
    * graph whose Σ ball estimate is < ~8.8 × 10¹².)
    *
    * Returns one row per hop 0…maxHops: `(hop, nf_fp, frac, reaches_q)`.
    */
  def distanceDistribution(nodes: DataFrame, idCol: String, edges: DataFrame,
      maxHops: Int, q: Double = 0.9, scaleBits: Int = 20): DataFrame =
    ddReadout(propagate(nodes, idCol, edges, maxHops, perHop = true),
      nodes.sparkSession, maxHops, q, scaleBits)

  /** The distance-distribution readout over the wide per-hop snapshot
    * frame — extracted for [[HyperBallStore]] (same fixed-point Σ).
    */
  private[graft] def ddReadout(hops: DataFrame, spark: org.apache.spark.sql.SparkSession,
      maxHops: Int, q: Double, scaleBits: Int): DataFrame = {
    require(q > 0.0 && q <= 1.0, s"HyperBall.distanceDistribution: q $q outside (0, 1]")
    require(scaleBits >= 0 && scaleBits <= 30,
      s"HyperBall.distanceDistribution: scaleBits $scaleBits outside [0, 30]")
    val scale = (1L << scaleBits).toDouble
    val fpSums = (0 to maxHops).map { d =>
      val est =
        if (d == 0) estimate(initRegisters(col("id"))).getField("est_ball")
        else estimate(col(s"__reg$d")).getField("est_ball")
      sum(floor(est * lit(scale)).cast("long")).as(s"__n$d")
    }
    val sums = hops.agg(fpSums.head, fpSums.tail: _*).head()
    require(!sums.isNullAt(0), "HyperBall.distanceDistribution: empty node set")
    val nf = (0 to maxHops).map(d => sums.getLong(d))
    val total = nf.last
    import spark.implicits._
    (0 to maxHops).map { d =>
      val frac = nf(d).toDouble / total.toDouble
      (d.toLong, nf(d), frac, frac >= q)
    }.toDF("hop", "nf_fp", "frac", "reaches_q")
  }

  private def propagate(nodes: DataFrame, idCol: String, edges: DataFrame,
      maxHops: Int, perHop: Boolean): DataFrame = {
    require(maxHops >= 1, s"HyperBall: maxHops $maxHops < 1")
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct().cache()
    val init = nodes.select(col(idCol).as("id"))
      .select(col("id"), initRegisters(col("id")).as("reg"))
      .localCheckpoint(true)
    // per-hop mode keeps every round's pin live (the final join reads
    // them all); otherwise the driver releases each superseded round
    var snapshots = init.select(col("id"))
    def snapshot(regs: graft.Iterate.Next, d: Int): Boolean = {
      if (perHop) snapshots = snapshots.join(
        regs.state.select(col("id"), col("reg").as(s"__reg$d")), Seq("id"))
      false
    }
    val regs = try graft.Iterate(init, maxHops, retain = perHop, done = snapshot) { r =>
      registerRound(e, r.state)
    } finally e.unpersist()
    if (perHop) snapshots else regs
  }

  /** One max-merge round over `regs (id, reg)`: ball(v) ⊇ ball(u) for
    * every edge v → u, so v pulls u's registers. Shared with
    * [[HyperBallStore]].
    */
  private[graft] def registerRound(e: DataFrame, regs: DataFrame): DataFrame = {
    val nb = e.join(regs, col("dst") === col("id"))
      .select(col("src").as("id"), col("reg"))
    regs.unionAll(nb)
      .groupBy(col("id")).agg(RegisterMaxAgg.registerMax(col("reg"), M).as("reg"))
  }
}
