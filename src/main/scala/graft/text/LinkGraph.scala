package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph quality scoring — neighborhood centrality over a
  * (src, dst) edge table, the graph signal a pretraining pipeline feeds
  * into document quality weights (well-connected pages/domains rank
  * above orphans; PageRank-family scores are the classic form).
  *
  * Design choice: BOUNDED-HOP centrality, all-integer BFS — not float
  * PageRank. Power-iteration PageRank accumulates floating-point sums
  * whose value depends on partition order, so two runs (or two engines)
  * disagree in final ulps and no bit-exact oracle exists. Min-distance
  * hop counts are integers: `harmonic` below is a FIXED-ORDER expression
  * over those integers (n₁/1 + n₂/2 + … evaluated left-to-right), so
  * results are bit-identical across engines, runs, and partitionings —
  * the same determinism contract as the rest of the engine. Bounded-hop
  * harmonic centrality also matches how web-quality signals are used in
  * practice: influence beyond a few hops is noise, and the bound is what
  * makes the computation tractable at all on a 100 TB corpus graph.
  *
  * Scale shape: iteration d is one (frontier ⨝ edges) equi-join plus an
  * anti-join against the reached set — the [[graft.dedup.Decontaminate.transitiveContamination]]
  * frontier machinery run from ALL roots at once. Everything that
  * shuffles is (root, id) integer pairs; the reached set's size is
  * Σ_root |B_d(root)| — the output's own size, inherent to all-pairs
  * centrality, kept linear-ish by the hop bound and by capping hub
  * degree upstream (see the df cap in the q_link_score edge builder:
  * a span shared by thousands of documents is boilerplate, not signal,
  * and would otherwise make the pair join quadratic).
  */
object LinkGraph {

  /** Checkpoint cadence inside the iterative loops (optimization round
    * 19): iterations CHAIN inside one plan — nothing in a pageRank round
    * body is consumed twice, every exchange materializes its own output,
    * so a per-iteration localCheckpoint bought no reuse and cost one
    * driver barrier + a full rank-table materialization per iteration
    * (guide §2.6: per-round job submission is the fixed cost that made
    * the iterative lanes run FASTER on 8 cores than 32 at sf0.1 —
    * PERF_r18 scaling 0.55). A pin every [[CheckpointEvery]] iterations
    * bounds plan depth and lineage for large `iters`; the declared lanes
    * (iters ≤ 3) run as ONE job. One-JVM A/B (sf0.1): chained 0.97 s vs
    * per-iteration pins 1.15 s, rank tables bit-identical
    * (OPTIMIZATION_r19.md §1).
    */
  private val CheckpointEvery = 8

  /** Default [[centrality]] density-guard bound: ~10⁹ (root, id) rows ≈
    * tens of GB of closure state — past this, an uncapped all-roots BFS
    * is a cluster-killer, not a query (measured: 80 GB of spill and an
    * aborted job at the 100× tier, SCALE.md round 9 finding 2).
    */
  val DefaultMaxEstimatedReach: Long = 1L << 30

  /** Per-node bounded-hop centrality: `(idCol, n_hop_1 … n_hop_maxHops,
    * reach, harmonic)` where `n_hop_d` counts nodes at MIN distance
    * exactly `d`, `reach` their sum, and `harmonic` = Σ_d n_hop_d / d
    * (fixed evaluation order, see class doc). Nodes absent from `edges`
    * report all-zero lanes (harmonic 0.0). Directed: follow `src → dst`;
    * pass both directions for an undirected graph.
    *
    * DENSITY GUARD (fail-fast, same pattern as simHashPairs'
    * `maxHamming < bands` and knnClassify's `maxQueries`): before the
    * closure starts, one aggregation over the already-materialized edge
    * table probes |E| and the mean out-degree, and the geometric reach
    * estimate `Σ_d |roots| · avgDeg^d` must stay under
    * `maxEstimatedReach` ([[DefaultMaxEstimatedReach]]). The estimate
    * ignores ball saturation, so it over-counts on dense graphs —
    * exactly the cases that must fail fast; sparse real link graphs pass
    * with orders of magnitude to spare. Overrides, in preference order:
    * sample the roots (the corpus-scale shape — see q_link_score_sampled),
    * bound the balls with [[centralityCapped]], or raise/disable the
    * bound explicitly (`maxEstimatedReach = Long.MaxValue`) when the
    * closure size is a measured, accepted cost.
    */
  def centrality(nodes: DataFrame, idCol: String, edges: DataFrame, maxHops: Int): DataFrame =
    centrality(nodes, idCol, edges, maxHops, DefaultMaxEstimatedReach)

  /** [[centrality]] with an explicit density-guard bound (see above). */
  def centrality(nodes: DataFrame, idCol: String, edges: DataFrame, maxHops: Int,
      maxEstimatedReach: Long): DataFrame = {
    require(maxEstimatedReach >= 1,
      s"LinkGraph.centrality: maxEstimatedReach $maxEstimatedReach < 1")
    centralityImpl(nodes, idCol, edges, maxHops, maxReachPerRoot = None,
      maxEstimatedReach = maxEstimatedReach)
  }

  /** [[centrality]] with a per-root BALL-SIZE cap — the BFS analog of the
    * edge builder's df cap, for graphs with supernode components: a root
    * whose reached ball exceeds `maxReachPerRoot` after a hop stops
    * expanding (its frontier is dropped), so one pathological component
    * cannot blow the (root, id) table up to |component|² while every
    * healthy root still computes exactly. Capped roots report their
    * PARTIAL hop lanes with `capped = true` — a flagged lower bound, not
    * a silent wrong answer; uncapped roots carry `capped = false` and
    * values identical to [[centrality]]. Costs one extra per-root count
    * aggregation per hop (map-side combined, (root, cnt) rows only).
    */
  def centralityCapped(nodes: DataFrame, idCol: String, edges: DataFrame, maxHops: Int,
      maxReachPerRoot: Long): DataFrame = {
    require(maxReachPerRoot >= 1,
      s"LinkGraph.centralityCapped: maxReachPerRoot $maxReachPerRoot < 1")
    centralityImpl(nodes, idCol, edges, maxHops, Some(maxReachPerRoot),
      maxEstimatedReach = Long.MaxValue)
  }

  private def centralityImpl(nodes: DataFrame, idCol: String, edges: DataFrame,
      maxHops: Int, maxReachPerRoot: Option[Long], maxEstimatedReach: Long): DataFrame = {
    require(maxHops >= 1, s"LinkGraph.centrality: maxHops $maxHops < 1")
    val reached = graft.Pins.scoped { scope =>
      val e = scope.adopt(edges.select(col("src"), col("dst"))
        .where(col("src") =!= col("dst")).distinct().cache())
      // reached: (root, id, d) with d = min hops root → id; seed d = 0 rows
      // keep every node present in the output even when isolated
      val seed = scope.pinCounted(nodes.select(col(idCol).as("root"), col(idCol).as("id"),
        lit(0).as("d")))
      // density guard for the UNCAPPED closure (capped runs are bounded by
      // construction): one cheap aggregation over the cached edges, then
      // fail fast BEFORE any closure state accumulates. The probe rides on
      // data the loop needs cached anyway; see the [[centrality]] scaladoc.
      if (maxReachPerRoot.isEmpty && maxEstimatedReach < Long.MaxValue) {
        // approx_count_distinct, not exact: the probe must stay one
        // map-side-combined pass even on a 10⁹-edge table (an exact
        // distinct is itself a full shuffle), and a ±2% HLL error cannot
        // flip a guard whose failure mode is orders of magnitude
        val probe = e.agg(count(lit(1)).as("m"),
          approx_count_distinct(col("src")).as("s")).head()
        val m = probe.getLong(0)
        val avgDeg = m.toDouble / math.max(1L, probe.getLong(1))
        var est = 0.0
        var term = seed.rows.toDouble
        var i = 0
        while (i < maxHops && est <= maxEstimatedReach.toDouble) {
          term *= avgDeg; est += term; i += 1
        }
        if (est > maxEstimatedReach.toDouble)
          throw new IllegalArgumentException(
            f"LinkGraph.centrality: estimated closure size $est%.3g (root, id) rows " +
              f"(${seed.rows} roots x avg out-degree $avgDeg%.1f over $maxHops hops, " +
              s"$m edges) exceeds maxEstimatedReach $maxEstimatedReach - an uncapped " +
              "all-roots BFS at this density is a measured disk-exhaustion footgun. " +
              "Sample the roots, use centralityCapped(maxReachPerRoot), or pass " +
              "centrality(..., maxEstimatedReach) explicitly to accept the cost.")
      }
      // one hop per round; a hop that adds no row ends the walk early
      graft.Iterate(seed.df, maxHops, done = graft.Iterate.rowsUnchanged(seed.rows)) { r =>
        // the frontier (nodes first reached by the previous hop) is read
        // out of the pinned state; roots whose ball is over the cap expand
        // no further (their reached rows stay — flagged partial below)
        val fresh = r.state.where(col("d") === r.number - 1).select(col("root"), col("id"))
        val frontier = maxReachPerRoot.filter(_ => r.number > 1).fold(fresh) { cap =>
          fresh.join(r.state.groupBy(col("root")).agg(count(lit(1)).as("__n"))
            .where(col("__n") > cap).select(col("root")), Seq("root"), "left_anti")
        }
        // BFS step as ONE aggregation (optimization round 18): the old
        // shape shuffled the hop's candidate set twice (distinct + the
        // anti-join against reached) before the union; min(d) over
        // reached ∪ candidates is the same min-distance semantics — a
        // node rediscovered at hop d keeps its earlier d, a fresh node
        // enters with d — in a single (root, id) exchange (guide §2.4).
        val candidates = frontier.join(e, col("id") === col("src"))
          .select(col("root"), col("dst").as("id"), lit(r.number).as("d"))
        r.state.unionAll(candidates)
          .groupBy(col("root"), col("id")).agg(min(col("d")).as("d"))
      }
    }
    val hopAggs = (1 to maxHops).map(i =>
      sum(when(col("d") === i, 1L).otherwise(0L)).as(s"n_hop_$i"))
    // the ball each root had before the last hop: rows only ever enter
    // with the current hop as their d, so it is the rows with d < maxHops
    // (every row, when the walk ended early). A root stopped by the cap
    // had that ball over the cap; maxHops == 1 never truncates.
    val settled = sum(when(col("d") < maxHops, 1L).otherwise(0L)).as("__settled")
    val aggs = if (maxReachPerRoot.isDefined) hopAggs :+ settled else hopAggs
    val agg = reached.groupBy(col("root").as(idCol)).agg(aggs.head, aggs.tail: _*)
    val reach = (1 to maxHops).map(i => col(s"n_hop_$i")).reduce(_ + _)
    val harmonic = (1 to maxHops)
      .map(i => col(s"n_hop_$i").cast("double") / lit(i.toDouble))
      .reduce(_ + _)
    val base = agg.withColumn("reach", reach).withColumn("harmonic", harmonic)
    maxReachPerRoot.fold(base)(cap =>
      base.withColumn("capped", col("__settled") > cap).drop("__settled"))
  }

  /** Damped PageRank power iteration in FIXED-POINT integer arithmetic —
    * the float-PageRank determinism objection (class doc) resolved rather
    * than avoided: ranks are Long fixed-point units (`scale` units of
    * total mass), per-edge contributions are integer divisions, and Long
    * addition is exactly commutative/associative, so the result is
    * BIT-IDENTICAL across partitionings, runs, and engines — DuckDB
    * replays it in BIGINT arithmetic for a full oracle.
    *
    * Formula per iteration (all integer, truncating division; every
    * intermediate provably fits a signed 64-bit at ANY corpus size
    * because total mass never exceeds `scale`):
    * {{{
    *   teleport   = ((dampDen - dampNum) * scale / dampDen) / N
    *   contrib(e) = rank(src) / outdeg(src)
    *   rank'(v)   = teleport + dampNum * Σ contrib(e into v) / dampDen
    * }}}
    * Truncation loses ≤ 1 unit per division (≤ |E| + N units of mass per
    * iteration ≈ 10⁻¹² relative at the default scale) and loses it
    * DETERMINISTICALLY. Dangling-node mass is dropped, not redistributed
    * (the cheap, shuffle-free variant; symmetric edge tables have no
    * dangling nodes). Unlike all-pairs centrality there is no closure
    * state: each iteration shuffles |E| contribution rows + N rank rows,
    * so no density guard is needed — cost is linear in edges per
    * iteration at any scale.
    *
    * NODE-SET CONTRACT (here and in [[pageRankPersonalized]] /
    * [[pageRankWeighted]]): edge `dst`s are expected to be ⊆ `nodes`.
    * Since the r18 union-into-aggregate shape, a dst OUTSIDE the node
    * set enters the rank table (receiving teleport mass and propagating
    * through its own out-edges in later iterations) and appears in the
    * output — where the pre-r18 shape silently dropped it. Every in-repo
    * caller derives edges and nodes from the same corpus, so the two
    * agree there; a caller with an edge table not closed over `nodes`
    * must pre-filter (`edges.join(nodes, edges("dst") === nodes(id),
    * "left_semi")`) to get node-set-only ranks. Pinned by
    * LinkGraphSpec's foreign-dst row; NOT filtered here — the semi-join
    * would tax every well-formed caller's |E| for a precondition they
    * already meet.
    *
    * Returns `(idCol, rank_fp: long, score: double = rank_fp / scale)`.
    */
  def pageRank(nodes: DataFrame, idCol: String, edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iters >= 1, s"LinkGraph.pageRank: iters $iters < 1")
    require(dampNum > 0 && dampNum < dampDen, s"LinkGraph.pageRank: damping $dampNum/$dampDen")
    require(scale >= 1 && scale <= Long.MaxValue / dampDen,
      s"LinkGraph.pageRank: scale $scale would overflow the damping multiply")
    // cached (lazy, populated by the n-count below): consumed by every
    // iteration's zero-contribution lane — uncached, a chained plan would
    // re-scan the node source 2·iters times
    val ids = nodes.select(col(idCol).as("id")).cache()
    val ewd = degreeEdges(edges).cache()
    try {
      val n = ids.count()
      if (n == 0) throw new IllegalArgumentException("LinkGraph.pageRank: empty node set")
      val teleport = ((dampDen - dampNum).toLong * scale / dampDen) / n
      // iterations chain into one plan; see [[CheckpointEvery]]. The final
      // pin materializes the whole chained tail as ONE job before the
      // caches its lineage reads are freed
      rankReadout(graft.Iterate(ids.withColumn("r", lit(scale / n)), iters, CheckpointEvery) { r =>
        pageRankStep(r.state, ids, ewd, "r div __deg", teleport, dampNum, dampDen)
      }, idCol, scale)
    } finally { ids.unpersist(); ewd.unpersist() }
  }

  /** `(src, dst, __deg)`: the distinct non-loop edges with their source's
    * out-degree, cached by [[pageRank]] as both the degree and the join
    * side of every iteration (the one data-sized table in the loop).
    */
  private[graft] def degreeEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct()
    e.join(e.groupBy(col("src")).agg(count(lit(1)).as("__deg")), Seq("src"))
  }

  /** One [[pageRank]] iteration over `ranks (id, r)`, with `contrib` the
    * per-edge contribution over the `ewd` columns. `div`, not `/`: Spark's
    * `/` on longs is DOUBLE division — the fixed-point contract needs
    * truncating integer division. The node set rides the aggregation as
    * zero-contribution rows (optimization round 18): the r17 shape
    * aggregated contributions and then LEFT-JOINED ids back in — one extra
    * node-sized join per iteration; Σ over the union is the same exact
    * Long sum, and every id is present by construction (guide §2.4).
    */
  private[graft] def pageRankStep(ranks: DataFrame, ids: DataFrame, ewd: DataFrame,
      contrib: String, teleport: Long, dampNum: Int, dampDen: Int): DataFrame = {
    val c = ranks.join(ewd, col("id") === col("src"))
      .select(col("dst").as("id"), expr(contrib).as("__c"))
    ids.withColumn("__c", lit(0L)).unionAll(c)
      .groupBy(col("id")).agg(sum(col("__c")).as("__s"))
      .select(col("id"),
        (lit(teleport) + expr(s"(${dampNum}L * __s) div ${dampDen}L")).as("r"))
  }

  private def rankReadout(ranks: DataFrame, idCol: String, scale: Long): DataFrame =
    ranks.select(col("id").as(idCol), col("r").as("rank_fp"),
      (col("r").cast("double") / lit(scale.toDouble)).as("score"))

  /** Personalized (seed-biased) PageRank — the TrustRank-family quality
    * signal (Gyöngyi/Garcia-Molina/Pedersen, VLDB 2004 — public): all
    * teleport mass returns to a SEED set (trusted/curated pages), so
    * rank measures proximity to the seeds through link structure —
    * spam farms far from every seed starve even when they interlink
    * densely, the property plain PageRank lacks. Same fixed-point Long
    * arithmetic and bit-determinism contract as [[pageRank]]; the only
    * changes are the initial distribution (`scale / |seeds|` on seeds,
    * 0 elsewhere) and the per-iteration teleport (seeds only). Dangling
    * mass is dropped, exactly as in [[pageRank]].
    *
    * Returns `(idCol, rank_fp, score)` for every node in `nodes`.
    */
  def pageRankPersonalized(nodes: DataFrame, idCol: String, edges: DataFrame,
      seeds: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iters >= 1, s"LinkGraph.pageRankPersonalized: iters $iters < 1")
    require(dampNum > 0 && dampNum < dampDen,
      s"LinkGraph.pageRankPersonalized: damping $dampNum/$dampDen")
    require(scale >= 1 && scale <= Long.MaxValue / dampDen,
      s"LinkGraph.pageRankPersonalized: scale $scale would overflow the damping multiply")
    val ewd = degreeEdges(edges).cache()
    try graft.Pins.scoped { scope =>
      // (id, __seed) pinned once: consumed by the seed count, the initial
      // distribution, and every iteration's teleport lane
      val idsFlag = scope.pin(nodes.select(col(idCol).as("id"))
        .join(seeds.select(col(idCol).as("id")).distinct().withColumn("__s", lit(true)),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__s"), lit(false)).as("__seed")))
      val nSeeds = idsFlag.where(col("__seed")).count()
      if (nSeeds == 0) throw new IllegalArgumentException(
        "LinkGraph.pageRankPersonalized: no seed is in the node set")
      val teleport = ((dampDen - dampNum).toLong * scale / dampDen) / nSeeds
      val init = idsFlag.select(col("id"),
        when(col("__seed"), lit(scale / nSeeds)).otherwise(lit(0L)).as("r"))
      // iterations chain into one plan; see [[CheckpointEvery]]
      rankReadout(graft.Iterate(init, iters, CheckpointEvery) { r =>
        // same union-into-the-aggregate shape as [[pageRankStep]]: the
        // node rows carry their seed flag and zero contribution; contrib
        // rows carry false, so max(__seed) restores the flag exactly
        // (every id has exactly one idsFlag row)
        val contrib = r.state.join(ewd, col("id") === col("src"))
          .select(col("dst").as("id"), expr("r div __deg").as("__c"), lit(false).as("__seed"))
        idsFlag.select(col("id"), lit(0L).as("__c"), col("__seed"))
          .unionAll(contrib)
          .groupBy(col("id")).agg(sum(col("__c")).as("__s"), max(col("__seed")).as("__sd"))
          .select(col("id"),
            (when(col("__sd"), lit(teleport)).otherwise(lit(0L)) +
              expr(s"(${dampNum}L * __s) div ${dampDen}L")).as("r"))
      }, idCol, scale)
    } finally ewd.unpersist()
  }

  /** [[pageRank]] with per-edge Long weights (`edges: (src, dst,
    * weight)`) — contribution `(rank·w) / W(src)` instead of
    * `rank / outdeg`, all integer, same bit-determinism contract.
    * Duplicate (src, dst) rows are weight-SUMMED (one |E| aggregation
    * per call, not per iteration). Two fail-fast overflow guards ride
    * the same aggregation: per-source total weight `W(src)` and the
    * `scale · maxWeight` product must fit the damping multiply — probed
    * before any iteration starts, with the formula in the message.
    */
  def pageRankWeighted(nodes: DataFrame, idCol: String, edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampNum: Int = 85, dampDen: Int = 100,
      maxSourceWeight: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"LinkGraph.pageRankWeighted: iters $iters < 1")
    require(dampNum > 0 && dampNum < dampDen,
      s"LinkGraph.pageRankWeighted: damping $dampNum/$dampDen")
    require(scale >= 1 && scale <= Long.MaxValue / dampDen,
      s"LinkGraph.pageRankWeighted: scale $scale would overflow the damping multiply")
    val ids = nodes.select(col(idCol).as("id")).cache() // see pageRank
    val e = edges.select(col("src"), col("dst"), col("weight").cast("long").as("weight"))
      .where(col("src") =!= col("dst") && col("weight") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
    val ewd = e.join(
        e.groupBy(col("src")).agg(sum(col("weight")).as("__wsum")), Seq("src"))
      .cache()
    try {
      // overflow guard (fail fast, riding the cached edge table): the
      // per-edge product rank·weight is bounded by scale·maxW, which must
      // stay under Long.MaxValue with headroom for the damping multiply
      val maxW = ewd.agg(max(col("__wsum"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      if (maxW > maxSourceWeight) throw new IllegalArgumentException(
        s"LinkGraph.pageRankWeighted: max per-source weight $maxW exceeds " +
          s"maxSourceWeight $maxSourceWeight - rank*weight products at scale $scale " +
          s"could overflow 64-bit (bound: scale*maxW <= ${Long.MaxValue}). Rescale " +
          "the weights (only ratios within a source matter) or raise maxSourceWeight " +
          "explicitly after checking the product bound.")
      if (maxW != 0 && scale > Long.MaxValue / maxW) throw new IllegalArgumentException(
        s"LinkGraph.pageRankWeighted: scale $scale * max weight $maxW overflows 64-bit")
      val n = ids.count()
      if (n == 0) throw new IllegalArgumentException("LinkGraph.pageRankWeighted: empty node set")
      val teleport = ((dampDen - dampNum).toLong * scale / dampDen) / n
      // iterations chain into one plan; see [[CheckpointEvery]]
      rankReadout(graft.Iterate(ids.withColumn("r", lit(scale / n)), iters, CheckpointEvery) { r =>
        pageRankStep(r.state, ids, ewd, "(r * weight) div __wsum", teleport, dampNum, dampDen)
      }, idCol, scale)
    } finally { ids.unpersist(); ewd.unpersist() }
  }

  /** Shared-span document graph: symmetric (src, dst) edges between
    * documents sharing at least one w-token shingle whose document
    * frequency lies in [2, maxDf]. The df cap drops boilerplate spans —
    * they carry no linkage signal and are exactly the spans that would
    * make the pair join quadratic (same hygiene as LSH bucket caps).
    *
    * Shape (optimization round 18): ONE corpus scan + explode, one
    * shuffle grouping spans by hash with a SIZE-CAPPED distinct-id set
    * ([[graft.functions.BoundedSetAgg]], cap = maxDf + 1 — the buffer is
    * O(maxDf) on any df distribution, so boilerplate hubs never
    * materialize their id list), local pair generation inside each kept
    * group (≤ maxDf·(maxDf−1) rows, both directions emitted inline), and
    * one distinct shuffle. The previous formulation (df aggregation +
    * span⨝rare + span-pair self-join + per-direction union) planned the
    * corpus scan+shingle explode SIXTEEN times and five exchanges —
    * measured in plans/r18/inner_sharedSpanEdges_before.txt; guide §2.3/
    * §2.4 (shuffle fewer bytes / remove shuffles outright).
    */
  def sharedSpanEdges(docs: DataFrame, idCol: String, textCol: String,
      w: Int, maxDf: Int): DataFrame =
    spanPairGroups(docs, idCol, textCol, w, maxDf)
      .select(explode(bothDirectionPairs).as("__p"))
      .select(col("__p.src").as("src"), col("__p.dst").as("dst"))
      .distinct()

  /** Spans grouped by hash with the COMPLETE distinct-id set for every
    * span whose df lies in [2, maxDf]: the capped collect returns
    * maxDf + 1 elements for any hub span (true df ≥ maxDf + 1), which
    * the size filter drops — never pairing boilerplate, exactly like the
    * old countDistinct + semi-join, in one aggregation.
    */
  private def spanPairGroups(docs: DataFrame, idCol: String, textCol: String,
      w: Int, maxDf: Int): DataFrame = {
    import graft.functions.{TextFunctions => T}
    docs.select(col(idCol).as("__id"),
        explode(T.shingleHashes(col(textCol), w)).as("__h"))
      .groupBy(col("__h"))
      .agg(graft.functions.BoundedSetAgg
        .boundedDistinctSet(col("__id"), maxDf + 1).as("__ids"))
      .where(size(col("__ids")) >= 2 && size(col("__ids")) <= maxDf)
  }

  /** All ordered pairs of a kept group's sorted id array, both edge
    * directions emitted inline (array of `struct<src, dst>`): replaces
    * the old pairs-table self-union, so the plan stays ONE tree instead
    * of duplicating the whole build per direction.
    */
  private def bothDirectionPairs =
    expr("""flatten(transform(__ids, (x, i) ->
             flatten(transform(slice(__ids, i + 2, size(__ids)), y ->
               array(named_struct('src', x, 'dst', y),
                     named_struct('src', y, 'dst', x))))))""")

  /** Per-document span-novelty profile — the inverse signal of the link
    * graph: how much of a document is UNIQUE vs shared vs boilerplate.
    * For each document's distinct w-token spans, counts them by corpus
    * document frequency: `n_unique` (df = 1), `n_shared` (2 ≤ df ≤
    * maxDf — the linkage band), `n_boilerplate` (df > maxDf), plus the
    * ratios. High boilerplate fraction = template/spam page; high
    * novelty = original content — the standard span-level curation
    * signal. One span explode + one df aggregation + one per-doc rollup
    * (all map-side combined); no pair join anywhere, so unlike the edge
    * builder this stays cheap on ANY df distribution.
    */
  def spanNovelty(docs: DataFrame, idCol: String, textCol: String,
      w: Int, maxDf: Int): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val spans = docs.select(col(idCol).as("__id"),
      explode(T.shingleHashes(col(textCol), w)).as("__h"))
    val df = spans.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__df"))
    val counts = spans.join(df, Seq("__h"))
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("__df") >= 2 && col("__df") <= maxDf, 1L).otherwise(0L)).as("n_shared"),
        sum(when(col("__df") > maxDf, 1L).otherwise(0L)).as("n_boilerplate"))
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

  /** Connected components via the alternating large-star / small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014 — public): each node is labeled with the MINIMUM
    * id reachable in its component, plus the component size. Undirected:
    * edge direction is ignored (pass either or both directions).
    *
    * Why a second components implementation next to
    * [[graft.dedup.Dedup.clusterRepresentatives]]: min-label propagation
    * converges in O(diameter) rounds — fine for near-dup graphs (star-ish
    * cliques, diameter ≲ 3) but pathological on CHAIN-shaped components
    * (template drift over time, CDC-chunk overlap chains, crawl-path
    * link graphs), where a length-10⁴ chain costs 10⁴ shuffles. The
    * alternating star algorithm contracts components in O(log n) rounds
    * regardless of diameter (proven O(log² n) worst case; single-digit
    * rounds in practice), with per-round cost linear in |E| — the right
    * default for a 100 TB corpus graph whose component shapes are
    * unknown. Per round: large-star hangs every node's strictly-larger
    * neighbors off the neighborhood minimum (cutting tall trees into
    * broad ones), small-star re-points not-larger neighbors at it
    * (contracting them) — both single join+agg passes over canonical
    * (hi > lo) edge pairs, pinned per round so round k reads materialized
    * edges, not the k-deep join lineage.
    *
    * Convergence is detected STRUCTURALLY (exact, not a hash heuristic):
    * the edge set is a fixed point iff every `hi` maps to exactly one
    * distinct `lo` and no `lo` appears as a `hi` — which forces each
    * component to be a star rooted at its minimum (a root that were not
    * the component min would appear on both sides). The probe is one
    * aggregation over a 2|E|-row union, short-circuited with `limit(1)`,
    * and runs only on rounds that leave the edge count unchanged. That
    * count is the one [[graft.Iterate]] hands over from the job that pins
    * the round's edges, so the gate costs no job of its own.
    *
    * `maxRounds` counts the rounds run, and at least one round runs even
    * on an input that is already a star (the probe only follows a round),
    * so a bound must leave room for that round. Exhausting it throws an
    * `IllegalStateException` rather than return a partial labeling.
    *
    * Returns `(idCol, rep, component_size)` for every node in `nodes`;
    * isolated nodes report `rep = id, component_size = 1`. Works for any
    * orderable id type (numeric, string). Bit-deterministic: min/star
    * operations are exact set transforms, no floats anywhere.
    */
  def connectedComponents(nodes: DataFrame, idCol: String, edges: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    require(maxRounds >= 1, s"LinkGraph.connectedComponents: maxRounds $maxRounds < 1")
    val canon = graft.Pins.counted(canonicalEdges(edges))
    // convergence = the EXACT star-fixpoint probe, but gated behind
    // edge-count stability (optimization round 19): the star passes can
    // only reach their fixpoint through a round that leaves the edge count
    // unchanged (a fixpoint round leaves the SET unchanged), and the count
    // comes free with the round's pin, while isStarSet is a full 2|E|
    // shuffle+aggregation. Probing only count-stable rounds
    // ran the expensive probe ONCE instead of every round (one-JVM A/B:
    // 2.15 s vs 3.27 s, labels identical, OPTIMIZATION_r19.md §2); a
    // count-stable non-fixpoint round just pays one extra probe and keeps
    // looping — exactness is untouched. Already-star inputs run one extra
    // round: the passes are idempotent at the fixpoint, so the set (and
    // labels) are identical.
    val countStable = graft.Iterate.rowsUnchanged(canon.rows)
    def starFixpoint(next: graft.Iterate.Next, round: Int): Boolean =
      countStable(next, round) && isStarSet(next.state)
    // the alternation provably converges in O(log² n) rounds; a graph
    // that exhausts maxRounds means a bound set far too low — fail fast
    // rather than return a partially-contracted (wrong) labeling
    val e = graft.Iterate(canon.df, maxRounds, done = starFixpoint,
      exhausted = Some(s"LinkGraph.connectedComponents: not converged after $maxRounds " +
        "rounds - the alternating algorithm needs O(log^2 n) rounds; raise maxRounds " +
        "(default 30 covers any graph that fits on disk).")) { r =>
      // each star pass is consumed twice (its own min-agg + join), so pin
      // both — otherwise the per-round plan executes the pass twice.
      // Optimization round 18 note: a window-based one-pass star variant
      // (no ls pin, 2 jobs/round) A/B-measured 25-40% SLOWER in one JVM
      // (1.63 s vs 2.02-2.27 s) — WindowExec's per-round sort costs more
      // than the hash-agg + broadcast join it replaced. Round 19: a fused
      // smallStar(largeStar(e)) single-checkpoint round also lost
      // (exchange reuse never fired, largeStar ran twice —
      // OPTIMIZATION_r19.md §2).
      smallStar(r.pin(largeStar(r.state)))
    }
    // at the fixed point each component is a star (root = component min)
    // and every hi maps to exactly ONE lo (the isStarSet condition), so
    // component_size = the root's star degree + 1: one aggregation over e
    // replaces the r18 label self-join + root distinct (two exchanges of
    // node-sized tables, optimization round 19 §2.4); leaves read their
    // label and size off their single edge, roots off their own group row
    val sizes = e.groupBy(col("lo")).agg(count(lit(1)).as("__n"))
    val labeled = e.join(sizes, Seq("lo"))
      .select(col("hi").as("id"), col("lo").as("rep"), (col("__n") + 1L).as("component_size"))
      .unionAll(sizes.select(col("lo").as("id"), col("lo").as("rep"),
        (col("__n") + 1L).as("component_size")))
    nodes.select(col(idCol))
      .join(labeled.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("rep"), col(idCol)).as("rep"),
        coalesce(col("component_size"), lit(1L)).as("component_size"))
  }

  /** Incremental [[connectedComponents]]: fold a batch of NEW edges into
    * an existing labeling without revisiting the already-seen edge set.
    * A component's star edges (id → rep for every non-representative
    * member) are a connectivity-EQUIVALENT contraction of all prior
    * edges, so running the alternation over (prior star edges ∪ new
    * edges) yields labels identical to a full recompute over the
    * concatenated edge sets — the same append ≡ rebuild contract as
    * [[graft.similarity.Similarity]]'s IVF index append, at
    * O(nodes + new edges) instead of O(all edges ever): exactly the
    * artifact shape a continuously-ingesting 100 TB pipeline maintains
    * between batches (labels table in, labels table out).
    *
    * `priorLabels` is a previous output of this or [[connectedComponents]]
    * (`(idCol, rep, …)` — extra columns ignored); `nodes` is the FULL
    * node set the output should cover (old ∪ new). `maxRounds` counts the
    * rounds run, as in [[connectedComponents]]: at least one round runs
    * even when the prior stars plus the new edges already form stars.
    */
  def connectedComponentsIncremental(nodes: DataFrame, idCol: String,
      priorLabels: DataFrame, newEdges: DataFrame, maxRounds: Int = 30): DataFrame = {
    val starE = priorLabels.select(col(idCol), col("rep"))
      .where(col(idCol) =!= col("rep"))
      .select(col(idCol).as("src"), col("rep").as("dst"))
    connectedComponents(nodes, idCol,
      starE.unionAll(newEdges.select(col("src"), col("dst"))), maxRounds)
  }

  /** Exact k-core: the maximal subgraph in which every node has degree
    * ≥ k, computed by iterative peeling (drop nodes with degree < k,
    * recompute, repeat to the fixed point — the standard degeneracy
    * decomposition step). The k-core separates structurally-embedded
    * pages from tendrils/pendants in a shared-span graph: spam farms
    * interlink densely (high-k cores), organic content hangs off the
    * periphery — the usual companion signal to [[triangleStats]].
    *
    * Returns `(idCol, in_core, core_degree)` for every node in `nodes`
    * (`core_degree` = degree inside the surviving subgraph; 0 and
    * `in_core = false` for peeled/isolated nodes). Each peel round is a
    * degree aggregation + two anti joins, pinned per round (the same
    * linear-plan discipline as [[connectedComponents]]); rounds needed =
    * peel depth ≤ number of nodes, in practice single-digit. Exceeding
    * `maxRounds` fails fast rather than returning a half-peeled set.
    */
  def kCore(nodes: DataFrame, idCol: String, edges: DataFrame, k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"LinkGraph.kCore: k $k < 1")
    require(maxRounds >= 1, s"LinkGraph.kCore: maxRounds $maxRounds < 1")
    // round-19 note: a one-query peel round ("keep edges whose BOTH
    // endpoints have degree ≥ k" via two degree joins) was tried and
    // REVERTED — the degree aggregate is consumed by both join sides and
    // exchange reuse did not fire, so the lane went from 34 to 44 AQE
    // jobs (OPTIMIZATION_r19.md §3). The weak-node pin computes degrees
    // once; a round that finds no weak node is the fixed point.
    val active = graft.Iterate(undirectedEdges(edges).localCheckpoint(true), maxRounds,
      exhausted = Some(s"LinkGraph.kCore: peel did not stabilize within $maxRounds " +
        "rounds - raise maxRounds (the peel depth is bounded by the node count).")) { r =>
      val weak = r.pin(degrees(r.state, "__d").where(col("__d") < k).select(col("id")))
      if (weak.isEmpty) r.state
      else r.state
        .join(weak.select(col("id").as("a")), Seq("a"), "left_anti")
        .join(weak.select(col("id").as("b")), Seq("b"), "left_anti")
    }
    nodes.select(col(idCol))
      .join(degrees(active, "core_degree").withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        col("core_degree").isNotNull.as("in_core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"))
  }

  /** Canonical undirected edge set `(a, b)` with a < b: direction and
    * duplicates collapsed, self-loops dropped.
    */
  private def undirectedEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** `(id, <name>)`: each node's degree over an [[undirectedEdges]] set. */
  private def degrees(und: DataFrame, name: String): DataFrame =
    und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as(name))

  /** Label-propagation community detection — SYNCHRONOUS rounds with a
    * deterministic tie-break (Raghavan/Albert/Kumara 2007, made
    * reproducible): every node simultaneously adopts its neighbors'
    * most frequent label from the PREVIOUS round, ties resolved to the
    * smallest label. The classic async/randomized variant is
    * order-dependent (two runs disagree); the synchronous+min-tie form
    * is bit-deterministic across partitionings and replayable in SQL —
    * the engine-wide contract. Communities are denser-than-components
    * groupings (a component's template cluster vs its incidental
    * bridges), the topical-cluster signal mixture design reads.
    *
    * Bounded-iteration contract like [[pageRank]] (synchronous LPA can
    * oscillate on bipartite structures, so a fixed `iters` IS the
    * semantic, not an approximation of a fixpoint); per round: one
    * |E| join + one (node, label) count + one per-node argmax window —
    * linear in edges at any scale, rounds pinned per iteration.
    * Isolated nodes keep their own label. Returns
    * `(idCol, community, community_size)`.
    */
  def labelPropagation(nodes: DataFrame, idCol: String, edges: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"LinkGraph.labelPropagation: iters $iters < 1")
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct().cache()
    val init = nodes.select(col(idCol).as("id")).withColumn("lbl", col("id")).localCheckpoint(true)
    val labels = try graft.Iterate(init, iters) { r =>
      val counts = e
        .join(r.state.select(col("id").as("dst"), col("lbl").as("nlbl")), Seq("dst"))
        .groupBy(col("src"), col("nlbl")).agg(count(lit(1)).as("__c"))
      // argmax as min_by over (−count, label) instead of the r17
      // row_number window (optimization round 18): same deterministic
      // pick — highest count, smallest label on ties, and (−c, nlbl) is
      // unique per group so the ordering never ties — via a hash
      // aggregate with map-side partials instead of a full sort under a
      // window (guide §2.3 aggregate-before-shuffle; works for any
      // orderable label type)
      val picked = counts
        .groupBy(col("src").as("id"))
        .agg(min_by(col("nlbl"), struct(-col("__c"), col("nlbl"))).as("__new"))
      r.state.join(picked, Seq("id"), "left")
        .select(col("id"), coalesce(col("__new"), col("lbl")).as("lbl"))
    } finally e.unpersist()
    val sized = labels.join(
      labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size")), Seq("lbl"))
    sized.select(col("id").as(idCol), col("lbl").as("community"), col("community_size"))
  }

  /** Degree distribution of the undirected graph — `(degree, n_nodes)`
    * including the zero-degree bin for isolated nodes in `nodes`: the
    * first-look graph summary (a heavy power-law tail here is the
    * earliest warning that pair joins downstream need tighter df caps).
    * Exact integers end to end; two map-side-combined aggregations.
    */
  def degreeDistribution(nodes: DataFrame, idCol: String, edges: DataFrame): DataFrame =
    nodes.select(col(idCol).as("id"))
      .join(degrees(undirectedEdges(edges), "__d"), Seq("id"), "left")
      .select(coalesce(col("__d"), lit(0L)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Degree assortativity (Newman 2002, public): the Pearson correlation
    * of degrees across edge ends — positive for social-style graphs
    * (hubs link hubs), negative for web/spam-style graphs (hubs link
    * leaves); with [[degreeDistribution]] the two-number structural
    * fingerprint of a corpus link graph. Both edge orientations
    * contribute one (deg u, deg v) sample (the standard symmetrized
    * form). All six correlation sums are exact Long aggregates over
    * integers; `r` is one fixed-order float expression with IEEE sqrt
    * only, degenerate lanes (no edges, regular graph) pinned to 0.0 —
    * bit-portable like every stats lane here. Returns one row:
    * `(n_edges, r)`.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = undirectedEdges(edges)
    val deg = degrees(und, "d")
    val withD = und
      .join(deg.select(col("id").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("__db")), Seq("b"))
    val ends = withD.select(col("__da").as("x"), col("__db").as("y"))
      .unionAll(withD.select(col("__db").as("x"), col("__da").as("y")))
    val s = ends.agg(
      count(lit(1)).as("__mm"),
      sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
      sum(col("x") * col("y")).as("__sxy"),
      sum(col("x") * col("x")).as("__sxx"),
      sum(col("y") * col("y")).as("__syy"))
    val mD = col("__mm").cast("double")
    val num = mD * col("__sxy").cast("double") -
      col("__sx").cast("double") * col("__sy").cast("double")
    val denx = mD * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val deny = mD * col("__syy").cast("double") -
      col("__sy").cast("double") * col("__sy").cast("double")
    s.select(
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division
      expr("__mm div 2").as("n_edges"),
      when(col("__mm") < 2 || col("__sxy").isNull, lit(0.0))
        .otherwise({
          val den = sqrt(denx) * sqrt(deny)
          when(den === 0.0, lit(0.0)).otherwise(num / den)
        }).as("r"))
  }

  /** Canonical `(hi, lo)` edge set with hi > lo: the components input. */
  private[graft] def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .distinct()

  /** One large-star pass over canonical (hi > lo) edges: for each node u
    * (both endpoints act as centers), every strictly-larger neighbor v
    * is re-pointed at m(u) = min(Γ(u) ∪ {u}). Output is canonical again
    * (v > u ≥ m), self-loop-free by construction.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("hi").as("u"), col("lo").as("v"))
      .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
    val m = sym.groupBy(col("u"))
      .agg(min(col("v")).as("__mn"))
      .select(col("u"), least(col("u"), col("__mn")).as("__m"))
    // only the u = lo orientation survives the old `v > u` filter (e is
    // canonical hi > lo), so the join probes e DIRECTLY — half the rows
    // the symmetric join carried — and emits exactly one row per
    // canonical edge: (hi, m(lo)), canonical again since m(lo) ≤ lo < hi.
    // Output size is therefore ≤ |E| with NO distinct of its own
    // (optimization round 19, guide §2.4): duplicates arise only where
    // two edges re-point at the same min, and smallStar's final distinct
    // collapses those anyway — the per-round distinct exchange here was
    // pure cost.
    e.join(m, col("lo") === col("u"))
      .select(col("hi"), col("__m").as("lo"))
  }

  /** One small-star pass: for each center u (the hi endpoint of canonical
    * edges), its strictly-smaller neighbors N(u) re-point at
    * m = min(N(u)) — emit (v, m) for v ∈ N(u) \ {m} plus (u, m). All
    * outputs stay canonical (v > m since m is the strict min; u > m).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy(col("hi")).agg(min(col("lo")).as("__m"))
    val moved = e.join(m, Seq("hi"))
      .where(col("lo") =!= col("__m"))
      .select(col("lo").as("hi"), col("__m").as("lo"))
    moved.unionAll(m.select(col("hi"), col("__m").as("lo"))).distinct()
  }

  /** Exact star-fixpoint test (see [[connectedComponents]] scaladoc):
    * every hi has exactly one distinct lo, and no lo is also a hi — both
    * conditions folded into ONE aggregation over a 2|E|-row union (one
    * shuffle per round instead of the three a groupBy + two-distinct
    * semi-join would cost).
    */
  private def isStarSet(e: DataFrame): Boolean = {
    // `e` is always a DISTINCT (hi, lo) set: canonicalization and
    // smallStar both end with .distinct(), and those are the only inputs
    // this probe sees. largeStar output has NOT been distinct since round
    // 19 (it dropped its own distinct), so it must never be probed
    // directly. Distinctness makes "hi maps to >1 distinct lo" ≡ "hi
    // appears in >1 rows" — a plain row count per hi. The r17 form
    // counted DISTINCT lo per hi, which planned an Expand + two-phase
    // aggregation over the 2|E| union every round; sum/min/max is one
    // codegen hash aggregate (optimization round 18, guide §2.3 — the
    // convergence probe was costing as much as a star pass).
    val sides = e
      .select(col("hi").as("n"), lit(1L).as("__h"))
      .unionAll(e.select(col("lo").as("n"), lit(0L).as("__h")))
    sides.groupBy(col("n"))
      .agg(sum(col("__h")).as("__nHi"), min(col("__h")).as("__minH"))
      .where(col("__nHi") > 1 || (col("__nHi") >= 1 && col("__minH") === 0))
      .limit(1).count() == 0L
  }

  /** Default [[triangleStats]] wedge-count bound — ~10⁹ candidate wedge
    * rows is tens of GB of join state; past that the caller should
    * sparsify (df caps upstream) or accept the cost explicitly.
    */
  val DefaultMaxEstimatedWedges: Long = 1L << 30

  /** Per-node triangle counts and local clustering coefficient —
    * `(idCol, degree, triangles, clustering)` over the UNDIRECTED graph
    * (direction ignored, duplicates collapsed). The density companion to
    * [[spanNovelty]]: tightly-clustered neighborhoods in a shared-span
    * graph are template families / mirror farms (high clustering), while
    * genuine topical linkage is sparse-triangled — the classic
    * spam-vs-organic structural signal.
    *
    * Scale shape: edges are oriented by `(degree, id)` — each triangle is
    * counted exactly once from its lowest-degree corner, and the wedge
    * join's fan-out per node is bounded by O(√|E|) on ANY degree
    * distribution (a hub's wedges are charged to its low-degree
    * neighbors), the standard compact-forward orientation that keeps hub
    * nodes from going quadratic. Wedge volume Σ outdeg² is still the
    * inherent cost of triangle counting, so it is probed (one map-side
    * aggregation over the oriented edges, which are pinned anyway) and
    * fail-fasted against `maxEstimatedWedges` — same pattern as
    * [[centrality]]'s density guard.
    *
    * `clustering` = (2.0 · triangles) / (degree · (degree − 1)) in that
    * exact evaluation order (0.0 when degree < 2): one IEEE multiply and
    * divide over exact integers, bit-identical across engines.
    */
  def triangleStats(nodes: DataFrame, idCol: String, edges: DataFrame,
      maxEstimatedWedges: Long = DefaultMaxEstimatedWedges): DataFrame = {
    require(maxEstimatedWedges >= 1,
      s"LinkGraph.triangleStats: maxEstimatedWedges $maxEstimatedWedges < 1")
    // canonical undirected edge set, pinned: consumed by the degree agg,
    // the orientation join, and the wedge-closing join
    val und = undirectedEdges(edges).localCheckpoint(true)
    val deg = degrees(und, "deg")
    val oriented = und
      .join(deg.select(col("id").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("__db")), Seq("b"))
      .select(
        when(col("__da") < col("__db") ||
            (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("d")))
          .otherwise(struct(col("b").as("s"), col("a").as("d"))).as("__e"))
      .select(col("__e.s").as("s"), col("__e.d").as("d"))
      .localCheckpoint(true)
    // wedge-volume guard: Σ outdeg² is exactly the candidate row count of
    // the join below — probe it on the pinned edges and fail fast
    val wedgeEst = oriented.groupBy(col("s")).agg(count(lit(1)).as("__od"))
      .agg(sum(col("__od") * col("__od"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    if (wedgeEst > maxEstimatedWedges) throw new IllegalArgumentException(
      s"LinkGraph.triangleStats: the oriented wedge join would produce $wedgeEst " +
        s"candidate rows, over maxEstimatedWedges $maxEstimatedWedges - triangle " +
        "counting at this density is a shuffle-explosion footgun. Sparsify the " +
        "edges upstream (tighter df caps) or raise maxEstimatedWedges explicitly " +
        "to accept the cost.")
    val wedges = oriented.select(col("s").as("u"), col("d").as("v"))
      .join(oriented.select(col("s").as("u"), col("d").as("w")), Seq("u"))
      .where(col("v") =!= col("w"))
    // only one of (v, w)/(w, v) closes against an oriented edge, so each
    // triangle survives exactly once
    val tri = wedges.join(oriented.select(col("s").as("v"), col("d").as("w")),
      Seq("v", "w"))
    val corners = tri.select(col("u").as("id"))
      .unionAll(tri.select(col("v").as("id")))
      .unionAll(tri.select(col("w").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    nodes.select(col(idCol))
      .join(deg.select(col("id").as(idCol), col("deg")), Seq(idCol), "left")
      .join(corners.select(col("id").as(idCol), col("triangles")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** [[sharedSpanEdges]] with the edge weight = number of DISTINCT rare
    * spans the two documents share (the natural link strength for
    * [[pageRankWeighted]]): same pair join, `count` instead of
    * `distinct` (shingle hashes are already per-document distinct).
    * Weights are bounded by spans-per-document, far under the
    * [[pageRankWeighted]] overflow guard.
    */
  def sharedSpanEdgesWeighted(docs: DataFrame, idCol: String, textCol: String,
      w: Int, maxDf: Int): DataFrame =
    // same single-scan grouped shape as [[sharedSpanEdges]] (see its
    // scaladoc); both directions of a pair count the same shared spans,
    // so the per-direction group-by count reproduces the old
    // count-then-union weights exactly
    spanPairGroups(docs, idCol, textCol, w, maxDf)
      .select(explode(bothDirectionPairs).as("__p"))
      .select(col("__p.src").as("src"), col("__p.dst").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("weight"))
}
