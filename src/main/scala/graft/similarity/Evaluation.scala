package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval / classification evaluation over neighbor lists — the
  * measurement half of the ANN and lexical-retrieval stack: recall@k of
  * an approximate index against exact ground truth, reciprocal-rank
  * fusion of heterogeneous rankings (hybrid lexical+dense retrieval),
  * and k-NN label prediction accuracy over an embedding column.
  *
  * Scale shape (100 TB): every input here is a RANKING — (queries × k)
  * rows, not corpus-sized — so all joins key on (query_id, item) and
  * the heavy lifting stays inside the producers ([[Similarity]],
  * [[graft.text.Bm25]]), which own the corpus-scale passes. The one
  * corpus-sized input, [[knnClassify]]'s label table, joins on the
  * neighbor id exactly once (at scale: labels ride the ANN index
  * artifact, so that join is co-partitioned with the index).
  */
object Evaluation {

  /** Bounded-dimension cap for the driver-side cell folds (ARI / NMI /
    * PSI). Enforced BEFORE the collect: the pull itself is `limit(cap+1)`,
    * so a degenerate key choice (e.g. cluster = doc id) fails fast with
    * the cap message instead of materializing n corpus rows on the
    * driver first.
    */
  private val CellCap = 1000000

  private def collectCapped(df: DataFrame, what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(CellCap + 1).collect()
    require(rows.length <= CellCap,
      s"$what: more than $CellCap cells exceed the bounded-dimension cap")
    rows
  }

  /** Per-query recall@k: |approx ∩ exact| / k. Inputs are neighbor
    * lists with (query_id, neighbor_id) columns (extra columns are
    * ignored) — `exact` must hold the ground-truth top-k, `approx` the
    * candidate list under evaluation. Every ground-truth query appears
    * in the output (0 hits → recall 0.0). `hits/k` divides two exact
    * small integers, so the double is engine-portable bit-for-bit.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, "Evaluation.recallAtK: k must be positive")
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    e.join(a, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(col("__hit")).as("hits"))
      .select(col("query_id"), col("hits"),
        (col("hits").cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** Ranked-retrieval quality of an approximate ranking against exact
    * ground truth: per-query reciprocal rank of the first relevant hit
    * (MRR's per-query term) and NDCG@k with graded relevance
    * `rel(d) = k - exact_rank(d) + 1` (top exact neighbor most
    * relevant; items outside the exact top-k contribute 0). Inputs are
    * rankings with (query_id, neighbor_id, rank) columns; every exact
    * query appears in the output, and a query whose approx list hits
    * nothing relevant scores 0 across the board. Output:
    * (query_id, first_rel_rank, reciprocal_rank, dcg, ndcg).
    *
    * Determinism: DCG is a LEFT FOLD over the approx lanes in rank
    * order (sort_array + aggregate — k lanes per query, never
    * corpus-sized), so its bits don't depend on partitioning;
    * `reciprocal_rank` divides exact small integers (engine-portable
    * raw). dcg/ndcg round to 6 — log2 ulps are engine-specific, and
    * IDCG is the closed-form constant Σ_{r=1..k} (k-r+1)/log2(r+1)
    * summed in the same left-to-right order the oracle writes.
    *
    * Scale shape (100 TB): both inputs are rankings (queries × k rows);
    * the single join keys on (query_id, neighbor_id) and everything
    * after operates on per-query arrays of k lanes.
    */
  def rankingMetrics(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, "Evaluation.rankingMetrics: k must be positive")
    val e = exact.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("int").as("__erank"))
    val a = approx.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("int").as("__arank"))
    val lanes = a.join(e, Seq("query_id", "neighbor_id"), "left_outer")
      .select(col("query_id"), col("__arank"),
        coalesce(lit(k + 1) - col("__erank"), lit(0)).as("__rel"))
    val perQuery = lanes.groupBy(col("query_id")).agg(
      min(when(col("__rel") > 0, col("__arank"))).as("__firstrel"),
      sort_array(collect_list(struct(col("__arank").as("r"), col("__rel").as("g"))))
        .as("__lanes"))
    val dcgRaw = aggregate(col("__lanes"), lit(0.0),
      (acc, x) => acc + x.getField("g").cast("double") /
        log2(x.getField("r").cast("double") + lit(1.0)))
    // ideal DCG: all k exact items retrieved in exact order — a constant
    // left-to-right sum (the oracle writes the same textual sum)
    val idcg = (1 to k).map(r =>
      (k - r + 1).toDouble / (StrictMath.log(r + 1.0) / StrictMath.log(2.0))).sum
    exact.select(col("query_id")).distinct()
      .join(perQuery, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("__firstrel").cast("long"), lit(0L)).as("first_rel_rank"),
        coalesce(lit(1.0) / col("__firstrel").cast("double"), lit(0.0)).as("reciprocal_rank"),
        round(coalesce(dcgRaw, lit(0.0)), 6).as("dcg"),
        round(coalesce(dcgRaw, lit(0.0)) / lit(idcg), 6).as("ndcg"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): each input ranking
    * contributes `1/(c + rank)` for the items it ranked; items missing
    * from a ranking contribute 0 from it. Inputs need (query_id,
    * item_id, rank) columns. Output: (query_id, item_id, score, rank)
    * with `score` rounded to 6 and the fused rank tie-broken on item_id.
    *
    * Determinism: the fused score is a FIXED left-to-right sum of one
    * double per system (a row-wise expression after the outer joins,
    * not an aggregation), so its bits don't depend on partitioning.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "Evaluation.rrfFuse: need at least one ranking")
    val scored = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("item_id"),
        (lit(1.0) / (lit(c.toDouble) + col("rank").cast("double"))).as(s"__s$i"))
    }
    val joined = scored.reduce((l, r) => l.join(r, Seq("query_id", "item_id"), "full_outer"))
    val total = scored.indices.map(i => coalesce(col(s"__s$i"), lit(0.0))).reduce(_ + _)
    val fused = joined.select(col("query_id"), col("item_id"), round(total, 6).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("item_id"))
    fused.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("item_id"), col("score"), col("rank"))
  }

  /** LSH banding recall on a bounded eval slice: exact all-pairs
    * shingle-set Jaccard (via the shingle inverted index — genuinely
    * quadratic, hence EVAL SLICES ONLY) left-joined with the production
    * MinHash+LSH pipeline's verified pairs at the same threshold, so
    * `found = false` isolates exactly the pairs the BANDING missed
    * (verification Jaccard is identical on both sides). This is how you
    * pick (numHashes, bands) empirically instead of trusting the
    * formula. Output: (id_a, id_b, jaccard_sim, found).
    */
  def lshRecall(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    import graft.dedup.Dedup
    import graft.functions.{TextFunctions => T}
    val sh = docs
      .select(col(idCol).as("id"), explode(T.shingleHashes(col(textCol), shingleSize)).as("h"))
      .distinct()
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("__sz"))
    val inter = sh.as("a").join(sh.as("b"), Seq("h"))
      .where(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("__ni"))
    val exact = inter
      .join(sz.select(col("id").as("id_a"), col("__sz").as("__sa")), Seq("id_a"))
      .join(sz.select(col("id").as("id_b"), col("__sz").as("__sb")), Seq("id_b"))
      .withColumn("__j", col("__ni").cast("double") / (col("__sa") + col("__sb") - col("__ni")))
      .where(col("__j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__j"), 6).as("jaccard_sim"))
    val lsh = Dedup
      .minHashPairs(docs, textCol, idCol, shingleSize, numHashes, bands, threshold)
      .select(col("id_a"), col("id_b"), lit(true).as("__found"))
    exact.join(lsh, Seq("id_a", "id_b"), "left_outer")
      .select(col("id_a"), col("id_b"), col("jaccard_sim"),
        coalesce(col("__found"), lit(false)).as("found"))
  }

  /** LSH banding precision companion to [[lshRecall]]: every banded
    * candidate pair with its exact Jaccard and whether it passes the
    * verification threshold — `passed = false` rows are the wasted
    * verification work of a (numHashes, bands) choice. The flag
    * thresholds the ROUNDED Jaccard on both engine and oracle sides
    * (it's a report, not the dedup verdict, which thresholds raw).
    */
  def lshPrecision(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame =
    graft.dedup.Dedup
      .minHashCandidatePairs(docs, textCol, idCol, shingleSize, numHashes, bands)
      .select(col("id_a"), col("id_b"), col("jaccard_sim"),
        (col("jaccard_sim") >= threshold).as("passed"))

  /** Per-cluster purity of a cluster assignment against ground-truth
    * labels: (cluster, n_members, majority_label, n_majority, purity)
    * with the majority tie broken to the smaller label. Purity divides
    * two exact integers, so the double is engine-portable; the corpus-
    * sized input reduces to (cluster × label) cells in one aggregation.
    */
  def clusterPurity(assigned: DataFrame, clusterCol: String, labelCol: String): DataFrame = {
    val cl = assigned.groupBy(col(clusterCol).as("cluster"), col(labelCol).as("label"))
      .agg(count(lit(1)).as("__n"))
    val members = cl.groupBy(col("cluster")).agg(sum(col("__n")).as("n_members"))
    val w = Window.partitionBy(col("cluster")).orderBy(col("__n").desc, col("label"))
    cl.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("cluster"), col("label").as("majority_label"), col("__n").as("n_majority"))
      .join(members, Seq("cluster"))
      .select(col("cluster"), col("n_members"), col("majority_label"), col("n_majority"),
        (col("n_majority").cast("double") / col("n_members").cast("double")).as("purity"))
  }

  /** Adjusted Rand Index between a cluster assignment and ground-truth
    * labels — the chance-corrected pair-counting agreement. Every term
    * is an exact integer (pair counts C(n,2)); only the final
    * expected/denominator arithmetic is floating point, in a fixed
    * single-application order, so the score is engine-portable
    * bit-for-bit with no transcendentals (unlike NMI's logs). The
    * corpus reduces to bounded (cluster × label) cells in one
    * aggregation; the cell table is folded on the driver (bounded
    * dimension, require'd). Output row:
    * (n_items, sum_cl, sum_c, sum_l, ari); identical partitions (or a
    * degenerate single cell) define ari = 1.0.
    */
  def adjustedRandIndex(assigned: DataFrame, clusterCol: String, labelCol: String): DataFrame = {
    val cells = collectCapped(
      assigned.groupBy(col(clusterCol).as("c"), col(labelCol).as("l"))
        .agg(count(lit(1)).as("n")),
      "adjustedRandIndex: (cluster × label)")
    val ns = cells.map(_.getLong(2))
    def pairs(n: Long) = n * (n - 1) / 2
    val sumCl = ns.map(pairs).sum
    val byC = cells.groupBy(_.get(0)).view.mapValues(_.map(_.getLong(2)).sum)
    val byL = cells.groupBy(_.get(1)).view.mapValues(_.map(_.getLong(2)).sum)
    val sumC = byC.values.map(pairs).sum
    val sumL = byL.values.map(pairs).sum
    val nItems = ns.sum
    val nPairs = pairs(nItems)
    // nPairs == 0 (empty or single-item input) would otherwise produce
    // NaN through expected/denom — a 0- or 1-item partition agrees with
    // itself, same convention as the denom == 0.0 branch
    val ari =
      if (nPairs == 0L) 1.0
      else {
        val expected = sumC.toDouble * sumL.toDouble / nPairs.toDouble
        val denom = (sumC.toDouble + sumL.toDouble) / 2.0 - expected
        if (denom == 0.0) 1.0 else (sumCl.toDouble - expected) / denom
      }
    val spark = assigned.sparkSession
    import spark.implicits._
    Seq((nItems, sumCl, sumC, sumL, ari))
      .toDF("n_items", "sum_cl", "sum_c", "sum_l", "ari")
  }

  /** Normalized mutual information between a cluster assignment and
    * ground-truth labels — the information-theoretic companion to
    * [[clusterPurity]] (which ignores non-majority structure) and
    * [[adjustedRandIndex]] (pair counting). MI and the two entropies
    * are sums of `(count ratio) · ln(count ratio)` terms over the
    * bounded (cluster × label) cell table; unlike ARI they involve a
    * transcendental, so portability needs two measures (both already
    * proven in this repo): every ln argument is a ratio of EXACT
    * integers, each float chain is a fixed-order driver-side fold over
    * cells in ascending (cluster, label) STRING order (the
    * [[graft.text.Mixture]] normalizer idiom — reproducible by the
    * oracle's `list_reduce(list(… ORDER BY …))`), and each sum rounds
    * to 6 at the edge (the q_audio_mfcc precedent: round-6 absorbs the
    * libm ulp gap between `Math.log` and DuckDB `ln`). `nmi` is then
    * computed FROM the rounded components — sqrt/divide/round of
    * engine-identical inputs — so every output bit matches.
    *
    * Output row: (n_items, mi, h_cluster, h_label, nmi) with
    * nmi = mi / √(h_cluster·h_label); a degenerate side (single
    * cluster or single label → zero entropy) defines nmi = 0.0, or
    * 1.0 when BOTH sides are degenerate (the 1×1 partition agrees with
    * itself). The corpus reduces to cells in one aggregation, exactly
    * as [[adjustedRandIndex]].
    */
  def normalizedMutualInfo(assigned: DataFrame, clusterCol: String, labelCol: String): DataFrame = {
    val cells = collectCapped(
      assigned.groupBy(col(clusterCol).as("c"), col(labelCol).as("l"))
        .agg(count(lit(1)).as("n")),
      "normalizedMutualInfo: (cluster × label)")
    require(cells.nonEmpty, "normalizedMutualInfo: no rows")
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byCell = cells.map(r => (r.get(0).toString, r.get(1).toString, r.getLong(2)))
    val nTot = byCell.map(_._3).sum.toDouble
    val byC = byCell.groupBy(_._1).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
    val byL = byCell.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
    val ncMap = byC.toMap
    val nlMap = byL.toMap
    // ascending (cluster, label) string order — mirrored by the oracle's list(… ORDER BY …)
    val mi = round6(byCell.sortBy(t => (t._1, t._2)).foldLeft(0.0) { case (acc, (c, l, n)) =>
      val nD = n.toDouble
      acc + (nD / nTot) * math.log((nTot * nD) / (ncMap(c).toDouble * nlMap(l).toDouble))
    })
    def entropy(sums: Seq[(String, Long)]): Double =
      round6(-sums.foldLeft(0.0) { case (acc, (_, n)) =>
        val nD = n.toDouble
        acc + (nD / nTot) * math.log(nD / nTot)
      })
    val hC = entropy(byC)
    val hL = entropy(byL)
    val nmi =
      if (hC == 0.0 && hL == 0.0) 1.0
      else if (hC == 0.0 || hL == 0.0) 0.0
      else round6(mi / math.sqrt(hC * hL))
    val spark = assigned.sparkSession
    import spark.implicits._
    Seq((nTot.toLong, mi, hC, hL, nmi))
      .toDF("n_items", "mi", "h_cluster", "h_label", "nmi")
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * most cosine-similar corpus vectors whose label DIFFERS from the
    * query's — the negatives that sit closest to the decision boundary.
    * Output: (query_id, neighbor_id, cosine_sim, rank). Same scale shape
    * as [[Similarity.bruteForceTopK]] (queries broadcast, corpus scans
    * once, top-k per partition then global); the label filter runs
    * BEFORE ranking, so rank counts negatives only.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      col(labelCol).as("__clabel"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(labelCol).as("__qlabel"))
    val scored = c
      .join(broadcast(q),
        col("query_id") =!= col("neighbor_id") && col("__clabel") =!= col("__qlabel"))
      .withColumn("cosine_sim", round(graft.functions.VectorFunctions.cosine(col("qvec"), col("cvec")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"), col("rank"))
  }

  /** Per-query similarity margin: best same-label cosine (self excluded)
    * minus best different-label cosine — the embedding-space analogue of
    * a classifier margin; negative margin flags vectors whose nearest
    * neighbor crosses the label boundary (mislabeled or genuinely hard).
    * Output: (query_id, best_pos, best_neg, margin); the difference of
    * two 6-rounded maxima is engine-portable bit-for-bit.
    */
  def similarityMargin(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, labelCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      col(labelCol).as("__clabel"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(labelCol).as("__qlabel"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__sim", round(graft.functions.VectorFunctions.cosine(col("qvec"), col("cvec")), 6))
      .groupBy(col("query_id"))
      .agg(
        max(when(col("__clabel") === col("__qlabel"), col("__sim"))).as("best_pos"),
        max(when(col("__clabel") =!= col("__qlabel"), col("__sim"))).as("best_neg"))
      .select(col("query_id"), col("best_pos"), col("best_neg"),
        (col("best_pos") - col("best_neg")).as("margin"))
  }

  /** k-NN label prediction over an embedding column: each vector is
    * classified by the majority label of its k nearest neighbors
    * (cosine, self excluded), ties on the smaller label. Output:
    * (query_id, predicted_label, true_label, correct) — one row per
    * query, `correct` ∈ {0,1}. This is the standard embedding-quality
    * probe for a labeled eval slice; eval sets are small by nature, so
    * `queries` rides [[Similarity.bruteForceTopK]]'s broadcast-queries
    * design (corpus never shuffles).
    *
    * The eval-slice contract is ENFORCED, not conventional: the query
    * side must hold at most `maxQueries` rows (counted with a
    * `limit(cap+1)` probe — the check never scans past the cap), because
    * cost is |queries| × |corpus| distance kernels and the query side
    * broadcasts whole. A full-corpus self-probe at the 50k-doc tier
    * measured 911 s where the contract slice runs in seconds; fail fast
    * with the formula instead. Raise `maxQueries` explicitly to accept
    * the cost knowingly.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, labelCol: String, k: Int, maxQueries: Int = 10000): DataFrame = {
    require(maxQueries >= 1, s"Evaluation.knnClassify: maxQueries $maxQueries < 1")
    val nQ = queries.select(col(idCol)).limit(maxQueries + 1).count()
    require(nQ <= maxQueries,
      s"Evaluation.knnClassify: query side exceeds maxQueries = $maxQueries. " +
        s"Cost is |queries| x |corpus| distance kernels (the query side also " +
        s"broadcasts whole) - pass a bounded eval SLICE, or raise maxQueries " +
        s"explicitly to accept the cost.")
    val labels = corpus.select(col(idCol).as("__lid"), col(labelCol).as("__label"))
    val nn = Similarity.bruteForceTopK(corpus, queries, vecCol, idCol, k)
    val votes = nn
      .join(labels.withColumnRenamed("__lid", "neighbor_id"), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__label"))
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("__cnt").desc, col("__label"))
    val pred = votes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("query_id"), col("__label").as("predicted_label"))
    pred
      .join(labels.withColumnRenamed("__lid", "query_id"), Seq("query_id"))
      .select(col("query_id"), col("predicted_label"),
        col("__label").as("true_label"),
        when(col("predicted_label") === col("__label"), 1L).otherwise(0L).as("correct"))
  }

  /** Population Stability Index drift report between two corpus
    * snapshots — the training-data monitoring op run between crawl
    * refreshes: per group (e.g. source), how far the distribution of a
    * numeric feature has shifted. Values bin into `nBins` fixed-width
    * bins over [lo, lo + nBins·width) (clamped at both ends); per group,
    * PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) with add-one smoothing
    * (p = (ref_b+1)/(n_ref+nBins)), so empty bins are defined and the
    * probabilities are exact-integer ratios. Output:
    * (group, n_ref, n_cur, psi, top_shift_bin) — psi rounded to 6, the
    * usual alert thresholds being 0.1 (drifting) / 0.25 (shifted);
    * top_shift_bin is the bin with the largest |contribution| (ties →
    * lowest bin), the "where did it move" pointer.
    *
    * Scale shape: each snapshot reduces to (group × bin) counts in one
    * map-side-combined aggregation — the collected cell table is
    * config-bounded (capped), and the fold runs driver-side in
    * ascending bin order (mirrored by the oracle's ordered list fold,
    * the [[normalizedMutualInfo]] portability pattern). Corpus text and
    * vectors never move.
    */
  def populationStability(ref: DataFrame, cur: DataFrame, valueCol: String,
      groupCol: String, lo: Double, width: Double, nBins: Int): DataFrame = {
    require(nBins >= 2, s"populationStability: nBins $nBins < 2")
    require(width > 0, s"populationStability: width $width <= 0")
    // both snapshots aggregate in ONE union job (they usually derive
    // from the same scan — a split corpus — and two collect jobs would
    // read it twice)
    def binned(df: DataFrame, isRef: Boolean): DataFrame = df
      .select(
        col(groupCol).cast("string").as("g"),
        least(
          greatest(floor((col(valueCol).cast("double") - lit(lo)) / lit(width)), lit(0.0)),
          lit((nBins - 1).toDouble)).cast("int").as("bin"),
        lit(isRef).as("__ref"))
    val allCells = collectCapped(
      binned(ref, isRef = true).unionByName(binned(cur, isRef = false))
        .groupBy(col("g"), col("bin"), col("__ref")).agg(count(lit(1)).as("n")),
      "populationStability: (group × bin)")
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2), r.getLong(3)))
    val rCells = allCells.filter(_._3).map(t => (t._1, t._2, t._4))
    val cCells = allCells.filterNot(_._3).map(t => (t._1, t._2, t._4))
    def byGroup(cs: Array[(String, Int, Long)]): Map[String, Map[Int, Long]] =
      cs.groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val rm = byGroup(rCells)
    val cm = byGroup(cCells)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = (rm.keySet ++ cm.keySet).toSeq.sorted.map { g =>
      val rb = rm.getOrElse(g, Map.empty[Int, Long])
      val cb = cm.getOrElse(g, Map.empty[Int, Long])
      val nR = rb.values.sum
      val nC = cb.values.sum
      var psi = 0.0
      var topBin = 0
      var topAbs = -1.0
      var b = 0
      while (b < nBins) {
        val p = (rb.getOrElse(b, 0L) + 1.0) / (nR + nBins.toDouble)
        val q = (cb.getOrElse(b, 0L) + 1.0) / (nC + nBins.toDouble)
        val term = (p - q) * math.log(p / q)
        psi += term
        if (math.abs(term) > topAbs) { topAbs = math.abs(term); topBin = b }
        b += 1
      }
      (g, nR, nC, round6(psi), topBin.toLong)
    }
    val spark = ref.sparkSession
    import spark.implicits._
    rows.toDF("group", "n_ref", "n_cur", "psi", "top_shift_bin")
  }

  /** Reliability table for a probabilistic scorer — the per-bin form of
    * Expected Calibration Error: scores binned into `nBins` equal-width
    * bins, each bin reporting its count, mean score (confidence), label
    * rate (accuracy), and |gap|. `ECE = Σ (n_b / N) · gap_b` falls out of
    * the table; the table itself is what a model card shows. Quality
    * scorers gate millions of training documents — an over-confident
    * scorer silently skews the kept corpus, and this is the standard
    * check (Guo et al. 2017's binned calibration).
    *
    * Determinism: counts and label rates are exact integers/ratios; the
    * mean score and gap are rounded to 6 (sum order's ulp noise
    * absorbed — the engine-wide aggregate-rounding convention). Scores
    * at exactly 1.0 fold into the top bin. One groupBy on the tiny bin
    * domain — map-side combined, no other exchange.
    */
  /** Scalar calibration summary over the [[calibration]] table: Expected
    * Calibration Error `Σ (n_b/N)·gap_b` plus the Brier score
    * `mean((score - label)²)` — the two numbers a model card quotes next
    * to the reliability table. ECE recombines the table's ROUNDED
    * per-bin gaps through a fixed ascending-bin driver fold (the NMI
    * discipline — bit-exact across engines); Brier's per-row square is
    * exact arithmetic, rounded at 6 as an aggregate. One tiny-domain
    * aggregation + one scan; no other exchange. An empty input gives
    * `(null, 0.0, null)`, as the SQL fold over zero bins does.
    */
  def calibrationSummary(scored: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bins = calibration(scored, scoreCol, labelCol, nBins)
      .select(col("bin"), col("n"), col("gap")).collect().sortBy(_.getLong(0))
    val n = bins.map(_.getLong(1)).sum
    var ece = 0.0
    bins.foreach(r => ece += r.getLong(1).toDouble / n * r.getDouble(2))
    // plain multiply, not pow(x, 2): Math.pow can differ from x*x in the
    // last ulp, and the oracle squares by multiplication
    val diff = col(scoreCol) - col(labelCol).cast("boolean").cast("int")
    val brier = scored.agg(round(avg(diff * diff), 6)).head()
    Seq((Option.when(bins.nonEmpty)(n), round6(ece), Option.unless(brier.isNullAt(0))(brier.getDouble(0))))
      .toDF("n", "ece", "brier")
  }

  /** MMR-diversified top-k: retrieve `nCandidates` per query by cosine
    * ([[Similarity.bruteForceTopK]] — swap in an IVF probe at scale),
    * then greedily re-rank to `k` picks per query maximizing
    * `lam·rel − penWeight·max-sim-to-selected`
    * ([[graft.expressions.MmrSelect]], which holds the algorithm +
    * determinism contract). Distribution shape: candidate generation and
    * the candidate-pair similarity matrix are broadcast joins over
    * (queries × nCandidates) rows; the sequential greedy loop runs
    * per-query over collected arrays of that bounded size — queries
    * parallelize, no driver loop. Output:
    * `(query_id, neighbor_id, mmr_rank, score)`.
    *
    * `lam` and `penWeight` are independent (NOT forced to sum to 1):
    * deriving `1 − lam` in double arithmetic would yield literals no SQL
    * oracle can spell (0.7 → 0.30000000000000004).
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, nCandidates: Int, k: Int,
      lam: Double = 0.7, penWeight: Double = 0.3): DataFrame = {
    require(k >= 1 && nCandidates >= k,
      s"mmrRerank: need nCandidates $nCandidates >= k $k >= 1")
    val cands = Similarity.bruteForceTopK(corpus, queries, vecCol, idCol, nCandidates)
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"))
    // candidate vectors: the (queries × nCandidates) id list broadcasts
    // against the corpus — corpus never shuffles
    val cwv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v"))
      .join(broadcast(cands), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cosine_sim"), col("__v"))
    val pairs = cwv.as("a").join(cwv.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.neighbor_id") < col("b.neighbor_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.neighbor_id").as("ia"), col("b.neighbor_id").as("ib"),
        round(graft.functions.VectorFunctions.cosine(col("a.__v"), col("b.__v")), 6).as("s"))
    val candArr = cands.groupBy(col("query_id")).agg(collect_list(
      struct(col("neighbor_id").as("id"), col("cosine_sim").as("rel"))).as("__c"))
    val pairArr = pairs.groupBy(col("query_id"))
      .agg(collect_list(struct(col("ia"), col("ib"), col("s"))).as("__p"))
    val emptyPairs = expr("CAST(array() AS array<struct<ia:bigint,ib:bigint,s:double>>)")
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val sel = bridge.column(graft.expressions.MmrSelect(
      bridge.expression(col("__c")),
      bridge.expression(coalesce(col("__p"), emptyPairs)),
      k, lam, penWeight))
    candArr.join(pairArr, Seq("query_id"), "left")
      .select(col("query_id"), explode(sel).as("__m"))
      .select(col("query_id"), col("__m.neighbor_id"), col("__m.mmr_rank"),
        col("__m.score"))
  }

  def calibration(scored: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"calibration: nBins $nBins < 1")
    val bin = least(floor(col(scoreCol) * nBins), lit(nBins - 1)).cast("long")
    scored
      .select(bin.as("bin"), col(scoreCol).as("__s"),
        col(labelCol).cast("boolean").cast("int").as("__y"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("__s")), 6).as("mean_score"),
        (sum(col("__y")).cast("double") / count(lit(1))).as("label_rate"))
      .withColumn("gap", round(abs(col("label_rate") - col("mean_score")), 6))
      .orderBy(col("bin"))
  }
}
