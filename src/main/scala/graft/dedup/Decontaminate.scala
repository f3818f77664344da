package graft.dedup

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark/eval-set decontamination: remove training documents that
  * share verbatim w-token spans with a held-out evaluation set — the
  * standard guard against test-set leakage in large-scale training-data
  * pipelines (n-gram-overlap decontamination).
  *
  * Scale design (100 TB train corpus, eval sets ~10⁴–10⁶ documents):
  * the eval side is always tiny relative to the corpus, so its distinct
  * span-hash set (8 bytes/span) is broadcast — the training corpus is
  * scanned ONCE, narrow except for the final per-doc count aggregation
  * (uniform doc-id keys). Span hashes come from the fused per-row shingle
  * expression ([[graft.expressions.ShingleHashes]]); the shuffle carries
  * (doc_id, span_hash) pairs for matching spans only, never text.
  */
object Decontaminate {

  /** Per-training-doc overlap profile against the eval set:
    * (id, n_spans, n_eval_spans, overlap_ratio) where n_eval_spans counts
    * the doc's distinct w-token spans that also occur anywhere in `eval`.
    * Docs shorter than w tokens have no spans and are absent (no overlap
    * by construction).
    */
  def overlapStats(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      w: Int = 8
  ): DataFrame = {
    val trainSpans = train.select(
      col(idCol).as("id"),
      explode(T.shingleHashes(col(textCol), w)).as("span_hash"))
    val evalSpans = eval
      .select(explode(T.shingleHashes(col(textCol), w)).as("span_hash"))
      .distinct()
    trainSpans
      .join(broadcast(evalSpans.withColumn("__hit", lit(1L))), Seq("span_hash"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_eval_spans"))
      .withColumn("overlap_ratio", col("n_eval_spans").cast("double") / col("n_spans"))
  }

  /** [[overlapStats]] for eval sets too big to broadcast as an exact
    * span set: a Bloom filter over the eval spans is built ON the eval
    * side (Catalyst `bloom_filter_agg`, partial-merged like any
    * aggregate), embedded in the plan as a binary literal, and tested
    * scan-side with the codegen'd `might_contain` — so the corpus span
    * stream is filtered BEFORE any exchange, and only Bloom survivors
    * (true hits + fpp of the corpus) enter the exact verification join.
    * Results are bit-identical to [[overlapStats]] (a Bloom has no false
    * negatives; false positives are discarded by the exact join), which
    * the unchanged DuckDB oracle verifies.
    *
    * Scale shape (100 TB corpus, 10⁶-doc eval set ≈ 10⁸ spans): the
    * exact distinct span set at 8 B/span is multi-GB — past broadcast
    * range — while the Bloom at 1% fpp is ~1.2 bytes/span, and the
    * exact join downstream shuffles only candidates. Per-doc totals
    * (`n_spans`) come scan-locally from the fused shingle expression,
    * so the only full-corpus exchanges are the two output-sized per-doc
    * aggregations. Driver memory is bounded by the serialized Bloom
    * (`numBits/8`, capped by
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` — raise that
    * conf alongside `expectedEvalSpans` for eval sets beyond ~4M spans).
    *
    * Reference scope: decontamination itself is an LLM-pipeline
    * extension (the reference engine stores tables; see SURVEY §2 LLM
    * rows); the Bloom-prefilter mirrors its keep-the-small-artifact
    * design (domain sidecars, not data rescans).
    *
    * When to prefer which (measured, SCALE.md round 9): the Bloom path
    * wins when eval-hit density is LOW — the normal case (1.2-1.4×
    * at the 10×/100× tiers) — and when the exact span set is past
    * broadcast range (where it is the only shape). When most corpus
    * spans are expected to HIT the eval set (e.g. a corpus dominated
    * by eval-matching boilerplate), the filter discards nothing and
    * [[overlapStats]]' exact broadcast is cheaper (10.6 vs 13.5 s at
    * sf10skew's saturated planted cluster).
    */
  /** Distributed Bloom build over a LongType column: Catalyst
    * `bloom_filter_agg` (partial-merged like any aggregate), returning
    * the serialized sketch — or null for an empty input (no aggregate
    * rows). Driver memory is bounded by `numBits/8`.
    */
  private[graft] def bloomBytes(spans: DataFrame, hashCol: String, nItems: Long, fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftbridge.Bridge
    val n = math.max(1L, nItems)
    val nBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    // bloom_filter_agg CLAMPS numBits to the runtime-filter conf cap
    // (probed: 10M items / 96M optimal bits → an 8 MB / 67M-bit sketch,
    // no error). Results stay exact either way — the exact join discards
    // false positives — but a silently-degraded fpp costs shuffle volume,
    // so surface it instead of letting the candidate stream quietly grow.
    val capBits = spans.sparkSession.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    if (nBits > capBits)
      System.err.println(
        s"[graft] bloom: optimal $nBits bits for $n items clamped to $capBits by " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits - raise it to keep fpp; " +
        "results remain exact, only the candidate volume grows")
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      Bridge.expression(col(hashCol)), Literal(n), Literal(nBits))
    spans.select(Bridge.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Codegen'd scan-side membership test against a serialized Bloom. */
  private[graft] def mightContain(bloom: Array[Byte], c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    Bridge.column(new BloomFilterMightContain(
      Literal.create(bloom, BinaryType), Bridge.expression(c)))
  }

  def overlapStatsBloom(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      w: Int = 8,
      fpp: Double = 0.01,
      expectedEvalSpans: Long = 0L
  ): DataFrame = {
    require(fpp > 0 && fpp < 1, s"overlapStatsBloom: fpp $fpp out of (0,1)")
    val evalSpans = eval
      .select(explode(T.shingleHashes(col(textCol), w)).as("span_hash"))
      .distinct()
    // estimated size drives the Bloom's bit budget; when the caller can't
    // supply it, one count job on the (small) eval side is the honest way
    val nItems = if (expectedEvalSpans > 0) expectedEvalSpans else evalSpans.count()
    val bloom = bloomBytes(evalSpans, "span_hash", nItems, fpp)

    val trainArr = train
      .select(col(idCol).as("id"), T.shingleHashes(col(textCol), w).as("__spans"))
      .where(size(col("__spans")) > 0)
    val nSpans = trainArr.select(col("id"), size(col("__spans")).cast("long").as("n_spans"))
    // empty eval set → null bloom from the zero-row aggregate → no span can hit
    val hits =
      if (bloom == null) {
        nSpans.select(col("id"), lit(0L).as("n_eval_spans")).limit(0)
      } else {
        trainArr
          .select(col("id"), explode(col("__spans")).as("span_hash"))
          .where(mightContain(bloom, col("span_hash")))
          .join(evalSpans, Seq("span_hash"))
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_eval_spans"))
      }
    nSpans
      .join(hits, Seq("id"), "left")
      .select(
        col("id"),
        col("n_spans"),
        coalesce(col("n_eval_spans"), lit(0L)).as("n_eval_spans"),
        (coalesce(col("n_eval_spans"), lit(0L)).cast("double") / col("n_spans"))
          .as("overlap_ratio"))
  }

  /** The [[overlapStatsAuto]] policy verdict: which path was chosen and
    * the two probe measurements that drove it.
    */
  final case class DecontPolicy(path: String, nEvalSpans: Long, estHitDensity: Double)

  /** Measure what [[overlapStatsAuto]] decides on, without running the
    * stats: the eval side's distinct-span count (vs the session's
    * broadcast threshold at 8 B/span) and the estimated hit density from
    * a bounded, deterministic train-side sample against the exact eval
    * set. Exposed for tests and capacity planning.
    */
  private[graft] def probePolicy(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      w: Int,
      probeDocs: Int,
      densityCutoff: Double): DecontPolicy = graft.Pins.scoped { scope =>
    val spark = train.sparkSession
    // the pin's count sizes the decision; the probe join reads it again
    val spans = scope.pinCounted(eval
      .select(explode(T.shingleHashes(col(textCol), w)).as("span_hash")).distinct())
    val (evalSpans, nEvalSpans) = (spans.df, spans.rows)
    val bcastBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    if (bcastBytes >= 0 && nEvalSpans * 8L > bcastBytes)
      // past broadcast range: the Bloom prefilter is the only shape
      DecontPolicy("bloom", nEvalSpans, -1.0)
    else {
      val probe = train.limit(probeDocs)
        .select(explode(T.shingleHashes(col(textCol), w)).as("span_hash"))
        .join(broadcast(evalSpans.withColumn("__hit", lit(1L))), Seq("span_hash"), "left")
        .agg(count(lit(1)).as("n"), sum(coalesce(col("__hit"), lit(0L))).as("h"))
        .head()
      val n = probe.getLong(0)
      val density = if (n == 0) 0.0 else probe.getLong(1).toDouble / n
      DecontPolicy(if (density > densityCutoff) "exact" else "bloom", nEvalSpans, density)
    }
  }

  /** [[overlapStats]] with the Bloom-vs-exact choice made FROM DATA — the
    * measured crossover (SCALE.md round 9) turned into a policy instead
    * of scaladoc guidance. Decision, in order:
    *
    *  1. eval span set past the session broadcast threshold (8 B/span vs
    *     `spark.sql.autoBroadcastJoinThreshold`) → '''bloom''' — the
    *     exact broadcast isn't available at that size;
    *  2. otherwise probe the hit density of a bounded deterministic
    *     train sample (`probeDocs` docs, one narrow pass) against the
    *     exact eval set: density above `densityCutoff` → '''exact'''
    *     (a saturated corpus defeats the prefilter — measured 10.6 vs
    *     13.5 s at the skewed 100× tier), else → '''bloom''' (the normal
    *     low-density case — measured 1.2-1.4× faster at 10×/100×).
    *
    * The choice is logged to stderr; both paths return BIT-IDENTICAL
    * results (the Bloom has no false negatives and false positives die
    * in the exact join), so the policy can never change answers — only
    * cost. The probe itself is one count on the eval side (the Bloom
    * path needs it for bit sizing anyway) plus one sample-sized pass.
    */
  def overlapStatsAuto(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      w: Int = 8,
      fpp: Double = 0.01,
      probeDocs: Int = 1000,
      densityCutoff: Double = 0.5
  ): DataFrame = {
    require(probeDocs >= 1, s"overlapStatsAuto: probeDocs $probeDocs < 1")
    require(densityCutoff >= 0 && densityCutoff <= 1,
      s"overlapStatsAuto: densityCutoff $densityCutoff out of [0,1]")
    val p = probePolicy(train, eval, textCol, idCol, w, probeDocs, densityCutoff)
    System.err.println(
      f"[graft] decontaminateAuto: chose ${p.path} path (${p.nEvalSpans} eval spans, " +
        f"est. hit density ${p.estHitDensity}%.3f, cutoff $densityCutoff)")
    if (p.path == "exact") overlapStats(train, eval, textCol, idCol, w)
    else overlapStatsBloom(train, eval, textCol, idCol, w, fpp,
      expectedEvalSpans = p.nEvalSpans)
  }

  /** The benchmark auditor's direction — per EVAL doc, how much of it
    * leaked into the training corpus: (eval_id, n_spans, n_hit_spans,
    * n_train_docs, contamination_ratio) where n_spans counts the eval
    * doc's DISTINCT w-token spans, n_hit_spans those of them found
    * anywhere in `train` (same distinct basis, so a fully-leaked doc
    * reports ratio 1.0 even with internally repeated spans) and
    * n_train_docs the distinct training docs carrying at least one of
    * them. [[overlapStats]] answers "which TRAINING docs must go";
    * this answers "which EVAL items are compromised" — the report a
    * benchmark run needs even when nothing is dropped. Eval docs
    * shorter than w tokens have no spans and are absent.
    *
    * Scale shape: representative eval spans broadcast, corpus scanned
    * once into per-text-group spans; the shuffle carries matching
    * (eval_id, span_hash, group) rows only, and all aggregations key on
    * the tiny eval-id domain (identical-text collapse below).
    */
  def evalContamination(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      w: Int = 8
  ): DataFrame = evalContaminationImpl(train, eval, textCol, idCol, w, bloomFpp = None)

  /** [[evalContamination]] through the Bloom-prefilter path (see
    * [[overlapStatsBloom]]): the representative eval span set rides as a
    * Bloom literal instead of an exact broadcast, corpus group-spans are
    * gated scan-side, and the exact join sees survivors only. Results
    * are bit-identical (no false negatives; false positives die in the
    * exact join) — the shape for eval sets past broadcast range.
    */
  def evalContaminationBloom(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      w: Int = 8,
      fpp: Double = 0.01
  ): DataFrame = {
    require(fpp > 0 && fpp < 1, s"evalContaminationBloom: fpp $fpp out of (0,1)")
    evalContaminationImpl(train, eval, textCol, idCol, w, bloomFpp = Some(fpp))
  }

  private def evalContaminationImpl(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      w: Int,
      bloomFpp: Option[Double]
  ): DataFrame = {
    // IDENTICAL-TEXT COLLAPSE on both sides (the SCALE.md giant-cluster
    // guard applied to a bipartite span join): identical texts have
    // identical span sets, so every eval doc in a text group reports its
    // representative's numbers, and one hit on a train text group counts
    // group-size docs. Without this, a hot text shared by e eval and t
    // train docs pushes e·t·spans rows through the join — measured 208 s
    // at the 50k-doc skew tier, 8.4 s with the collapse. Results are
    // EXACTLY the un-collapsed ones (group members are interchangeable),
    // which the unchanged per-doc DuckDB oracle verifies.
    val evalG = eval.select(col(idCol).as("eval_id"), col(textCol).as("__t"))
    val evalReps = evalG.groupBy(col("__t")).agg(min(col("eval_id")).as("__rep"))
    val evalWithRep = evalG.join(evalReps, Seq("__t"))
    // distinct spans per representative — the shared basis of all three
    // aggregates (occurrence counts would let an internally-repeated span
    // keep a fully-leaked doc below ratio 1.0)
    val repSpans = evalWithRep.where(col("eval_id") === col("__rep"))
      .select(col("eval_id"), explode(T.shingleHashes(col("__t"), w)).as("span_hash"))
      .distinct()
    val trainGroups = train.select(col(idCol).as("train_id"), col(textCol).as("__t"))
      .groupBy(col("__t"))
      .agg(min(col("train_id")).as("__tg"), count(lit(1)).as("__gsize"))
    val trainGroupSpans = trainGroups
      .select(col("__tg"), col("__gsize"), explode(T.shingleHashes(col("__t"), w)).as("span_hash"))
    val pairHits = bloomFpp match {
      case None => trainGroupSpans.join(broadcast(repSpans), Seq("span_hash"))
      case Some(fpp) =>
        // one count job on the (small) eval side sizes the bit budget;
        // a null bloom (empty eval span set) admits nothing, matching
        // the exact join's empty result
        val hashes = repSpans.select(col("span_hash")).distinct()
        val bloom = bloomBytes(hashes, "span_hash", hashes.count(), fpp)
        if (bloom == null) trainGroupSpans.join(repSpans, Seq("span_hash")).limit(0)
        else trainGroupSpans
          .where(mightContain(bloom, col("span_hash")))
          .join(repSpans, Seq("span_hash"))
    }
    val nHit = pairHits.select(col("eval_id"), col("span_hash")).distinct()
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_hit_spans"))
    val nTrain = pairHits.select(col("eval_id"), col("__tg"), col("__gsize")).distinct()
      .groupBy(col("eval_id")).agg(sum(col("__gsize")).as("n_train_docs"))
    val repReport = repSpans.groupBy(col("eval_id")).agg(count(lit(1)).as("n_spans"))
      .join(nHit, Seq("eval_id"), "left")
      .join(nTrain, Seq("eval_id"), "left")
      .select(col("eval_id").as("__rep"), col("n_spans"),
        coalesce(col("n_hit_spans"), lit(0L)).as("n_hit_spans"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
    // fan the group report back out to every eval doc in the text group
    evalWithRep.select(col("eval_id"), col("__rep"))
      .join(repReport, Seq("__rep"))
      .select(col("eval_id"), col("n_spans"), col("n_hit_spans"), col("n_train_docs"),
        (col("n_hit_spans").cast("double") / col("n_spans")).as("contamination_ratio"))
  }

  /** Transitive contamination closure: starting from the directly-
    * contaminated seed ids, walk `maxHops` steps through a near-duplicate
    * pair graph — a near-duplicate of a leaked document carries the leak
    * even when its own text no longer matches any eval span verbatim
    * (paraphrased or perturbed copies), so span-level decontamination
    * alone under-drops. Returns (id, hop) with hop = MINIMUM hops from
    * any seed (0 = directly contaminated); multi-source BFS, all-integer,
    * so verdicts are bit-exact and partition-independent.
    *
    * Scale shape: each iteration is one (frontier × edges) equi-join plus
    * an anti-join against the reached set — everything id-sized; the
    * frontier never re-expands visited nodes, and iterations stop early
    * on an empty frontier. Bounded by `maxHops` (contamination chains in
    * practice are short; an unbounded closure is [[Dedup.clusterRepresentatives]]).
    */
  def transitiveContamination(pairs: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"transitiveContamination: negative maxHops $maxHops")
    graft.Pins.scoped { scope =>
      val edges = scope.adopt(pairs
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .cache())
      val seed = graft.Pins.counted(seeds.select(col("id"), lit(0).as("hop")))
      // one hop per round; a hop that adds no id ends the walk early
      graft.Iterate(seed.df, maxHops, done = graft.Iterate.rowsUnchanged(seed.rows)) { r =>
        // the frontier is read out of the pinned state: deriving it from
        // the previous hop's plan would re-execute its join chain
        val next = r.state.where(col("hop") === r.number - 1).select(col("id"))
          .join(edges, col("id") === col("src"))
          .select(col("dst").as("id")).distinct()
          .join(r.state.select(col("id")), Seq("id"), "left_anti")
          .withColumn("hop", lit(r.number))
        r.state.unionAll(next)
      }
    }
  }

  /** Drop training docs whose eval-span overlap ratio exceeds
    * `maxOverlap` (0.0 = drop on any shared span). Short docs (< w tokens)
    * are kept.
    */
  def clean(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      w: Int = 8,
      maxOverlap: Double = 0.0
  ): DataFrame = {
    val contaminated = overlapStats(train, eval, textCol, idCol, w)
      .where(col("overlap_ratio") > maxOverlap)
      .select(col("id").as(idCol))
    train.join(contaminated, Seq(idCol), "left_anti")
  }
}
