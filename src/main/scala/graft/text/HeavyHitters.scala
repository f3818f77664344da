package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** EXACT frequent-item mining at corpus scale — "which tokens / URLs /
  * hosts / n-grams exceed θ of the corpus" is the first question asked
  * of any 100 TB crawl, and the naive answer (group-by over every
  * occurrence) shuffles the whole token stream to count items that are
  * almost all below threshold.
  *
  * Two corpus scans, neither shuffling raw occurrences:
  *
  *  1. CANDIDATES: each partition streams through a Misra–Gries summary
  *     of `ceil(1/θ)` counters (`mapPartitions`, O(1/θ) memory) and
  *     emits at most `1/θ` survivors plus its row count. Guarantee: an
  *     item with global count > θ·n has, in at least one partition
  *     (averaging argument), local count > θ·n_p ≥ n_p/(m+1), which
  *     Misra–Gries with m counters never evicts — so the union of
  *     partition summaries is a SUPERSET of the true heavy hitters.
  *     The summary (≤ partitions·⌈1/θ⌉ rows) is persisted — it is the
  *     only state this pass keeps.
  *  2. EXACT COUNTS: occurrences semi-join the BROADCAST candidate set
  *     (a scan-local filter — no shuffle of non-candidates), then only
  *     candidate occurrences aggregate (map-side partials over ≤
  *     partitions·⌈1/θ⌉ distinct keys) and the exact `count > θ·n`
  *     filter keeps precisely the true heavy hitters.
  *
  * The result is EXACT — the sketch only bounds the candidate set, every
  * reported count is a real count — which is what makes the operator
  * oracle-checkable (q_heavy_hitters) unlike a lossy-counting estimate.
  *
  * Scale shape: candidate traffic is partitions × ⌈1/θ⌉ rows (100k
  * partitions at θ = 1e-3 → 100M summary rows, still a shuffle of ids
  * not occurrences; at the θ ≥ 1% of vocabulary analyses it is
  * thousands). Null items are ignored (not counted toward n).
  *
  * Broadcast guard: the candidate (and per-key totals) frames are
  * bounded by partitions × ⌈1/θ⌉ — usually thousands, but the 100k ×
  * 1e-3 regime above reaches 100M ids, past Spark's 8 GB broadcast hard
  * limit. The summary is already checkpointed, so counting it is a
  * summary-sized job; past [[HeavyHitters.BroadcastRowLimit]] rows the
  * recount joins route to a shuffle hash join (hinted — the join key
  * already bounds that shuffle, and the following aggregation reuses its
  * partitioning) instead of failing the broadcast. Mirrors the
  * reference's capped-domain discipline
  * (`ColumnarStringDomainCalculator.java:67` — drop past maxNumValues
  * rather than grow unboundedly).
  */
object HeavyHitters {

  /** Above this many rows a candidate/totals frame is no longer
    * hint-broadcast: 10M string ids ≈ hundreds of MB on the driver and a
    * multi-GB broadcast per executor — still legal, but the next order
    * of magnitude is not, so route to shuffle before the cliff.
    * Overridable per call (tests force the routed shape with 0).
    */
  val BroadcastRowLimit: Long = 10000000L

  /** left_semi prune of `src` against a small-ish `keys` frame whose row
    * count is known: broadcast under the limit, hinted shuffle-hash past
    * it (hints outrank autoBroadcastJoinThreshold, so the routed shape
    * is deterministic — asserted by PlanCheck heavy_hitters_shuffle_route).
    */
  private def semiPrune(src: DataFrame, keys: DataFrame, on: Seq[String],
      keyRows: Long, limit: Long): DataFrame =
    if (keyRows <= limit) src.join(broadcast(keys), on, "left_semi")
    else src.join(keys.hint("shuffle_hash"), on, "left_semi")

  /** All items of `items(itemCol)` (cast to string) whose exact
    * occurrence count strictly exceeds `theta * n`, where n = number of
    * non-null occurrences. Output columns: (`itemCol`, "cnt"), exact
    * counts, unordered.
    */
  def frequent(items: DataFrame, itemCol: String, theta: Double,
      broadcastLimit: Long = BroadcastRowLimit): DataFrame = {
    require(theta > 0 && theta < 1, s"theta must be in (0, 1), got $theta")
    val spark = items.sparkSession
    import spark.implicits._
    val m = math.ceil(1.0 / theta).toInt
    val src = items
      .select(col(itemCol).cast("string").as("item"))
      .where(col("item").isNotNull)
    // pass 1: per-partition Misra–Gries summaries + row counts (the null
    // item marks a partition's total — itemCol rows are never null here)
    val summary: Dataset[(String, Long)] = src.as[String].mapPartitions { it =>
      val counts = new java.util.HashMap[String, java.lang.Long]()
      var total = 0L
      while (it.hasNext) {
        val x = it.next()
        total += 1
        val c = counts.get(x)
        if (c != null) counts.put(x, c + 1)
        else if (counts.size < m) counts.put(x, 1L)
        else {
          // MG step: the new item and every counter lose one; zeros evict
          val e = counts.entrySet().iterator()
          while (e.hasNext) {
            val en = e.next()
            if (en.getValue == 1L) e.remove() else en.setValue(en.getValue - 1)
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      counts.forEach((k, v) => out += ((k, v.longValue())))
      out += ((null, total))
      out.iterator
    }
    // the summary is tiny (≤ partitions·m rows) and consumed twice (n +
    // candidate set) — eager localCheckpoint so pass 1 runs once; the
    // summary-sized pin rides the returned plan, so per the ownership rule
    // in [[graft.Pins]] it is the caller's, not scoped (releasing it before
    // that plan materializes breaks it), and a checkpoint never pollutes
    // the session CacheManager
    val sdf = summary.toDF("item", "w").localCheckpoint(true)
    // one summary-sized aggregate yields BOTH n and the candidate count
    // (the broadcast-guard route input) — no extra job vs the unguarded
    // shape; count_distinct skips the nulls the `when` produces
    val nRow = sdf.agg(
      sum(when(col("item").isNull, col("w"))).as("n"),
      count_distinct(when(col("item").isNotNull, col("item"))).as("cands")).head()
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    if (n == 0L)
      return src.groupBy(col("item").as(itemCol)).agg(count(lit(1)).as("cnt")).limit(0)
    val candidates = sdf.where(col("item").isNotNull).select(col("item")).distinct()
    val nCand = nRow.getLong(1)
    semiPrune(src, candidates, Seq("item"), nCand, broadcastLimit)
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > lit(theta) * lit(n))
      .withColumnRenamed("item", itemCol)
  }

  /** Per-KEY exact heavy hitters: for every key k, all items whose count
    * within k strictly exceeds `theta * n_k` (n_k = k's non-null
    * occurrence count). Same two-scan shape as [[frequent]] with one
    * Misra–Gries summary per key per partition — the per-key averaging
    * argument gives the same superset guarantee key-by-key, and the
    * exact recount joins on (key, item).
    *
    * Memory contract: a partition holds `distinct keys in partition ×
    * ⌈1/θ⌉` counters — sized for LOW-cardinality keys (language, source,
    * shard). For high-cardinality keys pass `repartitionByKey = true`:
    * the summary pass then runs over a hash-partitioning on the key, so
    * a partition holds ~|keys|/partitions of them — the contract becomes
    * enforced, not advisory (both routes are oracle-identical; property
    * test in HeavyHittersSpec). Null keys are ignored along with null
    * items.
    *
    * Output columns: (`keyCol`, `itemCol`, "cnt"), exact, unordered.
    */
  def frequentPerKey(items: DataFrame, keyCol: String, itemCol: String,
      theta: Double, repartitionByKey: Boolean = false,
      broadcastLimit: Long = BroadcastRowLimit): DataFrame = {
    require(theta > 0 && theta < 1, s"theta must be in (0, 1), got $theta")
    val spark = items.sparkSession
    import spark.implicits._
    val m = math.ceil(1.0 / theta).toInt
    val src = items
      .select(col(keyCol).cast("string").as("key"), col(itemCol).cast("string").as("item"))
      .where(col("key").isNotNull && col("item").isNotNull)
    // the summary pass may run over a key-partitioned view (memory
    // contract above); the exact recount always reads the un-shuffled src
    val summarySrc = if (repartitionByKey) src.repartition(col("key")) else src
    val summary: Dataset[(String, String, Long)] =
      summarySrc.as[(String, String)].mapPartitions { it =>
        val perKey = new java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]()
        val totals = new java.util.HashMap[String, java.lang.Long]()
        while (it.hasNext) {
          val (k, x) = it.next()
          totals.merge(k, 1L, (a, b) => a + b)
          val counts = perKey.computeIfAbsent(k, _ => new java.util.HashMap[String, java.lang.Long]())
          val c = counts.get(x)
          if (c != null) counts.put(x, c + 1)
          else if (counts.size < m) counts.put(x, 1L)
          else {
            val e = counts.entrySet().iterator()
            while (e.hasNext) {
              val en = e.next()
              if (en.getValue == 1L) e.remove() else en.setValue(en.getValue - 1)
            }
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        perKey.forEach((k, counts) => counts.forEach((x, v) => out += ((k, x, v.longValue()))))
        totals.forEach((k, t) => out += ((k, null, t.longValue())))
        out.iterator
      }
    val sdf = summary.toDF("key", "item", "w").localCheckpoint(true)
    // per-key totals (one row per key) join back so the threshold is
    // evaluated per key — broadcast only while the key space allows it
    val totals = sdf.where(col("item").isNull)
      .groupBy(col("key")).agg(sum(col("w")).as("__n"))
    val candidates = sdf.where(col("item").isNotNull).select(col("key"), col("item")).distinct()
    // ONE summary-sized aggregate sizes both frames for their route
    // decisions; either can be unbounded (candidates: partitions × keys ×
    // 1/θ; totals: one row PER KEY). count_distinct skips the `when` nulls
    val cnts = sdf.agg(
      count_distinct(when(col("item").isNotNull,
        struct(col("key"), col("item")))).as("cands"),
      count_distinct(when(col("item").isNull, col("key"))).as("keys")).head()
    val nCand = cnts.getLong(0)
    val nTotals = cnts.getLong(1)
    val counted = semiPrune(src, candidates, Seq("key", "item"), nCand, broadcastLimit)
      .groupBy(col("key"), col("item"))
      .agg(count(lit(1)).as("cnt"))
    val joined =
      if (nTotals <= broadcastLimit) counted.join(broadcast(totals), Seq("key"))
      else counted.join(totals.hint("shuffle_hash"), Seq("key"))
    joined
      .where(col("cnt") > lit(theta) * col("__n"))
      .select(col("key").as(keyCol), col("item").as(itemCol), col("cnt"))
  }
}
