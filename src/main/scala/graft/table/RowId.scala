package graft.table

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** RowID + exact row-index semantics.
  *
  * The reference keeps a String RowID as column 0 of every table and supports
  * (a) appending an exact, contiguous Long row index
  *     (RowIndexTransformSpec — reference
  *     org.knime.core.data.columnar/.../table/virtual/ColumnarVirtualTable.java:432-436),
  * (b) regenerating RowIDs as "Row0","Row1",...
  *     (reference ColumnarConcatenater.java:186-215), and
  * (c) uniquifying duplicate RowIDs by appending "_dup" suffixes in a retry
  *     loop (reference ColumnarConcatenater.java:237-292).
  *
  * Spark's `monotonically_increasing_id()` is NOT contiguous across
  * partitions, so exactness needs a per-partition count job first, then a
  * per-partition offset add (the zipWithIndex strategy, kept in pure SQL so
  * the data path never leaves Tungsten). At 100 TB this is one single-stage
  * count job (one number per partition) plus a narrow map — the cheapest
  * exact-index strategy available on a distributed engine.
  */
object RowId {

  val RowIdCol = "row_id"

  /** Append an exact contiguous 0-based Long row index in the DataFrame's
    * current partition order. Narrow (no shuffle); one extra job to count
    * partition sizes.
    */
  def withRowIndex(df: DataFrame, name: String = "row_index"): DataFrame =
    withRowIndexCounted(df, name)._1

  /** [[withRowIndex]] plus the total row count — the count-partitions job
    * that exact indexing needs anyway yields the total for free, so
    * callers that must validate sizes (append-by-position's equal-row
    * check) don't pay another pass over the data.
    *
    * Strategy: stays entirely inside Tungsten/codegen (no `df.rdd`, which
    * would decode every row to external `Row` objects and re-encode them).
    * `monotonically_increasing_id()` is `partitionId * 2^33 + posInPartition`,
    * so the exact contiguous index is `offset(partition) + posInPartition`
    * where the per-partition offsets come from ONE single-stage job that
    * counts each partition (no shuffle, O(#partitions) driver memory) and
    * ride the data path as a dense plan literal (a broadcast join past
    * 4096 partitions). A frame that is not provably narrow is pinned
    * first, and its counts are those of the job that materializes the pin
    * ([[graft.Pins.counted]]); a narrow one is counted in place.
    */
  def withRowIndexCounted(df: DataFrame, name: String = "row_index"): (DataFrame, Long) = {
    require(!df.columns.contains(name), s"column $name already exists")
    val pid = "__graft_pid"
    val mid = "__graft_mid"
    val off = "__graft_offset"
    require(
      !Seq(pid, mid, off).exists(df.columns.contains),
      s"reserved column name collision: ${Seq(pid, mid, off).filter(df.columns.contains).mkString(", ")}")
    // The offsets are derived in one execution and applied in a second, so
    // the partitioning must be identical across the two. Scan-only
    // (exchange-free) plans repartition deterministically from the file
    // listing; anything with a shuffle can be replanned by AQE between the
    // two jobs → pin it first, counting it in the job that materializes
    // the pin. ADVICE r2.
    val (src, counts) =
      if (narrowDeterministic(df)) (df, graft.Pins.partitionRows(df))
      else { val pinned = graft.Pins.counted(df); (pinned.df, pinned.partitionRows) }
    // offsets(p) = rows before partition p; the last entry is the total
    val offsets = counts.scanLeft(0L)(_ + _)
    val total = offsets.last
    val tagged = src
      .withColumn(pid, spark_partition_id())
      .withColumn(mid, monotonically_increasing_id())
    // posInPartition = mid - pid * 2^33 (MonotonicallyIncreasingID layout)
    val pos = col(mid) - col(pid).cast(LongType) * lit(1L << 33)
    val indexed = if (counts.length <= 4096) {
      // offsets as a dense plan literal indexed by partition id: a narrow
      // projection with NO join stage — the fast path at any realistic
      // local/executor partition count
      tagged
        .withColumn(name, element_at(typedLit(offsets.init.toSeq), col(pid) + 1) + pos)
        .drop(pid, mid)
    } else {
      // degenerate partition counts: broadcast-join the offsets instead of
      // inlining an enormous literal into the plan/codegen
      val spark = df.sparkSession
      val offsetsDf = spark.createDataFrame(
        spark.sparkContext.parallelize(counts.indices.map(p => Row(p, offsets(p))), 1),
        StructType(Seq(StructField(pid, IntegerType, nullable = false), StructField(off, LongType, nullable = false))))
      tagged
        .join(broadcast(offsetsDf), Seq(pid))
        .withColumn(name, col(off) + pos)
        .drop(pid, mid, off)
    }
    (indexed, total)
  }

  /** True only when the optimized plan is a provably narrow chain over
    * leaf scans — the cases where partitioning is deterministic across
    * re-executions (file listing → fixed splits → narrow maps), so the
    * offsets job and the indexing job are guaranteed to see identical
    * partitions. A materialized pin ([[graft.Pins.isPinned]]) is such a
    * leaf too: its partitions are stored blocks, so a frame over an earlier
    * row index's pin is not pinned again. Everything else (joins,
    * aggregates, typed group ops, repartitions, limits — and any operator
    * this allowlist does not recognize) is pinned with a localCheckpoint
    * first, because AQE or recomputation may re-plan its partitioning
    * between the two jobs.
    * Allowlist-inverted per ADVICE r3: unknown operators default to the
    * safe (checkpointed) path instead of the fast one.
    */
  private def narrowDeterministic(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
    import org.apache.spark.sql.catalyst.expressions.{Literal, MonotonicallyIncreasingID, SparkPartitionID}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    df.queryExecution.optimizedPlan.collect { case p => p }.forall { p =>
      val shapeOk = p match {
        case _: Project | _: Filter | _: Generate | _: Expand |
             _: SubqueryAlias | _: Union | _: Sample |
             _: DeserializeToObject | _: SerializeFromObject | _: MapElements |
             _: LocalRelation | _: OneRowRelation | _: Range |
             _: LogicalRelation | _: DataSourceV2ScanRelation | _: HiveTableRelation => true
        case lr: org.apache.spark.sql.execution.LogicalRDD => graft.Pins.materialized(lr)
        case r: Repartition => !r.shuffle // coalesce: narrow, deterministic
        case _ => false
      }
      // Shape alone is not enough: a nondeterministic expression (rand(),
      // a UDF marked .asNondeterministic()) inside an otherwise-narrow
      // Filter/Generate/Project selects or produces different rows between
      // the offsets job and the indexing job → duplicated or gapped
      // indices. TypedFilter is excluded from the allowlist outright: its
      // predicate is an uninspectable closure (MapElements stays — 1:1 and
      // count-stable regardless of what the closure computes). ADVICE r4.
      // spark_partition_id and monotonically_increasing_id are the
      // exception: they are functions of the partitioning this check
      // proves stable, so an earlier row index's columns do not force a pin.
      shapeOk && p.expressions.forall(_.transform {
        case x @ (_: SparkPartitionID | _: MonotonicallyIncreasingID) => Literal.default(x.dataType)
      }.deterministic)
    }
  }

  /** Exact-order variant: sort by the given columns first, then index.
    * This is the deterministic path used when a canonical order exists
    * (the engine's ordering invariant — SURVEY.md §7 "hard parts").
    */
  def withRowIndexOrdered(df: DataFrame, orderBy: Seq[Column], name: String = "row_index"): DataFrame =
    withRowIndex(df.orderBy(orderBy: _*), name)

  /** Regenerate RowIDs "Row0","Row1",… in current order, as column 0.
    * Mirrors concatenateWithNewRowIDs (reference
    * ColumnarTableBackend.java:206-215).
    */
  def regenerateRowIds(df: DataFrame): DataFrame = {
    val tmp = "__graft_row_index"
    val indexed = withRowIndex(dropRowId(df), tmp)
    val cols = concat(lit("Row"), col(tmp).cast(StringType)).as(RowIdCol) +:
      indexed.columns.filterNot(_ == tmp).map(col).toSeq
    indexed.select(cols: _*)
  }

  /** Ensure a row_id column exists (as column 0); synthesize from an exact
    * index when absent.
    */
  def ensureRowId(df: DataFrame): DataFrame =
    if (df.columns.contains(RowIdCol)) {
      df.select(col(RowIdCol) +: df.columns.filterNot(_ == RowIdCol).map(col).toSeq: _*)
    } else regenerateRowIds(df)

  def dropRowId(df: DataFrame): DataFrame =
    if (df.columns.contains(RowIdCol)) df.drop(RowIdCol) else df

  /** Distributed RowID duplicate check (reference async disk-backed
    * DuplicateCheckWritable.java:69,87-110 → one hash aggregation).
    * Returns offending keys (empty = pass). Scales: shuffle on the key,
    * partial aggregation map-side.
    */
  def duplicateKeys(df: DataFrame, keyCol: String = RowIdCol): DataFrame =
    df.groupBy(col(keyCol)).count().where(col("count") > 1).select(col(keyCol))

  def assertUniqueRowIds(df: DataFrame, keyCol: String = RowIdCol): Unit = {
    val dups = duplicateKeys(df, keyCol).limit(10).collect()
    require(dups.isEmpty, s"duplicate RowIDs: ${dups.map(_.get(0)).mkString(", ")}")
  }

  /** Uniquify duplicate RowIDs by suffixing "_dup", "_dup_dup", … like the
    * reference's retry loop (ColumnarConcatenater.java:275-281). Each pass
    * is distributed: the n-th occurrence of a key gets n-1 "_dup" suffixes
    * (window shuffle on the key; skew-safe for realistic duplication
    * factors). A single pass can itself COLLIDE with pre-existing
    * "_dup"-suffixed keys (rows "A","A","A_dup" → two "A_dup"), so — like
    * the reference — we re-check and re-suffix until no duplicates remain.
    * The common case (no pre-existing "_dup" keys) converges after one
    * pass + one empty-check job.
    */
  def uniquifyRowIds(df: DataFrame, keyCol: String = RowIdCol): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fail fast on null RowIDs: concat(null, "_dup") stays null, so a null
    // duplicate group could never be suffixed apart and the retry loop
    // would spin forever (ADVICE r2). The reference never produces null
    // RowIDs either — this is invalid input, not a case to paper over.
    require(df.where(col(keyCol).isNull).limit(1).isEmpty,
      s"uniquifyRowIds: null values in RowID column '$keyCol'")
    val tmp = "__graft_occurrence"
    val ord = "__graft_order"
    // each pass strictly shrinks the duplicate set (first occurrence of
    // every key is untouched), so termination is guaranteed; the pin every
    // 20 passes only guards pathological inputs from unbounded plan growth
    graft.Iterate(withRowIndex(df, ord), maxRounds = Int.MaxValue, pinEvery = 20,
        done = (cur, _) => duplicateKeys(cur.state, keyCol).isEmpty) { r =>
      val w = Window.partitionBy(col(keyCol)).orderBy(col(ord))
      r.state
        .withColumn(tmp, row_number().over(w) - 1)
        .withColumn(keyCol, concat(col(keyCol), repeat(lit("_dup"), col(tmp).cast("int"))))
        .drop(tmp)
    }.orderBy(col(ord)).drop(ord)
  }
}
