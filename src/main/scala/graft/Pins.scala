package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}

/** Pins — materialized `localCheckpoint` snapshots — the one way to make
  * them, and the one rule that frees them.
  *
  * The one pin is [[counted]]: `localCheckpoint(false)` marks the frame
  * (a plan with shuffles runs its upstream stages there, as an eager
  * `localCheckpoint(true)` does), then ONE single-stage job materializes
  * it and counts every partition — the count the eager form throws away,
  * so no caller counts a pin again. [[Scope.pin]], [[Iterate]]'s state
  * pins and [[graft.table.RowId]]'s row index all go through it.
  *
  * Ownership rule: a pin taken through a [[Scope]] ([[scoped]], or an
  * [[Iterate]] round) is released when its scope ends, on return or
  * throw; a pin a function returns inside its lazy result is the
  * caller's, and stays a plain `localCheckpoint(true)` (releasing it
  * before the returned plan materializes breaks that plan). The reference
  * decides a batch's lifetime in one place the same way, through its
  * reference-counted batches.
  *
  * `Dataset.unpersist` only uncaches CacheManager-registered plans (the
  * `cache()`/`persist()` path); a localCheckpoint persists its RDD
  * DIRECTLY, so `unpersist` on the checkpointed Dataset is a silent
  * no-op and the blocks stay pinned until ContextCleaner GC — verified
  * empirically on this Spark (getRDDStorageInfo still lists the
  * checkpoint RDD after `unpersist(true)`; releasing the underlying
  * `LogicalRDD.rdd` frees it). [[release]] does the latter, and falls
  * back to plain `unpersist()` for `cache()`d frames (that path works).
  */
object Pins {

  /** A materialized pin and the rows of each of its partitions, in
    * partition order, from the job that materialized it.
    */
  final case class Counted(df: DataFrame, partitionRows: Array[Long]) {
    def rows: Long = partitionRows.sum
  }

  /** Pin `df` and count it in one job (see the class doc). The pin is the
    * caller's; it is released here only when that job fails.
    */
  def counted(df: DataFrame): Counted = {
    val pin = df.localCheckpoint(false)
    val rows = try partitionRows(pin) catch { case t: Throwable => release(pin); throw t }
    Counted(pin, rows)
  }

  /** Rows per partition of `df`, in partition order, from ONE single-stage
    * job (no shuffle of its own); over a marked pin it materializes it.
    */
  private[graft] def partitionRows(df: DataFrame): Array[Long] =
    df.select()
      .mapPartitions(it => Iterator.single((TaskContext.getPartitionId(), it.size.toLong)))(
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .collect().sortBy(_._1).map(_._2)

  /** The pins one scope owns; all of them are released together. */
  class Scope private[graft] () {
    private var pins = List.empty[DataFrame]

    /** Pin `df` ([[counted]], materialized on return) until the scope ends. */
    def pin(df: DataFrame): DataFrame = pinCounted(df).df

    /** [[pin]], keeping the row count of the job that materialized it. */
    def pinCounted(df: DataFrame): Counted = { val c = counted(df); adopt(c.df); c }

    /** Take an already-pinned (an [[Iterate]] result) or `cache()`d frame. */
    def adopt(df: DataFrame): DataFrame = { pins ::= df; df }

    private[graft] def release(): Unit = { pins.foreach(Pins.release); pins = Nil }
  }

  /** Run `body` with a fresh [[Scope]]; every pin it took is released when
    * `body` returns or throws, so a returned value must not read them
    * lazily (collect or write it inside `body`).
    */
  def scoped[A](body: Scope => A): A = {
    val scope = new Scope
    try body(scope) finally scope.release()
  }

  /** True when `df` is itself a pin: its analyzed plan is a `LogicalRDD`
    * over a checkpoint that a job has already materialized. Pinning such a
    * frame again only runs one more job and stores a second copy.
    */
  def isPinned(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => materialized(lr)
    case _ => false
  }

  /** A `LogicalRDD` leaf whose rows are stored checkpoint blocks: every
    * execution reads the same partitions.
    */
  private[graft] def materialized(lr: org.apache.spark.sql.execution.LogicalRDD): Boolean =
    lr.rdd.isCheckpointed

  /** Free a checkpointed DataFrame's storage (non-blocking). Falls back
    * to plain `unpersist` for non-checkpoint plans, so it is always safe
    * to call on anything that was pinned.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}
