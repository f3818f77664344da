package graft

import org.apache.spark.sql.DataFrame

/** Release the executor storage behind an EAGER `localCheckpoint` pin.
  *
  * `Dataset.unpersist` only uncaches CacheManager-registered plans (the
  * `cache()`/`persist()` path); a localCheckpoint persists its RDD
  * DIRECTLY, so `unpersist` on the checkpointed Dataset is a silent
  * no-op and the blocks stay pinned until ContextCleaner GC — verified
  * empirically on this Spark (getRDDStorageInfo still lists the
  * checkpoint RDD after `unpersist(true)`; releasing the underlying
  * `LogicalRDD.rdd` frees it). Round-12 review finding: the iterative
  * operators' per-round "unpersist the superseded checkpoint" calls were
  * therefore not bounding state to one live snapshot as documented.
  *
  * Use [[release]] wherever a checkpoint pin is superseded — per-round
  * loop state especially, where the leak compounds ([[Iterate]] does it
  * for the iterative operators). For `cache()`d frames keep plain
  * `unpersist()` (that path works).
  */
object Pins {

  /** Free a checkpointed DataFrame's storage (non-blocking). Falls back
    * to plain `unpersist` for non-checkpoint plans, so it is always safe
    * to call on anything that was pinned.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}
