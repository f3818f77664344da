package org.apache.spark.sql

import org.apache.spark.sql.types.Metadata

/** Narrow bridge to a `private[sql]` seam that has no public equivalent
  * (stable across Spark 3.x→4.x): `Metadata.map` — enumerate a
  * [[Metadata]]'s keys. The public surface is get-by-key only, but
  * propagating field metadata into Arrow IPC field metadata requires
  * iteration.
  *
  * Kept deliberately tiny: no behavior, just visibility.
  */
object GraftSqlInternals {

  def metadataMap(m: Metadata): Map[String, Any] = types.GraftMetadataAccess.map(m)
}
