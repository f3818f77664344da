package graft.perfbench

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, xxhash64}

/** Content digest of a DataFrame, computed where the rows are.
  *
  * Each row hashes to `xxhash64(all columns)`. Partitions fold their rows
  * locally and this JVM combines the per-partition folds in partition
  * order, which is result order. Arithmetic wraps on the JVM instead of
  * summing in SQL, where `sum(xxhash64)` overflows under ANSI mode.
  *
  *  - ordered: a polynomial rolling hash, h(a ++ b) = h(a)·P^|b| + h(b), so
  *    any split of one row sequence into partitions gives the same digest
  *    and any reordering changes it;
  *  - unordered: the wrapping sum of mixed row hashes, invariant under any
  *    permutation.
  *
  * The digest also carries the row count and the schema (names and types,
  * nullability ignored).
  */
object ContentHash {

  final case class Digest(rows: Long, hash: Long, schema: String) {
    override def toString: String = f"$rows rows, hash $hash%016x, <$schema>"
  }

  private val P = 0x100000001b3L

  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** b^e mod 2^64. */
  def pow(b0: Long, e0: Long): Long = {
    var r = 1L; var b = b0; var e = e0
    while (e > 0) {
      if ((e & 1L) == 1L) r *= b
      b *= b; e >>>= 1
    }
    r
  }

  /** Fold one partition's row hashes into (rows, hash). */
  def fold(rowHashes: Iterator[Long], ordered: Boolean): (Long, Long) = {
    var n = 0L; var h = 0L
    if (ordered) rowHashes.foreach { x => h = h * P + mix64(x); n += 1 }
    else rowHashes.foreach { x => h += mix64(x); n += 1 }
    (n, h)
  }

  /** Combine the folds of consecutive partitions, in order. */
  def combine(parts: Seq[(Long, Long)], ordered: Boolean): (Long, Long) =
    parts.foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) =>
      (n + pn, if (ordered) h * pow(P, pn) + ph else h + ph)
    }

  def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** Materialize every column of every row of `df` and digest it. */
  def apply(df: DataFrame, ordered: Boolean): Digest = {
    require(df.columns.nonEmpty, "cannot digest a zero-column result")
    val hashes = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))
      .as(Encoders.scalaLong)
    val parts = hashes
      .mapPartitions(it => Iterator(fold(it, ordered)))(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    val (n, h) = combine(parts.toSeq, ordered)
    Digest(n, h, schemaOf(df))
  }
}
