package graft

import graft.operators.TopKPerKey
import org.apache.spark.sql.functions._

/** TopKAgg (TypedImperativeAggregate) must reproduce the udaf HeapAgg
  * reference bit-for-bit — ordering, tie-breaks, duplicate handling,
  * under-full and over-full groups.
  */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  test("TopKAgg == udaf HeapAgg reference on tie-heavy random data") {
    for (seed <- Seq(2, 13, 77)) {
      val rnd = new scala.util.Random(seed)
      // few distinct scores -> many exact ties; duplicate (score, id)
      // pairs included deliberately
      val rows = Seq.tabulate(600) { i =>
        (s"k${rnd.nextInt(7)}", rnd.nextInt(5).toDouble / 2.0, rnd.nextInt(40).toLong)
      } ++ Seq(("k0", 1.0, 3L), ("k0", 1.0, 3L)) // exact duplicate rows
      val df = rows.toDF("key", "score", "id")
      for (k <- Seq(1, 3, 8)) {
        val got = TopKPerKey.topK(df, "key", "score", "id", k)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .sortBy(t => (t._1, t._4))
        val ref = df
          .select(col("key"), col("score").cast("double").as("__score"),
            col("id").cast("long").as("__id"))
          .groupBy(col("key"))
          .agg(udaf(TopKPerKey.HeapAgg(k)).apply(col("__score"), col("__id")).as("top"))
          .select(col("key"), posexplode(col("top")).as(Seq("rank0", "pair")))
          .select(col("key"), col("pair._2").as("id"), col("pair._1").as("score"),
            (col("rank0") + 1).cast("long").as("rank"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .sortBy(t => (t._1, t._4))
        assert(got.toSeq == ref.toSeq, s"seed $seed k $k: TopKAgg diverged from HeapAgg")
      }
    }
  }

  test("TopKAgg: under-full groups and k=1 singleton") {
    val df = Seq(("a", 2.0, 10L), ("a", 2.0, 7L), ("b", 1.0, 1L)).toDF("key", "score", "id")
    val out = TopKPerKey.topK(df, "key", "score", "id", 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      .sortBy(t => (t._1, t._4))
    // score ties break to ascending id
    assert(out == Seq(("a", 7L, 2.0, 1L), ("a", 10L, 2.0, 2L), ("b", 1L, 1.0, 1L)), out)
  }

  test("TopKAgg: a NaN score fails with a typed error naming the id; nulls are skipped") {
    val nan = Seq(("a", 2.0, 1L), ("a", Double.NaN, 4L), ("a", 1.0, 2L)).toDF("key", "score", "id")
    val ex = intercept[Exception](TopKPerKey.topK(nan, "key", "score", "id", 2).collect())
    val cause = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalArgumentException => e }
    assert(cause.exists(_.getMessage.contains("NaN score for id 4")), ex)
    val withNull = Seq(("a", Some(2.0), 1L), ("a", None, 4L), ("a", Some(1.0), 2L))
      .toDF("key", "score", "id")
    val out = TopKPerKey.topK(withNull, "key", "score", "id", 5)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(out.sortBy(_._2) == Seq((1L, 1L), (2L, 2L)), out)
  }
}
