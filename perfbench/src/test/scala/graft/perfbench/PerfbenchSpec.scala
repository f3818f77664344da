package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark: SparkSession = graft.GraftSession.builder("local[2]", 2)
    .config("spark.local.dir", new File(work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteRecursively(work)
  }

  // ---- content hash -------------------------------------------------------

  test("the ordered digest does not depend on how rows are partitioned") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") * 7 % 13).as("v")).orderBy("id")
    val one = ContentHash(df.coalesce(1), ordered = true)
    val many = ContentHash(df.repartitionByRange(7, col("id")).sortWithinPartitions("id"), ordered = true)
    assert(one == many)
    assert(one.rows == 1000)
  }

  test("the ordered digest sees order, the unordered one does not") {
    val asc = spark.range(0, 500).toDF("id").orderBy(col("id"))
    val desc = spark.range(0, 500).toDF("id").orderBy(col("id").desc)
    assert(ContentHash(asc, ordered = true) != ContentHash(desc, ordered = true))
    assert(ContentHash(asc, ordered = false) == ContentHash(desc, ordered = false))
  }

  test("the digest sees a changed value, a lost row and a changed schema") {
    val base = spark.range(0, 300).toDF("id").orderBy("id")
    val d = ContentHash(base, ordered = true)
    assert(ContentHash(base.select(when(col("id") === 150, 0L).otherwise(col("id")).as("id")), ordered = true) != d)
    assert(ContentHash(base.where(col("id") =!= 299), ordered = true) != d)
    assert(ContentHash(base.select(col("id").cast("int").as("id")), ordered = true) != d)
  }

  test("combining partition folds wraps instead of overflowing") {
    val big = Iterator.fill(10000)(Long.MaxValue)
    val (n, _) = ContentHash.combine(Seq(ContentHash.fold(big, ordered = false)), ordered = false)
    assert(n == 10000)
    val xs = (1L to 100L).map(_ * 0x9e3779b97f4a7c15L)
    val whole = ContentHash.fold(xs.iterator, ordered = true)
    val split = ContentHash.combine(Seq(xs.take(37), xs.drop(37)).map(p => ContentHash.fold(p.iterator, ordered = true)),
      ordered = true)
    assert(whole == split)
  }

  // ---- statistics ---------------------------------------------------------

  test("the tail percentile is the highest one with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(39).contains(0.5))
    assert(Stats.tailPercentile(40).contains(0.75))
    assert(Stats.tailPercentile(50).contains(0.8))
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.beyond(100, 0.9) == 10)
  }

  test("percentiles are nearest-rank, the median averages the middle pair") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.median(xs) == 5.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  // ---- self time ----------------------------------------------------------

  test("covered time is the length of the union of intervals") {
    assert(Trace.covered(Nil) == 0)
    assert(Trace.covered(Seq((10L, 30L), (20L, 40L))) == 30) // overlap counted once
    assert(Trace.covered(Seq((50L, 60L), (10L, 20L))) == 20)
    assert(Trace.covered(Seq((0L, 100L), (20L, 30L))) == 100)
    assert(Trace.covered(Seq((5L, 5L))) == 0)
  }

  test("self times of a span tree add up to the root's duration") {
    val root = new Span(0, "bench.op.x", -1, 0, 0, 100)
    val a = new Span(1, "sources.read", 0, 0, 10, 60)
    val b = new Span(2, "runtime.job", 1, 0, 20, 50)
    val c = new Span(3, "plans.optimize", 0, 0, 70, 80)
    val self = Trace.selfTimes(IndexedSeq(root, a, b, c))
    assert(self == IndexedSeq(40L, 20L, 30L, 10L))
    assert(self.sum == root.dur)
  }

  test("overlapping sibling spans split their overlap instead of counting it twice") {
    val root = new Span(0, "bench.op.x", -1, 0, 0, 100)
    val j1 = new Span(1, "runtime.job", 0, 0, 10, 50)
    val j2 = new Span(2, "runtime.job", 0, 0, 30, 70)
    val self = Trace.selfTimes(IndexedSeq(root, j1, j2))
    assert(self == IndexedSeq(40L, 20L, 40L))
    assert(self.sum == root.dur)
  }

  // ---- generator ----------------------------------------------------------

  test("the same seed gives byte-identical inputs, another seed different ones") {
    def gen(dir: String, seed: Long): String = {
      Gen.writeParquet(Gen.storeTable(spark, 2000, seed, 3), dir)
      Gen.fingerprint(dir)
    }
    val a = gen(new File(work, "gen-a").getPath, 7)
    val b = gen(new File(work, "gen-b").getPath, 7)
    val c = gen(new File(work, "gen-c").getPath, 8)
    assert(a == b)
    assert(a != c)
    assert(Gen.files(new File(work, "gen-a").getPath).map(_.getName) == Seq("part-00000.parquet",
      "part-00001.parquet", "part-00002.parquet"))
    val ts = spark.read.parquet(new File(work, "gen-a").getPath).schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.TimestampType)
  }

  test("the in-memory generators are deterministic and plant what they claim") {
    val c1 = Gen.corpus(2000, 5)
    val c2 = Gen.corpus(2000, 5)
    assert(c1.ids.toSeq == c2.ids.toSeq && c1.texts.toSeq == c2.texts.toSeq)
    assert(c1.exactCopies == 200 && c1.nearVariants == 200)
    val copies = c1.texts.groupBy(identity).values.map(_.length - 1).sum
    assert(copies == c1.exactCopies)
    val (e1, comp1) = Gen.graph(1000, 5000, 3)
    val (e2, comp2) = Gen.graph(1000, 5000, 3)
    assert(e1.toSeq == e2.toSeq && comp1.toSeq == comp2.toSeq)
    assert(e1.length == 5000)
    assert(e1.forall { case (s, d) => comp1(s.toInt) == comp1(d.toInt) })
  }

  // ---- checks -------------------------------------------------------------

  test("a corrupted op output is counted as failed") {
    val ctx = new Ctx(spark, new Tracer(spark), 11, new File(work, "ctx"))
    val w = new TableStore(ctx, rows = 3000)
    val dir = new File(work, "store")
    w.setup(dir)
    w.prepare(dir)
    val ops = w.cycle(1)
    val clean = ops.zipWithIndex.map { case (op, i) => Loop.runOp(ctx, i, op) }
    assert(clean.forall(_.error.isEmpty), clean.flatMap(_.error))
    ctx.tamper = _.offset(1)
    val read = ops.find(_.kind == "read_full").get
    val write = ops.find(_.kind == "write_arrowipc").get
    val corrupted = Seq(read, write).map(op => Loop.runOp(ctx, 99, op))
    assert(corrupted.forall(_.error.nonEmpty))
    ctx.tamper = identity
  }
}
