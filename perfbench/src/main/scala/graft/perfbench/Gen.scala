package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives byte-identical files:
  * columns are pure functions of (row id, seed), partition counts are
  * fixed, and part files get fixed names.
  */
object Gen {

  /** Uniform in [0, 1), a pure function of (id, seed, k). */
  def u(id: Column, seed: Long, k: Int): Column =
    shiftrightunsigned(xxhash64(id, lit(seed), lit(k)), 11).cast(DoubleType) / lit(9007199254740992.0)

  /** Uniform integer in [0, n). */
  def pick(id: Column, seed: Long, k: Int, n: Int): Column = floor(u(id, seed, k) * n).cast(IntegerType)

  /** `c`, or null on a `frac` share of rows. */
  def nulls(c: Column, id: Column, seed: Long, k: Int, frac: Double): Column =
    when(u(id, seed, k) < frac, lit(null)).otherwise(c)

  def choose(values: Seq[String], id: Column, seed: Long, k: Int): Column =
    element_at(typedLit(values.toArray), pick(id, seed, k, values.length) + 1)

  /** `n` words drawn from `vocab`, joined by spaces. */
  def words(vocab: Seq[String], n: Int, id: Column, seed: Long, k0: Int): Column =
    concat_ws(" ", (0 until n).map(i => choose(vocab, id, seed, k0 + i)): _*)

  /** Pronounceable words of 3 to 9 letters, fixed by `seed`. */
  def vocabulary(size: Int, seed: Long): IndexedSeq[String] = {
    val rnd = new SplittableRandom(seed)
    val cons = "bcdfghjklmnprstvwz"; val vows = "aeiou"
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < size) {
      val syll = 1 + rnd.nextInt(3)
      val w = (0 until syll).map(_ => s"${cons(rnd.nextInt(cons.length))}${vows(rnd.nextInt(vows.length))}").mkString +
        (if (rnd.nextBoolean()) cons(rnd.nextInt(cons.length)).toString else "")
      if (w.length >= 3) out += w
    }
    out.toIndexedSeq
  }

  val Stopwords: Seq[String] = Seq("the", "and", "of", "to", "in", "is", "that", "for")

  // ---- files ------------------------------------------------------------

  /** Write `df` as zstd parquet with fixed part-file names and no
    * side files. Timestamps are written as microseconds.
    */
  def writeParquet(df: DataFrame, dir: String, rowGroupBytes: Option[Long] = None): Unit = {
    val w = df.write.mode("overwrite").option("compression", "zstd")
    rowGroupBytes.fold(w)(b => w.option("parquet.block.size", b.toString)).parquet(dir)
    normalize(dir)
  }

  private val PartName = """(part-\d+)-.*?(\.[a-z0-9]+)?\.parquet""".r

  private def normalize(dir: String): Unit =
    new File(dir).listFiles().foreach { f =>
      f.getName match {
        case n if n.startsWith(".") || n.startsWith("_") => f.delete()
        case PartName(part, _) => f.renameTo(new File(f.getParentFile, s"$part.parquet"))
        case _ => ()
      }
    }

  def files(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new File(dir))
  }

  def bytesOnDisk(dir: String): Long = files(dir).map(_.length).sum

  /** CRC32 over every file's relative path and bytes, in path order. */
  def fingerprint(dir: String): String = {
    val root = new File(dir).getCanonicalPath
    val crc = new java.util.zip.CRC32
    files(dir).foreach { f =>
      crc.update(f.getCanonicalPath.stripPrefix(root).getBytes("UTF-8"))
      crc.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    f"${crc.getValue}%08x"
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  // ---- table_store --------------------------------------------------------

  /** The table_store source: a sorted id, a KNIME RowID, ints, doubles,
    * two low-cardinality strings, ~100-character text, a timestamp, a
    * struct and a float list. Non-key columns are 10-30% null.
    */
  def storeTable(spark: SparkSession, rows: Long, seed: Long, partitions: Int): DataFrame = {
    val id = col("id")
    val vocab = vocabulary(1000, seed)
    val cats = (0 until 12).map(i => s"category_$i")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val floats = (0 until 8).map(i => (u(id, seed, 40 + i) * 2 - 1).cast(FloatType))
    spark.range(0, rows, 1, partitions).select(
      id,
      concat(lit("Row"), id.cast(StringType)).as("row_id"),
      nulls(pick(id, seed, 1, 1000000), id, seed, 101, 0.10).as("qty"),
      nulls((u(id, seed, 2) * 1e12).cast(LongType), id, seed, 102, 0.15).as("amount"),
      nulls(u(id, seed, 3) * 1000, id, seed, 103, 0.20).as("price"),
      nulls(u(id, seed, 4) - 0.5, id, seed, 104, 0.30).as("score"),
      nulls(choose(cats, id, seed, 5), id, seed, 105, 0.10).as("cat"),
      nulls(choose(regions, id, seed, 6), id, seed, 106, 0.25).as("region"),
      nulls(words(vocab, 15, id, seed, 200), id, seed, 107, 0.10).as("text"),
      nulls(timestamp_micros(lit(1577836800000000L) + (u(id, seed, 7) * 1.5e14).cast(LongType)),
        id, seed, 108, 0.20).as("ts"),
      nulls(struct(pick(id, seed, 8, 100).as("a"), choose(cats, id, seed, 9).as("b")),
        id, seed, 109, 0.15).as("info"),
      nulls(slice(array(floats: _*), lit(1), pick(id, seed, 10, 8) + 1), id, seed, 110, 0.20).as("vec")
    )
  }

  // ---- virtual_table: TPC-H-shaped tables -------------------------------

  final case class TpchSizes(lineitem: Long, customer: Long, part: Long, supplier: Long)

  def tpch(spark: SparkSession, s: TpchSizes, seed: Long, partitions: Int): Map[String, DataFrame] = {
    val id = col("id")
    val vocab = vocabulary(300, seed + 1)
    def comment(k: Int, n: Int) = words(vocab, n, id, seed, k)
    def range(n: Long) = spark.range(1, n + 1, 1, partitions)
    val nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
      "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO",
      "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
      "UNITED KINGDOM", "UNITED STATES")
    Map(
      "nation" -> spark.range(0, 25, 1, 1).select(
        id.cast(IntegerType).as("n_nationkey"),
        element_at(typedLit(nations.toArray), id.cast(IntegerType) + 1).as("n_name"),
        (id % 5).cast(IntegerType).as("n_regionkey"),
        comment(10, 8).as("n_comment")),
      "supplier" -> range(s.supplier).select(
        id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        pick(id, seed, 1, 25).as("s_nationkey"),
        round(u(id, seed, 2) * 10998.0 - 999.0, 2).as("s_acctbal"),
        comment(20, 6).as("s_comment")),
      "part" -> range(s.part).select(
        id.as("p_partkey"),
        comment(30, 4).as("p_name"),
        format_string("Brand#%d%d", pick(id, seed, 3, 5) + 1, pick(id, seed, 4, 5) + 1).as("p_brand"),
        (pick(id, seed, 5, 50) + 1).as("p_size"),
        round(lit(900.0) + u(id, seed, 6) * 1100.0, 2).as("p_retailprice"),
        comment(40, 3).as("p_comment")),
      "customer" -> range(s.customer).select(
        id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pick(id, seed, 7, 25).as("c_nationkey"),
        round(u(id, seed, 8) * 10998.0 - 999.0, 2).as("c_acctbal"),
        choose(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id, seed, 9)
          .as("c_mktsegment"),
        comment(50, 8).as("c_comment")),
      "lineitem" -> range(s.lineitem).select(
        (floor((id - 1) / 4) + 1).as("l_orderkey"),
        (((id - 1) % 4) + 1).cast(IntegerType).as("l_linenumber"),
        (floor(u(id, seed, 11) * s.part) + 1).cast(LongType).as("l_partkey"),
        (floor(u(id, seed, 12) * s.supplier) + 1).cast(LongType).as("l_suppkey"),
        (pick(id, seed, 13, 50) + 1).cast(DoubleType).as("l_quantity"),
        round(u(id, seed, 14) * 100000.0, 2).as("l_extendedprice"),
        round(u(id, seed, 15) * 0.10, 2).as("l_discount"),
        round(u(id, seed, 16) * 0.08, 2).as("l_tax"),
        choose(Seq("A", "N", "R"), id, seed, 17).as("l_returnflag"),
        choose(Seq("F", "O"), id, seed, 18).as("l_linestatus"),
        date_add(lit(java.sql.Date.valueOf("1992-01-01")), pick(id, seed, 19, 2500)).as("l_shipdate"),
        choose(Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"), id, seed, 20).as("l_shipmode"),
        comment(60, 4).as("l_comment"))
    )
  }

  // ---- llm_curation -----------------------------------------------------

  /** Documents with planted duplicates. `group(i)` is the planted group of
    * doc i (-1 when unique); every group should keep exactly one survivor.
    */
  final case class Corpus(ids: Array[Long], texts: Array[String], group: Array[Int],
      exactCopies: Int, nearVariants: Int) {
    def groups: Int = group.max + 1
    /** Docs no other doc duplicates: the only valid BM25 query sources. */
    lazy val loners: IndexedSeq[Int] = {
      val sizes = group.filter(_ >= 0).groupBy(identity).map { case (g, xs) => g -> xs.length }
      ids.indices.filter(i => group(i) < 0 || sizes(group(i)) == 1)
    }
  }

  def corpus(docs: Int, seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val vocab = vocabulary(5000, seed + 2)
    def doc(): Array[String] = Array.fill(80 + rnd.nextInt(41)) {
      if (rnd.nextInt(10) < 3) Stopwords(rnd.nextInt(Stopwords.length)) else vocab(rnd.nextInt(vocab.length))
    }
    val exactCopies = docs / 10
    val nearVariants = docs / 10
    val copiesPerOriginal = 2
    val variantsPerBase = 4
    val originals = exactCopies / copiesPerOriginal
    val bases = nearVariants / variantsPerBase
    val uniques = docs - exactCopies - nearVariants
    val texts = new Array[String](docs)
    val group = Array.fill(docs)(-1)
    var g = 0
    var next = uniques
    (0 until uniques).foreach { i =>
      val words = doc()
      texts(i) = words.mkString(" ")
      if (i < originals) {
        group(i) = g
        (0 until copiesPerOriginal).foreach { _ => texts(next) = texts(i); group(next) = g; next += 1 }
        g += 1
      } else if (i < originals + bases) {
        group(i) = g
        (0 until variantsPerBase).foreach { _ =>
          val v = words.clone()
          (0 until 2).foreach(_ => v(rnd.nextInt(v.length)) = vocab(rnd.nextInt(vocab.length)))
          texts(next) = v.mkString(" "); group(next) = g; next += 1
        }
        g += 1
      }
    }
    // a seeded permutation of ids, so planted groups are not id ranges
    val perm = (0L until docs.toLong).toArray
    (docs - 1 to 1 by -1).foreach { i => val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
    Corpus(perm, texts, group, exactCopies, nearVariants)
  }

  /** Unit vectors in planted clusters, plus a pool of query vectors drawn
    * around the same centres (query ids start at 1e9).
    */
  def embeddings(n: Int, dim: Int, clusters: Int, queries: Int, seed: Long)
      : (Seq[(Long, Array[Double])], Seq[(Long, Array[Double])]) = {
    val rnd = new SplittableRandom(seed ^ 0xe1beL)
    def gauss(): Double = {
      var x = 0.0; var i = 0
      while (i < 12) { x += rnd.nextDouble(); i += 1 }
      x - 6.0
    }
    def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val centres = Array.fill(clusters)(unit(Array.fill(dim)(gauss())))
    def around(c: Array[Double]): Array[Double] = unit(c.map(x => x + 0.05 * gauss()))
    val corpus = (0 until n).map(i => (i.toLong, around(centres(rnd.nextInt(clusters)))))
    val qs = (0 until queries).map(i => (1000000000L + i, around(centres(rnd.nextInt(clusters)))))
    (corpus, qs)
  }

  /** A link graph of planted components: a random spanning tree per
    * component plus extra random edges inside it, to `edges` in total.
    * Component sizes follow a fixed schedule (2, 4, ..., 2048, repeated),
    * so every seed has the same shape; the seed permutes node ids and
    * draws the edges. Returns (edges, node id -> planted component).
    */
  def graph(nodes: Int, edges: Int, seed: Long): (Array[(Long, Long)], Array[Int]) = {
    val rnd = new SplittableRandom(seed ^ 0x9a9bL)
    val perm = (0 until nodes).toArray
    (nodes - 1 to 1 by -1).foreach { i => val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
    val comp = new Array[Int](nodes)
    val members = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var start = 0
    while (start < nodes) {
      val size = math.min(nodes - start, 2 << (members.length % 11))
      val m = perm.slice(start, start + size)
      m.foreach(comp(_) = members.length)
      members += m
      start += size
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    members.foreach { m => (1 until m.length).foreach(i => out += ((m(i).toLong, m(rnd.nextInt(i)).toLong))) }
    val extra = math.max(0, edges - out.length)
    (0 until extra).foreach { _ =>
      val m = members(comp(rnd.nextInt(nodes)))
      out += ((m(rnd.nextInt(m.length)).toLong, m(rnd.nextInt(m.length)).toLong))
    }
    (out.toArray, comp)
  }

  /** Rows to a DataFrame with a fixed number of partitions. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType, partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)
}
