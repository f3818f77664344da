package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types.NumericType

import graft.sources.ArrowIpc
import graft.table.TableWriter

/** table_store: write columnar tables with write-time domains and RowID
  * checks, and read them back with column and batch pruning. One write to
  * four reads; writes rotate over three write paths, reads over four read
  * paths of one base store.
  */
final class TableStore(ctx: Ctx, rows: Long) extends Workload {
  import TableStore._
  val name = "table_store"
  val nominalCycleSeconds = 6.0
  private def spark = ctx.spark
  private def tr = ctx.tracer
  private val seed = ctx.seed
  private var src = ""
  private var base = ""

  def setup(dir: File): Unit = {
    src = new File(dir, "source").getPath
    base = new File(dir, "base_store").getPath
    Gen.writeParquet(Gen.storeTable(spark, rows, seed, Partitions), src)
    ArrowIpc.write(spark.read.parquet(src), base, dictColumns = DictColumns)
  }

  private var source: DataFrame = _
  private var fullRef: ContentHash.Digest = _
  private var ranges: IndexedSeq[(Long, Long)] = IndexedSeq.empty
  private var prunedRefs: IndexedSeq[ContentHash.Digest] = IndexedSeq.empty
  private var filteredRefs: IndexedSeq[ContentHash.Digest] = IndexedSeq.empty
  private var nullRefs: Map[String, Long] = Map.empty
  private var numericRefs: Map[String, (Double, Double)] = Map.empty
  private var storeBytes = 0L
  private var userBytes = 0L
  private var srcBytes = 0L

  def prepare(dir: File): Unit = {
    source = spark.read.parquet(src)
    val rnd = new java.util.SplittableRandom(seed ^ 0x7ab1eL)
    // fixed column shapes (a fixed-width and a variable-width column) and
    // range lengths of 1..5% of the rows, so every seed prices the same work
    ranges = RangePercents.map { pct =>
      val len = rows * pct / 100
      val lo = (rnd.nextDouble() * (rows - len)).toLong
      (lo, lo + len)
    }
    // reference digests from one plain scan: each row's hash over the
    // columns every read returns, folded here in id order
    def h(cs: Seq[String]) = xxhash64(cs.map(c => col(s"`$c`")): _*)
    val hashed = source.select(col("id") +: h(source.columns.toSeq) +: h(FilterColumns) +: ColumnSets.map(h): _*)
      .collect().sortBy(_.getLong(0))
    def digest(k: Int, cs: Seq[String], keep: Long => Boolean): ContentHash.Digest = {
      val (n, hash) = ContentHash.fold(hashed.iterator.filter(r => keep(r.getLong(0))).map(_.getLong(k)), ordered = true)
      ContentHash.Digest(n, hash, ContentHash.schemaOf(source.select(cs.map(c => col(s"`$c`")): _*)))
    }
    fullRef = digest(1, source.columns.toSeq, _ => true)
    filteredRefs = ranges.map { case (lo, hi) => digest(2, FilterColumns, id => id >= lo && id < hi) }
    prunedRefs = ColumnSets.indices.map(i => digest(3 + i, ColumnSets(i), _ => true))
    // null counts and numeric bounds for the domain checks, and the
    // source's plain Arrow size, in one aggregation
    val numeric = source.schema.fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
    val strings = Seq(col("row_id"), col("cat"), col("region"), col("text"), col("info.b"))
    val exprs = source.columns.map(c => count(when(col(s"`$c`").isNull, 1)).as(s"n_$c")) ++
      numeric.flatMap(c => Seq(min(col(c)).cast("double").as(s"lo_$c"), max(col(c)).cast("double").as(s"hi_$c"))) ++
      Seq(count(lit(1)).as("rows"),
        sum(strings.map(c => coalesce(octet_length(c), lit(0)).cast("long")).reduce(_ + _)).as("chars"),
        sum(when(col("vec").isNull, 0L).otherwise(size(col("vec")).cast("long"))).as("elems"))
    val agg = source.agg(exprs.head, exprs.tail.toIndexedSeq: _*).head()
    nullRefs = source.columns.map(c => c -> agg.getAs[Long](s"n_$c")).toMap
    numericRefs = numeric.map(c => c -> (agg.getAs[Double](s"lo_$c"), agg.getAs[Double](s"hi_$c"))).toMap
    userBytes = arrowBytes(agg.getAs[Long]("rows"), agg.getAs[Long]("chars"), agg.getAs[Long]("elems"))
    storeBytes = Gen.bytesOnDisk(base)
    srcBytes = Gen.bytesOnDisk(src)
  }

  def summary: Seq[(String, String)] = Seq(
    "input_rows" -> rows.toString,
    "input_parquet_bytes" -> srcBytes.toString,
    "input_arrow_bytes" -> userBytes.toString,
    "base_store_bytes" -> storeBytes.toString,
    "planted_duplicate_share" -> "0 (ids and RowIDs are unique)")

  /** One cycle: each of the three writes once, each followed by the four
    * reads (one write to four reads).
    */
  def cycle(c: Int): Seq[Op] = (0 until 3).flatMap { w =>
    val k = 3 * c + w
    Seq(write(w), readFull(), readPruned(k % ColumnSets.length),
      readFiltered(k % ranges.length), readDsv2((k + 2) % ranges.length))
  }

  /** One op of each kind: the cycle repeats the reads three times. */
  override def warmup: Seq[Op] = cycle(0).groupBy(_.kind).values.map(_.head).toSeq

  private def readKind(kind: String, ref: ContentHash.Digest)(read: => DataFrame): Op =
    Op(kind, rows, () => {
      val got = tr.span(s"sources.$kind") {
        val (d, bytes) = ArrowIpc.bytesReadDuring(ctx.materialize(read.orderBy("id"), ordered = true))
        tr.note("body_bytes_read", bytes.toDouble)
        tr.note("store_bytes", storeBytes.toDouble)
        d
      }
      () => Loop.expect(kind, got, ref)
    })

  private def readFull(): Op = readKind("read_full", fullRef)(ArrowIpc.read(spark, base))

  private def readPruned(i: Int): Op =
    readKind("read_pruned", prunedRefs(i))(ArrowIpc.read(spark, base, ColumnSets(i)))

  private def readFiltered(i: Int): Op = {
    val (lo, hi) = ranges(i)
    readKind("read_filtered", filteredRefs(i))(
      ArrowIpc.read(spark, base, FilterColumns, Seq(GreaterThanOrEqual("id", lo), LessThan("id", hi))))
  }

  private def readDsv2(i: Int): Op = {
    val (lo, hi) = ranges(i)
    readKind("read_dsv2", filteredRefs(i))(
      spark.read.format("arrowipc").load(base)
        .where(col("id") >= lo && col("id") < hi).select(FilterColumns.map(col): _*))
  }

  private def write(which: Int): Op = which match {
    case 0 => writeOp("write_arrowipc", readBack = ArrowIpc.read(spark, _)) { out =>
        tr.span("sources.write.arrowipc")(ArrowIpc.write(spark.read.parquet(src), out, dictColumns = DictColumns))
        () => ()
      }
    case 1 => writeOp("write_dsv2", readBack = ArrowIpc.read(spark, _)) { out =>
        tr.span("sources.write.dsv2")(spark.read.parquet(src).write.format("arrowipc").mode("overwrite").save(out))
        () => ()
      }
    case _ => writeOp("write_tablewriter", readBack = spark.read.parquet(_)) { out =>
        val r = tr.span("table.writer")(TableWriter.write(spark.read.parquet(src), out, checkRowIdUnique = true))
        () => {
          Loop.expect("row count", r.rowCount, rows)
          r.domains.filter(d => nullRefs.contains(d.column)).foreach { d =>
            Loop.expect(s"nulls of ${d.column}", d.nullCount, nullRefs(d.column))
            numericRefs.get(d.column).foreach { case (lo, hi) =>
              Loop.expect(s"min of ${d.column}", d.min.map(_.toString.toDouble), Some(lo))
              Loop.expect(s"max of ${d.column}", d.max.map(_.toString.toDouble), Some(hi))
            }
          }
        }
      }
  }

  /** A write to a fresh directory; the check reads the store back in full
    * and deletes it.
    */
  private def writeOp(kind: String, readBack: String => DataFrame)(body: String => (() => Unit)): Op =
    Op(kind, rows, () => {
      val out = ctx.freshDir(kind)
      val check = body(out)
      tr.note("files_written", Gen.files(out).count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")).toDouble)
      tr.note("write_bytes", Gen.bytesOnDisk(out).toDouble)
      tr.note("rows_written", rows.toDouble)
      () => try {
        check()
        Loop.expect(s"$kind read back", ctx.digest(readBack(out).orderBy("id"), ordered = true), fullRef)
      } finally Gen.deleteRecursively(new File(out))
    })

  override def extraMetrics(results: Seq[OpResult]): Seq[(String, Double, String)] = {
    def secs(p: OpResult => Boolean) = results.filter(p).map(_.ns).sum / 1e9
    def n(p: OpResult => Boolean) = results.count(p)
    val writes = (r: OpResult) => r.kind.startsWith("write")
    val reads = (r: OpResult) => r.kind.startsWith("read")
    Seq(
      ("write_rows_per_s", n(writes) * rows / secs(writes), "rows/s"),
      ("scan_rows_per_s", n(reads) * rows / secs(reads), "rows/s"),
      ("store_bytes_per_user_byte", storeBytes.toDouble / userBytes, "ratio"))
  }

  /** Bytes the source takes as plain Arrow vectors (no padding, strings
    * not dictionary-encoded): fixed-width values, 4-byte offsets, string
    * and list payloads, and one validity bit per value.
    */
  private def arrowBytes(n: Long, chars: Long, elems: Long): Long = {
    val fixed = 8 + 4 + 8 + 8 + 8 + 8 + 4 // id qty amount price score ts info.a
    val offsets = 4 * 6 // row_id cat region text info.b vec
    val validityBits = 15L * n + elems // 12 columns, 2 struct children, list elements
    n * (fixed + offsets) + chars + 4 * elems + validityBits / 8
  }
}

object TableStore {
  val Partitions = 8
  /** The 3-column projections of the pruned reads. */
  val ColumnSets: Seq[Seq[String]] = Seq(Seq("id", "price", "text"), Seq("id", "qty", "cat"), Seq("id", "ts", "vec"))
  /** The projection of the id-range reads. */
  val FilterColumns: Seq[String] = Seq("id", "amount", "region")
  /** Lengths of the id ranges, in percent of the rows. */
  val RangePercents: IndexedSeq[Int] = IndexedSeq(1, 2, 3, 4, 5)
  val DictColumns = Set("cat", "region")
}
