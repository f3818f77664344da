package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.PlanSpec
import graft.table.{Combine, Domains, KTable, RowId}

/** virtual_table: seeded chains of KNIME node operations over TPC-H-shaped
  * parquet. Dimension-table chains are dominated by building and planning
  * the query, fact-table chains by executing it. A quarter of the chains
  * go through a PlanSpec JSON round trip and `PlanSpec.execute`.
  */
final class VirtualTable(ctx: Ctx, sizes: Gen.TpchSizes) extends Workload {
  import VirtualTable._
  val name = "virtual_table"
  val nominalCycleSeconds = 4.0
  private def spark = ctx.spark
  private def tr = ctx.tracer
  private val seed = ctx.seed
  private var paths = Map.empty[String, String]

  def setup(dir: File): Unit = {
    paths = Gen.tpch(spark, sizes, seed, Partitions).map { case (t, df) =>
      val p = new File(dir, t).getPath
      // the fact table gets many small row groups
      Gen.writeParquet(df, p, if (t == "lineitem") Some(1L << 20) else None)
      t -> p
    }
  }

  private var sources = Map.empty[String, DataFrame]
  private var rowCounts = Map.empty[String, Long]
  private var dimChains = IndexedSeq.empty[Chain]
  private var factChains = IndexedSeq.empty[Chain]
  private var refs = Map.empty[Int, ContentHash.Digest]
  private var srcBytes = 0L

  def prepare(dir: File): Unit = {
    sources = paths.map { case (t, p) => t -> KTable.read(spark, p).df }
    rowCounts = Map("nation" -> 25L, "supplier" -> sizes.supplier, "part" -> sizes.part,
      "customer" -> sizes.customer, "lineitem" -> sizes.lineitem)
    srcBytes = paths.values.map(Gen.bytesOnDisk).sum
    val rnd = new SplittableRandom(seed ^ 0xc4a1L)
    val dims = Seq("nation", "supplier", "part", "customer")
    val shift = rnd.nextInt(dims.length)
    val dimPairs = DimTemplates.zipWithIndex.map { case ((kinds, viaPlanSpec), i) =>
      chain(i, dims((i + shift) % dims.length), kinds, viaPlanSpec, rnd)
    }
    val factPairs = FactTemplates.zipWithIndex.map { case ((kinds, viaPlanSpec), i) =>
      chain(DimTemplates.length + i, "lineitem", kinds, viaPlanSpec, rnd)
    }
    dimChains = dimPairs.map(_._1)
    factChains = factPairs.map(_._1)
    refs = (dimPairs ++ factPairs).map { case (c, ref) => c.id -> ContentHash(ref, ordered = true) }.toMap
  }

  def summary: Seq[(String, String)] =
    rowCounts.toSeq.sortBy(_._1).map { case (t, n) => s"rows.$t" -> n.toString } ++ Seq(
      "input_parquet_bytes" -> srcBytes.toString,
      "chains" -> (s"${dimChains.length} dimension + ${factChains.length} fact, " +
        s"${(dimChains ++ factChains).count(_.viaPlanSpec)} via PlanSpec"),
      "planted_duplicate_share" -> "0")

  /** One cycle runs every chain once: eight on dimension tables and four
    * on the fact table, interleaved.
    */
  def cycle(c: Int): Seq[Op] = {
    val dims = dimChains.grouped(2).toSeq
    dims.indices.flatMap(i => dims(i).map(op) :+ op(factChains(i)))
  }

  private def op(c: Chain): Op =
    Op(if (c.table == "lineitem") "fact_chain" else "dim_chain", rowCounts(c.table), () => {
      val got = ctx.materialize(build(c), ordered = true)
      () => Loop.expect(s"chain ${c.id} ${c.describe}", got, refs(c.id))
    })

  // ---- chains -------------------------------------------------------------

  /** A chain of the given step kinds with seeded parameters, checked
    * against the schema each step produces, and its reference: the same
    * steps in plain Spark. Parameter ranges are narrow (filters keep
    * 40-60%, slices span a fixed share), so a chain's cost does not swing
    * with the seed.
    */
  private def chain(id: Int, table: String, kinds: Seq[String], viaPlanSpec: Boolean,
      rnd: SplittableRandom): (Chain, DataFrame) = {
    var df = sources(table)
    val steps = kinds.zipWithIndex.map { case (kind, i) =>
      val fields = df.schema.fields.toIndexedSeq
      def pickField(p: StructField => Boolean): StructField = {
        val ok = fields.filter(p)
        require(ok.nonEmpty, s"chain $id: no column for $kind")
        ok(rnd.nextInt(ok.length))
      }
      def anyField = fields(rnd.nextInt(fields.length))
      val step: Step = kind match {
        case "filter" => Filter(s"pmod(hash(`${anyField.name}`), 10) < ${4 + rnd.nextInt(3)}")
        case "map" => MapCols((0 until 2 + rnd.nextInt(2)).map(j => s"m${i}_$j" -> derive(anyField, rnd)))
        case "appendMap" => AppendMap((0 until 1 + rnd.nextInt(2)).map(j => s"a${i}_$j" -> derive(anyField, rnd)))
        case "replaceMap" =>
          val f = pickField(f => isNumeric(f.dataType) || f.dataType == StringType)
          ReplaceMap(fields.indexOf(f), if (f.dataType == StringType) s"lower(`${f.name}`)" else s"`${f.name}` + 1")
        case "select" => SelectCols(shuffle(fields.indices, rnd).take(math.min(fields.length, 2 + rnd.nextInt(2))))
        case "drop" => DropCols(shuffle(fields.indices, rnd).take(math.min(fields.length - 2, 1 + rnd.nextInt(2))).sorted)
        case "slice" =>
          val len = if (table == "lineitem") 20000 + rnd.nextInt(10000) else 500 + rnd.nextInt(1000)
          val from = rnd.nextInt(100).toLong
          Slice(from, from + len)
        case "cast" =>
          val f = pickField(f => isNumeric(f.dataType))
          Cast(fields.indexOf(f), f.name, if (f.dataType == DoubleType) "string" else "double")
        case "rename" => Rename(fields.map(f => s"${f.name}_$i"))
        case "rowIndex" => RowIndex(s"ri_$i")
        case "observe" => Observe(s"obs_${id}_$i")
        case "concat" => Concat
        case "appendByPosition" =>
          val idx = shuffle(fields.indices, rnd).take(1 + rnd.nextInt(2))
          AppendByPosition(idx, idx.map(j => s"${fields(j).name}_p$i"))
        case "domains" => DomainTable
      }
      df = refStep(df, step)
      step
    }
    (Chain(id, table, steps, viaPlanSpec), df)
  }

  private def derive(f: StructField, rnd: SplittableRandom): String = f.dataType match {
    case StringType => if (rnd.nextBoolean()) s"upper(`${f.name}`)" else s"length(`${f.name}`)"
    case DateType => s"year(`${f.name}`)"
    case t if isNumeric(t) => s"`${f.name}` * 2 + 1"
    case _ => s"`${f.name}`"
  }

  /** The chain through the layers under test, inside the timed region. */
  private def build(c: Chain): DataFrame = {
    val src = sources(c.table)
    if (c.viaPlanSpec) {
      val nodes = scala.collection.mutable.ArrayBuffer[PlanSpec.Node](PlanSpec.Source("t"))
      def add(n: PlanSpec.Node): Int = { nodes += n; nodes.length - 1 }
      c.steps.foreach { s =>
        val in = nodes.length - 1
        s match {
          case Filter(sql) => add(PlanSpec.FilterRows(in, sql))
          case MapCols(outs) => add(PlanSpec.MapCols(in, outs))
          case AppendMap(outs) => add(PlanSpec.AppendMap(in, outs))
          case ReplaceMap(i, sql) => add(PlanSpec.ReplaceMap(in, i, sql))
          case SelectCols(idx) => add(PlanSpec.SelectCols(in, idx))
          case DropCols(idx) => add(PlanSpec.DropCols(in, idx))
          case Slice(f, u) => add(PlanSpec.Slice(in, f, u))
          case Cast(i, name, to) => add(PlanSpec.ReplaceMap(in, i, s"CAST(`$name` AS $to)"))
          case Rename(names) => add(PlanSpec.Rename(in, names))
          case RowIndex(name) => add(PlanSpec.RowIndex(in, name, 0L))
          case Observe(name) => add(PlanSpec.Observe(in, name, Seq("count(1)")))
          case AppendByPosition(idx, names) =>
            val sel = add(PlanSpec.SelectCols(in, idx))
            val ren = add(PlanSpec.Rename(sel, names))
            add(PlanSpec.AppendByPosition(in, ren))
          case Concat | DomainTable => throw new IllegalStateException(s"no PlanSpec node for $s")
        }
      }
      val plan = PlanSpec.Plan(nodes.toIndexedSeq, nodes.length - 1)
      val replayed = tr.span("plans.spec_roundtrip")(PlanSpec.fromJson(PlanSpec.toJson(plan)))
      tr.span("plans.execute")(PlanSpec.execute(replayed, Map("t" -> src)))
    } else {
      c.steps.foldLeft(KTable(src)) { (t, s) =>
        tr.span(s"table.construct.${s.label}") {
          s match {
            case Filter(sql) => t.filterRows(expr(sql))
            case MapCols(outs) => t.map(outs.map { case (n, e) => n -> expr(e) }: _*)
            case AppendMap(outs) => t.appendMap(outs.map { case (n, e) => n -> expr(e) }: _*)
            case ReplaceMap(i, sql) => t.replaceMap(i, expr(sql))
            case SelectCols(idx) => t.selectColumns(idx: _*)
            case DropCols(idx) => t.dropColumns(idx: _*)
            case Slice(f, u) => t.slice(f, u)
            case Cast(i, _, to) => t.castColumn(i, DataType.fromDDL(to))
            case Rename(names) => t.renameColumns(names: _*)
            case RowIndex(name) => t.appendRowIndex(name)
            case Observe(name) => t.observe(name, count(lit(1)))
            case Concat => KTable(RowId.regenerateRowIds(Combine.concatenate(Seq(t.df, t.df))))
            case AppendByPosition(idx, names) =>
              t.appendByPosition(t.selectColumns(idx: _*).renameColumns(names: _*))
            case DomainTable => KTable(Domains.domainTable(t.df))
          }
        }
      }.df
    }
  }
}

object VirtualTable {
  val Partitions = 8

  /** Chain shapes: step kinds and whether the chain runs as a PlanSpec.
    * The seed draws each step's parameters and which dimension table a
    * chain reads; the shapes stay fixed, so every seed prices the same mix.
    */
  val DimTemplates: IndexedSeq[(Seq[String], Boolean)] = IndexedSeq(
    Seq("filter", "select") -> false,
    Seq("appendMap", "filter", "rename") -> false,
    Seq("map", "slice") -> false,
    Seq("cast", "rowIndex", "drop") -> false,
    Seq("replaceMap", "observe", "concat") -> false,
    Seq("filter", "appendByPosition", "domains") -> false,
    Seq("filter", "appendMap", "select", "slice") -> true,
    Seq("rename", "rowIndex", "replaceMap", "observe", "filter", "select") -> true)
  val FactTemplates: IndexedSeq[(Seq[String], Boolean)] = IndexedSeq(
    Seq("filter", "appendMap", "select") -> false,
    Seq("cast", "replaceMap", "domains") -> false,
    Seq("slice", "rowIndex", "appendByPosition") -> false,
    Seq("filter", "map", "observe") -> true)

  sealed trait Step { def label: String = toString.takeWhile(_ != '(').toLowerCase }
  final case class Filter(sql: String) extends Step
  final case class MapCols(outs: Seq[(String, String)]) extends Step
  final case class AppendMap(outs: Seq[(String, String)]) extends Step
  final case class ReplaceMap(index: Int, sql: String) extends Step
  final case class SelectCols(idx: Seq[Int]) extends Step
  final case class DropCols(idx: Seq[Int]) extends Step
  final case class Slice(from: Long, until: Long) extends Step
  final case class Cast(index: Int, name: String, to: String) extends Step
  final case class Rename(names: Seq[String]) extends Step
  final case class RowIndex(name: String) extends Step
  final case class Observe(name: String) extends Step
  case object Concat extends Step
  /** Append columns `idx` of the same table, renamed to `names`. */
  final case class AppendByPosition(idx: Seq[Int], names: Seq[String]) extends Step
  case object DomainTable extends Step

  final case class Chain(id: Int, table: String, steps: Seq[Step], viaPlanSpec: Boolean) {
    def describe: String = s"$table${if (viaPlanSpec) " via PlanSpec" else ""}: ${steps.map(_.label).mkString(" > ")}"
  }

  def isNumeric(t: DataType): Boolean = t.isInstanceOf[NumericType]

  def shuffle(xs: Seq[Int], rnd: SplittableRandom): Seq[Int] = {
    val a = xs.toArray
    (a.length - 1 to 1 by -1).foreach { i => val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  /** Append an exact 0-based row index in current order: a row number
    * over one global window, ordered by position.
    */
  def indexed(df: DataFrame, name: String): DataFrame =
    df.withColumn("__pos", monotonically_increasing_id())
      .withColumn(name, (row_number().over(Window.orderBy("__pos")) - 1).cast(LongType))
      .drop("__pos")

  /** One step in plain Spark, written independently of the graft layers. */
  def refStep(df: DataFrame, s: Step): DataFrame = {
    val cols = df.columns.toIndexedSeq
    def q(c: String) = col(s"`$c`")
    s match {
      case Filter(sql) => df.where(expr(sql))
      case MapCols(outs) => df.select(outs.map { case (n, e) => expr(e).as(n) }: _*)
      case AppendMap(outs) => df.select(cols.map(q) ++ outs.map { case (n, e) => expr(e).as(n) }: _*)
      case ReplaceMap(i, sql) => df.select(cols.indices.map(j => if (j == i) expr(sql).as(cols(j)) else q(cols(j))): _*)
      case SelectCols(idx) => df.select(idx.map(i => q(cols(i))): _*)
      case DropCols(idx) => df.select(cols.indices.filterNot(idx.contains).map(i => q(cols(i))): _*)
      case Slice(f, u) =>
        indexed(df, "__i").where(col("__i") >= f && col("__i") < u).drop("__i")
      case Cast(i, _, to) =>
        df.select(cols.indices.map(j => if (j == i) q(cols(j)).cast(to).as(cols(j)) else q(cols(j))): _*)
      case Rename(names) => df.toDF(names: _*)
      case RowIndex(name) => indexed(df, name)
      case Observe(_) => df
      case Concat =>
        val body = if (cols.contains("row_id")) df.drop("row_id") else df
        val ix = indexed(body.unionAll(body), "__i")
        ix.select(concat(lit("Row"), col("__i").cast(StringType)).as("row_id") +:
          body.columns.toSeq.map(q): _*)
      case AppendByPosition(idx, names) =>
        val right = df.select(idx.zip(names).map { case (i, n) => q(cols(i)).as(n) }: _*)
        indexed(df, "__i").join(indexed(right, "__i"), Seq("__i")).orderBy("__i").drop("__i")
      case DomainTable =>
        val numeric = df.schema.fields.filter(f => isNumeric(f.dataType)).map(_.name).sorted
        val exprs = numeric.flatMap(c => Seq(min(q(c)).cast(DoubleType), max(q(c)).cast(DoubleType),
          count(when(q(c).isNull, 1)), count(q(c))))
        val r = df.agg(exprs.head, exprs.tail.toIndexedSeq: _*).head()
        val rows = numeric.indices.map(i => Row(numeric(i), r.get(4 * i), r.get(4 * i + 1),
          r.getLong(4 * i + 2), r.getLong(4 * i + 3)))
        val schema = StructType(Seq(StructField("column_name", StringType), StructField("min_value", DoubleType),
          StructField("max_value", DoubleType), StructField("null_count", LongType),
          StructField("non_null_count", LongType)))
        df.sparkSession.createDataFrame(df.sparkSession.sparkContext.parallelize(rows, 1), schema)
    }
  }
}
