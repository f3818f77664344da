package graft.table

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column domain/statistics computation — the reference's only
  * aggregation machinery, rebuilt as one set of Spark aggregate lanes that
  * run either as their own aggregation or inside the job that writes.
  *
  * Reference semantics (org.knime.core.data.columnar/.../domain/):
  *  - numeric min/max ignoring nulls (ColumnarDoubleDomainCalculator.java:68-96,
  *    Int/Long variants),
  *  - boolean possible-values domain (ColumnarBooleanDomainCalculator.java:68),
  *  - nominal (distinct-value) domain with a cap: the domain is DROPPED when
  *    the distinct count exceeds maxNumValues
  *    (ColumnarStringDomainCalculator.java:67, default cap 60),
  *  - type→calculator dispatch (DefaultDomainWritableConfig.java:88-185),
  *  - computed incrementally during write, async per batch
  *    (DomainWritable.java:90-137).
  *
  * Spark design: the whole per-batch async pipeline collapses into one set
  * of aggregate lanes with partial (map-side) combine — every statistic
  * below is a single-pass agg expression. [[compute]] runs the lanes as a
  * plain aggregation (one scan, no shuffle beyond the final 1-row reduce);
  * the writer runs the SAME lanes as an `observe` on the frame it writes
  * ([[observing]]), so the write job yields the domains too — the
  * reference's domain decorator on the one stream of written batches.
  * The capped nominal domain is a bounded distinct-set aggregate
  * ([[graft.functions.BoundedSetAgg]] with cap+1 slots): it never holds
  * more than cap+1 values, whatever the column's cardinality, and a full
  * buffer is the overflow signal — the domain is then dropped, the
  * reference's drop-on-overflow semantics.
  */
object Domains {

  val DefaultNominalCap = 60

  final case class ColumnDomain(
      column: String,
      dataType: DataType,
      min: Option[Any],
      max: Option[Any],
      nominal: Option[Seq[Any]],
      nullCount: Long,
      /** Estimated distinct count: read off [[distinctSketch]] when there
        * is one, else `approx_count_distinct`; 0 for map-bearing types.
        */
      approxDistinct: Long,
      /** Mergeable HLL sketch bytes (DataSketches, via `hll_sketch_agg`)
        * for int/long/string/binary columns — the artifact that makes
        * distinct counts EXACTLY mergeable across ingests ([[merge]]);
        * None for types `hll_sketch_agg` doesn't take.
        */
      distinctSketch: Option[Array[Byte]] = None,
      /** Mergeable KLL quantile sketch bytes
        * ([[graft.functions.KllQuantileAgg]]) for numeric columns —
        * closes the last non-mergeable gap in the incremental domain
        * story: [[merge]] unions them with preserved rank-error bounds,
        * so per-ingest quantile summaries combine without a rescan.
        */
      quantileSketch: Option[Array[Byte]] = None
  ) {
    /** Quantile readout — None without a sketch (non-numeric column) or
      * when the sketch saw no values (all-null column / empty table).
      */
    def quantile(q: Double): Option[Double] =
      quantileSketch.flatMap(graft.functions.KllQuantileAgg.quantile(_, q))
  }

  private def sketchable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | BinaryType => true
    case _                                                => false
  }

  private def isBounded(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType => true
    case _                                         => false
  }

  /** Numeric-element arrays get ELEMENT min/max (one `array_min`/
    * `array_max` per row folded through the ordinary min/max agg —
    * still the same single pass).
    */
  private def isNumericArray(dt: DataType): Boolean = dt match {
    case ArrayType(_: NumericType, _) => true
    case _                            => false
  }

  private def isNominal(dt: DataType): Boolean = dt match {
    case StringType | BooleanType => true
    case _                        => false
  }

  /** `approx_count_distinct` hashes the value — defined for atomics,
    * arrays and structs, but NOT for anything containing a map (maps
    * are unhashable/unorderable in Spark).
    */
  private def hashable(dt: DataType): Boolean = dt match {
    case _: MapType          => false
    case ArrayType(e, _)     => hashable(e)
    case StructType(fields)  => fields.forall(f => hashable(f.dataType))
    case _                   => true
  }

  /** One domain target: a top-level column or a nested struct field
    * reached by dotted path (the reference models nested domains through
    * per-column metadata on each sub-column — reference
    * org.knime.core.data.columnar/.../domain/DefaultDomainWritableConfig.java:88-185
    * dispatches per inner type the same way).
    */
  private final case class Leaf(path: String, c: Column, dataType: DataType, key: String)

  /** Flatten the schema into domain targets: every top-level column, plus
    * a recursive entry per struct field (dotted path). Arrays/maps are
    * leaves themselves (element min/max for numeric arrays rides the
    * leaf's bounds lanes). Keys are ordinal — dotted paths are not legal
    * aggregation aliases.
    */
  private def leaves(schema: StructType): Seq[Leaf] = {
    def expand(path: String, c: Column, dt: DataType): Seq[(String, Column, DataType)] =
      (path, c, dt) +: (dt match {
        case st: StructType =>
          st.fields.toSeq.flatMap(f => expand(s"$path.${f.name}", c.getField(f.name), f.dataType))
        case _ => Seq.empty
      })
    schema.fields.toSeq.flatMap(f => expand(f.name, col(f.name), f.dataType))
      .zipWithIndex.map { case ((p, c, dt), i) => Leaf(p, c, dt, s"c$i") }
  }

  /** Aggregate expressions for one domain target. */
  private def leafExprs(l: Leaf, nominalCap: Int): Seq[Column] = {
    val c = l.c
    // one distinct-count lane per column: the HLL sketch where there is
    // one (the estimate is read off it, so a fresh domain and a merged
    // one agree by construction), approx_count_distinct elsewhere
    val distinct =
      if (sketchable(l.dataType)) Seq(hll_sketch_agg(c).as(s"${l.key}__hll"))
      else if (hashable(l.dataType)) Seq(approx_count_distinct(c).as(s"${l.key}__approx_distinct"))
      else Seq.empty
    val base = Seq(count(when(c.isNull, 1)).as(s"${l.key}__nulls")) ++ distinct ++
      (if (l.dataType.isInstanceOf[NumericType])
         Seq(graft.functions.KllQuantileAgg.kllSketch(c).as(s"${l.key}__kll"))
       else Seq.empty)
    val bounds =
      if (isBounded(l.dataType))
        Seq(min(c).as(s"${l.key}__min"), max(c).as(s"${l.key}__max"))
      else if (isNumericArray(l.dataType))
        // element bounds: array_min/array_max skip null elements; empty
        // arrays yield null, which the outer min/max agg ignores
        Seq(min(array_min(c)).as(s"${l.key}__min"), max(array_max(c)).as(s"${l.key}__max"))
      else Seq.empty
    val nominal =
      if (isNominal(l.dataType))
        // cap+1 slots so overflow is detectable (a full buffer), then the
        // domain is dropped — reference drop-when-exceeded semantics
        Seq(graft.functions.BoundedSetAgg.boundedDistinctSet(c, nominalCap + 1)
          .as(s"${l.key}__nominal"))
      else Seq.empty
    base ++ bounds ++ nominal
  }

  /** Compute all column domains in a single aggregation job. Nested
    * structs contribute one [[ColumnDomain]] per field (dotted path,
    * recursive); numeric-element arrays carry element min/max.
    */
  def compute(df: DataFrame, nominalCap: Int = DefaultNominalCap): Seq[ColumnDomain] =
    computeWithRowCount(df, nominalCap)._1

  /** [[compute]] plus the table row count from the SAME single
    * aggregation.
    */
  def computeWithRowCount(df: DataFrame, nominalCap: Int = DefaultNominalCap): (Seq[ColumnDomain], Long) = {
    val (ls, exprs) = lanes(df, nominalCap)
    val row: Row = df.agg(exprs.head, exprs.tail: _*).head()
    decode(ls, nominalCap) { n =>
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.get(i))
    }
  }

  /** Run `action` on `df` with the domain lanes and the row count attached
    * as an observation (a fresh `Observation` per call), so the job that
    * `action` runs — a write — yields the domains too: one scan of the
    * source, no separate aggregation. The observation is read only after
    * `action` returns; an `action` that throws leaves it unread.
    */
  private[table] def observing(df: DataFrame, nominalCap: Int)(
      action: DataFrame => Unit): (Seq[ColumnDomain], Long) = {
    val (ls, exprs) = lanes(df, nominalCap)
    val obs = org.apache.spark.sql.Observation()
    action(df.observe(obs, exprs.head, exprs.tail: _*))
    val metrics = obs.get
    decode(ls, nominalCap)(n => Option(metrics(n)))
  }

  /** The one definition of the lanes: every leaf's aggregate expressions
    * plus the row count.
    */
  private def lanes(df: DataFrame, nominalCap: Int): (Seq[Leaf], Seq[Column]) = {
    val ls = leaves(df.schema)
    (ls, ls.flatMap(leafExprs(_, nominalCap)) :+ count(lit(1)).as("__graft_rowcount"))
  }

  /** Domains and row count from the lanes' values (`get` returns None for
    * a null lane).
    */
  private def decode(ls: Seq[Leaf], nominalCap: Int)(
      get: String => Option[Any]): (Seq[ColumnDomain], Long) = {
    val rowCount = get("__graft_rowcount").map(_.asInstanceOf[Long]).getOrElse(0L)
    ls.map { l =>
      val nominal: Option[Seq[Any]] =
        if (isNominal(l.dataType))
          get(s"${l.key}__nominal")
            .map(_.asInstanceOf[scala.collection.Seq[Any]].toSeq)
            .filter(_.length <= nominalCap)
        else None
      val sketch =
        if (sketchable(l.dataType)) get(s"${l.key}__hll").map(_.asInstanceOf[Array[Byte]])
        else None
      ColumnDomain(
        column = l.path,
        dataType = l.dataType,
        min = if (isBounded(l.dataType) || isNumericArray(l.dataType)) get(s"${l.key}__min") else None,
        max = if (isBounded(l.dataType) || isNumericArray(l.dataType)) get(s"${l.key}__max") else None,
        nominal = nominal,
        nullCount = get(s"${l.key}__nulls").map(_.asInstanceOf[Long]).getOrElse(0L),
        approxDistinct = sketch.map(sketchEstimate).getOrElse(
          if (hashable(l.dataType))
            get(s"${l.key}__approx_distinct").map(_.asInstanceOf[Long]).getOrElse(0L)
          else 0L),
        distinctSketch = sketch,
        quantileSketch =
          if (l.dataType.isInstanceOf[NumericType]) get(s"${l.key}__kll").map(_.asInstanceOf[Array[Byte]])
          else None
      )
    } -> rowCount
  }

  /** The distinct-count estimate of an HLL sketch, rounded — the one
    * readout for a fresh sketch and a merged one.
    */
  private def sketchEstimate(sketch: Array[Byte]): Long =
    math.round(org.apache.datasketches.hll.HllSketch.heapify(sketch).getEstimate)

  /** Merge two domain snapshots — the incremental-update path (reference
    * calculators are initialized from the prior domain and updated batch
    * by batch, DefaultDomainWritableConfig.java:88-185; at 100 TB this is
    * how per-ingest statistics combine into table statistics without
    * rescanning). Exact for min/max/nullCount/nominal (nominal unions,
    * drops when the union exceeds `nominalCap` — drop is absorbing, like
    * the reference's drop-on-overflow). `approxDistinct` merges through
    * the HLL sketch union when both sides carry one (`distinctSketch`,
    * DataSketches — union of sketches ≡ sketch of union, so the merged
    * estimate equals a full recompute's); for non-sketchable types it
    * falls back to max(a, b), a lower bound.
    */
  def merge(a: Seq[ColumnDomain], b: Seq[ColumnDomain], nominalCap: Int = DefaultNominalCap): Seq[ColumnDomain] = {
    // simpleString, not DataType equality: snapshots read back from a
    // sidecar round-trip through DDL (nullable/containsNull forced true)
    // and must still merge with live snapshots of the same schema
    require(
      a.map(d => (d.column, d.dataType.simpleString)) ==
        b.map(d => (d.column, d.dataType.simpleString)),
      "domain snapshots cover different schemas")
    def cmp(x: Any, y: Any): Int = x.asInstanceOf[Comparable[Any]].compareTo(y)
    def bound(x: Option[Any], y: Option[Any], keepLess: Boolean): Option[Any] = (x, y) match {
      case (Some(p), Some(q)) => Some(if ((cmp(p, q) <= 0) == keepLess) p else q)
      case _                  => x.orElse(y)
    }
    a.zip(b).map { case (da, db) =>
      val nominal = (da.nominal, db.nominal) match {
        // a dropped (overflowed) domain stays dropped — None is absorbing
        case (Some(na), Some(nb)) => Some((na ++ nb).distinct).filter(_.length <= nominalCap)
        case _                    => None
      }
      val mergedSketch = (da.distinctSketch, db.distinctSketch) match {
        case (Some(sa), Some(sb)) =>
          val u = new org.apache.datasketches.hll.Union(12)
          u.update(org.apache.datasketches.hll.HllSketch.heapify(sa))
          u.update(org.apache.datasketches.hll.HllSketch.heapify(sb))
          Some(u.getResult.toCompactByteArray)
        case _ => None
      }
      val mergedDistinct = mergedSketch.map(sketchEstimate)
        .getOrElse(math.max(da.approxDistinct, db.approxDistinct))
      // KLL union preserves rank-error bounds — merged quantiles carry the
      // same guarantee a recompute would (see KllQuantileAgg)
      val mergedQuantiles = (da.quantileSketch, db.quantileSketch) match {
        case (Some(qa), Some(qb)) => Some(graft.functions.KllQuantileAgg.mergeBytes(qa, qb))
        case _                    => None
      }
      da.copy(
        min = bound(da.min, db.min, keepLess = true),
        max = bound(da.max, db.max, keepLess = false),
        nominal = nominal,
        nullCount = da.nullCount + db.nullCount,
        approxDistinct = mergedDistinct,
        distinctSketch = mergedSketch,
        quantileSketch = mergedQuantiles)
    }
  }

  /** The domain pass as a DataFrame (for the oracle/bench surface): one row
    * per numeric column with min/max/null-count. ONE scan — all statistics
    * in a single aggregation (map-side partial combine), then an unpivot of
    * the 1-row result. Deterministic output order.
    */
  def domainTable(df: DataFrame): DataFrame = {
    val numeric = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.sorted.toSeq
    require(numeric.nonEmpty, "domainTable: no numeric columns")
    val exprs = numeric.flatMap(n =>
      Seq(
        min(col(n)).cast(DoubleType).as(s"${n}__min"),
        max(col(n)).cast(DoubleType).as(s"${n}__max"),
        count(when(col(n).isNull, 1)).as(s"${n}__nulls"),
        count(col(n)).as(s"${n}__nonnulls")
      ))
    val agged = df.agg(exprs.head, exprs.tail: _*)
    val stackExpr = s"stack(${numeric.length}, " + numeric
      .map(n => s"'$n', `${n}__min`, `${n}__max`, `${n}__nulls`, `${n}__nonnulls`")
      .mkString(", ") +
      ") as (column_name, min_value, max_value, null_count, non_null_count)"
    agged.select(expr(stackExpr)).orderBy(col("column_name"))
  }
}
