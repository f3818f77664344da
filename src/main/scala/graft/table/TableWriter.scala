package graft.table

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import com.fasterxml.jackson.databind.util.RawValue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


/** The engine's write pipeline — the Spark re-expression of the reference's
  * decorated store stack (reference
  * org.knime.core.data.columnar/.../table/DefaultColumnarBatchStore.java:272-308:
  * ReadDataCache → DictEncoding → DuplicateCheck → DomainCalc → HeapBadger →
  * LZ4 Arrow file, four async executor hops inside one JVM — SURVEY.md §3.1).
  *
  * In Spark all of that collapses into ONE distributed write job:
  *  - Parquet provides the columnar layout, dictionary encoding,
  *    compression, and footer statistics (the Arrow-file + LZ4 + batch-offset
  *    footer roles).
  *  - Per-column domains AND the row count ride the write job itself, as
  *    an observation on the frame it writes (the DomainWritable analog,
  *    a decorator on the one stream of written batches) — the source is
  *    scanned once and the written output is never re-read.
  *  - RowID uniqueness is checked distributed (the DuplicateCheckWritable
  *    analog) — one aggregation job before the write, so a duplicate fails
  *    before anything is published.
  *  - Domains/statistics are persisted as a JSON sidecar next to the data
  *    (the reference attaches domains to the table spec on finish —
  *    ColumnarRowContainer / AbstractColumnarContainerTable).
  *
  * At 100 TB: the write is embarrassingly parallel per partition; the only
  * coordination is the merge of the per-task domain states on the driver
  * and the optional dup-check shuffle on the RowID (uniform key).
  */
object TableWriter {

  final case class WriteResult(
      path: String,
      rowCount: Long,
      domains: Seq[Domains.ColumnDomain]
  )

  /** Write `df` as the canonical store format with write-time statistics.
    * One scan of the SOURCE — the parquet write, which also yields the
    * domains and the row count — plus the RowID check's scan when asked
    * for, and none of the written output.
    *
    * @param checkRowIdUnique when true, fails (IllegalArgumentException)
    *   if the RowID column contains duplicates — reference
    *   DuplicateCheckWritable semantics. Requires the column to exist:
    *   synthesizing fresh ids just to check them would always pass while
    *   the written table carried no RowID at all.
    */
  def write(
      df: DataFrame,
      path: String,
      checkRowIdUnique: Boolean = false,
      nominalCap: Int = Domains.DefaultNominalCap
  ): WriteResult = {
    if (checkRowIdUnique) {
      require(
        df.columns.contains(RowId.RowIdCol),
        s"checkRowIdUnique: no ${RowId.RowIdCol} column to check — add one (RowId.ensureRowId) first")
      RowId.assertUniqueRowIds(df)
    }
    val (domains, rowCount) =
      Domains.observing(df, nominalCap)(_.write.mode("overwrite").parquet(path))
    persistDomains(df.sparkSession, path, rowCount, domains)
    WriteResult(path, rowCount, domains)
  }

  /** Sidecar codec: Jackson both ways. NaN and ±Infinity bounds are
    * written bare, as Java prints them, so the reader accepts them.
    */
  private lazy val sidecarMapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  /** A domain value as JSON: numbers as Java prints them, booleans as
    * themselves, anything else (strings, dates, timestamps) as its string.
    */
  private def jsonValue(v: Any): JsonNode = {
    val f = JsonNodeFactory.instance
    v match {
      case null => f.nullNode()
      case b: Boolean => f.booleanNode(b)
      case n: java.lang.Number => f.rawValueNode(new RawValue(n.toString))
      case other => f.textNode(other.toString)
    }
  }

  /** Persist domains as `_graft_domains.json` inside the table directory
    * (ignored by Spark's parquet reader: underscore prefix = hidden file).
    * The HLL distinct sketch rides along base64-encoded — it is the
    * artifact that makes per-ingest statistics MERGEABLE across jobs
    * ([[Domains.merge]] unions deserialized sketches; see
    * [[readDistinctSketches]]).
    */
  def persistDomains(spark: SparkSession, path: String, rowCount: Long, domains: Seq[Domains.ColumnDomain]): Unit = {
    def base64(b: Option[Array[Byte]]): String =
      b.map(java.util.Base64.getEncoder.encodeToString).orNull
    val root = sidecarMapper.createObjectNode()
    // the fingerprint of the data the stats describe (listed AFTER the
    // data write, so it covers exactly what is on disk now) — appendWrite
    // compares it against a fresh listing to detect a prior TORN append
    // (data landed, sidecar didn't) and route to the full-rescan fallback
    // instead of merging a stale prior
    val (nFiles, nBytes) = dataFingerprint(spark, path)
    root.put("row_count", rowCount).put("data_files", nFiles).put("data_bytes", nBytes)
    val cols = root.putArray("columns")
    domains.foreach { d =>
      val c = cols.addObject()
      c.put("column", d.column).put("type", d.dataType.simpleString)
      c.set[JsonNode]("min", jsonValue(d.min.orNull))
      c.set[JsonNode]("max", jsonValue(d.max.orNull))
      d.nominal match {
        case Some(vs) => val arr = c.putArray("nominal"); vs.foreach(v => arr.add(jsonValue(v)))
        case None => c.putNull("nominal")
      }
      c.put("null_count", d.nullCount).put("approx_distinct", d.approxDistinct)
      c.put("distinct_sketch", base64(d.distinctSketch))
      c.put("quantile_sketch", base64(d.quantileSketch))
    }
    // Hadoop FileSystem, not java.nio: the table path may be s3a/hdfs —
    // the sidecar must land next to the data wherever it lives
    val p = new org.apache.hadoop.fs.Path(path, "_graft_domains.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(sidecarMapper.writeValueAsBytes(root))
    finally out.close()
  }

  /** Read back the domain sidecar (raw JSON string; structured re-parse is
    * the caller's concern — the engine treats it as table metadata).
    */
  def readDomainsJson(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_domains.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** The parsed sidecar; None when it is absent or not a JSON object. */
  private def readSidecar(spark: SparkSession, path: String): Option[JsonNode] =
    readDomainsJson(spark, path).flatMap { json =>
      try Option(sidecarMapper.readTree(json)).filter(_.isObject)
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Deserialize the per-column HLL sketches from a table's sidecar:
    * column → sketch bytes (absent for non-sketchable columns / old
    * sidecars). Every column's sketch, even where [[readDomains]] cannot
    * rebuild that column's bounds.
    */
  def readDistinctSketches(spark: SparkSession, path: String): Map[String, Array[Byte]] = {
    import scala.jdk.CollectionConverters._
    readSidecar(spark, path).toSeq.flatMap(_.path("columns").elements().asScala).flatMap { c =>
      Option(c.get("distinct_sketch")).filter(_.isTextual).map(b64 =>
        c.path("column").asText() -> java.util.Base64.getDecoder.decode(b64.asText()))
    }.toMap
  }

  /** Structured read-back of the domain sidecar: (rowCount, domains) —
    * the reverse of [[persistDomains]], value types reconstructed from
    * each column's recorded DDL type so the result plugs straight into
    * [[Domains.merge]]. None when the sidecar is absent OR any column
    * fails to reconstruct (unknown type / unconvertible value) — callers
    * treat None as "recompute", never as "merge blind".
    */
  def readDomains(spark: SparkSession, path: String): Option[(Long, Seq[Domains.ColumnDomain])] =
    readSidecar(spark, path).flatMap(domainsOf)

  private def domainsOf(root: JsonNode): Option[(Long, Seq[Domains.ColumnDomain])] =
    if (!root.has("row_count")) None
    else try {
      val rowCount = root.get("row_count").longValue()
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types._
      def convert(dt: DataType, v: JsonNode): Any = dt match {
        case IntegerType => v.intValue()
        case LongType => v.longValue()
        case ShortType => v.shortValue()
        case ByteType => v.numberValue().byteValue()
        case DoubleType => v.doubleValue()
        case FloatType => v.floatValue()
        case _: DecimalType => new java.math.BigDecimal(v.asText())
        case BooleanType => v.booleanValue()
        case StringType => v.asText()
        case DateType => java.sql.Date.valueOf(v.asText())
        case TimestampType => java.sql.Timestamp.valueOf(v.asText())
        // numeric-array leaves carry ELEMENT-typed bounds
        case ArrayType(e: NumericType, _) => convert(e, v)
        case other => throw new IllegalArgumentException(s"unmergeable type $other")
      }
      val cols = root.get("columns").elements().asScala.map { c =>
        val dt = DataType.fromDDL(c.get("type").asText())
        def opt(f: String): Option[JsonNode] =
          Option(c.get(f)).filterNot(_.isNull)
        Domains.ColumnDomain(
          column = c.get("column").asText(),
          dataType = dt,
          min = opt("min").map(convert(dt, _)),
          max = opt("max").map(convert(dt, _)),
          nominal = opt("nominal").map(_.elements().asScala.map(n =>
            if (n.isBoolean) Boolean.box(n.booleanValue()) else (n.asText(): Any)).toSeq),
          nullCount = c.get("null_count").longValue(),
          approxDistinct = c.get("approx_distinct").longValue(),
          distinctSketch = opt("distinct_sketch")
            .map(n => java.util.Base64.getDecoder.decode(n.asText())),
          quantileSketch = opt("quantile_sketch")
            .map(n => java.util.Base64.getDecoder.decode(n.asText())))
      }.toSeq
      Some((rowCount, cols))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** (file count, total bytes) over the table's DATA files — hidden files
    * (`_SUCCESS`, the sidecar itself, committer temp dirs) excluded,
    * recursive so partitioned layouts fingerprint too. Cheap: one
    * namespace listing, no data reads.
    */
  private def dataFingerprint(spark: SparkSession, path: String): (Long, Long) = {
    val raw = new org.apache.hadoop.fs.Path(path)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listFiles returns fully-qualified paths; the walk's stop condition
    // must compare against the QUALIFIED table root or it overshoots to /
    // and any hidden ancestor (/tmp/.cache/table) marks every file hidden
    val p = fs.makeQualified(raw)
    if (!fs.exists(p)) (0L, 0L)
    else {
      var n = 0L; var b = 0L
      graft.sources.FsWalk.files(fs, p).foreach { f =>
        val name = f.getPath.getName
        // skip hidden files AND files inside hidden dirs (_temporary)
        val hidden = {
          var q: org.apache.hadoop.fs.Path = f.getPath.getParent
          var h = false
          while (q != null && !q.equals(p)) {
            val nm = q.getName
            if (nm.startsWith("_") || nm.startsWith(".")) h = true
            q = q.getParent
          }
          h
        }
        if (!hidden && !name.startsWith("_") && !name.startsWith(".")) {
          n += 1; b += f.getLen
        }
      }
      (n, b)
    }
  }

  /** The fingerprint the sidecar recorded at persist time — None for
    * sidecars written before fingerprints existed (treated as stale:
    * recompute is always correct).
    */
  private def recordedFingerprint(root: JsonNode): Option[(Long, Long)] =
    if (root.has("data_files") && root.has("data_bytes"))
      Some((root.get("data_files").longValue(), root.get("data_bytes").longValue()))
    else None

  /** Append a batch to an existing table and MERGE its statistics into
    * the sidecar without rescanning the old data — the reference's
    * incremental domain maintenance (domains updated batch by batch
    * during write, reference
    * org.knime.core.data.columnar/.../domain/DomainWritable.java:90-137)
    * as an on-disk lifecycle: the batch's domains ride its append job (one
    * scan of the batch) + [[Domains.merge]] (exact min/max/nulls/nominal;
    * HLL/KLL sketch unions for distinct/quantiles — recompute-grade, see
    * KTableSpec).
    * Falls back to a full recompute when the existing sidecar is absent,
    * schema-incompatible, or STALE — the sidecar records a data-file
    * fingerprint (count + bytes) at persist time, and a mismatch against
    * the table's current listing means a prior append crashed between its
    * data write and its sidecar write (the data/sidecar pair is not
    * atomic). The rescan folds the orphaned rows back into truthful
    * stats; without the check every later merge would compound the stale
    * prior silently. Always correct, costs the rescan the merge path
    * exists to avoid. First write to an empty path = [[write]].
    */
  def appendWrite(
      df: DataFrame,
      path: String,
      checkRowIdUnique: Boolean = false,
      nominalCap: Int = Domains.DefaultNominalCap
  ): WriteResult = {
    val spark = df.sparkSession
    val sidecar = readSidecar(spark, path)
    val prior = sidecar.flatMap(domainsOf)
    if (prior.isEmpty &&
        !new org.apache.hadoop.fs.Path(path).getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(new org.apache.hadoop.fs.Path(path)))
      return write(df, path, checkRowIdUnique, nominalCap)
    if (checkRowIdUnique) {
      require(df.columns.contains(RowId.RowIdCol),
        s"checkRowIdUnique: no ${RowId.RowIdCol} column to check")
      RowId.assertUniqueRowIds(df) // batch-internal; cross-batch uniqueness
      // is the id-monotone ingest contract, as in the artifact family
    }
    // listed BEFORE this batch's append: equality with the recorded
    // fingerprint certifies the sidecar describes exactly the data on disk
    val sidecarFresh = sidecar.flatMap(recordedFingerprint)
      .contains(dataFingerprint(spark, path))
    val (batchDomains, batchCount) =
      Domains.observing(df, nominalCap)(_.write.mode("append").parquet(path))
    val merged = prior match {
      // simpleString comparison: the sidecar round-trips types through
      // DDL, which forces nullable/containsNull to true — comparing live
      // DataTypes directly would silently demote every table with a
      // non-nullable array/struct column to the full-rescan fallback
      case Some((priorCount, priorDomains))
          if sidecarFresh &&
             priorDomains.map(d => (d.column, d.dataType.simpleString)) ==
             batchDomains.map(d => (d.column, d.dataType.simpleString)) =>
        (priorCount + batchCount, Domains.merge(priorDomains, batchDomains, nominalCap))
      case _ =>
        // sidecar missing/incompatible/stale: recompute over the whole
        // table — slower, never wrong
        Domains.computeWithRowCount(spark.read.parquet(path), nominalCap).swap
    }
    persistDomains(spark, path, merged._1, merged._2)
    WriteResult(path, merged._1, merged._2)
  }
}
