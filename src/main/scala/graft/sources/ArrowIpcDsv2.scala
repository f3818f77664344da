package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.SerializableWritable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Arrow IPC as a Catalyst-integrated DataSourceV2 table —
  * `spark.read.format("arrowipc").load(path)` — and the ONE read driver
  * over the selective-IO engine ([[ArrowIpc.FooterSource]]): every
  * `ArrowIpc.read`, `readFiltered` and `readPartial` overload is a front
  * that loads this table and adds a `select` and a `where`. The
  * reference wires its pushdown into the consumer API itself
  * (org.knime.core.data.columnar/…/filter/TableFilterUtils.java:84-103 —
  * every cursor flows through a `Selection`), so any consumer benefits
  * without opting in; Catalyst pushdown into this table is the
  * Spark-idiomatic equivalent:
  *
  *  - `SupportsPushDownRequiredColumns`: Catalyst's required schema maps
  *    to the native column selection — unselected columns cost zero body
  *    IO / decompression / decode (ArrowDsv2Spec asserts byte-equality
  *    with the native API); an empty requirement (`count(*)`) reads zero
  *    body bytes.
  *  - `SupportsPushDownFilters`: every translatable filter is handed to
  *    the footer-statistics batch skipper ([[ArrowIpc.BatchStatsKey]];
  *    parquet row-group semantics). Skipping is conservative IO-only
  *    pruning, so ALL filters are also returned as post-scan residuals —
  *    Spark re-evaluates them exactly on the surviving rows (the same
  *    split parquet uses for row-group-level statistics).
  *  - `planInputPartitions` reuses [[ArrowIpc.planCompleteTasks]]: one
  *    partition per file, plus within-file record-batch ranges
  *    (`spark.graft.arrow.splitBytes`, served through FooterSource's
  *    serveRange with footer-global indices) for big files, whose
  *    footers plan in one executor job — the 1000-file / single-huge-file
  *    store fans out across the cluster.
  *  - `option("partial", "true")` routes to the PARTIAL/in-flight
  *    engine ([[ArrowIpc.planPartialTasks]]): every COMPLETE batch
  *    of a torn or still-being-written store, no footer required, with
  *    the same within-file slice fan-out and minimal dictionary replay —
  *    so the crashed-writer migration read is an ordinary `spark.read`
  *    too. Column pruning still pushes (the stream framing carries the
  *    buffer layout); filter pushdown does not (statistics live in the
  *    footer, which is exactly what a torn file lacks) — filters stay
  *    whole as Catalyst post-scan predicates, so semantics are identical.
  *  - The Hadoop conf reaches tasks as one broadcast per scan, write job
  *    or streaming epoch: held in a factory, its ~109 KB were
  *    deserialized again in every task (~30 ms each).
  *
  * Writes: [[ArrowIpcWriteBuilder]] (batch and streaming) over the same
  * per-task writer as [[ArrowIpc.write]].
  */
class ArrowIpcDataSource private[sources] (pruneColumns: Boolean)
    extends TableProvider with DataSourceRegister {

  def this() = this(pruneColumns = true)

  override def shortName(): String = "arrowipc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // a missing or empty path infers an EMPTY schema instead of failing:
    // the WRITE path reaches here too (DataFrameWriter resolves the table
    // before newWriteBuilder sees the query schema), and a fresh store
    // has nothing to infer from. Reads over such a store still fail with
    // the path named — at scan planning.
    try ArrowIpcDataSource.storeSchema(SparkSession.active,
      ArrowIpcDataSource.pathsOf(options), ArrowIpcDataSource.isPartial(options))
      .getOrElse(new StructType())
    catch { case _: java.io.FileNotFoundException => new StructType() }
  }

  // writes hand the QUERY schema to getTable (a fresh store has nothing
  // to infer); reads with a user-specified schema are validated per-file
  // by the reader's schema-invariant check, so a wrong schema fails with
  // the offending path, never a silent mis-decode
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ArrowIpcTable(ArrowIpcDataSource.pathsOf(opts), schema,
      ArrowIpcDataSource.isPartial(opts), pruneColumns)
  }
}

/** The `arrowipc` table without column pruning, loaded by class name by
  * the `ArrowIpc` overloads that take no column list: those read every
  * column whatever a later projection uses (the specs' full-read byte
  * baselines); the `columns` overloads are the pruning surface.
  */
private[sources] final class ArrowIpcAllColumnsSource
    extends ArrowIpcDataSource(pruneColumns = false)

private[sources] object ArrowIpcDataSource {
  /** The store path(s) from reader options: `load(p)` → "path",
    * `load(p1, p2, …)` → "paths" (a JSON string array).
    */
  def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { js =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
      require(node != null && node.isArray, s"arrowipc: malformed paths option '$js'")
      node.elements().asScala.map(_.asText()).toSeq
    }.getOrElse(Seq.empty)
    val single = Option(options.get("path")).toSeq
    val all = single ++ multi
    require(all.nonEmpty,
      "arrowipc: no path specified - spark.read.format(\"arrowipc\").load(path)")
    all
  }

  def isPartial(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("partial", false)

  /** The store's schema: the first data file's footer schema, or in
    * partial mode the first complete schema message. None when the paths
    * hold no data file; a missing path throws FileNotFoundException.
    */
  def storeSchema(spark: SparkSession, paths: Seq[String], partial: Boolean): Option[StructType] = {
    val statuses = listAll(spark, paths)
    if (statuses.isEmpty) None
    else if (!partial) Some(ArrowIpc.schemaOf(spark, statuses.head._1))
    else Some(ArrowIpc.planPartialSchema(spark, statuses).getOrElse(
      throw new IllegalArgumentException("arrowipc: no file under " +
        s"${paths.mkString(", ")} carries a complete schema message")))
  }

  /** Data files across all paths (a path is a file or a directory;
    * hidden and underscore names are skipped), with lengths, name-sorted
    * per path (the store's file order — q_provenance's contract rides it).
    */
  def listAll(spark: SparkSession, paths: Seq[String]): Seq[(String, Long)] =
    paths.flatMap { path =>
      val p = new HPath(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
          .map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)
      else Seq((path, fs.getFileStatus(p).getLen))
    }
}

private[sources] final class ArrowIpcTable(paths: Seq[String], tableSchema: StructType,
    partial: Boolean, pruneColumns: Boolean) extends Table with SupportsRead with SupportsWrite {
  override def name(): String =
    s"arrowipc${if (partial) "(partial)" else ""} ${paths.mkString(",")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArrowIpcScanBuilder(paths, tableSchema, partial, pruneColumns)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.size == 1,
      s"arrowipc: write needs exactly one path, got ${paths.size}")
    require(!partial, "arrowipc: the partial option is a READ mode")
    new ArrowIpcWriteBuilder(paths.head, info)
  }
}

/** DSv2 write: `df.write.format("arrowipc").mode("append"|"overwrite")
  * .save(path)` — the Catalyst-integrated face of [[ArrowIpc.write]]
  * (same per-task [[ArrowIpc.IpcPartWriter]] core: LZ4-frame batches,
  * delta dictionary encoding, per-batch footer statistics, temp+rename
  * task commit). Options: `batchRows` (default 4096), `dictColumns`
  * (comma-separated dotted paths), `compressionLevel` (0 fast /
  * 1–17 lz4hc). Semantics:
  *
  *  - append: files land under job-unique names next to the existing
  *    store; the query schema must match the store's (names + types) —
  *    checked on the DRIVER at build, because a mixed-schema store
  *    fails every subsequent read.
  *  - overwrite (truncate): the new files land first, then commit()
  *    deletes every data file the job did not write. NOT atomic for
  *    concurrent readers (a reader between rename and delete can see
  *    both generations) — same visibility contract as Hadoop
  *    FileOutputCommitter v2, acceptable for the batch-store shape the
  *    `_SUCCESS` marker gates.
  *  - abort: files this job already task-committed are deleted (task
  *    temps clean themselves up via the attempt-private protocol).
  */
private[sources] final class ArrowIpcWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = {
    val spark = SparkSession.active
    val opts = info.options()
    val dictCols = Option(opts.get("dictcolumns")).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    // fail fast on the driver: unsupported types / bad dict paths
    val effectiveDicts = ArrowIpc.validateWriteSchema(info.schema(), dictCols)
    val batchRows = opts.getInt("batchrows", 4096)
    require(batchRows > 0, s"arrowipc: batchRows must be positive, got $batchRows")
    val level = opts.getInt("compressionlevel", 0)
    // append into a NON-EMPTY store must match its schema exactly —
    // readers enforce one schema per directory, so a drifted append
    // would poison every subsequent read
    if (!overwrite) {
      val existing =
        try ArrowIpcDataSource.storeSchema(spark, Seq(path), partial = false)
        catch { case _: java.io.FileNotFoundException => None }
      existing.foreach { stored =>
        require(stored.map(x => (x.name, x.dataType)) ==
            info.schema().map(x => (x.name, x.dataType)),
          s"arrowipc: append schema ${info.schema().simpleString} does not match " +
            s"the store's ${stored.simpleString} ($path)")
      }
    }
    new ArrowIpcWrite(path, info.schema(), effectiveDicts, batchRows, level,
      overwrite, info.queryId(),
      new SerializableWritable(spark.sparkContext.hadoopConfiguration))
  }
}

private[graft] final class ArrowIpcWrite(path: String, schema: StructType,
    dictCols: Set[String], batchRows: Int, level: Int, overwrite: Boolean,
    queryId: String, conf: SerializableWritable[Configuration])
    extends Write with BatchWrite {

  override def toBatch: BatchWrite = this
  override def description(): String =
    s"arrowipc ${if (overwrite) "overwrite" else "append"} $path"

  /** Streaming sink — `df.writeStream.format("arrowipc")` — the PRODUCE
    * side of the reference's consume-while-producing story: each
    * micro-batch epoch appends one complete IPC file per partition, so
    * [[ArrowIpc.readPartial]] / the DSv2 `partial` option read the
    * growing store live, and the plain footer reader works between
    * epochs (every committed file is footer-complete). Exactly-once by
    * DETERMINISTIC NAMING: a file is `part-<pid>-e<epoch>.arrow`, task
    * commit renames over any prior attempt's commit of the same name
    * (`replacePrior`), so a replayed epoch (post-crash restart from the
    * checkpoint) REWRITES the same files instead of duplicating rows —
    * the idempotent-sink contract for deterministic sources, with no
    * epoch log to maintain. Complete output mode rides the truncate
    * flag: each epoch's commit retires every data file the epoch did
    * not write. One streaming query per store (same single-writer
    * contract as the native writer).
    */
  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(
        phys: PhysicalWriteInfo): StreamingDataWriterFactory = {
      val p = new HPath(path)
      p.getFileSystem(conf.value).mkdirs(p)
      new ArrowIpcStreamingWriterFactory(broadcastConf(), path, schema.json, dictCols,
        batchRows, level)
    }
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val written = messages.collect { case ArrowIpcFileCommitted(n) => n }.toSet
      val p = new HPath(path)
      val fs = p.getFileSystem(conf.value)
      if (overwrite) { // complete mode: this epoch IS the table
        fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (st.isFile && !n.startsWith(".") && !n.startsWith("_") && !written.contains(n))
            fs.delete(st.getPath, false)
        }
      } else {
        // append mode replay guard: a replayed epoch can run with FEWER
        // partitions than the crashed original (source repartitioning
        // after restart) — deterministic names make the rewritten files
        // replace, but the original's EXTRA partitions would survive as
        // duplicates. Retire any file of THIS epoch the replay did not
        // (re)write; other epochs are untouched.
        val suffix = f"-e$epochId.arrow"
        fs.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (st.isFile && !n.startsWith(".") && n.endsWith(suffix) && !written.contains(n))
            fs.delete(st.getPath, false)
        }
      }
    }
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val p = new HPath(path)
      val fs = p.getFileSystem(conf.value)
      messages.collect { case ArrowIpcFileCommitted(n) => n }
        .foreach(n => fs.delete(new HPath(p, n), false))
    }
  }

  override def createBatchWriterFactory(phys: PhysicalWriteInfo): DataWriterFactory = {
    // the dir must exist before tasks open temp files (native write
    // mkdirs on the driver too)
    val p = new HPath(path)
    p.getFileSystem(conf.value).mkdirs(p)
    // job tag for file names: queryId is unique per write query, so
    // parallel/append jobs can never collide on a part name
    val tag = queryId.replaceAll("[^a-zA-Z0-9]", "").takeRight(12)
    new ArrowIpcWriterFactory(broadcastConf(), path, schema.json, dictCols, batchRows, level, tag)
  }

  // tasks get the conf once per job (per epoch when streaming); commit
  // and abort run on the driver and use `conf` directly
  private def broadcastConf(): Broadcast[SerializableWritable[Configuration]] =
    SparkSession.active.sparkContext.broadcast(conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val written = messages.collect { case ArrowIpcFileCommitted(n) => n }.toSet
    val p = new HPath(path)
    val fs = p.getFileSystem(conf.value)
    if (overwrite) {
      // the job's files are all task-committed; retire every data file
      // this job did not write (see visibility note in the builder doc)
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith(".") && !n.startsWith("_") && !written.contains(n))
          fs.delete(st.getPath, false)
      }
    }
    val done = fs.create(new HPath(p, "_SUCCESS"), true)
    done.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf.value)
    messages.collect { case ArrowIpcFileCommitted(n) => n }
      .foreach(n => fs.delete(new HPath(p, n), false))
  }
}

private[graft] final case class ArrowIpcFileCommitted(file: String)
    extends WriterCommitMessage

private[sources] final class ArrowIpcStreamingWriterFactory(
    conf: Broadcast[SerializableWritable[Configuration]],
    path: String, schemaJson: String, dictCols: Set[String], batchRows: Int,
    level: Int) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    // deterministic (pid, epoch) name + replacePrior: an epoch replayed
    // from the checkpoint rewrites the same file - idempotent, no dupes
    val w = new ArrowIpc.IpcPartWriter(conf.value.value, path, schema, dictCols,
      batchRows, level, f"part-$partitionId%05d-e$epochId.arrow",
      f".part-$partitionId%05d-$taskId-e$epochId.arrow.tmp", replacePrior = true)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = w.writeRow(row)
      override def commit(): WriterCommitMessage = ArrowIpcFileCommitted(w.commit())
      override def abort(): Unit = w.close()
      override def close(): Unit = w.close()
    }
  }
}

private[sources] final class ArrowIpcWriterFactory(
    conf: Broadcast[SerializableWritable[Configuration]],
    path: String, schemaJson: String, dictCols: Set[String], batchRows: Int,
    level: Int, tag: String) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    val w = new ArrowIpc.IpcPartWriter(conf.value.value, path, schema, dictCols,
      batchRows, level, f"part-$partitionId%05d-$tag.arrow",
      f".part-$partitionId%05d-$taskId-$tag.arrow.tmp", replacePrior = false)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = w.writeRow(row)
      override def commit(): WriterCommitMessage = ArrowIpcFileCommitted(w.commit())
      override def abort(): Unit = w.close() // deletes the un-renamed temp
      override def close(): Unit = w.close()
    }
  }
}

private[sources] final class ArrowIpcScanBuilder(paths: Seq[String],
    fileSchema: StructType, partial: Boolean, prune: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  // Catalyst's required schema, top-level: nested pruning requests (a
  // struct with a subset of its children) widen back to the full file
  // field — the engine prunes at buffer granularity per TOP-LEVEL column
  // (a struct's children share its node/buffer span), and readSchema()
  // must describe what the scan actually produces.
  private var requiredNames: Array[String] = fileSchema.fieldNames
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (prune) requiredNames = requiredSchema.fieldNames

  /** Accept every filter whose references resolve into the schema (a
    * top-level name, or a dotted nested-leaf path rooted at one — the
    * engine's stats carry dotted-path entries). Skipping is conservative
    * ([[ArrowIpc.mayMatch]] returns "may match" for anything it cannot
    * evaluate), so acceptance can only save IO — and ALL filters return
    * as residuals for Spark's exact post-scan evaluation. Partial mode
    * pushes nothing: batch statistics live in the footer a torn store
    * lacks, so claiming a pushdown would only misreport the plan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val names = fileSchema.fieldNames.toSet
    pushed =
      if (partial) Array.empty
      else filters.filter(_.references.forall(r =>
        names.contains(r) || names.contains(r.takeWhile(_ != '.'))))
    filters // everything re-evaluates exactly post-scan (stats are IO-only)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ArrowIpcScan(paths, fileSchema, requiredNames, pushed, partial)
}

private[sources] final class ArrowIpcScan(paths: Seq[String], fileSchema: StructType,
    requiredNames: Array[String], pushed: Array[Filter], partial: Boolean)
    extends Scan with Batch {

  override def readSchema(): StructType =
    StructType(requiredNames.map(n => fileSchema(n)))

  override def toBatch: Batch = this

  // rows only, declared up front: the default asks a fresh reader factory
  // (one conf broadcast each) about every partition while planning
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  // rendered inside the BatchScan node by explain — the PlanCheck /
  // .explain surface proving pushdown reached the scan
  override def description(): String =
    s"arrowipc${if (partial) "(partial)" else ""} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${readSchema().catalogString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val statuses = ArrowIpcDataSource.listAll(spark, paths)
    require(statuses.nonEmpty, s"no Arrow IPC files under ${paths.mkString(", ")}")
    val splitBytes = ArrowIpc.arrowSplitBytes(spark)
    if (partial)
      ArrowIpc.planPartialTasks(spark, statuses, splitBytes)
        .map(t => ArrowIpcPartialPartition(t): InputPartition).toArray
    else
      ArrowIpc.planCompleteTasks(spark, statuses, splitBytes)
        .map { case (f, range) => ArrowIpcInputPartition(f, range): InputPartition }
        .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // full-width selections pass None: same bytes, and the whole-body
    // deserialize path beats per-buffer reads when every buffer is wanted
    val selected =
      if (requiredNames.toSeq == fileSchema.fieldNames.toSeq) None
      else Some(requiredNames)
    new ArrowIpcReaderFactory(ArrowIpc.broadcastConf(spark), fileSchema.json, selected, pushed)
  }
}

private[sources] final case class ArrowIpcInputPartition(
    file: String, range: Option[(Int, Int)]) extends InputPartition

private[sources] final case class ArrowIpcPartialPartition(
    task: Either[String, ArrowIpc.PartialSlice]) extends InputPartition

private[sources] final class ArrowIpcReaderFactory(
    conf: Broadcast[SerializableWritable[Configuration]],
    fileSchemaJson: String, selected: Option[Array[String]],
    filters: Array[Filter]) extends PartitionReaderFactory {

  private def emptyReader: PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      override def next(): Boolean = false
      override def get(): InternalRow =
        throw new java.util.NoSuchElementException("empty partition")
      override def close(): Unit = ()
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (srcOpt, file) = partition match {
      case ArrowIpcInputPartition(f, range) =>
        (Some(ArrowIpc.openSourceAt(conf.value.value, f, selected,
          filters.toIndexedSeq, range)), f)
      case ArrowIpcPartialPartition(task) =>
        (ArrowIpc.openPartialSourceAt(conf.value.value, task, selected),
          task.fold(identity, _.file))
      case other => throw new IllegalArgumentException(
        s"arrowipc: unexpected partition type ${other.getClass.getName}")
    }
    srcOpt match {
      case None => emptyReader // pre-schema tear in partial mode: zero rows
      case Some(src) =>
        val expected = org.apache.spark.sql.types.DataType.fromJson(fileSchemaJson)
          .asInstanceOf[StructType]
        // store invariant (same as the native path): a file whose schema
        // diverges from the table's fails with the offending PATH
        if (src.sparkSchema.map(f => (f.name, f.dataType)) != expected.map(f => (f.name, f.dataType))) {
          src.close()
          throw new IllegalArgumentException(
            s"Arrow IPC file $file schema ${src.sparkSchema.simpleString} differs " +
              s"from the table schema ${expected.simpleString}")
        }
        new PartitionReader[InternalRow] {
          private val it = src.rows
          private var current: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) { current = it.next(); true } else false
          override def get(): InternalRow = current
          override def close(): Unit = src.close()
        }
    }
  }
}
