package graft

import graft.sources.ArrowIpc
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

/** The Arrow IPC DataSourceV2 table (`spark.read.format("arrowipc")`):
  * ordinary DataFrame composition must reach the SAME selective-IO
  * engine as the native `ArrowIpc.read(path, columns, filters)` API —
  * byte-for-byte (the r17 verdict's one idiomatic-Spark gap: pushdown
  * was a side-channel a `spark.read` user never hit).
  *
  * Byte assertions ride [[ArrowIpc.bytesReadDuring]] — SINGLE-QUERY
  * counter, keep this suite sequential.
  */
class ArrowDsv2Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(name).resolve("t").toString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true),
    StructField("blob", BinaryType, nullable = true)))

  private def sampleRows(n: Int): Seq[Row] =
    (0 until n).map { i =>
      Row(
        i.toLong,
        if (i % 7 == 3) null else s"name_$i",
        if (i % 5 == 4) null else i * 1.5,
        // fat payload so pruning is visible in the byte counts
        Array.fill[Byte](64)((i % 127).toByte))
    }

  private def canon(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    })

  private lazy val store: String = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sampleRows(6000), 2), schema)
    val out = tmp("dsv2_store")
    ArrowIpc.write(df, out, batchRows = 512)
    out
  }

  test("values: DSv2 load == native read (full width)") {
    val v2 = spark.read.format("arrowipc").load(store).orderBy($"id").collect()
    val nat = ArrowIpc.read(spark, store).orderBy($"id").collect()
    assert(v2.length == 6000)
    assert(canon(v2) == canon(nat))
    assert(spark.read.format("arrowipc").load(store).schema
      .map(f => (f.name, f.dataType)) == schema.map(f => (f.name, f.dataType)))
  }

  test("column pruning: select() over the DSv2 table costs the same bytes " +
      "as the native pruned read") {
    val (v2Rows, v2Bytes) = ArrowIpc.bytesReadDuring {
      spark.read.format("arrowipc").load(store)
        .select($"id", $"score").orderBy($"id").collect()
    }
    val (natRows, natBytes) = ArrowIpc.bytesReadDuring {
      ArrowIpc.read(spark, store, Seq("id", "score")).orderBy($"id").collect()
    }
    assert(canon(v2Rows) == canon(natRows))
    assert(v2Bytes == natBytes,
      s"DSv2 pruned scan read $v2Bytes bytes vs native $natBytes - pushdown " +
        "did not reach the scan")
    // and far less than the full store (the blob column dominates)
    val (_, fullBytes) = ArrowIpc.bytesReadDuring {
      spark.read.format("arrowipc").load(store).orderBy($"id").collect()
    }
    assert(v2Bytes < fullBytes / 2,
      s"pruned $v2Bytes vs full $fullBytes - blob bytes were read")
  }

  test("filter pushdown: where() batch-skips via footer stats, same bytes " +
      "as the native filtered read, exact residual semantics") {
    val (v2Rows, v2Bytes) = ArrowIpc.bytesReadDuring {
      spark.read.format("arrowipc").load(store)
        .where($"id" >= 100L && $"id" < 300L)
        .select($"id", $"score").orderBy($"id").collect()
    }
    // the DSv2 path pushes Catalyst's full translation (incl. IsNotNull);
    // hand the native API the same set so the byte counts are comparable
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, IsNotNull, LessThan}
    val (natRows, natBytes) = ArrowIpc.bytesReadDuring {
      ArrowIpc.read(spark, store, Seq("id", "score"),
          Seq(IsNotNull("id"), GreaterThanOrEqual("id", 100L), LessThan("id", 300L)))
        .orderBy($"id").collect()
    }
    assert(v2Rows.length == 200)
    assert(canon(v2Rows) == canon(natRows))
    assert(v2Bytes == natBytes,
      s"DSv2 filtered scan read $v2Bytes vs native $natBytes")
    // skipping actually engaged: far fewer bytes than the unfiltered
    // pruned scan (6000 rows / 512-row batches; [100,300) spans 1 batch)
    val (_, unfiltered) = ArrowIpc.bytesReadDuring {
      spark.read.format("arrowipc").load(store)
        .select($"id", $"score").orderBy($"id").collect()
    }
    assert(v2Bytes < unfiltered / 2,
      s"filtered $v2Bytes vs unfiltered $unfiltered - no batch skipping")
  }

  test("count(*): empty required schema reads zero body bytes") {
    val (n, v2Bytes) = ArrowIpc.bytesReadDuring {
      spark.read.format("arrowipc").load(store).count()
    }
    assert(n == 6000L)
    val (n2, natBytes) = ArrowIpc.bytesReadDuring {
      ArrowIpc.read(spark, store, Seq.empty[String]).count()
    }
    assert(n2 == 6000L)
    assert(v2Bytes == natBytes,
      s"DSv2 count read $v2Bytes bytes vs native zero-column $natBytes")
  }

  test("explain surfaces the pushdown: BatchScan with PushedFilters and " +
      "the pruned ReadSchema") {
    val df = spark.read.format("arrowipc").load(store)
      .where($"id" >= 100L).select($"id", $"score")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), plan)
    assert(plan.contains("GreaterThanOrEqual(id,100"), plan)
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.toLowerCase.contains("blob"),
      s"pruned scan still mentions the blob column:\n$plan")
  }

  test("within-file fan-out: a file above splitBytes serves as multiple " +
      "partitions with identical values") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sampleRows(4000), 1), schema)
    val out = tmp("dsv2_split")
    ArrowIpc.write(df, out, batchRows = 256) // one file, ~16 batches
    spark.conf.set("spark.graft.arrow.splitBytes", (64L * 1024).toString)
    try {
      val v2 = spark.read.format("arrowipc").load(out)
      assert(v2.rdd.getNumPartitions > 1,
        s"expected within-file splits, got ${v2.rdd.getNumPartitions} partition(s)")
      assert(canon(v2.orderBy($"id").collect()) ==
        canon(df.orderBy($"id").collect()))
      // filtered + pruned over the split read stays correct
      val got = v2.where($"id" >= 1000L && $"id" < 1200L)
        .select($"id", $"score").orderBy($"id").collect()
      assert(got.length == 200 && got.head.getLong(0) == 1000L)
    } finally spark.conf.unset("spark.graft.arrow.splitBytes")
  }

  test("schema invariant: a divergent file fails with its path named") {
    val out = tmp("dsv2_mixed")
    ArrowIpc.write(spark.createDataFrame(
      spark.sparkContext.parallelize(sampleRows(100), 1), schema), out, batchRows = 64)
    val other = tmp("dsv2_other")
    ArrowIpc.write((1 to 50).map(i => (i, s"v$i")).toDF("a", "b")
      .repartition(1), other, batchRows = 64)
    // drop a foreign-schema file into the store
    val src = Files.list(Paths.get(other)).iterator()
    var moved: java.nio.file.Path = null
    while (src.hasNext) {
      val f = src.next()
      if (f.toString.endsWith(".arrow")) {
        moved = Paths.get(out, "zz-" + f.getFileName.toString)
        Files.copy(f, moved)
      }
    }
    assert(moved != null)
    val e = intercept[Exception] {
      spark.read.format("arrowipc").load(out).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("differs") && m.contains("zz-")),
      s"error did not name the divergent file: ${chain(e).mkString(" | ")}")
  }

  test("partial option: a torn store reads its complete-batch prefix via " +
      "spark.read, values and pruned bytes equal the native readPartial") {
    // id-ordered single file, 256-row batches, then torn mid-batch-6
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sampleRows(4000), 1), schema).orderBy($"id")
    val out = tmp("dsv2_partial_src")
    ArrowIpc.write(df, out, batchRows = 256)
    val f = Files.list(Paths.get(out)).iterator()
    var part: java.nio.file.Path = null
    while (f.hasNext) { val x = f.next(); if (x.toString.endsWith(".arrow")) part = x }
    val blocks = graft.sources.ArrowIpc.recordBatchBlocks(spark, part.toString)
    val bytes = Files.readAllBytes(part)
    val torn = tmp("dsv2_partial_torn")
    Files.createDirectories(Paths.get(torn))
    Files.write(Paths.get(torn, "part-00000.arrow"),
      java.util.Arrays.copyOf(bytes, (blocks(6)._1 + 16).toInt))
    val v2 = spark.read.format("arrowipc").option("partial", "true").load(torn)
    assert(v2.count() == 6 * 256)
    assert(canon(v2.orderBy($"id").collect()) ==
      canon(ArrowIpc.readPartial(spark, torn).orderBy($"id").collect()))
    // pruning pushes without a footer too - byte parity with the native
    // pruned walk (fat blob column never read)
    val (v2Rows, v2Bytes) = ArrowIpc.bytesReadDuring {
      spark.read.format("arrowipc").option("partial", "true").load(torn)
        .select($"id", $"score").orderBy($"id").collect()
    }
    val (natRows, natBytes) = ArrowIpc.bytesReadDuring {
      ArrowIpc.readPartial(spark, torn, Seq("id", "score")).orderBy($"id").collect()
    }
    assert(canon(v2Rows) == canon(natRows))
    assert(v2Bytes == natBytes,
      s"DSv2 partial pruned scan read $v2Bytes bytes vs native $natBytes")
    // filters stay residual (nothing pushed - no footer stats) but
    // semantics hold exactly
    val got = spark.read.format("arrowipc").option("partial", "true").load(torn)
      .where($"id" >= 100L && $"id" < 200L).select($"id").orderBy($"id").collect()
    assert(got.length == 100 && got.head.getLong(0) == 100L)
    // and the COMPLETE file through partial mode serves everything
    val all = spark.read.format("arrowipc").option("partial", "true").load(out)
    assert(all.count() == 4000)
  }

  test("partial option: within-file slice fan-out via spark.read") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sampleRows(4000), 1), schema).orderBy($"id")
    val out = tmp("dsv2_partial_split")
    ArrowIpc.write(df, out, batchRows = 256)
    spark.conf.set("spark.graft.arrow.splitBytes", (64L * 1024).toString)
    try {
      val v2 = spark.read.format("arrowipc").option("partial", "true").load(out)
      assert(v2.rdd.getNumPartitions > 1,
        s"expected partial slices, got ${v2.rdd.getNumPartitions}")
      assert(canon(v2.orderBy($"id").collect()) == canon(df.orderBy($"id").collect()))
    } finally spark.conf.unset("spark.graft.arrow.splitBytes")
  }

  test("multi-path load unions the stores") {
    val a = tmp("dsv2_a"); val b = tmp("dsv2_b")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sampleRows(100), 1), schema)
    ArrowIpc.write(df.where($"id" < 50), a, batchRows = 64)
    ArrowIpc.write(df.where($"id" >= 50), b, batchRows = 64)
    val got = spark.read.format("arrowipc").load(a, b).orderBy($"id").collect()
    assert(got.length == 100 && got.head.getLong(0) == 0L && got.last.getLong(0) == 99L)
  }

  test("reader and writer factories stay small: the Hadoop conf rides a " +
      "broadcast, not every task") {
    import org.apache.spark.sql.connector.write.PhysicalWriteInfo
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def serializedBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(o) finally out.close()
      bytes.size()
    }
    def readerFactory(df: org.apache.spark.sql.DataFrame): AnyRef =
      df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b.readerFactory }
        .getOrElse(fail(s"no BatchScan in\n${df.queryExecution.executedPlan}"))
    val write = new graft.sources.ArrowIpcWrite(tmp("dsv2_factory_write"), schema,
      Set.empty, 4096, 0, overwrite = false, "qid",
      new org.apache.spark.SerializableWritable(spark.sparkContext.hadoopConfiguration))
    val phys: PhysicalWriteInfo = () => 1
    val factories = Seq(
      "complete-mode reader" -> readerFactory(spark.read.format("arrowipc").load(store)),
      "partial-mode reader" ->
        readerFactory(spark.read.format("arrowipc").option("partial", "true").load(store)),
      "batch writer" -> write.createBatchWriterFactory(phys),
      "streaming writer" -> write.toStreaming.createStreamingWriterFactory(phys))
    val sizes = factories.map { case (what, f) => what -> serializedBytes(f) }
    assert(sizes.forall(_._2 < 16 * 1024), s"serialized factory bytes: ${sizes.mkString(", ")}")
  }
}
