package graft

import graft.sources.Sources
import graft.table.{Domains, RowId, TableWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Write-pipeline + source round-trip coverage (mirrors the reference's
  * arrow round-trip tests, SURVEY.md §5.2, re-expressed for Parquet/CSV/
  * JSON).
  */
class WritePathSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).resolve("t").toString

  test("write with domains sidecar + row count") {
    val df = Seq((1, "a", 1.5), (2, "b", -0.5), (3, "a", 99.0)).toDF("k", "s", "v")
    val out = tmp("writer")
    val res = TableWriter.write(df, out)
    assert(res.rowCount == 3)
    val kDomain = res.domains.find(_.column == "k").get
    assert(kDomain.min.contains(1) && kDomain.max.contains(3))
    val sDomain = res.domains.find(_.column == "s").get
    assert(sDomain.nominal.contains(Seq("a", "b")))
    val json = TableWriter.readDomainsJson(spark, out).get
    assert(json.contains("\"row_count\":3"))
    // round-trip: data readable and identical
    val back = spark.read.parquet(out)
    assert(back.orderBy($"k").collect().map(_.toSeq).toSeq == df.orderBy($"k").collect().map(_.toSeq).toSeq)
  }

  test("appendWrite: sidecar merges batch statistics without rescanning old data") {
    val a = Seq((1, "a", 1.5), (2, "b", -0.5)).toDF("k", "s", "v")
    val b = Seq((7, "c", 99.0), (0, "a", 3.25)).toDF("k", "s", "v")
    val out = tmp("appendw")
    TableWriter.write(a, out)
    val res = TableWriter.appendWrite(b, out)
    assert(res.rowCount == 4)
    // merged sidecar equals a recompute over the whole table (exact
    // lanes; distinct via sketch union)
    val recomputed = graft.table.Domains.compute(spark.read.parquet(out), 60)
    res.domains.zip(recomputed).foreach { case (m, r) =>
      assert(m.column == r.column && m.min == r.min && m.max == r.max &&
        m.nullCount == r.nullCount &&
        m.nominal.map(_.toSet) == r.nominal.map(_.toSet),
        s"${m.column}: merged $m vs recomputed $r")
      // sketch-backed columns merge to recompute-grade estimates;
      // non-sketchable types (double here) carry the documented
      // max(a, b) lower bound
      if (m.distinctSketch.isDefined)
        assert(m.approxDistinct == r.approxDistinct, s"${m.column} distinct")
      else assert(m.approxDistinct <= r.approxDistinct, s"${m.column} bound")
    }
    // the written sidecar round-trips structurally
    val (rc, back) = TableWriter.readDomains(spark, out).get
    assert(rc == 4 && back.map(_.column) == res.domains.map(_.column))
    assert(back.find(_.column == "k").get.min.contains(0))
    assert(back.find(_.column == "v").get.max.contains(99.0))
    // quantile sketches survive the merge + roundtrip
    assert(back.find(_.column == "v").get.quantile(0.5).isDefined)
    // data itself appended
    assert(spark.read.parquet(out).count() == 4)
    // first write to an empty path goes through the plain write path
    val fresh = tmp("appendw2")
    assert(TableWriter.appendWrite(a, fresh).rowCount == 2)
  }

  test("appendWrite falls back to recompute when the sidecar is missing") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "s")
    val out = tmp("appendw3")
    df.write.parquet(out) // raw write: no sidecar
    val res = TableWriter.appendWrite(Seq((3, "c")).toDF("k", "s"), out)
    assert(res.rowCount == 3)
    assert(res.domains.find(_.column == "k").get.max.contains(3))
  }

  test("randomized append sequences with injected torn appends keep stats truthful (property)") {
    for (seed <- Seq(5L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val out = tmp(s"appendw_prop$seed")
      var next = 0
      def batch(sz: Int) = {
        val rows = (0 until sz).map { _ =>
          next += 1; (next, s"s${rnd.nextInt(5)}", rnd.nextInt(1000) - 500)
        }
        rows.toDF("k", "s", "v")
      }
      TableWriter.write(batch(3), out)
      (1 to 6).foreach { _ =>
        if (rnd.nextBoolean()) {
          // torn append: data lands, sidecar doesn't (simulated crash)
          batch(1 + rnd.nextInt(3)).write.mode("append").parquet(out)
        } else {
          TableWriter.appendWrite(batch(1 + rnd.nextInt(3)), out)
        }
      }
      // one clean appendWrite at the end repairs any staleness via the
      // fingerprint-mismatch rescan; the sidecar must equal a recompute
      val res = TableWriter.appendWrite(batch(2), out)
      val whole = spark.read.parquet(out)
      assert(res.rowCount == whole.count(), s"seed $seed row count")
      val recomputed = graft.table.Domains.compute(whole, 60)
      res.domains.zip(recomputed).foreach { case (m, r) =>
        assert(m.min == r.min && m.max == r.max && m.nullCount == r.nullCount &&
          m.nominal.map(_.toSet) == r.nominal.map(_.toSet),
          s"seed $seed ${m.column}: $m vs $r")
      }
    }
  }

  test("appendWrite detects a torn prior append (data landed, sidecar didn't) and recomputes") {
    val out = tmp("appendw_torn")
    TableWriter.write(Seq((1, "a"), (2, "b")).toDF("k", "s"), out)
    // simulate a crash AFTER the data append but BEFORE the sidecar merge:
    // rows land with no sidecar update — the stale sidecar still says 2
    Seq((100, "orphan")).toDF("k", "s").write.mode("append").parquet(out)
    assert(TableWriter.readDomains(spark, out).get._1 == 2) // stale, as a crash leaves it
    // the next appendWrite must NOT merge the stale prior: the fingerprint
    // mismatch routes to the full rescan, folding the orphan rows back in
    val res = TableWriter.appendWrite(Seq((3, "c")).toDF("k", "s"), out)
    assert(res.rowCount == 4, s"expected truthful 4 rows, got ${res.rowCount}")
    assert(res.domains.find(_.column == "k").get.max.contains(100))
    // and once repaired, the fast merge path works again (fingerprint fresh)
    val res2 = TableWriter.appendWrite(Seq((200, "d")).toDF("k", "s"), out)
    assert(res2.rowCount == 5)
    assert(res2.domains.find(_.column == "k").get.max.contains(200))
    val recomputed = graft.table.Domains.compute(spark.read.parquet(out), 60)
    res2.domains.zip(recomputed).foreach { case (m, r) =>
      assert(m.min == r.min && m.max == r.max && m.nullCount == r.nullCount,
        s"${m.column}: merged $m vs recomputed $r")
    }
  }

  test("write rejects duplicate RowIDs when checked") {
    val df = Seq(("Row0", 1), ("Row0", 2)).toDF("row_id", "v")
    intercept[IllegalArgumentException] {
      TableWriter.write(df, tmp("dup"), checkRowIdUnique = true)
    }
    // and accepts unique ones
    val ok = Seq(("Row0", 1), ("Row1", 2)).toDF("row_id", "v")
    assert(TableWriter.write(ok, tmp("nodup"), checkRowIdUnique = true).rowCount == 2)
  }

  test("csv round-trip with explicit schema (no inference)") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType), StructField("score", DoubleType)))
    val df = Seq((1L, "x", 0.5), (2L, "y", 1.5)).toDF("id", "name", "score")
    val out = tmp("csv")
    Sources.writeCsv(df, out)
    val back = Sources.csv(spark, out, schema)
    assert(back.schema == schema)
    assert(back.orderBy($"id").collect().map(_.toSeq).toSeq == df.orderBy($"id").collect().map(_.toSeq).toSeq)
  }

  test("orc round-trip preserves schema and values") {
    val df = Seq((1L, "x", 0.5), (2L, "y", 1.5)).toDF("id", "name", "score")
    val out = tmp("orc")
    Sources.writeOrc(df, out)
    val back = Sources.orc(spark, out)
    assert(back.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq)
    assert(back.orderBy($"id").collect().map(_.toSeq).toSeq == df.orderBy($"id").collect().map(_.toSeq).toSeq)
  }

  test("json-lines round-trip with explicit schema") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("tags", ArrayType(StringType))))
    val df = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String])).toDF("id", "tags")
    val out = tmp("json")
    Sources.writeJsonLines(df, out)
    val back = Sources.jsonLines(spark, out, schema)
    assert(back.schema == schema)
    assert(back.count() == 2)
  }

  test("json-lines quarantine: malformed rows captured, good rows parsed") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("quarantine")
    java.nio.file.Files.writeString(
      dir.resolve("data.json"),
      """{"id": 1, "v": "ok"}
        |not json at all {{{
        |{"id": 2, "v": "fine"}
        |""".stripMargin)
    val df = Sources.jsonLinesQuarantine(spark, dir.toString, schema)
    // corrupt-column-only query works WITHOUT caller-side caching (the
    // reader checkpoints past Spark's raw-scan corrupt-column restriction)
    assert(df.where($"_corrupt_record".isNotNull).count() == 1)
    assert(df.where($"_corrupt_record".isNull).select($"id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("sketches persisted in the sidecar merge across ingests to recompute-grade estimates") {
    val a = (0 until 600).map(i => (i.toLong, s"k$i")).toDF("id", "s")
    val b = (300 until 900).map(i => (i.toLong, s"k$i")).toDF("id", "s")
    val pa = tmp("ingest_a"); val pb = tmp("ingest_b")
    val ra = TableWriter.write(a, pa)
    val rb = TableWriter.write(b, pb)
    // reload the sketches from DISK (the cross-job path) and graft them
    // onto the recomputed domain rows before merging
    val ska = TableWriter.readDistinctSketches(spark, pa)
    val skb = TableWriter.readDistinctSketches(spark, pb)
    assert(ska.contains("s") && skb.contains("s"))
    val da = ra.domains.map(d => d.copy(distinctSketch = ska.get(d.column)))
    val db = rb.domains.map(d => d.copy(distinctSketch = skb.get(d.column)))
    val merged = graft.table.Domains.merge(da, db, 10).find(_.column == "s").get
    assert(math.abs(merged.approxDistinct - 900L) <= 27, s"estimate ${merged.approxDistinct}")
  }

  test("row-push adapter: rows → DataFrame with explicit schema") {
    val schema = StructType(Seq(StructField("row_id", StringType), StructField("v", IntegerType)))
    val rows = (0 until 10).map(i => org.apache.spark.sql.Row(s"Row$i", i))
    val df = Sources.fromRows(spark, rows, schema)
    assert(df.count() == 10)
    assert(RowId.duplicateKeys(df).count() == 0)
  }

  test("torn-append detection fires for tables under hidden-ancestor dirs") {
    // regression: the fingerprint's hidden-dir walk compared qualified
    // listing paths against the unqualified table root, overshot to /, and
    // any ancestor starting with '.' marked every data file hidden - the
    // fingerprint read (0,0) forever and staleness never fired
    val root = java.nio.file.Files.createTempDirectory("hidq")
    val out = root.resolve(".cache").resolve("t").toString
    TableWriter.write(Seq((1, "a"), (2, "b")).toDF("k", "s"), out)
    // crash simulation: data lands, sidecar doesn't
    Seq((100, "orphan")).toDF("k", "s").write.mode("append").parquet(out)
    val res = TableWriter.appendWrite(Seq((3, "c")).toDF("k", "s"), out)
    assert(res.rowCount == 4, s"stale sidecar merged under hidden ancestor: ${res.rowCount}")
    assert(res.domains.find(_.column == "k").get.max.contains(100))
  }

  /** Column-by-column equality of two domain snapshots: bounds, nulls,
    * nominal, the distinct count and the sketch estimates.
    */
  private def assertSameDomains(got: Seq[Domains.ColumnDomain], want: Seq[Domains.ColumnDomain]): Unit = {
    assert(got.map(d => (d.column, d.dataType.simpleString)) ==
      want.map(d => (d.column, d.dataType.simpleString)))
    def hll(b: Array[Byte]) = org.apache.datasketches.hll.HllSketch.heapify(b).getEstimate
    got.zip(want).foreach { case (g, w) =>
      val c = g.column
      assert(g.min == w.min && g.max == w.max, s"$c bounds: ${(g.min, g.max)} vs ${(w.min, w.max)}")
      assert(g.nullCount == w.nullCount, s"$c nulls")
      assert(g.nominal == w.nominal, s"$c nominal: ${g.nominal} vs ${w.nominal}")
      assert(g.approxDistinct == w.approxDistinct, s"$c distinct: ${g.approxDistinct} vs ${w.approxDistinct}")
      assert(g.distinctSketch.map(hll) == w.distinctSketch.map(hll), s"$c distinct sketch")
      assert(Seq(0.0, 0.25, 0.5, 0.9, 1.0).map(g.quantile) == Seq(0.0, 0.25, 0.5, 0.9, 1.0).map(w.quantile),
        s"$c quantiles")
    }
  }

  test("write-time domains equal a recompute over the written table, column by column") {
    // 150 rows: below the KLL sketch's k, so its quantiles are exact on
    // both sides; "exact" has nominalCap distinct strings, "over" one more
    val cap = 10
    val df = spark.range(0, 150, 1, 3).select(
      $"id",
      ($"id" % 7 === 0).as("flag"),
      when($"id" % 5 =!= 0, ($"id" * 3 % 101).cast("int")).as("n"),
      when($"id" % 4 =!= 0, concat(lit("t"), $"id".cast("string"))).as("text"),
      when($"id" % 6 =!= 0, concat(lit("e"), ($"id" % cap).cast("string"))).as("exact"),
      concat(lit("o"), ($"id" % (cap + 1)).cast("string")).as("over"),
      struct(($"id" % 3).cast("string").as("k"), ($"id" / 2.0).as("x")).as("meta"),
      when($"id" % 9 =!= 0, array($"id".cast("double"), ($"id" * -1.5).cast("double"))).as("scores"),
      map(lit("a"), $"id".cast("int")).as("attrs"))
    val out = tmp("domains_eq")
    val res = TableWriter.write(df, out, nominalCap = cap)
    assert(res.rowCount == 150)
    val recomputed = Domains.compute(spark.read.parquet(out), cap)
    assertSameDomains(res.domains, recomputed)
    val byName = res.domains.map(d => d.column -> d).toMap
    assert(byName("exact").nominal.map(_.length).contains(cap))
    assert(byName("over").nominal.isEmpty, "one value past the cap drops the domain")
    assert(byName("text").nominal.isEmpty && byName("text").approxDistinct > 100)
    assert(byName("flag").nominal.contains(Seq(false, true)))
    assert(byName("meta.k").nominal.contains(Seq("0", "1", "2")))
    assert(byName("scores").min.contains(-223.5) && byName("scores").max.contains(149.0))
    assert(byName("n").nullCount == 30 && byName("attrs").approxDistinct == 0)
    // the sidecar carries the same snapshot
    val (rc, back) = TableWriter.readDomains(spark, out).get
    assert(rc == 150 && back.map(_.approxDistinct) == res.domains.map(_.approxDistinct))
  }

  test("write of a zero-row frame: row count 0 and the domains of a plain compute") {
    val df = Seq((1, "a", 1.5)).toDF("k", "s", "v").where($"k" < 0)
    val res = TableWriter.write(df, tmp("writer_empty"))
    assert(res.rowCount == 0)
    assertSameDomains(res.domains, Domains.compute(df))
  }

  test("job counts: the write yields its domains, a narrow row index counts in one job") {
    val df = spark.range(0, 2000, 1, 4).select($"id", ($"id" % 13).cast("string").as("s"))
    val out = tmp("writer_jobs")
    var res: TableWriter.WriteResult = null
    val writeJobs = jobsStarted { res = TableWriter.write(df, out) }
    assert(writeJobs.length == 1, s"write ran ${writeJobs.length} jobs")
    assert(res.rowCount == 2000 && res.domains.find(_.column == "s").get.nominal.get.length == 13)
    var indexed: org.apache.spark.sql.DataFrame = null
    val indexJobs = jobsStarted { indexed = RowId.withRowIndex(df, "ri") }
    assert(indexJobs.length == 1, s"withRowIndex ran ${indexJobs.length} jobs")
    assert(indexed.where($"ri" =!= $"id").isEmpty)
  }

  test("job counts: one job pins and counts a frame; connectedComponents counts in its pin jobs") {
    var pinned: Pins.Counted = null
    val pinJobs = jobsStarted { pinned = Pins.counted(spark.range(0, 2000, 1, 4).toDF("id")) }
    assert(pinJobs.length == 1, s"Pins.counted ran ${pinJobs.length} jobs")
    assert(Pins.isPinned(pinned.df) && pinned.partitionRows.toSeq == Seq.fill(4)(500L))
    Pins.release(pinned.df)
    // IterateSpec's graph: two triangles bridged by a path, plus an isolated node
    val pairs = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 7L,
      7L -> 8L, 6L -> 8L).toDF("src", "dst")
    val graph = pairs.unionAll(pairs.select($"dst".as("src"), $"src".as("dst")))
    var labels: Seq[org.apache.spark.sql.Row] = Nil
    val ccJobs = jobsStarted {
      labels = graft.text.LinkGraph.connectedComponents((1L to 9L).toDF("id"), "id", graph)
        .orderBy("id").collect().toSeq
    }
    assert(labels.map(r => (r.getLong(1), r.getLong(2))) ==
      Seq.fill(8)((1L, 8L)) :+ ((9L, 1L)))
    // 40 jobs when the edges were counted after each pin, in a job of their own
    assert(ccJobs.length <= 32, s"connectedComponents ran ${ccJobs.length} jobs")
  }
}
