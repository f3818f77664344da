package graft

import graft.text.{LinkGraph, LinkGraphStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The persisted appendable link-graph artifact: build ≡ sharedSpanEdges,
  * append ≡ rebuild (deletions included — the df-band crossing case), the
  * id-discipline guards, and the surface hygiene (postings/dfs/manifest).
  */
class LinkGraphStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def canonSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("build: edges + support match sharedSpanEdges/Weighted on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dir = tmp("lgs_build")
    LinkGraphStore.build(docs, "doc_id", "text", w = 5, maxDf = 32, dir, nBuckets = 8)
    val stored = canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir))
    val expected = canonSet(
      LinkGraph.sharedSpanEdgesWeighted(docs, "doc_id", "text", w = 5, maxDf = 32)
        .where(col("src") < col("dst"))
        .select(col("src"), col("dst"), col("weight")))
    assert(stored == expected, s"stored ${stored.size} vs expected ${expected.size}")
    // symmetric load matches sharedSpanEdges exactly
    val sym = LinkGraphStore.loadEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val symExp = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sym == symExp)
    val m = LinkGraphStore.loadManifest(spark, dir)
    assert(m.w == 5 && m.maxDf == 32 && m.nBuckets == 8)
    assert(m.nDocs == docs.count() && m.nEdges == expected.size.toLong)
  }

  test("append == rebuild, including df-band edge retraction") {
    // w=2 spans are adjacent word pairs. maxDf=2 so the batch forces:
    //  - "x y": df 2 -> 3, crosses the band  -> edge (1,2) RETRACTED
    //  - "m n": df 1 -> 2, enters the band   -> edge (3,4) created
    //  - "p q": df 1 -> 2, enters the band   -> edge (1,5) created
    val base = Seq((1L, "x y p q"), (2L, "x y"), (3L, "m n")).toDF("doc_id", "text")
    val batch = Seq((4L, "x y m n"), (5L, "p q")).toDF("doc_id", "text")
    val dir = tmp("lgs_append")
    LinkGraphStore.build(base, "doc_id", "text", w = 2, maxDf = 2, dir, nBuckets = 2)
    assert(canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir)) == Set((1L, 2L, 1L)))
    LinkGraphStore.append(batch, "doc_id", "text", dir, batchId = 7L)
    val after = canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir))
    val rebuiltDir = tmp("lgs_rebuild")
    LinkGraphStore.build(base.unionAll(batch), "doc_id", "text", w = 2, maxDf = 2,
      rebuiltDir, nBuckets = 2)
    assert(after == canonSet(LinkGraphStore.loadEdgesCanonical(spark, rebuiltDir)))
    assert(after == Set((3L, 4L, 1L), (1L, 5L, 1L)), s"got $after")
    // surfaces: the blown span is purged from postings, dfs carries df=3
    val posts = spark.read.parquet(s"$dir/postings").select($"h", $"id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val postsRebuilt = spark.read.parquet(s"$rebuiltDir/postings").select($"h", $"id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(posts == postsRebuilt)
    val dfs = spark.read.parquet(s"$dir/dfs").select($"h", $"df")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dfsRebuilt = spark.read.parquet(s"$rebuiltDir/dfs").select($"h", $"df")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dfs == dfsRebuilt)
    val m = LinkGraphStore.loadManifest(spark, dir)
    assert(m.nDocs == 5 && m.nEdges == 2 && m.maxId == 5L && m.lastBatchId == 7L)
  }

  test("append retracting the last edge empties the bucket (stale files purged)") {
    // nBuckets=1: the single edge bucket must be DELETED when its rows
    // vanish — dynamic overwrite alone would leave the stale partition
    val base = Seq((1L, "x y"), (2L, "x y")).toDF("doc_id", "text")
    val dir = tmp("lgs_retract")
    LinkGraphStore.build(base, "doc_id", "text", w = 2, maxDf = 2, dir, nBuckets = 1)
    assert(LinkGraphStore.loadEdgesCanonical(spark, dir).count() == 1)
    LinkGraphStore.append(Seq((3L, "x y")).toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(LinkGraphStore.loadEdgesCanonical(spark, dir).count() == 0)
    // and downstream operators run on the empty graph
    val comps = LinkGraph.connectedComponents(
      Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id",
      LinkGraphStore.loadEdges(spark, dir))
    assert(comps.where($"component_size" === 1).count() == 3)
  }

  test("append == rebuild on a real-docs half/half split") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val half = docs.agg(max($"doc_id")).head().getLong(0) / 2
    val dir = tmp("lgs_half")
    LinkGraphStore.build(docs.where($"doc_id" <= half), "doc_id", "text",
      w = 5, maxDf = 32, dir, nBuckets = 8)
    LinkGraphStore.append(docs.where($"doc_id" > half), "doc_id", "text", dir)
    val after = canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir))
    val expected = canonSet(
      LinkGraph.sharedSpanEdgesWeighted(docs, "doc_id", "text", w = 5, maxDf = 32)
        .where(col("src") < col("dst"))
        .select(col("src"), col("dst"), col("weight")))
    assert(after == expected, s"append ${after.size} vs rebuild ${expected.size}")
    assert(LinkGraphStore.loadManifest(spark, dir).nEdges == expected.size.toLong)
  }

  test("randomized multi-batch append == rebuild (property, fixed seeds)") {
    // the delta math's adversarial surface is df-band traffic: tiny word
    // pool + low maxDf so every batch moves many spans across both band
    // edges. 3 seeds x 3 sequential appends, edges compared exactly.
    for (seed <- Seq(7L, 42L, 1234L)) {
      val rnd = new scala.util.Random(seed)
      val pool = Vector("aa", "bb", "cc", "dd", "ee", "ff")
      def doc(): String =
        (0 until (2 + rnd.nextInt(6))).map(_ => pool(rnd.nextInt(pool.size))).mkString(" ")
      val all = (1L to 40L).map(i => (i, doc()))
      val dir = tmp(s"lgs_prop$seed")
      LinkGraphStore.build(all.take(10).toDF("doc_id", "text"), "doc_id", "text",
        w = 2, maxDf = 3, dir, nBuckets = 4)
      Seq(all.slice(10, 20), all.slice(20, 30), all.slice(30, 40)).foreach { b =>
        LinkGraphStore.append(b.toDF("doc_id", "text"), "doc_id", "text", dir)
      }
      val got = canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir))
      val rb = tmp(s"lgs_prop_rb$seed")
      LinkGraphStore.build(all.toDF("doc_id", "text"), "doc_id", "text",
        w = 2, maxDf = 3, rb, nBuckets = 4)
      val want = canonSet(LinkGraphStore.loadEdgesCanonical(spark, rb))
      assert(got == want, s"seed $seed: ${got.size} vs ${want.size}")
      // and the band actually moved both ways somewhere in the run
      val dfs = spark.read.parquet(s"$dir/dfs").select($"df")
        .collect().map(_.getLong(0))
      assert(dfs.exists(_ > 3), s"seed $seed never blew a span past maxDf")
    }
  }

  test("torn mutation: a crash between surface writes fails loud at load") {
    val base = Seq((1L, "x y p q"), (2L, "x y"), (3L, "m n")).toDF("doc_id", "text")
    val dir = tmp("lgs_torn")
    LinkGraphStore.build(base, "doc_id", "text", w = 2, maxDf = 2, dir, nBuckets = 2)
    assert(LinkGraphStore.loadManifest(spark, dir).epoch == 0L)
    // simulate a kill mid-append: the mutation stamped its target epoch
    // (intent-first) but died before the manifest landed (write via the
    // Hadoop FS - a raw java.nio write would leave a stale .crc sidecar)
    graft.sources.ArtifactJson.writeFile(spark, s"$dir/_epoch_edges", "1")
    val torn = intercept[IllegalArgumentException] {
      LinkGraphStore.loadManifest(spark, dir)
    }
    assert(torn.getMessage.contains("torn append"), torn.getMessage)
    assert(torn.getMessage.contains("rebuild"), torn.getMessage)
    // every read path fails the same way, not just manifest loads
    intercept[IllegalArgumentException] {
      LinkGraphStore.loadEdgesCanonical(spark, dir)
    }
    // recovery = rebuild: stamps re-align (manifest epoch + 1), loads work
    LinkGraphStore.build(base, "doc_id", "text", w = 2, maxDf = 2, dir, nBuckets = 2)
    assert(LinkGraphStore.loadManifest(spark, dir).epoch == 1L)
    assert(canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir)) == Set((1L, 2L, 1L)))
  }

  test("appendAuto: small batches take the delta path, reads merge, compaction folds") {
    // the band-crossing scenario split into TWO small batches so the
    // delta path must get retractions right against base + prior delta
    val base = Seq((1L, "x y p q"), (2L, "x y"), (3L, "m n")).toDF("doc_id", "text")
    val dir = tmp("lgs_auto")
    LinkGraphStore.build(base, "doc_id", "text", w = 2, maxDf = 2, dir, nBuckets = 2)
    // batch of 1 doc vs nDocs=3: 1 >= 0.05*3 would route in-place — force
    // the delta path with a smallBatchFraction that makes 1 doc "small"
    val r1 = LinkGraphStore.appendAuto(Seq((4L, "x y m n")).toDF("doc_id", "text"),
      "doc_id", "text", dir, smallBatchFraction = 0.5)
    val r2 = LinkGraphStore.appendAuto(Seq((5L, "p q")).toDF("doc_id", "text"),
      "doc_id", "text", dir, smallBatchFraction = 0.5)
    assert(r1 == "delta" && r2 == "delta", s"routes: $r1, $r2")
    assert(LinkGraphStore.liveDeltaIds(spark, dir) == Seq(0L, 1L))
    // merged read == rebuild over everything (retraction of (1,2) included)
    val all = base.unionAll(Seq((4L, "x y m n"), (5L, "p q")).toDF("doc_id", "text"))
    val rb = tmp("lgs_auto_rb")
    LinkGraphStore.build(all, "doc_id", "text", w = 2, maxDf = 2, rb, nBuckets = 2)
    val want = canonSet(LinkGraphStore.loadEdgesCanonical(spark, rb))
    assert(canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir)) == want)
    assert(want == Set((3L, 4L, 1L), (1L, 5L, 1L)))
    // novelty served with live deltas == novelty from the rebuilt artifact
    val probe = Seq((4L, "x y m n")).toDF("doc_id", "text")
    def nov(d: String) = LinkGraphStore.spanNoveltyAgainst(probe, "doc_id", "text", d)
      .collect().map(_.toSeq).toSeq
    assert(nov(dir) == nov(rb))
    // plain in-place append refuses to run over a live log
    val refuse = intercept[IllegalArgumentException] {
      LinkGraphStore.append(Seq((6L, "zz ww")).toDF("doc_id", "text"), "doc_id", "text", dir)
    }
    assert(refuse.getMessage.contains("live delta"), refuse.getMessage)
    // a LARGE batch folds the log first, then appends in place
    val big = (6L to 9L).map(i => (i, s"fresh$i words$i")).toDF("doc_id", "text")
    val r3 = LinkGraphStore.appendAuto(big, "doc_id", "text", dir, smallBatchFraction = 0.5)
    assert(r3 == "inplace", s"route: $r3")
    assert(LinkGraphStore.liveDeltaIds(spark, dir).isEmpty)
    val rb2 = tmp("lgs_auto_rb2")
    LinkGraphStore.build(all.unionAll(big), "doc_id", "text", w = 2, maxDf = 2, rb2, nBuckets = 2)
    assert(canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir)) ==
      canonSet(LinkGraphStore.loadEdgesCanonical(spark, rb2)))
    val m = LinkGraphStore.loadManifest(spark, dir)
    assert(m.nDocs == 9L && m.maxId == 9L)
    // watermark retired the folded entries: log dir may be gone entirely
    assert(LinkGraphStore.liveDeltaIds(spark, dir).isEmpty)
    // maxLiveDeltas bound: the next small batch folds immediately
    val r4 = LinkGraphStore.appendAuto(Seq((10L, "qq rr")).toDF("doc_id", "text"),
      "doc_id", "text", dir, smallBatchFraction = 0.5, maxLiveDeltas = 1)
    assert(r4 == "delta+compact", s"route: $r4")
    assert(LinkGraphStore.liveDeltaIds(spark, dir).isEmpty)
    assert(LinkGraphStore.loadManifest(spark, dir).nDocs == 10L)
    // exactly-once with an EXPLICIT batch id: committed-but-unfolded
    // replay is a marker no-op; a folded id fails loudly (watermark)
    val r5 = LinkGraphStore.appendAuto(Seq((11L, "ss tt")).toDF("doc_id", "text"),
      "doc_id", "text", dir, smallBatchFraction = 0.5, batchId = 50L)
    assert(r5 == "delta", s"route: $r5")
    val before = canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir))
    val r6 = LinkGraphStore.appendAuto(Seq((11L, "ss tt")).toDF("doc_id", "text"),
      "doc_id", "text", dir, smallBatchFraction = 0.5, batchId = 50L) // replay
    assert(r6 == "noop", s"route: $r6")
    assert(canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir)) == before)
    LinkGraphStore.compactInPlace(spark, dir)
    val folded = intercept[IllegalArgumentException] {
      LinkGraphStore.appendAuto(Seq((12L, "uu vv")).toDF("doc_id", "text"),
        "doc_id", "text", dir, smallBatchFraction = 0.5, batchId = 50L)
    }
    assert(folded.getMessage.contains("watermark"), folded.getMessage)
  }

  test("randomized multi-batch appendAuto == rebuild (mixed routes, fixed seeds)") {
    // same adversarial band-traffic corpus as the in-place property test,
    // but ingested through appendAuto with per-batch sizes chosen so the
    // router exercises BOTH paths and the fold boundary between them
    for (seed <- Seq(11L, 4242L)) {
      val rnd = new scala.util.Random(seed)
      val pool = Vector("aa", "bb", "cc", "dd", "ee", "ff")
      def doc(): String =
        (0 until (2 + rnd.nextInt(6))).map(_ => pool(rnd.nextInt(pool.size))).mkString(" ")
      val all = (1L to 40L).map(i => (i, doc()))
      val dir = tmp(s"lgs_auto_prop$seed")
      LinkGraphStore.build(all.take(16).toDF("doc_id", "text"), "doc_id", "text",
        w = 2, maxDf = 3, dir, nBuckets = 4)
      // 2-doc batches route delta (< 10% of 16+), a 12-doc batch routes
      // in-place (folding the pending log first), then small again
      val batches = Seq(all.slice(16, 18), all.slice(18, 20), all.slice(20, 32),
        all.slice(32, 34), all.slice(34, 36), all.slice(36, 40))
      val routes = batches.map(b =>
        LinkGraphStore.appendAuto(b.toDF("doc_id", "text"), "doc_id", "text", dir,
          smallBatchFraction = 0.3))
      assert(routes.count(_ == "inplace") >= 1 && routes.count(_ == "delta") >= 2,
        s"seed $seed routes $routes never mixed")
      val got = canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir))
      val rb = tmp(s"lgs_auto_prop_rb$seed")
      LinkGraphStore.build(all.toDF("doc_id", "text"), "doc_id", "text",
        w = 2, maxDf = 3, rb, nBuckets = 4)
      val want = canonSet(LinkGraphStore.loadEdgesCanonical(spark, rb))
      assert(got == want, s"seed $seed: ${got.size} vs ${want.size}")
    }
  }

  test("id discipline: overlapping, duplicate, and empty batches") {
    val base = Seq((1L, "x y"), (2L, "x y")).toDF("doc_id", "text")
    val dir = tmp("lgs_guard")
    LinkGraphStore.build(base, "doc_id", "text", w = 2, maxDf = 4, dir, nBuckets = 2)
    val overlap = intercept[IllegalArgumentException] {
      LinkGraphStore.append(Seq((2L, "z z")).toDF("doc_id", "text"), "doc_id", "text", dir)
    }
    assert(overlap.getMessage.contains("must sort above"))
    val dup = intercept[IllegalArgumentException] {
      LinkGraphStore.append(Seq((3L, "a b"), (3L, "c d")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }
    assert(dup.getMessage.contains("not unique"))
    // empty batch: artifact untouched, manifest unchanged
    val before = LinkGraphStore.loadManifest(spark, dir)
    LinkGraphStore.append(base.where($"doc_id" > 99), "doc_id", "text", dir)
    assert(LinkGraphStore.loadManifest(spark, dir) == before)
  }

  test("full-surface rewrite pins static overwrite under a dynamic session") {
    // regression: writeBucketed inherited the session's
    // partitionOverwriteMode; under dynamic, a rebuild whose new data
    // misses a bucket kept the old bucket's files - stale edges resurrect
    val dir = tmp("lgs_dyn")
    val big = (1L to 12L).map(i => (i, s"t$i x y")).toDF("doc_id", "text")
    LinkGraphStore.build(big, "doc_id", "text", w = 2, maxDf = 20, dir, nBuckets = 4)
    assert(canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir)).nonEmpty)
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // rebuild IN THE SAME DIR with a corpus sharing no spans: every old
      // bucket's content must vanish, matching a virgin-dir build exactly
      val small = Seq((1L, "aa bb"), (2L, "cc dd")).toDF("doc_id", "text")
      LinkGraphStore.build(small, "doc_id", "text", w = 2, maxDf = 20, dir, nBuckets = 4)
      val virgin = tmp("lgs_dyn_v")
      LinkGraphStore.build(small, "doc_id", "text", w = 2, maxDf = 20, virgin, nBuckets = 4)
      assert(canonSet(LinkGraphStore.loadEdgesCanonical(spark, dir)) ==
        canonSet(LinkGraphStore.loadEdgesCanonical(spark, virgin)))
      val pDir = spark.read.parquet(s"$dir/postings").select($"h", $"id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pV = spark.read.parquet(s"$virgin/postings").select($"h", $"id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pDir == pV, "stale postings survived the dynamic-session rebuild")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  test("appender lease: a second mutator fails loud, lease released on success and failure") {
    val base = Seq((1L, "x y p q"), (2L, "x y"), (3L, "m n")).toDF("doc_id", "text")
    val dir = tmp("lgs_lease")
    LinkGraphStore.build(base, "doc_id", "text", w = 2, maxDf = 4, dir, nBuckets = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$dir/_LEASE")
    fs.create(lease, false).close() // a live out-of-process appender
    val more = Seq((4L, "p q m")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      LinkGraphStore.appendAuto(more, "doc_id", "text", dir, smallBatchFraction = 0.9)
    }
    assert(e.getMessage.contains("_LEASE") && e.getMessage.contains("single-appender"),
      e.getMessage)
    intercept[IllegalStateException] { LinkGraphStore.compactInPlace(spark, dir) }
    // crashed-holder recovery: delete the lease, both routes work again
    fs.delete(lease, false)
    val route = LinkGraphStore.appendAuto(more, "doc_id", "text", dir,
      smallBatchFraction = 0.9)
    assert(route == "delta", s"expected delta, got $route")
    assert(!fs.exists(lease), "lease must release on success")
    LinkGraphStore.compactInPlace(spark, dir) // folds under its own lease
    assert(!fs.exists(lease))
    // a FAILING mutation releases too (duplicate batch: the id guard throws)
    intercept[Exception] {
      LinkGraphStore.appendAuto(more, "doc_id", "text", dir, smallBatchFraction = 0.9)
    }
    assert(!fs.exists(lease), "lease must release when the append throws")
    // noop routes (replayed batchId / empty batch) run OUTSIDE the lease:
    // they must succeed even while a foreign holder is live
    fs.create(lease, false).close()
    assert(LinkGraphStore.appendAuto(spark.emptyDataFrame
        .selectExpr("CAST(1 AS LONG) AS doc_id", "'x' AS text").where(lit(false)),
      "doc_id", "text", dir, smallBatchFraction = 0.9) == "noop")
    fs.delete(lease, false)
  }

  test("degenerate input: the split-corpus lanes and q_approx_distinct on a zero-row copy") {
    val dir = tmp("zero_rows")
    for (t <- Seq("documents", "lineitem"))
      spark.read.parquet(s"$sf0001/$t.parquet").limit(0).write.parquet(s"$dir/$t.parquet")
    val edges = "struct<id_a:bigint,id_b:bigint,support:bigint>"
    val schemas = Map(
      "q_linkgraph_stream" -> "struct<doc_id:bigint,rep:bigint,component_size:bigint>",
      "q_linkgraph_append" -> edges, "q_linkgraph_append_auto" -> edges,
      "q_approx_distinct" -> "struct<exact_parts:bigint,approx_within_5pct:boolean>",
      "q_export_epoch" -> ("struct<epoch:bigint,shard:bigint,n_sequences:bigint," +
        "n_tokens:bigint,pad_tokens:bigint,n_docs:bigint,min_doc_id:bigint,max_doc_id:bigint," +
        "min_seq_id:bigint,max_seq_id:bigint>"),
      "q_export_audit" -> ("struct<epoch:bigint,shard:bigint,cert_sequences:bigint," +
        "actual_sequences:bigint,cert_tokens:bigint,actual_tokens:bigint,status:string>"))
    for ((q, schema) <- schemas) {
      val df = SparkEntry.queries(q)(spark, dir)
      assert(df.schema.simpleString == schema, q)
      val rows = df.collect().toSeq
      if (q == "q_approx_distinct") assert(rows == Seq(Row(0L, true)), q) // DuckDB's answer
      else assert(rows.isEmpty, q)
    }
    // no bins: the SQL fold gives a null count, ECE 0 and a null Brier
    assert(SparkEntry.queries("q_calibration_summary")(spark, dir).collect().toSeq ==
      Seq(Row(null, 0.0, null)))
    // BM25 over an empty corpus is refused by its scorer's own guard
    val e = intercept[IllegalArgumentException](
      SparkEntry.queries("q_bm25_index_append")(spark, dir).collect())
    assert(e.getMessage.contains("Bm25.scoreTopK: empty index"))
  }
}
