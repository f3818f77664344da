package graft.tools

import graft.queries.Tables
import graft.text.LinkGraph
import org.apache.spark.sql.functions._

/** Scale-ladder probe harness (methodology tool, not a gate): isolates
  * the parameter/shape alternatives SCALE.md discusses for operators
  * whose GATE parameters hit synthetic-data pathologies at the 100×
  * tier, so the report can quote measured numbers for the scale paths
  * instead of extrapolating.
  *
  * Modes (args: <sfDir> <mode>):
  *  - `link_edges`  — shared-span edge counts at w = 5/6/7 with the
  *    gate's df cap: how much the fixed 31-word synthetic vocabulary
  *    densifies the graph at each span width (real vocabularies grow
  *    with the corpus; this one cannot).
  *  - `link_capped` — all-roots capped centrality at w = 5,
  *    maxReachPerRoot = 10k: the supernode guard's cost at the tier
  *    where uncapped all-roots centrality exhausts disk.
  *  - `link_sampled` — 1% sampled roots, uncapped, w = 6: the
  *    "centrality of a candidate set" shape a curation pass actually
  *    runs at corpus scale.
  */
object ScaleProbe {
  /** Register recursive deletion of `parent` at JVM exit — the shared
    * [[graft.sources.TempTrees]] protocol.
    */
  private def cleanupOnExit(parent: java.nio.file.Path): Unit =
    graft.sources.TempTrees.deleteOnExit(parent.toString)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, mode) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.t(spark, sfDir, "documents")
    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[probe] $what%-28s ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    mode match {
      case "link_edges" =>
        Seq(5, 6, 7).foreach { w =>
          val n = timed(s"edges w=$w") {
            LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = w, maxDf = 32).count()
          }
          println(s"""{"mode":"link_edges","w":$w,"edges":$n}""")
        }
      case "link_capped" =>
        // all roots, tight ball cap: the supernode guard's cost profile.
        // NOTE the cap stops EXPANSION after the hop that crossed it — a
        // dense graph still pays that hop's join in full, so on a
        // quadratic-edge graph (this synthetic tier at w=5) the bound is
        // "one dense hop", not "free"; maxHops=2 keeps the probe honest
        val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
        val out = timed("capped centrality w=5 hops=2") {
          LinkGraph.centralityCapped(docs.select(col("doc_id")), "doc_id", edges,
            maxHops = 2, maxReachPerRoot = 500L)
        }
        val nCapped = out.where(col("capped")).count()
        println(s"""{"mode":"link_capped","rows":${out.count()},"capped_roots":$nCapped}""")
      case "link_sampled" =>
        val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 6, maxDf = 32)
        val roots = docs.select(col("doc_id")).where(pmod(col("doc_id"), lit(100)) === 0)
        val out = timed("sampled centrality w=6") {
          LinkGraph.centrality(roots, "doc_id", edges, maxHops = 3)
        }
        println(s"""{"mode":"link_sampled","rows":${out.count()}}""")
      case "pack_scan" =>
        // isolates the token-count scan from the packing offsets
        // machinery: one pass, no exchange
        import graft.functions.{TextFunctions => T}
        val s1 = timed("tokenCount scan") {
          docs.select(T.tokenCount(col("text")).as("n")).agg(sum(col("n"))).head().getLong(0)
        }
        val s2 = timed("packSequences") {
          graft.text.Packing.packSequences(docs, "doc_id",
            T.tokenCount(col("text")), seqLen = 128).count()
        }
        println(s"""{"mode":"pack_scan","sum_tokens":$s1,"spans":$s2}""")
      case "scan_parts" =>
        // how many concurrent readers each table's layout actually allows
        Seq("documents", "embeddings", "events", "lineitem", "orders").foreach { t =>
          val df = Tables.t(spark, sfDir, t)
          println(s"""{"mode":"scan_parts","table":"$t","parts":${df.rdd.getNumPartitions}}""")
        }
      case "layout_rewrite" =>
        // SCALE round-9 finding 0 turned into a measured fix: the same
        // compute-dense pass (fused tokenCount scan) over a ONE-row-group
        // copy of documents vs the same bytes after rewriteForCompute
        import graft.functions.{TextFunctions => T}
        def secs[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        val base = java.nio.file.Files.createTempDirectory("graft_layout").toString
        val starved = s"$base/starved"
        val fixed = s"$base/fixed"
        docs.coalesce(1).write.mode("overwrite")
          .option("parquet.block.size", Int.MaxValue.toString).parquet(starved)
        def rowGroups(p: String): Long = graft.sources.Layout.scanParallelism(spark, p)
          .agg(sum(col("row_groups"))).head().getLong(0)
        // the compute pass runs with maxPartitionBytes sized for COMPUTE
        // density (the r9 finding: against one row group this setting
        // plans empty splits and does nothing; the rewrite is what makes
        // it effective — so the probe measures exactly that pairing, and
        // without the small-split conf Spark would bin-pack the rewritten
        // files right back into a handful of byte-bounded partitions)
        def compute(p: String): Long = {
          val saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
          try {
            spark.conf.set("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
            val df = spark.read.parquet(p)
            System.err.println(s"[probe] $p scan partitions: ${df.rdd.getNumPartitions}")
            df.select(T.tokenCount(col("text")).as("n")).agg(sum(col("n"))).head().getLong(0)
          } finally spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
        }
        // reference floor: the tier's native multi-row-group layout
        val (vN, tN) = secs {
          docs.select(T.tokenCount(col("text")).as("n")).agg(sum(col("n"))).head().getLong(0)
        }
        System.err.println(f"[probe] native layout: $tN%.2f s ($vN tokens)")
        val gS = rowGroups(starved)
        val (vS, tS) = secs(compute(starved))
        val ((nFiles, tRw), _) =
          (secs(graft.sources.Layout.rewriteForCompute(spark, starved, fixed, cpus.toInt)), ())
        val gF = rowGroups(fixed)
        val (vF, tF) = secs(compute(fixed))
        require(vS == vF, s"rewrite changed the answer: $vS vs $vF")
        println(s"""{"mode":"layout_rewrite","row_groups_before":$gS,""" +
          s""""row_groups_after":$gF,"files_after":$nFiles,""" +
          f""""compute_before_s":$tS%.2f,"compute_after_s":$tF%.2f,"rewrite_s":$tRw%.2f}""")
      case "layout_debug" =>
        // task-level truth for the layout_rewrite numbers: where does the
        // wall time go when the scan has N partitions?
        import graft.functions.{TextFunctions => T}
        val taskStats = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Long)]()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = t.taskMetrics
            taskStats.add((t.stageId, t.taskInfo.duration,
              if (m == null) -1L else m.executorRunTime,
              if (m == null) -1L else m.executorCpuTime / 1000000L))
          }
        })
        val base = java.nio.file.Files.createTempDirectory("graft_layout_dbg").toString
        val fixed = s"$base/fixed"
        docs.repartition(32).write.mode("overwrite").parquet(fixed)
        spark.conf.set("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
        def report(what: String): Unit = {
          import scala.jdk.CollectionConverters._
          val byStage = taskStats.asScala.toSeq.groupBy(_._1)
          byStage.toSeq.sortBy(_._1).foreach { case (st, ts) =>
            val ds = ts.map(_._2)
            val run = ts.map(_._3)
            val cpu = ts.map(_._4)
            System.err.println(f"[dbg] $what stage $st: n=${ds.size} sum=${ds.sum}ms " +
              f"max=${ds.max}ms run=${run.sum}ms cpu=${cpu.sum}ms")
          }
          taskStats.clear()
        }
        def pass(what: String, c: org.apache.spark.sql.Column): Unit = {
          val df = spark.read.parquet(fixed).coalesce(8)
          val t0 = System.nanoTime()
          val v = df.select(c.cast("long").as("n")).agg(sum(col("n"))).head().getLong(0)
          System.err.println(f"[dbg] $what wall ${(System.nanoTime() - t0) / 1e9}%.2f s ($v)")
          Thread.sleep(500) // let the listener bus drain
          report(what)
        }
        pass("warmup", T.tokenCount(col("text")))
        pass("length", length(col("text")))
        pass("lower", length(lower(col("text"))))
        pass("regex1", length(regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " ")))
        pass("normalize", length(T.normalizeText(col("text"))))
        pass("split_size", size(split(T.normalizeText(col("text")), " ")))
        pass("tokenize", T.tokenCount(col("text")))
      case "minhash_stages" =>
        // stage-level timing of the minhash dedup pipeline at this tier
        import graft.functions.{TextFunctions => T}
        val sh = timed("shingle explode count") {
          docs.select(col("doc_id"), explode(T.shingleHashes(col("text"), 3)).as("h")).count()
        }
        val pairs = timed("verified pairs") {
          graft.dedup.Dedup.minHashPairs(docs, "text", "doc_id", 3, 64, 16, 0.5).count()
        }
        println(s"""{"mode":"minhash_stages","shingle_rows":$sh,"pairs":$pairs}""")
      case "ivf_maintain" =>
        // the IVF maintenance lifecycle at this tier: build 80%, append
        // 20%, hot-cell rebalance, vs the full-rebuild floor — the claim
        // under test is that append ∝ batch and rebalance ∝ hot data,
        // while rebuild pays the whole corpus every time
        import graft.similarity.Similarity
        val emb = Tables.t(spark, sfDir, "embeddings")
        val n = emb.count()
        val cut = n * 8 / 10
        val nlist = 64
        def secs[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        val base = java.nio.file.Files.createTempDirectory("graft_ivf_scale").toString
        val dir = s"$base/idx"
        val (_, tBuild) = secs {
          Similarity.saveIvfIndexAppendable(
            Similarity.ivfBuild(emb.where(col("vec_id") < cut), "embedding", "vec_id", nlist),
            dir, "embedding", "vec_id", nlist)
        }
        val (_, tAppend) = secs {
          Similarity.appendToIvfIndex(emb.where(col("vec_id") >= cut), "embedding", "vec_id", dir)
        }
        val budget = 9L * n / (8L * nlist) // 1.125× the mean cell size
        val hotSide = Similarity.loadIvfCentroids(spark, dir).where(col("n_rows") > budget)
        val (hotCells, hotRows) = {
          val r = hotSide.agg(count(lit(1)), coalesce(sum(col("n_rows")), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        val (_, tRebal) = secs {
          Similarity.rebalanceIvfIndex(spark, dir, "embedding", "vec_id", budget)
        }
        val (_, tRebuild) = secs {
          Similarity.saveIvfIndexAppendable(
            Similarity.ivfBuild(emb, "embedding", "vec_id", nlist),
            s"$base/rebuilt", "embedding", "vec_id", nlist)
        }
        val (probed, tProbe) = secs {
          Similarity.ivfTopKPersisted(spark, dir, emb.where(col("vec_id") < 100),
            "embedding", "vec_id", k = 10, nprobe = 8).count()
        }
        println(s"""{"mode":"ivf_maintain","n":$n,"nlist":$nlist,"budget":$budget,""" +
          s""""hot_cells":$hotCells,"hot_rows":$hotRows,"probe_rows":$probed,""" +
          f""""build_s":$tBuild%.2f,"append_s":$tAppend%.2f,"rebalance_s":$tRebal%.2f,""" +
          f""""rebuild_s":$tRebuild%.2f,"probe_s":$tProbe%.2f}""")
      case "ivf_refined" =>
        // the claim under test: Lloyd refinement flattens the cell-size
        // skew id-seeding produces, and the flatter index probes faster
        import graft.similarity.Similarity
        val emb = Tables.t(spark, sfDir, "embeddings")
        val n = emb.count()
        val nlist = 64
        def secs[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        def stats(ix: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
          val c = ix.groupBy(col("cell")).count()
          val r = c.agg(max(col("count")), count(lit(1)),
            coalesce(avg(col("count")), lit(0.0))).head()
          (r.getLong(0), r.getLong(1), r.getDouble(2))
        }
        val (idSeeded, tBuildId) = secs {
          Similarity.ivfBuild(emb, "embedding", "vec_id", nlist).localCheckpoint(true)
        }
        val (refined, tBuildRef) = secs {
          Similarity.ivfBuildRefined(emb, "embedding", "vec_id", nlist, iters = 2)
            .localCheckpoint(true)
        }
        val (maxId, cellsId, _) = stats(idSeeded)
        val (maxRef, cellsRef, _) = stats(refined)
        val q = emb.where(col("vec_id") % 997 === 0) // ~n/1000 spread queries
        def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
          df.select(col("query_id"), col("neighbor_id")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = pairs(Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", 10))
        val (aId, tProbeId) = secs {
          pairs(Similarity.ivfTopK(idSeeded, q, "embedding", "vec_id", 10, nlist, 8))
        }
        // refined cells retire the lowest-id centroid recovery — probe
        // the persisted artifact's sidecar-centroid path
        val dirRef = java.nio.file.Files.createTempDirectory("graft_ivf_ref").toString
        Similarity.saveIvfIndexRefined(emb, dirRef, "embedding", "vec_id", nlist, 2)
        val (aRefP, tProbeRefP) = secs {
          pairs(Similarity.ivfTopKPersisted(spark, dirRef, q, "embedding", "vec_id",
            k = 10, nprobe = 8))
        }
        def recall(a: Set[(Long, Long)]): Double =
          if (exact.isEmpty) 0.0 else (exact & a).size.toDouble / exact.size
        println(s"""{"mode":"ivf_refined","n":$n,"nlist":$nlist,"n_queries":${q.count()},""" +
          s""""max_cell_id":$maxId,"max_cell_refined":$maxRef,""" +
          s""""cells_id":$cellsId,"cells_refined":$cellsRef,""" +
          f""""build_id_s":$tBuildId%.2f,"build_refined_s":$tBuildRef%.2f,""" +
          f""""probe_id_s":$tProbeId%.2f,"probe_refined_s":$tProbeRefP%.2f,""" +
          f""""recall_id":${recall(aId)}%.4f,"recall_refined":${recall(aRefP)}%.4f}""")
      case "ann_compact" =>
        // streamed-batch shard accumulation vs the compacted base: the
        // per-file probe overhead compact() exists to remove
        import graft.similarity.Similarity
        import graft.streaming.StreamingAnnIndex
        val emb = Tables.t(spark, sfDir, "embeddings")
        val n = emb.count()
        val cut = n / 2
        val nBatches = 40
        def secs[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        val baseDir = java.nio.file.Files.createTempDirectory("graft_ann_scale").toString
        val (ixDir, stDir) = (s"$baseDir/index", s"$baseDir/stats")
        StreamingAnnIndex.initialize(emb.where(col("vec_id") < cut),
          "embedding", "vec_id", nlist = 64, ixDir)
        val per = (n - cut) / nBatches
        val (_, tBatches) = secs {
          (0 until nBatches).foreach { b =>
            val lo = cut + b * per
            val hi = if (b == nBatches - 1) n else cut + (b + 1) * per
            StreamingAnnIndex.applyBatch(
              emb.where(col("vec_id") >= lo && col("vec_id") < hi), b.toLong,
              "embedding", "vec_id", ixDir, stDir)
          }
        }
        def files(): Long = {
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(ixDir), spark.sparkContext.hadoopConfiguration)
          val it = fs.listFiles(new org.apache.hadoop.fs.Path(ixDir), true)
          var c = 0L
          while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) c += 1 }
          c
        }
        def probe(): (Long, Double) = secs {
          Similarity.ivfTopKPersisted(spark, ixDir, emb.where(col("vec_id") < 100),
            "embedding", "vec_id", k = 10, nprobe = 8).count()
        }
        val fBefore = files()
        val (p1, tBefore) = probe()
        val (_, tCompact) = secs {
          StreamingAnnIndex.compact(spark, ixDir, stDir, upToBatch = nBatches.toLong)
        }
        val fAfter = files()
        val (p2, tAfter) = probe()
        require(p1 == p2, s"compaction changed probe results: $p1 vs $p2")
        println(s"""{"mode":"ann_compact","n":$n,"batches":$nBatches,""" +
          s""""files_before":$fBefore,"files_after":$fAfter,""" +
          f""""ingest_s":$tBatches%.2f,"compact_s":$tCompact%.2f,""" +
          f""""probe_before_s":$tBefore%.2f,"probe_after_s":$tAfter%.2f}""")
      case "webm_clip" =>
        // what the Cues seek table buys at realistic video lengths: the
        // gate's ≤7-frame synthetics can't show it, so this probe builds
        // LONG videos (PROBE_VIDS × PROBE_FRAMES frames, 30-frame
        // clusters at 33 ms — the 1 s GOP shape) once on disk, then
        // measures a 3-second clip near the END of each video three
        // ways: full index (what a pass pays with no clip pushdown),
        // cue-seeked clip, and the linear-walk clip on a Cues-less twin
        // (which must parse every cluster body up to the window)
        import graft.multimodal.{Multimodal, Webm}
        val nVids = sys.env.getOrElse("PROBE_VIDS", "2000").toInt
        val nFrames = sys.env.getOrElse("PROBE_FRAMES", "1800").toInt
        def gen(cues: Boolean) = udf((id: Long) => {
          val samples = (0 until nFrames).map { s =>
            Array.tabulate(150 + ((id + s) % 100).toInt)(k => ((id + s + k) % 256).toByte)
          }
          val keys = 0 until nFrames by 30
          if (cues) Webm.encodeWithCues(320, 240, 33, samples, keys, samplesPerCluster = 30)
          else Webm.encode(320, 240, 33, samples, keys, samplesPerCluster = 30)
        })
        val base = java.nio.file.Files.createTempDirectory("graft_webm_clip").toString
        def secs[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        Seq(true, false).foreach { cues =>
          val dir = s"$base/${if (cues) "cued" else "plain"}"
          spark.range(nVids.toLong).select(col("id").as("doc_id"),
              gen(cues)(col("id")).as("payload"))
            .write.mode("overwrite").parquet(dir)
        }
        val cued = spark.read.parquet(s"$base/cued")
        val plain = spark.read.parquet(s"$base/plain")
        // clip window: 3 s starting at 90% of the video; best-of-2 per
        // lane (the full pass allocates millions of Sample rows and the
        // first run after it reads GC-poisoned — the notes' fresh-JVM rule)
        def best2[A](f: => A): (A, Double) = {
          // GC fence: the full-index lane materializes millions of Row
          // objects; without it the NEXT lane reads 5× slow (the poisoned
          // -JVM effect from the builder notes, reproduced here)
          System.gc()
          val (r, t1) = secs(f); val (_, t2) = secs(f); (r, math.min(t1, t2))
        }
        val from = (nFrames * 33L * 9) / 10
        val to = from + 3000L
        // clip lanes FIRST — measurement isolation from the heavy lane
        val (nSeek, tSeek) = best2 {
          Multimodal.clipVideoWebm(cued, "doc_id", "payload", from, to).count()
        }
        val (nLin, tLin) = best2 {
          Multimodal.clipVideoWebm(plain, "doc_id", "payload", from, to).count()
        }
        val (nFull, tFull) = best2 {
          Multimodal.indexVideoWebm(cued, "doc_id", "payload").count()
        }
        require(nSeek == nLin, s"seek and linear clips disagree: $nSeek vs $nLin")
        println(s"""{"mode":"webm_clip","vids":$nVids,"frames":$nFrames,""" +
          s""""clip_rows":$nSeek,"full_rows":$nFull,""" +
          f""""full_s":$tFull%.2f,"clip_seek_s":$tSeek%.2f,"clip_linear_s":$tLin%.2f}""")
      case "pii" =>
        // regex chain vs PiiScan kernels on contact-bearing text (the
        // q_pii_stats synthesis): same output bytes, measured wall —
        // quantifies the java.util.regex thread-serialization tax at
        // this tier (SCALE.md round 10 finding)
        import graft.functions.{TextFunctions => T}
        val txt = concat(
          col("text"), lit(" u"), col("doc_id").cast("string"), lit("@ex.com"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" +"), (pmod(col("doc_id"), lit(90)) + 1).cast("string"), lit("-555-1234")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit(" 192.168.0."), pmod(col("doc_id"), lit(256)).cast("string")))
            .otherwise(lit("")))
        def secsP[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        def best2P[A](f: => A): (A, Double) = {
          val (r, t1) = secsP(f); val (_, t2) = secsP(f); (r, math.min(t1, t2))
        }
        val (kernelSum, tKernel) = best2P {
          docs.select(sum(length(T.piiRedact(txt))).as("s")).head().getLong(0)
        }
        val regexChain = regexp_replace(regexp_replace(regexp_replace(txt,
          "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "[EMAIL]"),
          "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
          "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "[IP]")
        val (regexSum, tRegex) = best2P {
          docs.select(sum(length(regexChain)).as("s")).head().getLong(0)
        }
        require(kernelSum == regexSum, s"kernel/regex disagree: $kernelSum vs $regexSum")
        println(s"""{"mode":"pii","sum_len":$kernelSum,""" +
          f""""kernel_s":$tKernel%.2f,"regex_s":$tRegex%.2f}""")
      case "blocklist" =>
        // one Aho–Corasick pass vs |terms| literal-replace passes (the
        // naive per-term formulation) over the same 62-term blocklist
        val vocab = Seq("spark", "join", "batch", "stream", "filter", "merge", "sort",
          "query", "table", "scan", "hash", "group", "order", "window", "line",
          "data", "row", "key", "fast", "slow", "small", "big", "agg", "value",
          "part", "customer", "column", "the")
        val terms = vocab ++ vocab.sliding(2).map(_.mkString(" ")).toSeq ++
          Seq("batch batch", "merge line", "the fast", "qu", "stream spark", "row data", "a f")
        val distinctTerms = terms.distinct
        def secsB[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        def best2B[A](f: => A): (A, Double) = {
          val (r, t1) = secsB(f); val (_, t2) = secsB(f); (r, math.min(t1, t2))
        }
        val (acTotal, tAc) = best2B {
          docs.select(sum(graft.text.Blocklist.totalHits(col("text"), distinctTerms).cast("long")))
            .head().getLong(0)
        }
        // naive baseline: per-term non-overlapping counts via literal
        // replace — |terms| full passes over the column (and slightly
        // weaker semantics: AC counts self-overlapping occurrences too)
        val naiveCols = distinctTerms.map(tm =>
          ((length(col("text")) - length(expr(s"replace(text, '${tm.replace("'", "''")}', '')")))
            / lit(tm.length)).cast("long"))
        val (naiveTotal, tNaive) = best2B {
          docs.select(sum(naiveCols.reduce(_ + _))).head().getLong(0)
        }
        println(s"""{"mode":"blocklist","terms":${distinctTerms.length},""" +
          s""""ac_hits":$acTotal,"naive_hits":$naiveTotal,""" +
          f""""ac_s":$tAc%.2f,"naive_s":$tNaive%.2f}""")
      case "hyperball" =>
        // the all-roots shape at the tier where exact all-pairs BFS
        // exhausts disk (80 GB spill, aborted — SCALE.md r9 finding 2):
        // register propagation is O(hops·|E|), ball-size independent
        val t0h = System.nanoTime()
        val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
        val est = graft.text.HyperBall.neighborhoodEstimate(
          docs.select(col("doc_id")), "doc_id", edges, maxHops = 3)
        val agg = est.agg(count(lit(1)).as("n"), sum(col("est_ball")).as("s"),
          max(col("est_ball")).as("mx")).head()
        val tH = (System.nanoTime() - t0h) / 1e9
        println(s"""{"mode":"hyperball","nodes":${agg.getLong(0)},""" +
          f""""sum_est":${agg.getDouble(1)}%.1f,"max_est":${agg.getDouble(2)}%.1f,"total_s":$tH%.1f}""")
      case "hyperball_store" =>
        // the register ARTIFACT at the tier (round 13): propagate once
        // (build), then measure a from-store readout against the
        // in-memory re-propagation every reach query previously paid.
        // w=6 = the corpus-scale span width the tier graph lanes use.
        val dirH = java.nio.file.Files.createTempDirectory("probe_hbs").toString
        graft.Pins.scoped { scope =>
          val edges = scope.pin( // one edge set for all three measurements
            LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 6, maxDf = 32))
          timed("register artifact build (3 hops)") {
            graft.text.HyperBallStore.build(docs.select(col("doc_id")), "doc_id",
              edges, maxHops = 3, dirH, nBuckets = 256)
          }
          val t1 = System.nanoTime()
          val served = graft.text.HyperBallStore.neighborhoodEstimate(spark, dirH, "doc_id")
            .agg(count(lit(1)), sum(col("est_ball"))).head()
          val tServe = (System.nanoTime() - t1) / 1e9
          System.err.println(f"[probe] estimate from store            $tServe%.1f s")
          val t2 = System.nanoTime()
          val mem = graft.text.HyperBall.neighborhoodEstimate(
              docs.select(col("doc_id")), "doc_id", edges, maxHops = 3)
            .agg(count(lit(1)), sum(col("est_ball"))).head()
          val tMem = (System.nanoTime() - t2) / 1e9
          System.err.println(f"[probe] in-memory re-propagation       $tMem%.1f s")
          // counts exact; SUMS with a relative tolerance — per-row
          // estimates are bit-identical (integer registers) but a double
          // sum's accumulation order is partition-dependent, and the two
          // plans partition differently (bucket files vs shuffle output).
          // Per-row equality proper is HyperBallStoreSpec's job.
          val rel = math.abs(served.getDouble(1) - mem.getDouble(1)) /
            math.max(1.0, math.abs(mem.getDouble(1)))
          require(served.getLong(0) == mem.getLong(0) && rel < 1e-9,
            s"store/in-memory disagree: $served vs $mem (rel $rel)")
          println(s"""{"mode":"hyperball_store","nodes":${served.getLong(0)},""" +
            f""""sum_est":${served.getDouble(1)}%.1f,"serve_s":$tServe%.1f,"mem_s":$tMem%.1f}""")
        }
      case "media_store" =>
        // round 14: the MediaFingerprintStore at the tier — fingerprint
        // 500k synthetic videos once (payloads decode exactly once, at
        // index time), then dedup a 0.1% batch against the store
        // (bucket-pruned posting read) vs the in-memory incrementalFps
        // over the full fingerprint state (what a store-less pipeline
        // re-pays per batch, plus it would re-decode the corpus)
        val avi = udf((id: Long) => graft.multimodal.Multimodal.syntheticAvi(id))
        val maxIdM = docs.agg(max(col("doc_id"))).head().getLong(0)
        val corpusM = docs.where(col("doc_id") <= (maxIdM * 999) / 1000)
          .select(col("doc_id"), avi(col("doc_id")).as("payload"))
        val batchM = docs.where(col("doc_id") > (maxIdM * 999) / 1000)
          .select(col("doc_id"), avi(col("doc_id")).as("payload"))
        val dirM = java.nio.file.Files.createTempDirectory("probe_mfps").toString
        timed("media fingerprint build (n=3)") {
          graft.multimodal.MediaFingerprintStore.build(corpusM, "payload",
            "doc_id", dirM, n = 3, bands = 8, nBuckets = 256)
        }
        val t1m = System.nanoTime()
        val surv = graft.multimodal.MediaFingerprintStore.dedupBatch(spark, dirM,
          batchM, "payload", "doc_id", maxHamming = 6, minMatches = 2).count()
        val tServe = (System.nanoTime() - t1m) / 1e9
        System.err.println(f"[probe] dedupBatch from store          $tServe%.1f s")
        val t2m = System.nanoTime()
        val cfps = graft.multimodal.Multimodal.videoFrameHashes(corpusM, "doc_id", "payload", 3)
          .select(col("doc_id").as("id"), col("sample_idx").as("slot"), col("frame_hash").as("fp"))
        val bfps = graft.multimodal.Multimodal.videoFrameHashes(batchM, "doc_id", "payload", 3)
          .select(col("doc_id").as("id"), col("sample_idx").as("slot"), col("frame_hash").as("fp"))
        val surv2 = graft.streaming.StreamingMediaDedup.incrementalFps(
          cfps, bfps, batchM, "doc_id", maxHamming = 6, bands = 8, minMatches = 2).count()
        val tMem = (System.nanoTime() - t2m) / 1e9
        System.err.println(f"[probe] in-memory (re-decode + full)   $tMem%.1f s")
        require(surv == surv2, s"store/in-memory disagree: $surv vs $surv2")
        println(s"""{"mode":"media_store","batch_survivors":$surv,""" +
          f""""serve_s":$tServe%.1f,"mem_s":$tMem%.1f}""")
      case "semdedup_store" =>
        // round 14: the SemDedupStore at the tier — centroids trained on a
        // bounded sample (the corpus-scale discipline the class doc
        // names), full corpus assigned + persisted once, then a 0.1%
        // batch deduped at cluster-pruned cost vs the in-memory rule over
        // the full state
        val emb = Tables.t(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val maxIdS = emb.agg(max(col("vec_id"))).head().getLong(0)
        val corpusS = emb.where(col("vec_id") <= (maxIdS * 999) / 1000)
        val batchS = emb.where(col("vec_id") > (maxIdS * 999) / 1000)
        val cents = timed("centroid train (4096-sample, k=64)") {
          graft.dedup.SemDedup.kmeansDeterministic(
            corpusS.where(col("vec_id") < 4096), "embedding", "vec_id", k = 64, iters = 1)
        }
        val dirS = java.nio.file.Files.createTempDirectory("probe_sds").toString
        timed("assign + persist state") {
          graft.dedup.SemDedupStore.buildFromState(
            graft.dedup.SemDedup.assignClusters(corpusS, "embedding", cents)
              .select(col("vec_id").as("id"), col("cluster"),
                col("embedding").cast("array<double>").as("vec")),
            dirS, cents, nBuckets = 64)
        }
        val t1s = System.nanoTime()
        val kept = graft.dedup.SemDedupStore.dedupBatch(spark, dirS, batchS,
          "vec_id", "embedding", tau = 0.9).count()
        val tServeS = (System.nanoTime() - t1s) / 1e9
        System.err.println(f"[probe] dedupBatch from store          $tServeS%.1f s")
        val t2s = System.nanoTime()
        val assignedS = graft.dedup.SemDedup.assignClusters(batchS, "embedding", cents)
          .select(col("vec_id").as("id"),
            col("embedding").cast("array<double>").as("vec"), col("cluster"))
        val stateS = graft.dedup.SemDedup.assignClusters(corpusS, "embedding", cents)
          .select(col("vec_id").as("id"), col("cluster"),
            col("embedding").cast("array<double>").as("vec"))
        val dropped = graft.streaming.StreamingSemDedup.droppedIds(stateS, assignedS, 0.9)
        val kept2 = batchS.join(dropped.withColumnRenamed("drop_id", "vec_id"),
          Seq("vec_id"), "left_anti").count()
        val tMemS = (System.nanoTime() - t2s) / 1e9
        System.err.println(f"[probe] in-memory (re-assign + full)   $tMemS%.1f s")
        require(kept == kept2, s"store/in-memory disagree: $kept vs $kept2")
        println(s"""{"mode":"semdedup_store","batch_kept":$kept,""" +
          f""""serve_s":$tServeS%.1f,"mem_s":$tMemS%.1f}""")
      case "hyperball_extend" =>
        // round 14: the artifact family's last unmeasured axis — extendTo's
        // MARGINAL hop at the tier. Deepening the stored horizon from 2 to
        // 3 hops should cost ~one propagation round (read stored hop-2 +
        // one |E| max-merge + one hop write), vs a hops=3 rebuild paying
        // all three rounds; readouts must agree exactly (count) and to
        // 1e-9 (double sum, partition-order tolerance — the
        // hyperball_store precedent)
        val dirH = java.nio.file.Files.createTempDirectory("probe_hbx").toString
        val rbDir = java.nio.file.Files.createTempDirectory("probe_hbx_rb").toString
        graft.Pins.scoped { scope =>
          val edges = scope.pin( // one edge set for all three measurements
            LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 6, maxDf = 32))
          val t0 = System.nanoTime()
          graft.text.HyperBallStore.build(docs.select(col("doc_id")), "doc_id",
            edges, maxHops = 2, dirH, nBuckets = 256)
          val tB2 = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[probe] build (2 hops)                 $tB2%.1f s")
          val t1 = System.nanoTime()
          graft.text.HyperBallStore.extendTo(edges, dirH, newMaxHops = 3)
          val tExt = (System.nanoTime() - t1) / 1e9
          System.err.println(f"[probe] extendTo(3) marginal hop       $tExt%.1f s")
          val t2 = System.nanoTime()
          graft.text.HyperBallStore.build(docs.select(col("doc_id")), "doc_id",
            edges, maxHops = 3, rbDir, nBuckets = 256)
          val tRb = (System.nanoTime() - t2) / 1e9
          System.err.println(f"[probe] from-scratch build (3 hops)    $tRb%.1f s")
          val a = graft.text.HyperBallStore.neighborhoodEstimate(spark, dirH, "doc_id")
            .agg(count(lit(1)), sum(col("est_ball"))).head()
          val b = graft.text.HyperBallStore.neighborhoodEstimate(spark, rbDir, "doc_id")
            .agg(count(lit(1)), sum(col("est_ball"))).head()
          val rel = math.abs(a.getDouble(1) - b.getDouble(1)) /
            math.max(1.0, math.abs(b.getDouble(1)))
          require(a.getLong(0) == b.getLong(0) && rel < 1e-9,
            s"extend/rebuild disagree: $a vs $b (rel $rel)")
          println(s"""{"mode":"hyperball_extend","nodes":${a.getLong(0)},""" +
            f""""build2_s":$tB2%.1f,"extend_s":$tExt%.1f,"rebuild3_s":$tRb%.1f}""")
        }
      case "pagerank" =>
        // fixed-point PageRank at the tier: per-iteration cost is one
        // |E| contribution shuffle — confirm linear behavior on the
        // w=6 graph (the corpus-scale span width from q_link_score_sampled)
        val t0 = System.nanoTime()
        val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 6, maxDf = 32)
        val nEdges = edges.count()
        val tEdges = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val pr = LinkGraph.pageRank(docs.select(col("doc_id")), "doc_id", edges, iters = 3)
        val mass = pr.agg(sum(col("rank_fp"))).head().getLong(0)
        val tPr = (System.nanoTime() - t1) / 1e9
        println(s"""{"mode":"pagerank","edges":$nEdges,"mass":$mass,""" +
          f""""edges_s":$tEdges%.1f,"pagerank_s":$tPr%.1f}""")
      case "linkgraph_store" =>
        // the persisted-artifact lifecycle at the tier (round 12): pay
        // the edge build ONCE (this is the ~180 s that dominated every
        // sf10 graph lane), then label from the artifact, then fold an
        // ingest batch in at batch-proportional cost. w=6 = the
        // corpus-scale span width the graph lanes use at the tiers.
        val dir = java.nio.file.Files.createTempDirectory("probe_lgs").toString
        // optional 3rd arg: base fraction (default 0.99 — append the last 1%)
        val frac = args.lift(2).map(_.toDouble).getOrElse(0.99)
        val cut = docs.agg(expr(s"percentile(doc_id, $frac)")).head().getDouble(0).toLong
        val baseDocs = docs.where(col("doc_id") <= cut)
        val batchDocs = docs.where(col("doc_id") > cut)
        timed("artifact build (99%) w=6") {
          graft.text.LinkGraphStore.build(baseDocs, "doc_id", "text",
            w = 6, maxDf = 32, dir, nBuckets = 256)
        }
        val t1 = System.nanoTime()
        val pr = LinkGraph.pageRank(baseDocs.select(col("doc_id")), "doc_id",
          graft.text.LinkGraphStore.loadEdges(spark, dir), iters = 3)
        val mass = pr.agg(sum(col("rank_fp"))).head().getLong(0)
        val tPr = (System.nanoTime() - t1) / 1e9
        System.err.println(f"[probe] pagerank from artifact        $tPr%.1f s")
        val tA = System.nanoTime()
        timed("append last 1% batch") {
          graft.text.LinkGraphStore.append(batchDocs, "doc_id", "text", dir)
        }
        val tAppend = (System.nanoTime() - tA) / 1e9
        val m = graft.text.LinkGraphStore.loadManifest(spark, dir)
        println(s"""{"mode":"linkgraph_store","edges":${m.nEdges},"mass":$mass,""" +
          f""""pagerank_from_artifact_s":$tPr%.1f,"append_s":$tAppend%.1f}""")
      case "linkgraph_stream" =>
        // the delta-log twin's per-batch cost at the tier: initialize on
        // the base fraction, fold the rest as one micro-batch delta
        // (reads touched buckets, WRITES only the delta — the
        // batch-proportional path where in-place append pays the
        // touched-bucket rewrite floor), then label from the merged view.
        val dir = java.nio.file.Files.createTempDirectory("probe_slg").toString
        val frac = args.lift(2).map(_.toDouble).getOrElse(0.99)
        val cut = docs.agg(expr(s"percentile(doc_id, $frac)")).head().getDouble(0).toLong
        timed(s"stream base build ($frac) w=6") {
          graft.streaming.StreamingLinkGraph.initialize(
            docs.where(col("doc_id") <= cut), "doc_id", "text",
            w = 6, maxDf = 32, dir, nBuckets = 256)
        }
        val tB = System.nanoTime()
        graft.streaming.StreamingLinkGraph.applyBatch(
          docs.where(col("doc_id") > cut), 0L, "doc_id", "text", dir)
        val tBatch = (System.nanoTime() - tB) / 1e9
        System.err.println(f"[probe] stream delta fold             $tBatch%.1f s")
        val tR = System.nanoTime()
        val edges = graft.streaming.StreamingLinkGraph.readEdges(spark, dir)
        val pr = LinkGraph.pageRank(docs.select(col("doc_id")), "doc_id", edges, iters = 3)
        val mass = pr.agg(sum(col("rank_fp"))).head().getLong(0)
        val tPr = (System.nanoTime() - tR) / 1e9
        System.err.println(f"[probe] pagerank from merged view    $tPr%.1f s")
        println(s"""{"mode":"linkgraph_stream","mass":$mass,""" +
          f""""delta_fold_s":$tBatch%.1f,"pagerank_merged_s":$tPr%.1f}""")
      case "linkgraph_auto" =>
        // appendAuto ROUTING at the tier (round 13): the in-place append
        // has a ~108 s touched-bucket floor at sf10 for ANY batch size
        // (round 12); a small batch through appendAuto must land near the
        // delta fold's ~11 s instead, because the router sends it to the
        // delta log. Then compactInPlace folds the log (the amortized
        // rewrite a caller schedules, not pays per batch).
        val dir = java.nio.file.Files.createTempDirectory("probe_lga").toString
        val frac = args.lift(2).map(_.toDouble).getOrElse(0.999)
        val cut = docs.agg(expr(s"percentile(doc_id, $frac)")).head().getDouble(0).toLong
        val baseDocs = docs.where(col("doc_id") <= cut)
        val batchDocs = docs.where(col("doc_id") > cut)
        timed(s"artifact build ($frac) w=6") {
          graft.text.LinkGraphStore.build(baseDocs, "doc_id", "text",
            w = 6, maxDf = 32, dir, nBuckets = 256)
        }
        val tA = System.nanoTime()
        val route = graft.text.LinkGraphStore.appendAuto(batchDocs, "doc_id", "text", dir)
        val tAuto = (System.nanoTime() - tA) / 1e9
        System.err.println(f"[probe] appendAuto ($route)            $tAuto%.1f s")
        val tS = System.nanoTime()
        val served = graft.text.LinkGraphStore.loadEdgesCanonical(spark, dir).count()
        val tServe = (System.nanoTime() - tS) / 1e9
        System.err.println(f"[probe] merged canonical read          $tServe%.1f s")
        val tC = System.nanoTime()
        graft.text.LinkGraphStore.compactInPlace(spark, dir)
        val tCompact = (System.nanoTime() - tC) / 1e9
        System.err.println(f"[probe] compactInPlace                 $tCompact%.1f s")
        println(s"""{"mode":"linkgraph_auto","route":"$route","edges":$served,""" +
          f""""append_auto_s":$tAuto%.1f,"merged_read_s":$tServe%.1f,""" +
          f""""compact_s":$tCompact%.1f}""")
      case "minhash_store" =>
        // the persisted near-dup index at the tier: build once over the
        // base 99%, then dedup the 1% batch against the STORE (bucket-
        // pruned postings + candidate sigs) vs the in-memory incremental
        // path that re-signs the whole corpus per batch.
        val dir = java.nio.file.Files.createTempDirectory("probe_mhs").toString
        val frac = args.lift(2).map(_.toDouble).getOrElse(0.99)
        val cut = docs.agg(expr(s"percentile(doc_id, $frac)")).head().getDouble(0).toLong
        val baseDocs = docs.where(col("doc_id") <= cut)
        val batchDocs = docs.where(col("doc_id") > cut)
        timed(s"minhash store build ($frac)") {
          graft.dedup.MinHashStore.build(baseDocs, "text", "doc_id", dir, nBuckets = 256)
        }
        val t1 = System.nanoTime()
        val served = graft.dedup.MinHashStore.dedupBatch(spark, dir, batchDocs,
          "text", "doc_id", threshold = 0.5).count()
        val tServed = (System.nanoTime() - t1) / 1e9
        System.err.println(f"[probe] dedupBatch from store          $tServed%.1f s")
        val t2 = System.nanoTime()
        val mem = graft.dedup.Dedup.minHashIncremental(baseDocs, batchDocs,
          "text", "doc_id", threshold = 0.5).count()
        val tMem = (System.nanoTime() - t2) / 1e9
        System.err.println(f"[probe] in-memory incremental          $tMem%.1f s")
        println(s"""{"mode":"minhash_store","served":$served,"mem":$mem,""" +
          f""""store_s":$tServed%.1f,"mem_s":$tMem%.1f}""")
      case "pins" =>
        // storage-boundedness of the iterative loops (round 12):
        // Dataset.unpersist was a no-op for checkpoint blocks, so every
        // round of a long loop pinned one node-sized RDD until GC. With
        // graft.Pins the live set must stay O(1) in rounds — measured on
        // a chain-shaped component (many rounds) by sampling the storage
        // registry after the run.
        val n = args.lift(2).map(_.toInt).getOrElse(100000)
        val ids = spark.range(0, n.toLong).select(col("id"))
        val chain = spark.range(0, n.toLong - 1)
          .select(col("id").as("src"), (col("id") + 1).as("dst"))
        val t0 = System.nanoTime()
        val comps = graft.text.LinkGraph.connectedComponents(ids, "id", chain)
        val nComps = comps.select(col("rep")).distinct().count()
        val wall = (System.nanoTime() - t0) / 1e9
        val stored = spark.sparkContext.getRDDStorageInfo
        val mem = stored.map(_.memSize).sum / (1024.0 * 1024.0)
        System.err.println(f"[probe] chain components n=$n          $wall%.1f s")
        // NON-LOOP artifact lifecycle (round 13): build + appendAuto
        // delta + compact + serve must leave no stray stored blocks
        // either — every build-path pin is released inside the call, not
        // left to ContextCleaner GC
        val aDir = java.nio.file.Files.createTempDirectory("probe_pins_lgs").toString
        val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
        graft.text.LinkGraphStore.build(docs.where(col("doc_id") <= mx - 20),
          "doc_id", "text", w = 3, maxDf = 4, aDir, nBuckets = 16)
        graft.text.LinkGraphStore.appendAuto(
          docs.where(col("doc_id") > mx - 20), "doc_id", "text", aDir)
        graft.text.LinkGraphStore.compactInPlace(spark, aDir)
        val served = graft.text.LinkGraphStore.loadEdgesCanonical(spark, aDir).count()
        val storedAfter = spark.sparkContext.getRDDStorageInfo
        val memAfter = storedAfter.map(_.memSize).sum / (1024.0 * 1024.0)
        System.err.println(s"[probe] artifact build+append+compact+serve: " +
          s"${storedAfter.length} stored RDDs after")
        println(s"""{"mode":"pins","n":$n,"components":$nComps,""" +
          f""""wall_s":$wall%.1f,"stored_rdds":${stored.length},"stored_mb":$mem%.1f,""" +
          s""""artifact_edges":$served,"stored_rdds_after_artifact":${storedAfter.length},""" +
          f""""stored_mb_after_artifact":$memAfter%.1f}""")
      case "html" =>
        // fused HtmlScan chain vs the equivalent java.util.regex
        // regexp_replace chain on the q_html_extract markup synthesis:
        // same output hashes, measured wall — the regex tax on the
        // web-ingestion pass
        import graft.functions.{TextFunctions => T}
        val markup = concat(
          lit("<html><head><title>t</title><style>p {color: red}</style></head><body onload=\"go()\">"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("<script type=\"text/javascript\">var x = 1 < 2; // "),
              col("doc_id").cast("string"), lit("</script>")))
            .otherwise(lit("<!-- hidden <b>comment</b> -->")),
          lit("<p>"), col("text"),
          lit("</p><div>tail &amp; &lt;raw&gt; &nbsp;&amp;lt;</div>"),
          when(pmod(col("doc_id"), lit(5)) === 0, lit("<script>unclosed"))
            .otherwise(lit("")),
          lit("</body></html>"))
        def secsH[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        def best2H[A](f: => A): (A, Double) = {
          val (r, t1) = secsH(f); val (_, t2) = secsH(f); (r, math.min(t1, t2))
        }
        // modular hash sum: a plain sum(xxhash64) overflows Long under
        // ANSI; 5e5 rows × 1e9 stays far inside 2^63 (bit-equality proper
        // is the oracle gate's job — this is a cheap cross-check)
        def hsum(c: org.apache.spark.sql.Column) =
          sum(pmod(xxhash64(c), lit(1000000007L)))
        val (kernelSum, tKernel) = best2H {
          docs.select(hsum(T.htmlToText(markup)).as("s")).head().getLong(0)
        }
        val regexOut =
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(markup,
            "(?is)<script\\b[^>]*>.*?</script>", ""),
            "(?is)<style\\b[^>]*>.*?</style>", ""),
            "(?s)<!--.*?-->", ""),
            "<[^>]*>", " ")
        val regexDecoded = Seq(
          "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'",
          "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
          .foldLeft(regexOut) { case (c, (f, r)) =>
            org.apache.spark.sql.functions.replace(c, lit(f), lit(r)) }
        val (regexSum, tRegex) = best2H {
          docs.select(hsum(regexDecoded).as("s")).head().getLong(0)
        }
        require(kernelSum == regexSum, s"kernel/regex disagree: $kernelSum vs $regexSum")
        println(s"""{"mode":"html","sum_hash":$kernelSum,""" +
          f""""kernel_s":$tKernel%.2f,"regex_s":$tRegex%.2f}""")
      case "components" =>
        // alternating-star components at the tier: rounds are O(log n)
        // regardless of diameter; also time the min-propagation loop on
        // the same graph for the head-to-head (its rounds = diameter)
        val t0 = System.nanoTime()
        val pinned = graft.Pins.counted(
          LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 6, maxDf = 32))
        val (edges, nEdges) = (pinned.df, pinned.rows)
        val tEdges = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val cc = LinkGraph.connectedComponents(docs.select(col("doc_id")), "doc_id", edges)
        val aggC = cc.agg(count(lit(1)).as("n"),
          countDistinct(col("rep")).as("comps"), max(col("component_size")).as("mx")).head()
        val tStar = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        val pairs = edges.where(col("src") < col("dst"))
          .select(col("src").as("id_a"), col("dst").as("id_b"))
        val mp = graft.dedup.Dedup.clusterRepresentatives(pairs, maxIters = 100)
        val nMp = mp.select(countDistinct(col("rep"))).head().getLong(0)
        val tMinProp = (System.nanoTime() - t2) / 1e9
        println(s"""{"mode":"components","edges":$nEdges,"nodes":${aggC.getLong(0)},""" +
          s""""components":${aggC.getLong(1)},"max_size":${aggC.getLong(2)},""" +
          s""""minprop_components_with_edges":$nMp,""" +
          f""""edges_s":$tEdges%.1f,"star_s":$tStar%.1f,"minprop_s":$tMinProp%.1f}""")
      case "components_chain" =>
        // the diameter pathology isolated: a synthetic 100k-node chain —
        // min-propagation would need 10⁵ rounds (not attempted); the
        // star alternation must stay in the tens
        import spark.implicits._
        val n = 100000L
        val chain = (0L until n - 1).toDF("src")
          .select(col("src"), (col("src") + 1L).as("dst"))
          .repartition(32)
        val nodes = (0L until n).toDF("doc_id")
        val t0 = System.nanoTime()
        val cc = LinkGraph.connectedComponents(nodes, "doc_id", chain, maxRounds = 40)
        val ok = cc.where(col("rep") =!= 0L).count() == 0L &&
          cc.count() == n
        val tStar = (System.nanoTime() - t0) / 1e9
        println(s"""{"mode":"components_chain","nodes":$n,"all_labeled_min":$ok,""" +
          f""""star_s":$tStar%.1f}""")
      case "graph_extras" =>
        // the remaining graph lanes at the tier, one timed pass each
        // over the SAME pinned w=6 edge graph: k-core peel, synchronous
        // label propagation, seed-teleport PageRank — all linear-in-|E|
        // shapes; this probe confirms none hides a super-linear stage
        val t0 = System.nanoTime()
        val pinned = graft.Pins.counted(
          LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 6, maxDf = 32))
        val (edges, nE) = (pinned.df, pinned.rows)
        val tE = (System.nanoTime() - t0) / 1e9
        val ids = docs.select(col("doc_id"))
        val t1 = System.nanoTime()
        val core = LinkGraph.kCore(ids, "doc_id", edges, k = 2)
          .where(col("in_core")).count()
        val tK = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        val nComm = LinkGraph.labelPropagation(ids, "doc_id", edges, iters = 2)
          .select(countDistinct(col("community"))).head().getLong(0)
        val tL = (System.nanoTime() - t2) / 1e9
        val t3 = System.nanoTime()
        val seeds = ids.where(pmod(col("doc_id"), lit(20)) === 1)
        val mass = LinkGraph.pageRankPersonalized(ids, "doc_id", edges, seeds, iters = 3)
          .agg(sum(col("rank_fp"))).head().getLong(0)
        val tT = (System.nanoTime() - t3) / 1e9
        println(s"""{"mode":"graph_extras","edges":$nE,"core2_nodes":$core,""" +
          s""""communities":$nComm,"trust_mass":$mass,""" +
          f""""edges_s":$tE%.1f,"kcore_s":$tK%.1f,"labelprop_s":$tL%.1f,"trustrank_s":$tT%.1f}""")
      case "triangles" =>
        // degree-ordered triangle counting at the tier: wedge volume is
        // the inherent cost — report it next to the runtime
        val t0 = System.nanoTime()
        val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 6, maxDf = 32)
        val ts = LinkGraph.triangleStats(docs.select(col("doc_id")), "doc_id", edges,
          maxEstimatedWedges = Long.MaxValue)
        val agg = ts.agg(sum(col("triangles")).as("t3"), max(col("triangles")).as("mx"),
          avg(col("clustering")).as("cc")).head()
        val tTri = (System.nanoTime() - t0) / 1e9
        println(s"""{"mode":"triangles","sum_corner_triangles":${agg.getLong(0)},""" +
          f""""max_per_node":${agg.getLong(1)},"avg_clustering":${agg.getDouble(2)}%.4f,"total_s":$tTri%.1f}""")
      case "arrow" =>
        // IPC migration-store IO at the tier: write documents once, then
        // compare full read vs column-pruned vs stats-filtered vs
        // zero-column — time AND bytes (graft.sources.ArrowIpc's channel
        // counter isolates exactly what pruning/skipping saves)
        import graft.sources.ArrowIpc
        val parent = java.nio.file.Files.createTempDirectory("probe_arrow")
        cleanupOnExit(parent)
        val dir = parent.toString + "/docs"
        // meta mirrors (doc_id, lang) as a struct so the tier also
        // measures NESTED-leaf stats skipping (r15); it rides the same
        // store — full_kb grows by the struct's bytes vs earlier rounds
        timed("write ipc store")(ArrowIpc.write(
          docs.withColumn("meta",
            struct(col("doc_id").as("did"), col("lang").as("lang"))),
          dir, batchRows = 4096, dictColumns = Set("lang", "source")))
        val (nFull, bFull) = ArrowIpc.bytesReadDuring(timed("full read count")(
          ArrowIpc.read(spark, dir).count()))
        val (_, bPruned) = ArrowIpc.bytesReadDuring(timed("pruned (doc_id,lang) agg")(
          ArrowIpc.read(spark, dir, Seq("doc_id", "lang"))
            .groupBy(col("lang")).agg(count(lit(1))).collect()))
        // ~2% of the id range survives; floor of 1 keeps the filtered
        // probe non-vacuous on tiers under 50 rows
        val hi = math.max(1L, nFull / 50)
        val (nFilt, bFilt) = ArrowIpc.bytesReadDuring(timed("filtered 2% id range")(
          ArrowIpc.read(spark, dir, Seq("doc_id", "lang"),
            Seq(org.apache.spark.sql.sources.LessThan("doc_id", hi))).count()))
        // nested-leaf skip (meta.did mirrors doc_id): same 2% range via
        // the dotted-path stats, reading only the struct's buffers
        val (nNest, bNest) = ArrowIpc.bytesReadDuring(timed("nested filtered 2% id range")(
          ArrowIpc.read(spark, dir, Seq("meta"),
            Seq(org.apache.spark.sql.sources.LessThan("meta.did", hi))).count()))
        require(nNest == nFilt, s"nested probe rows $nNest != flat probe rows $nFilt")
        val (nZero, bZero) = ArrowIpc.bytesReadDuring(timed("zero-column count")(
          ArrowIpc.read(spark, dir, Nil).count()))
        require(nZero == nFull)
        println(s"""{"mode":"arrow","rows":$nFull,"full_kb":${bFull / 1000},""" +
          s""""pruned_kb":${bPruned / 1000},"filtered_rows":$nFilt,""" +
          s""""filtered_kb":${bFilt / 1000},"nested_kb":${bNest / 1000},""" +
          s""""zero_col_kb":${bZero / 1000}}""")
      case "arrow_partial" =>
        // partial/in-flight reader at the tier: full-store walk (stream
        // framing, no footer) vs the footer-driven read, then recovery
        // from a copy torn mid-message at the file's midpoint batch
        import graft.sources.ArrowIpc
        val parent = java.nio.file.Files.createTempDirectory("probe_arrow_partial")
        cleanupOnExit(parent)
        val dir = parent.toString + "/docs"
        timed("write ipc store")(ArrowIpc.write(docs, dir, batchRows = 4096,
          dictColumns = Set("lang", "source")))
        val t0 = System.nanoTime()
        val nFooter = ArrowIpc.read(spark, dir).count()
        val tFooter = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val nPartial = ArrowIpc.readPartial(spark, dir).count()
        val tPartial = (System.nanoTime() - t1) / 1e9
        require(nFooter == nPartial, s"partial walk lost rows: $nPartial vs $nFooter")
        System.err.println(f"[probe] footer read $tFooter%.1f s, stream walk $tPartial%.1f s")
        // torn copy: cut 16 bytes into the midpoint batch of each part
        val tornDir = java.nio.file.Paths.get(parent.toString, "torn")
        java.nio.file.Files.createDirectories(tornDir)
        var expected = 0L
        new java.io.File(dir).listFiles().filter(_.getName.endsWith(".arrow"))
          .sortBy(_.getName).foreach { f =>
          val blocks = ArrowIpc.recordBatchBlocks(spark, f.toString)
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val mid = blocks.size / 2
          val cut =
            if (blocks.size > 1) math.min(blocks(mid)._1 + 16, bytes.length.toLong).toInt
            else bytes.length
          // rows fully before the cut batch: mid whole batches of 4096.
          // Single-batch files are copied WHOLE (no mid-batch cut point),
          // so they contribute a 0 lower bound — their rows only tighten
          // the upper bound via nFooter
          expected += (if (blocks.size > 1) mid.toLong * 4096L else 0L)
          java.nio.file.Files.write(tornDir.resolve(f.getName),
            java.util.Arrays.copyOf(bytes, cut))
        }
        val t2 = System.nanoTime()
        val nTorn = ArrowIpc.readPartial(spark, tornDir.toString).count()
        val tTorn = (System.nanoTime() - t2) / 1e9
        System.err.println(f"[probe] torn-store recovery $tTorn%.1f s, $nTorn rows (expected >= $expected)")
        require(nTorn >= expected && nTorn <= nFooter,
          s"torn recovery rows $nTorn outside [$expected, $nFooter]")
        // PRUNED partial walk (r16): a torn WIDE store read for 2 columns
        // must cost the selected buffers, not full width — the migration
        // consume-while-producing read the r15 verdict flagged as
        // full-width-only
        val (fullAgg, bTornFull) = ArrowIpc.bytesReadDuring {
          val t = System.nanoTime()
          val n = ArrowIpc.readPartial(spark, tornDir.toString)
            .groupBy(col("lang")).agg(count(lit(1))).collect()
            .map(_.getLong(1)).sum
          (n, (System.nanoTime() - t) / 1e9)
        }
        val (prunedAgg, bTornPruned) = ArrowIpc.bytesReadDuring {
          val t = System.nanoTime()
          val n = ArrowIpc.readPartial(spark, tornDir.toString, Seq("doc_id", "lang"))
            .groupBy(col("lang")).agg(count(lit(1))).collect()
            .map(_.getLong(1)).sum
          (n, (System.nanoTime() - t) / 1e9)
        }
        require(prunedAgg._1 == fullAgg._1,
          s"pruned torn walk rows ${prunedAgg._1} != full ${fullAgg._1}")
        System.err.println(f"[probe] torn pruned walk ${prunedAgg._2}%.1f s " +
          f"${bTornPruned / 1000} KB vs full ${fullAgg._2}%.1f s ${bTornFull / 1000} KB")
        println(s"""{"mode":"arrow_partial","rows":$nFooter,""" +
          f""""footer_read_s":$tFooter%.1f,"stream_read_s":$tPartial%.1f,""" +
          f""""torn_rows":$nTorn,"torn_read_s":$tTorn%.1f,""" +
          s""""torn_full_kb":${bTornFull / 1000},"torn_pruned_kb":${bTornPruned / 1000},""" +
          f""""torn_pruned_s":${prunedAgg._2}%.1f}""")
      case "compaction_recovery" =>
        // the swap protocol's driver-side metadata cost at FILE scale
        // (r16 verdict What's-wrong #3): commitMarker re-lists the staged
        // tree and recovery verifies the whole inventory. The axis is
        // file COUNT, not data volume — a deliberately over-bucketed
        // store makes a many-thousand-file segs tree from small data.
        import graft.dedup.MinHashStore
        import graft.sources.SegmentCompaction
        val parent = java.nio.file.Files.createTempDirectory("probe_compact_rec")
        cleanupOnExit(parent)
        val dir = parent.toString + "/mh"
        // contiguous id ranges per segment (the append monotonic-id guard)
        val corpus = docs.where(col("doc_id") < 4000).cache()
        timed("build seg0")(MinHashStore.build(
          corpus.where(col("doc_id") < 1000), "text", "doc_id",
          dir, nBuckets = 512))
        (1 until 4).foreach(k => timed(s"append seg$k")(MinHashStore.append(
          corpus.where(col("doc_id") >= k * 1000 && col("doc_id") < (k + 1) * 1000),
          "text", "doc_id", dir, segmentId = k.toLong)))
        def fileCount(p: String): Long = {
          val fs = new org.apache.hadoop.fs.Path(p)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          graft.sources.FsWalk.files(fs, new org.apache.hadoop.fs.Path(p)).size.toLong
        }
        val nSegs = fileCount(s"$dir/segs")
        timed("fold to staging")(MinHashStore.compactTo(spark, dir, s"$dir/_compact"))
        val nStaged = fileCount(s"$dir/_compact/segs")
        val t0 = System.nanoTime()
        SegmentCompaction.commitMarker(spark, dir)
        val tMarker = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        require(SegmentCompaction.recover(spark, dir), "expected a roll-forward")
        val tRecover = (System.nanoTime() - t1) / 1e9
        require(MinHashStore.committedSegments(spark, dir) == Seq(0L))
        System.err.println(f"[probe] segs files $nSegs, staged $nStaged; " +
          f"commitMarker $tMarker%.2f s, recover (verify+swap) $tRecover%.2f s")
        println(s"""{"mode":"compaction_recovery","segs_files":$nSegs,""" +
          f""""staged_files":$nStaged,"marker_s":$tMarker%.2f,""" +
          f""""recover_s":$tRecover%.2f}""")
      case "arrow_partial_split" =>
        // within-file fan-out (r17): ONE huge in-flight file — the
        // migration shape where the r16 reader was a single serial task.
        // Serial walk vs the plan+slice split read (metadata-only plan,
        // byte-bounded batch ranges served in parallel); rows AND a
        // content hash must match exactly, with and without a torn tail.
        import graft.sources.ArrowIpc
        val parent = java.nio.file.Files.createTempDirectory("probe_arrow_psplit")
        cleanupOnExit(parent)
        val dir = parent.toString + "/one"
        // 4x the tier's corpus in ONE file (offset ids keep the content
        // hash meaningful): the single-file migration shape at ~300 MB
        val corpus = (0 until 4).map(k =>
            docs.withColumn("doc_id", col("doc_id") + lit(k.toLong * 10000000L)))
          .reduce(_ union _)
        timed("write 1-file ipc store")(ArrowIpc.write(corpus.repartition(1), dir,
          batchRows = 4096, dictColumns = Set("lang", "source")))
        val f = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".arrow")).head
        def readStats(): (Long, Long, Double, Int) = {
          val t = System.nanoTime()
          val df = ArrowIpc.readPartial(spark, dir)
          val parts = df.rdd.getNumPartitions
          val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("text"))))
            .collect().head
          (r.getLong(0), r.getLong(1), (System.nanoTime() - t) / 1e9, parts)
        }
        spark.conf.set("spark.graft.arrow.splitBytes", (f.length() + 1).toString)
        val (nSer, hSer, tSer, pSer) = readStats()
        spark.conf.set("spark.graft.arrow.splitBytes", (16L * 1024 * 1024).toString)
        val (nSplit, hSplit, tSplit, pSplit) = readStats()
        require(pSer == 1 && pSplit > 1, s"split shape wrong: $pSer/$pSplit tasks")
        require(nSer == nSplit && hSer == hSplit,
          s"split read diverged: $nSplit/$hSplit vs $nSer/$hSer")
        System.err.println(f"[probe] serial 1-task $tSer%.1f s vs split " +
          f"$pSplit-task $tSplit%.1f s (${tSer / tSplit}%.1fx, ${f.length() / 1e6}%.0f MB)")
        // torn copy (cut 16 bytes into the midpoint batch): the split
        // read serves exactly the complete-batch prefix, in parallel
        val blocks = ArrowIpc.recordBatchBlocks(spark, f.toString)
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val mid = blocks.size / 2
        val tornDir = java.nio.file.Paths.get(parent.toString, "torn")
        java.nio.file.Files.createDirectories(tornDir)
        java.nio.file.Files.write(tornDir.resolve(f.getName), java.util.Arrays.copyOf(
          bytes, math.min(blocks(mid)._1 + 16, bytes.length.toLong).toInt))
        val t2 = System.nanoTime()
        val nTorn = ArrowIpc.readPartial(spark, tornDir.toString).count()
        val tTorn = (System.nanoTime() - t2) / 1e9
        require(nTorn == mid.toLong * 4096L,
          s"torn split prefix: $nTorn rows, expected ${mid * 4096L}")
        System.err.println(f"[probe] torn split read $tTorn%.1f s, $nTorn rows")
        // the FOOTER-driven read over the same complete file: serveRange
        // slices vs the one-task read (same threshold semantics)
        def footerStats(): (Long, Long, Double, Int) = {
          val t = System.nanoTime()
          val df = ArrowIpc.read(spark, dir)
          val parts = df.rdd.getNumPartitions
          val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("text"))))
            .collect().head
          (r.getLong(0), r.getLong(1), (System.nanoTime() - t) / 1e9, parts)
        }
        spark.conf.set("spark.graft.arrow.splitBytes", (f.length() + 1).toString)
        val (nfSer, hfSer, tfSer, pfSer) = footerStats()
        spark.conf.set("spark.graft.arrow.splitBytes", (16L * 1024 * 1024).toString)
        val (nfSp, hfSp, tfSp, pfSp) = footerStats()
        require(pfSer == 1 && pfSp > 1 && nfSer == nfSp && hfSer == hfSp,
          s"footer split diverged: $nfSp/$hfSp/$pfSp vs $nfSer/$hfSer/$pfSer")
        System.err.println(f"[probe] footer serial $tfSer%.1f s vs split " +
          f"$pfSp-task $tfSp%.1f s (${tfSer / tfSp}%.1fx)")
        println(s"""{"mode":"arrow_partial_split","rows":$nSer,""" +
          f""""file_mb":${f.length() / 1e6}%.0f,"serial_s":$tSer%.1f,""" +
          f""""split_s":$tSplit%.1f,"split_tasks":$pSplit,""" +
          f""""speedup":${tSer / tSplit}%.1f,"torn_rows":$nTorn,"torn_s":$tTorn%.1f,""" +
          f""""footer_serial_s":$tfSer%.1f,"footer_split_s":$tfSp%.1f,""" +
          f""""footer_speedup":${tfSer / tfSp}%.1f}""")
      case "arrow_bigfile" =>
        // r18 (verdict task): the within-file fan-out claims extrapolated
        // from a 301 MB file; this pins them at a MULTI-GB single file,
        // where body skipping actually dominates the metadata walk. One
        // ~3+ GB file (replication factor = arg 3, default 44): plan-walk
        // time (metadata-only), slice count at the default 128 MB
        // threshold, split vs serial serve, footer-driven read, torn
        // variant. Uses a java.nio FileChannel for the raw plan timing
        // (same SeekableByteChannel contract the reader runs on).
        import graft.sources.ArrowIpc
        val mult = args.drop(2).headOption.map(_.toInt).getOrElse(44)
        val parent = java.nio.file.Files.createTempDirectory("probe_arrow_bigfile")
        cleanupOnExit(parent)
        val dir = parent.toString + "/one"
        val corpus = (0 until mult).map(k =>
            docs.withColumn("doc_id", col("doc_id") + lit(k.toLong * 100000000L)))
          .reduce(_ union _)
        timed(s"write 1-file ipc store (${mult}x docs)")(
          ArrowIpc.write(corpus.repartition(1), dir,
            batchRows = 4096, dictColumns = Set("lang", "source")))
        val f = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".arrow")).head
        System.err.println(f"[probe] file size ${f.length() / 1e9}%.2f GB")
        // metadata-only plan walk, timed raw (driver-side, one channel)
        def planOnce(): (Int, Int, Double) = {
          val t0 = System.nanoTime()
          val ch = java.nio.channels.FileChannel.open(f.toPath)
          val pl = try ArrowIpc.partialPlan(ch, f.toString).get finally ch.close()
          val t = (System.nanoTime() - t0) / 1e9
          (pl.recs.size, pl.dicts.size, t)
        }
        val (nBatches, nDicts, tPlan) = planOnce()
        val slices = {
          val ch = java.nio.channels.FileChannel.open(f.toPath)
          val pl = try ArrowIpc.partialPlan(ch, f.toString).get finally ch.close()
          ArrowIpc.chunkRanges(pl.recs, 128L * 1024 * 1024).size
        }
        System.err.println(f"[probe] plan walk $tPlan%.2f s " +
          f"($nBatches batches, $nDicts dict msgs, $slices slices @128MB)")
        def agg(df: org.apache.spark.sql.DataFrame): (Long, Long, Double, Int) = {
          val t = System.nanoTime()
          val parts = df.rdd.getNumPartitions
          val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("text"))))
            .collect().head
          (r.getLong(0), r.getLong(1), (System.nanoTime() - t) / 1e9, parts)
        }
        spark.conf.set("spark.graft.arrow.splitBytes", (f.length() + 1).toString)
        val (nSer, hSer, tSer, pSer) = agg(ArrowIpc.readPartial(spark, dir))
        spark.conf.unset("spark.graft.arrow.splitBytes") // default 128 MB
        val (nSp, hSp, tSp, pSp) = agg(ArrowIpc.readPartial(spark, dir))
        require(pSer == 1 && pSp > 1 && nSer == nSp && hSer == hSp,
          s"split diverged: $nSp/$hSp/$pSp vs $nSer/$hSer/$pSer")
        val (nFt, hFt, tFt, pFt) = agg(ArrowIpc.read(spark, dir))
        require(nFt == nSer && hFt == hSer && pFt > 1,
          s"footer read diverged: $nFt/$hFt/$pFt")
        System.err.println(f"[probe] partial serial $tSer%.1f s vs split " +
          f"$pSp-task $tSp%.1f s (${tSer / tSp}%.1fx); footer $tFt%.1f s")
        // torn at 2/3: complete-batch prefix, served split, plan re-timed
        val blocks = ArrowIpc.recordBatchBlocks(spark, f.toString)
        val tornDir = java.nio.file.Paths.get(parent.toString, "torn")
        java.nio.file.Files.createDirectories(tornDir)
        val cut = f.length() * 2 / 3
        timed("torn copy (2/3)") {
          val in = java.nio.channels.FileChannel.open(f.toPath)
          val out = java.nio.channels.FileChannel.open(tornDir.resolve(f.getName),
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
          try { var p = 0L; while (p < cut) p += in.transferTo(p, cut - p, out) }
          finally { in.close(); out.close() }
        }
        val expectTorn = blocks.takeWhile(b => b._1 + b._2 + b._3 <= cut).size * 4096L
        val t3 = System.nanoTime()
        val nTorn = ArrowIpc.readPartial(spark, tornDir.toString).count()
        val tTorn = (System.nanoTime() - t3) / 1e9
        require(nTorn == expectTorn, s"torn prefix $nTorn rows, expected $expectTorn")
        println(s"""{"mode":"arrow_bigfile","rows":$nSer,""" +
          f""""file_gb":${f.length() / 1e9}%.2f,"plan_s":$tPlan%.2f,""" +
          s""""batches":$nBatches,"slices_128mb":$slices,""" +
          f""""partial_serial_s":$tSer%.1f,"partial_split_s":$tSp%.1f,""" +
          f""""split_tasks":$pSp,"speedup":${tSer / tSp}%.1f,""" +
          f""""footer_split_s":$tFt%.1f,"torn_rows":$nTorn,"torn_s":$tTorn%.1f}""")

      case "arrow_dict_slices" =>
        // r18 (verdict task): minimal per-slice dictionary replay on a
        // REPLACEMENT-heavy store. Builds one by byte-level repetition of
        // a real engine-written dict store's message stream (each
        // repetition's initial dictionary message is a non-delta, i.e. a
        // REPLACEMENT of the previous generation — the reference's
        // per-batch-replacement shape): magic + schema + N x (dicts +
        // record batches). Reports the per-slice dictionary bytes under
        // the r17 prefix-cumulative rule vs the minimal rule (both
        // computed EXACTLY from the plan), plus split-vs-serial value
        // equality on the synthesized file.
        import graft.sources.ArrowIpc
        val reps = args.drop(2).headOption.map(_.toInt).getOrElse(24)
        val parent = java.nio.file.Files.createTempDirectory("probe_arrow_dicts")
        cleanupOnExit(parent)
        val seedDir = parent.toString + "/seed"
        timed("write seed dict store")(ArrowIpc.write(docs.repartition(1), seedDir,
          batchRows = 4096, dictColumns = Set("lang", "source")))
        val seed = new java.io.File(seedDir).listFiles()
          .filter(_.getName.endsWith(".arrow")).head
        val seedBytes = java.nio.file.Files.readAllBytes(seed.toPath)
        val pl0 = {
          val ch = java.nio.channels.FileChannel.open(seed.toPath)
          try ArrowIpc.partialPlan(ch, seed.toString).get finally ch.close()
        }
        require(pl0.dicts.nonEmpty, "seed store carries no dictionary messages")
        // repeated unit: everything after the schema message up to the
        // end of the last record batch (stream framing is contiguous)
        val unitStart = pl0.schemaBlock._1 + pl0.schemaBlock._2
        val lastRec = pl0.recs.last
        val unitEnd = lastRec._1 + lastRec._2 + lastRec._3
        val big = java.nio.file.Paths.get(parent.toString, "big")
        java.nio.file.Files.createDirectories(big)
        val bigFile = big.resolve("part-00000.arrow")
        timed(s"synthesize ${reps}x replacement store") {
          val out = java.nio.file.Files.newOutputStream(bigFile)
          try {
            out.write(seedBytes, 0, unitStart.toInt)
            (0 until reps).foreach(_ =>
              out.write(seedBytes, unitStart.toInt, (unitEnd - unitStart).toInt))
          } finally out.close()
        }
        val pl = {
          val ch = java.nio.channels.FileChannel.open(bigFile)
          try ArrowIpc.partialPlan(ch, bigFile.toString).get finally ch.close()
        }
        require(pl.recs.size == pl0.recs.size * reps &&
          pl.dicts.size == pl0.dicts.size * reps, "synthesized plan shape off")
        // per-slice dictionary bytes, both rules, exact from the plan
        val splitBytes = 4L * 1024 * 1024
        val ranges = ArrowIpc.chunkRanges(pl.recs, splitBytes)
        def dictBytes(ms: Seq[ArrowIpc.DictMsg]): Long =
          ms.map(m => m.metaLen + m.bodyLen).sum
        val minimal = ranges.map { case (lo, hi) =>
          dictBytes(ArrowIpc.sliceDicts(pl.dicts, pl.recs(lo)._1, pl.recs(hi - 1)._1))
        }
        val prefix = ranges.map { case (lo, hi) =>
          dictBytes(pl.dicts.filter(_.off < pl.recs(hi - 1)._1))
        }
        System.err.println(f"[probe] ${ranges.size} slices: dict bytes/slice " +
          f"minimal ${minimal.sum / ranges.size}%,d avg (max ${minimal.max}%,d) vs " +
          f"prefix-cumulative ${prefix.sum / ranges.size}%,d avg (max ${prefix.max}%,d) " +
          f"- total ${minimal.sum}%,d vs ${prefix.sum}%,d (${prefix.sum.toDouble / minimal.sum}%.1fx)")
        // correctness on the synthesized replacement store: split == serial
        def agg2(df: org.apache.spark.sql.DataFrame): (Long, Long, Int) = {
          val parts = df.rdd.getNumPartitions
          val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("lang"),
            col("source"), col("text")))).collect().head
          (r.getLong(0), r.getLong(1), parts)
        }
        spark.conf.set("spark.graft.arrow.splitBytes", (java.nio.file.Files.size(bigFile) + 1).toString)
        val (nS, hS, pS) = agg2(ArrowIpc.readPartial(spark, big.toString))
        spark.conf.set("spark.graft.arrow.splitBytes", splitBytes.toString)
        val ((nP, hP, pP), splitIoBytes) = ArrowIpc.bytesReadDuring(
          agg2(ArrowIpc.readPartial(spark, big.toString)))
        spark.conf.unset("spark.graft.arrow.splitBytes")
        require(pS == 1 && pP > 1 && nS == nP && hS == hP,
          s"replacement split diverged: $nP/$hP/$pP vs $nS/$hS/$pS")
        println(s"""{"mode":"arrow_dict_slices","reps":$reps,"slices":${ranges.size},""" +
          s""""rows":$nS,"dict_bytes_minimal":${minimal.sum},""" +
          s""""dict_bytes_prefix_rule":${prefix.sum},""" +
          f""""reduction":${prefix.sum.toDouble / minimal.sum}%.1f,""" +
          s""""split_io_bytes":$splitIoBytes}""")

      case "arrow_plan_many" =>
        // r18 (verdict task): big-file footer planning with MANY
        // over-threshold files must be one executor job, not a serial
        // driver loop. 64 files, threshold below every file: the serial
        // per-file loop (the r17 readImpl shape) vs planCompleteTasks.
        import graft.sources.ArrowIpc
        val parent = java.nio.file.Files.createTempDirectory("probe_arrow_many")
        cleanupOnExit(parent)
        val dir = parent.toString + "/many"
        timed("write 64-file ipc store")(ArrowIpc.write(docs.repartition(64), dir,
          batchRows = 2048, dictColumns = Set("lang", "source")))
        val statuses = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".arrow")).sortBy(_.getName)
          .map(f => (f.toString, f.length())).toSeq
        require(statuses.size == 64, s"expected 64 files, got ${statuses.size}")
        val thr = statuses.map(_._2).min / 2
        def secsN[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        // serial driver loop (what readImpl did before r18)
        val (_, tSerial) = secsN(statuses.foreach { case (f, _) =>
          ArrowIpc.recordBatchBlocks(spark, f) })
        val (tasks, tJob) = secsN(ArrowIpc.planCompleteTasks(spark, statuses, thr))
        require(tasks.count(_._2.isDefined) > 64 || tasks.size >= 64,
          s"plan produced ${tasks.size} tasks")
        System.err.println(f"[probe] 64-file footer plan: serial driver loop " +
          f"$tSerial%.2f s vs one-job $tJob%.2f s (${statuses.size} files, " +
          f"${tasks.size} tasks)")
        // values survive the planned split read
        spark.conf.set("spark.graft.arrow.splitBytes", thr.toString)
        val n = ArrowIpc.read(spark, dir).count()
        spark.conf.unset("spark.graft.arrow.splitBytes")
        require(n == docs.count(), s"split read lost rows: $n")
        println(s"""{"mode":"arrow_plan_many","files":${statuses.size},""" +
          f""""serial_plan_s":$tSerial%.2f,"onejob_plan_s":$tJob%.2f,""" +
          s""""tasks":${tasks.size},"rows":$n}""")

      case "arrow_dsv2_write" =>
        // late r18: the DSv2 write wrapper vs the native writer at the
        // tier - same IpcPartWriter core, so wall-clock and content must
        // both match (the wrapper adds only commit-message plumbing)
        import graft.sources.ArrowIpc
        val parent = java.nio.file.Files.createTempDirectory("probe_dsv2w")
        cleanupOnExit(parent)
        def secsW[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
        }
        def contentHash(dir: String): (Long, Long) = {
          val r = ArrowIpc.read(spark, dir)
            .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("lang"),
              col("source"), col("text")))).collect().head
          (r.getLong(0), r.getLong(1))
        }
        // interleaved best-of-2 so page-cache warmth doesn't pick a winner
        val runs = (1 to 2).flatMap { i =>
          val (_, tn) = secsW(ArrowIpc.write(docs, s"$parent/nat$i",
            batchRows = 4096, dictColumns = Set("lang", "source")))
          val (_, td) = secsW(docs.write.format("arrowipc")
            .option("dictColumns", "lang,source").option("batchRows", "4096")
            .mode("overwrite").save(s"$parent/v2$i"))
          Seq(("native", tn, s"$parent/nat$i"), ("dsv2", td, s"$parent/v2$i"))
        }
        val natBest = runs.collect { case ("native", t, _) => t }.min
        val v2Best = runs.collect { case ("dsv2", t, _) => t }.min
        val hn = contentHash(s"$parent/nat1")
        val hd = contentHash(s"$parent/v21")
        require(hn == hd, s"DSv2-written store diverges from native: $hd vs $hn")
        System.err.println(f"[probe] write ${hn._1} rows: native best $natBest%.1f s " +
          f"vs dsv2 $v2Best%.1f s (${v2Best / natBest}%.2fx)")
        println(s"""{"mode":"arrow_dsv2_write","rows":${hn._1},""" +
          f""""native_s":$natBest%.1f,"dsv2_s":$v2Best%.1f,""" +
          f""""ratio":${v2Best / natBest}%.2f}""")

      case "arrow_hc" | "arrow_hc_big" =>
        // the lz4hc archival level vs the fast default at the tier:
        // write time + store size + a full read back (values must match).
        // arrow_hc_big re-runs it at ~10x the per-task volume (ONE task,
        // one big file — the realistic archival-shard shape): the default
        // tier writes ~5 MB/task, where codec throughput differences can
        // hide behind task scheduling; the single-task row measures the
        // fast-vs-hc write-throughput crossover directly
        import graft.sources.ArrowIpc
        val big = mode == "arrow_hc_big"
        val hcDocs = if (big) docs.coalesce(1) else docs
        val parent = java.nio.file.Files.createTempDirectory("probe_arrow_hc")
        cleanupOnExit(parent)
        def dirKb(d: String): Long = {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size(_)).sum / 1000
        }
        def bench(level: Int, name: String): (String, Long, Double) = {
          val d = s"$parent/$name"
          val t0 = System.nanoTime()
          ArrowIpc.write(hcDocs, d, batchRows = 4096,
            dictColumns = Set("lang", "source"), compressionLevel = level)
          val t = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[probe] write level=$level%-3d ${t}%.1f s, ${dirKb(d)} KB")
          (d, dirKb(d), t)
        }
        val (fd, fKb, fT) = bench(0, "fast")
        val (hd, hKb, hT) = bench(9, "hc9")
        val nF = ArrowIpc.read(spark, fd).count()
        val nH = ArrowIpc.read(spark, hd).count()
        require(nF == nH, s"row counts diverge: $nF vs $nH")
        println(s"""{"mode":"$mode","rows":$nF,"fast_kb":$fKb,"hc_kb":$hKb,""" +
          f""""fast_write_s":$fT%.1f,"hc_write_s":$hT%.1f}""")
      case "heavy_hitters_route" =>
        // the r15 broadcast guard's fallback cost at the tier: the exact
        // recount with the candidate set BROADCAST (default route) vs
        // FORCED onto the shuffle-hash route (broadcastLimit = 0 — what
        // fires past 10M candidates); results must be identical
        import graft.functions.{TextFunctions => T}
        val toks = docs.select(explode(T.tokenize(col("text"))).as("token"))
        def runRoute(limit: Long): (Long, Double) = {
          val t0 = System.nanoTime()
          val n = graft.text.HeavyHitters
            .frequent(toks, "token", theta = 0.02, broadcastLimit = limit)
            .count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
        // best-of-2 per route, interleaved, so first-run JIT/warmup cost
        // doesn't land on whichever route runs first
        val pairs = Seq.fill(2)(Seq(
          "broadcast" -> runRoute(Long.MaxValue),
          "shuffle" -> runRoute(0L))).flatten
        val counts = pairs.map(_._2._1).distinct
        require(counts.size == 1, s"route results diverge: $pairs")
        val tB = pairs.collect { case ("broadcast", (_, t)) => t }.min
        val tS = pairs.collect { case ("shuffle", (_, t)) => t }.min
        System.err.println(f"[probe] broadcast best $tB%.2f s, shuffle best $tS%.2f s")
        println(s"""{"mode":"heavy_hitters_route","rows":${counts.head},""" +
          f""""broadcast_s":$tB%.2f,"shuffle_s":$tS%.2f}""")
      case other => sys.error(s"unknown probe mode: $other")
    }
    spark.stop()
  }
}
