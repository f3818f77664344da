package graft

import graft.multimodal.Avi
import graft.streaming.StreamingMediaDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Continuous perceptual media dedup: admitted-set semantics across
  * micro-batches, fingerprint-only state, idempotent replay — the media
  * twin of StreamingDedupSpec, with REAL decoded-pixel fingerprints.
  */
class StreamingMediaDedupSpec extends SparkSpec {
  import spark.implicits._

  private val w = 32; private val h = 24; private val nf = 6

  /** Gradient footage: `seed` selects the content, `noise` jiggles a
    * sparse subset of pixels (a re-render), leaving the visuals intact.
    */
  private def footage(seed: Int, noise: Int): Array[Byte] =
    Avi.encode(w, h, 10, (0 until nf).map { f =>
      Array.tabulate(w * h) { k =>
        val x = k % w; val y = k / w
        val base = (x * 8 + y * 3 + f * 11 + seed) % 256
        val jig = if (noise != 0 && (x + y * w) % 97 == 0) noise else 0
        ((base + jig) % 256).toByte
      }
    })

  private def checker(phase: Int): Array[Byte] =
    Avi.encode(w, h, 10, (0 until nf).map { f =>
      Array.tabulate(w * h)(k => ((((k % w) / 4 + (k / w) / 4 + f + phase) % 2) * 255).toByte)
    })

  test("stream admits first-seen videos, drops perceptual near-dups, replay is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("smdedup").toString
    val (survDir, fpDir) = (s"$dir/surv", s"$dir/fps")
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Array[Byte])]
    val q = StreamingMediaDedup
      .writer(source.toDF.toDF("vid_id", "payload"), "payload", "vid_id", survDir, fpDir,
        n = 4, minMatches = 3)
      .option("checkpointLocation", s"$dir/ckpt")
      .start()

    // batch 0: original footage + different footage + an in-batch
    // re-render of the original (higher id dies)
    source.addData((1L, footage(0, 0)), (2L, checker(0)), (3L, footage(0, 3)))
    q.processAllAvailable()
    // batch 1: a re-render of ADMITTED footage (cross-batch drop), new
    // footage, and an undecodable payload (admitted untouched — policy
    // for a filter stage, not the dedup)
    source.addData((4L, footage(0, 5)), (5L, footage(77, 0)), (6L, "junk".getBytes("UTF-8")))
    q.processAllAvailable()
    q.stop()

    val survivors = StreamingMediaDedup.readSurvivors(spark, survDir)
      .select($"vid_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(1L, 2L, 5L, 6L),
      s"expected {1,2,5,6} (3 re-renders 1 in-batch, 4 re-renders 1 cross-batch), got $survivors")

    // state is fingerprints only — no payload bytes in the stored artifact
    val fpCols = spark.read.parquet(s"$fpDir/batch=0").columns.toSet
    assert(fpCols == Set("id", "slot", "fp"), s"state carries $fpCols")
    // ~per-video state: n=4 slots per decodable admitted video
    val fpCount = spark.read.option("basePath", fpDir).parquet(s"$fpDir/batch=*").count()
    assert(fpCount == 12, s"expected 3 decodable survivors x 4 slots, got $fpCount")

    // replay of a committed batch overwrites its own output
    val batch1 = Seq((4L, footage(0, 5)), (5L, footage(77, 0)), (6L, "junk".getBytes("UTF-8")))
      .toDF("vid_id", "payload")
    val pinsBefore = spark.sparkContext.getPersistentRDDs.keySet
    StreamingMediaDedup.applyBatch(batch1, 1L, "payload", "vid_id", survDir, fpDir,
      n = 4, minMatches = 3)
    // a micro-batch releases every pin it made (survivors, batchGroups' members)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinsBefore
    assert(leaked.isEmpty, s"applyBatch left pinned RDDs $leaked")
    val replayed = StreamingMediaDedup.readSurvivors(spark, survDir)
      .select($"vid_id").as[Long].collect().sorted.toSeq
    assert(replayed == Seq(1L, 2L, 5L, 6L), s"replay changed survivors: $replayed")
  }

  test("degenerate corpus (property): rep collapse bounds candidates to " +
      "collapsed x cluster-size; verdicts identical to the uncollapsed rule") {
    import org.apache.spark.sql.functions._
    val bands = 8; val maxHamming = 6; val minMatches = 2; val slots = 4
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      // nDistinct fingerprint vectors, each duplicated dup times across
      // corpus ids — the exact-duplicate-heavy admitted set (re-uploads)
      val nDistinct = 3 + rnd.nextInt(4)
      val dup = 5 + rnd.nextInt(20)
      val vectors = Seq.fill(nDistinct)(Seq.tabulate(slots)(s => (s, rnd.nextLong())))
      val corpusRows = for {
        (vec, vi) <- vectors.zipWithIndex
        d <- 0 until dup
        (slot, fp) <- vec
      } yield (vi.toLong * 1000 + d, slot, fp)
      val corpusFps = corpusRows.toDF("id", "slot", "fp")
      // batch: one exact re-upload of vector 0 (must die), one fresh (lives)
      val batchFps = (vectors.head.map { case (s, f) => (90001L, s, f) } ++
        Seq.tabulate(slots)(s => (90002L, s, rnd.nextLong()))).toDF("id", "slot", "fp")
      val batch = Seq(90001L, 90002L).toDF("vid_id")
      // the collapse keeps exactly one rep per distinct vector
      val collapsed = StreamingMediaDedup.collapsedCorpus(corpusFps)
      assert(collapsed.select($"id").distinct.count() == nDistinct.toLong,
        s"seed $seed: collapse kept more than one rep per vector")
      // candidate BOUND: exact duplicates make raw candidates exactly
      // collapsed x dup — the quadratic the collapse removes
      def cands(c: org.apache.spark.sql.DataFrame): Long =
        StreamingMediaDedup.keyedFps(c, bands).as("c")
          .join(StreamingMediaDedup.keyedFps(batchFps, bands).as("b"),
            Seq("slot", "band", "bucket")).count()
      val nCollapsed = cands(collapsed)
      val nRaw = cands(corpusFps)
      assert(nRaw == nCollapsed * dup,
        s"seed $seed: raw candidates $nRaw != collapsed $nCollapsed x $dup")
      // verdict identity: incrementalFps (collapsed) == the uncollapsed rule
      val got = StreamingMediaDedup.incrementalFps(corpusFps, batchFps, batch,
        "vid_id", maxHamming, bands, minMatches)
        .select($"vid_id").as[Long].collect().sorted.toSeq
      val rawCand = StreamingMediaDedup.keyedFps(batchFps, bands).as("b")
        .join(StreamingMediaDedup.keyedFps(corpusFps, bands).as("c"),
          Seq("slot", "band", "bucket"))
        .select($"b.id".as("id_b"), $"c.id".as("id_other"), $"slot",
          $"b.fp".as("fp_b"), $"c.fp".as("fp_o"))
      val want = StreamingMediaDedup.survivorsFrom(rawCand,
        StreamingMediaDedup.keyedFps(batchFps, bands), batch, "vid_id",
        maxHamming, minMatches)
        .select($"vid_id").as[Long].collect().sorted.toSeq
      assert(got == want, s"seed $seed: collapse changed verdicts: $got vs $want")
      assert(got == Seq(90002L), s"seed $seed: expected the re-upload to die, got $got")
    }
  }

  test("batch-side collapse (property): survivorsCollapsed == the uncollapsed " +
      "rule on duplicate-heavy random batches") {
    import org.apache.spark.sql.functions._
    val bands = 8; val maxHamming = 6; val minMatches = 2
    for (seed <- Seq(3, 19, 101, 555)) {
      val rnd = new scala.util.Random(seed)
      // a small vector pool (heavy duplication), some pool entries
      // near-dups of each other (bit flips), some videos with fewer
      // slots than minMatches (the self-kill guard corner)
      val pool = Seq.fill(4 + rnd.nextInt(3)) {
        val nSlots = 1 + rnd.nextInt(4)
        Seq.tabulate(nSlots)(s => (s, rnd.nextLong()))
      }
      val mutated = pool.map(v =>
        if (rnd.nextBoolean()) v.map { case (s, f) => (s, f ^ (1L << rnd.nextInt(64))) }
        else v)
      val all = pool ++ mutated
      val nBatch = 30 + rnd.nextInt(40)
      val batchRows = for {
        id <- 0 until nBatch
        (slot, fp) <- all(rnd.nextInt(all.size))
      } yield (1000L + id, slot, fp)
      val batchFps = batchRows.toDF("id", "slot", "fp")
      val batch = (0 until nBatch).map(i => 1000L + i).toDF("vid_id")
      // corpus: a few pool vectors verbatim (kill whole batch groups)
      val corpusRows = for {
        (vec, vi) <- pool.take(2).zipWithIndex
        (slot, fp) <- vec
      } yield (vi.toLong, slot, fp)
      val corpusFps = corpusRows.toDF("id", "slot", "fp")

      val rawCand = StreamingMediaDedup.keyedFps(batchFps, bands).as("b")
        .join(StreamingMediaDedup.keyedFps(corpusFps, bands).as("c"),
          Seq("slot", "band", "bucket"))
        .select($"b.id".as("id_b"), $"c.id".as("id_other"), $"slot",
          $"b.fp".as("fp_b"), $"c.fp".as("fp_o"))
      val want = StreamingMediaDedup.survivorsFrom(rawCand,
        StreamingMediaDedup.keyedFps(batchFps, bands), batch, "vid_id",
        maxHamming, minMatches)
        .select($"vid_id").as[Long].collect().sorted.toSeq
      val got = StreamingMediaDedup.incrementalFps(corpusFps, batchFps, batch,
        "vid_id", maxHamming, bands, minMatches)
        .select($"vid_id").as[Long].collect().sorted.toSeq
      assert(got == want, s"seed $seed: batch collapse changed verdicts: got $got want $want")
      // the collapse must actually collapse on this duplicate-heavy input
      val (members, repFps) = StreamingMediaDedup.batchGroups(batchFps)
      val nReps = repFps.select($"id").distinct.count()
      val nIds = members.count()
      assert(nReps <= all.size.toLong && nIds == nBatch.toLong,
        s"seed $seed: expected <= ${all.size} reps over $nBatch ids, got $nReps/$nIds")
    }
  }
}
