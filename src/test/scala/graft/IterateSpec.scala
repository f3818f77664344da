package graft

import graft.dedup.{Decontaminate, Dedup, MinHashStore, SemDedupStore}
import graft.similarity.Similarity
import graft.streaming.{StreamingAnnIndex, StreamingClean}
import graft.table.{Combine, RowId}
import graft.text.{Bm25, Bm25Store, HyperBall, HyperBallStore, LinkGraph, LinkGraphStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pin discipline of the iterative operators: after each one returns and
  * its result is collected, the only pins left are the ones the result
  * reads (the `LogicalRDD`s of its analyzed plan), and a fail-fast path
  * leaves none at all. Plus the loop driver's own contract: cadence,
  * fixed point, round-scoped pins and release on a throw; and the same
  * rule for the one-off pins of the stores and streaming twins
  * ([[Pins.scoped]]), on success and on a failed write.
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def resultPins(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  /** Run `op`, collect its result, and require every pin it added to be
    * one the result reads.
    */
  private def onlyResultPins(name: String)(op: => DataFrame): Unit = {
    val before = persisted
    val out = op
    out.collect()
    val added = persisted -- before
    assert(added.subsetOf(resultPins(out)),
      s"$name left pins its result does not read: ${added -- resultPins(out)}")
  }

  /** Plans registered in the session CacheManager (`cache()`/`persist()`);
    * its counter is `private[sql]` to Scala only, so it is read reflectively.
    */
  private def cachedPlans: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  /** Run `op`, which must throw `T`, and require that it pinned nothing
    * and left no cached plan registered.
    */
  private def noPinsAfter[T <: Throwable](name: String)(op: => Any)
      (implicit ct: scala.reflect.ClassTag[T]): Unit = {
    val before = persisted
    val cachedBefore = cachedPlans
    intercept[T](op)
    val added = persisted -- before
    assert(added.isEmpty, s"$name failed fast but left pins $added")
    assert(cachedPlans == cachedBefore,
      s"$name failed fast but left ${cachedPlans - cachedBefore} cached plans registered")
  }

  private def undirected(pairs: Seq[(Long, Long)]): DataFrame = {
    val p = pairs.toDF("src", "dst")
    p.unionAll(p.select($"dst".as("src"), $"src".as("dst")))
  }

  // two triangles bridged by a path, plus an isolated node
  private val ids = (1L to 9L).toDF("id")
  private val graph = undirected(Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 4L -> 5L,
    5L -> 6L, 6L -> 7L, 7L -> 8L, 6L -> 8L))
  private val path64 = undirected((1L until 64L).map(i => i -> (i + 1)))
  private val nodes64 = (1L to 64L).toDF("id")

  test("LinkGraph loops leave only the pins their result reads") {
    onlyResultPins("pageRank")(LinkGraph.pageRank(ids, "id", graph, iters = 10))
    onlyResultPins("pageRankPersonalized")(LinkGraph.pageRankPersonalized(ids, "id", graph,
      Seq(1L).toDF("id"), iters = 3))
    onlyResultPins("pageRankWeighted")(LinkGraph.pageRankWeighted(ids, "id",
      graph.withColumn("weight", lit(2L)), iters = 9))
    onlyResultPins("connectedComponents")(LinkGraph.connectedComponents(ids, "id", graph))
    // the prior labeling's own pin is the caller's, so it is in the baseline
    val prior = LinkGraph.connectedComponents(ids, "id", graph)
    onlyResultPins("connectedComponentsIncremental")(LinkGraph.connectedComponentsIncremental(
      ids, "id", prior, undirected(Seq(8L -> 9L))))
    onlyResultPins("kCore")(LinkGraph.kCore(ids, "id", graph, k = 2))
    onlyResultPins("labelPropagation")(LinkGraph.labelPropagation(ids, "id", graph, iters = 3))
    onlyResultPins("centrality")(LinkGraph.centrality(ids, "id", graph, maxHops = 3))
    onlyResultPins("centralityCapped")(LinkGraph.centralityCapped(ids, "id", graph,
      maxHops = 3, maxReachPerRoot = 3))
  }

  test("HyperBall, HyperBallStore and clusterRepresentatives leave only result pins") {
    onlyResultPins("neighborhoodEstimate")(
      HyperBall.neighborhoodEstimate(ids, "id", graph, maxHops = 3))
    onlyResultPins("neighborhoodFunction")(
      HyperBall.neighborhoodFunction(ids, "id", graph, maxHops = 3))
    val dir = java.nio.file.Files.createTempDirectory("iterate-hbs").toString
    // build and extend return nothing, so they must leave no pin at all
    onlyResultPins("HyperBallStore.build") {
      HyperBallStore.build(ids, "id", graph, maxHops = 2, dir, nBuckets = 2)
      HyperBallStore.neighborhoodEstimate(spark, dir, "id")
    }
    onlyResultPins("HyperBallStore.extendTo") {
      HyperBallStore.extendTo(graph, dir, newMaxHops = 4)
      HyperBallStore.neighborhoodEstimate(spark, dir, "id")
    }
    val pairs = Seq(1L -> 2L, 2L -> 3L, 5L -> 6L).toDF("id_a", "id_b")
    onlyResultPins("clusterRepresentatives")(Dedup.clusterRepresentatives(pairs))
    onlyResultPins("clusterRepresentatives at maxIters")(
      Dedup.clusterRepresentatives(pairs, maxIters = 1))
    val seeds = Seq(1L).toDF("id")
    onlyResultPins("transitiveContamination, maxHops = 0")(
      Decontaminate.transitiveContamination(pairs, seeds, maxHops = 0))
    onlyResultPins("transitiveContamination, maxHops = 2")(
      Decontaminate.transitiveContamination(pairs, seeds, maxHops = 2))
  }

  test("fail-fast paths leave no pin behind") {
    noPinsAfter[IllegalStateException]("connectedComponents maxRounds = 1")(
      LinkGraph.connectedComponents(nodes64, "id", path64, maxRounds = 1))
    noPinsAfter[IllegalStateException]("kCore maxRounds = 1")(
      LinkGraph.kCore(nodes64, "id", path64, k = 2, maxRounds = 1))
    noPinsAfter[IllegalArgumentException]("pageRank on an empty node set")(
      LinkGraph.pageRank(Seq.empty[Long].toDF("id"), "id", graph, iters = 3))
    noPinsAfter[IllegalArgumentException]("pageRankWeighted over maxSourceWeight")(
      LinkGraph.pageRankWeighted(ids, "id", graph.withColumn("weight", lit(10L)),
        iters = 3, maxSourceWeight = 5L))
    noPinsAfter[IllegalArgumentException]("centrality over maxEstimatedReach")(
      LinkGraph.centrality(ids, "id", graph, maxHops = 3, maxEstimatedReach = 10L))
    // a corpus signature table whose shset is not an array fails analysis
    // after both signature tables are persisted
    val sigs = Dedup.minHashSignatureTable(docs, "text", "doc_id", numHashes = 8)
    noPinsAfter[org.apache.spark.sql.AnalysisException]("minHashIncrementalSigs, bad shset")(
      Dedup.minHashIncrementalSigs(sigs.withColumn("shset", lit("x")), sigs, docs, "doc_id",
        numHashes = 8, bands = 4))
  }

  test("Iterate: pin cadence, fixed point, exhaustion and a throwing step") {
    val init = spark.range(10).toDF("id").withColumn("v", lit(0L))
    def inc(df: DataFrame) = df.select($"id", ($"v" + 1).as("v"))
    // pinEvery = 8 over 10 rounds pins rounds 8 and 10; only the last survives
    val before = persisted
    val out = Iterate(init, maxRounds = 10, pinEvery = 8)(r => inc(r.state))
    assert(out.agg(min($"v"), max($"v")).head() == org.apache.spark.sql.Row(10L, 10L))
    assert(persisted -- before == resultPins(out))
    assert(resultPins(out).size == 1)
    Pins.release(out)
    // a step returning its own state ends the loop without a pin; the
    // round's scoped pins are released
    var rounds = 0
    val fixed = Iterate(init.localCheckpoint(true), maxRounds = 5) { r =>
      rounds += 1
      r.pin(inc(r.state))
      if (rounds == 3) r.state else inc(r.state)
    }
    assert(rounds == 3 && fixed.agg(max($"v")).head().getLong(0) == 2L)
    assert(persisted -- before == resultPins(fixed))
    Pins.release(fixed)
    // exhaustion with a message throws and releases everything
    noPinsAfter[IllegalStateException]("exhausted")(
      Iterate(init.localCheckpoint(true), maxRounds = 3, exhausted = Some("no fixpoint")) { r =>
        r.pin(inc(r.state)); inc(r.state)
      })
    // a throwing `done` hook and a throwing step release every pin held
    noPinsAfter[ArithmeticException]("throwing done")(
      Iterate(init.localCheckpoint(true), maxRounds = 5,
        done = (_, i) => if (i == 2) throw new ArithmeticException("done") else false)(
        r => inc(r.state)))
    rounds = 0
    noPinsAfter[ArithmeticException]("throwing step")(
      Iterate(init.localCheckpoint(true), maxRounds = 5) { r =>
        rounds += 1
        r.pin(inc(r.state))
        if (rounds == 2) throw new ArithmeticException("step")
        inc(r.state)
      })
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val docs = Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "x y z w v"))
    .toDF("doc_id", "text")
  private val moreDocs = Seq((4L, "a b c d e"), (5L, "q r s t u")).toDF("doc_id", "text")
  private def vecs(from: Long, until: Long): DataFrame = (from until until)
    .map(i => (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat - 5f)))
    .toDF("id", "vec")

  test("stores that return Unit leave no pin") {
    // nothing is returned, so nothing may stay pinned
    def noPins(name: String)(op: => Unit): Unit =
      onlyResultPins(name) { op; spark.emptyDataFrame }
    val lg = tmp("iterate-lgs")
    noPins("LinkGraphStore.build")(
      LinkGraphStore.build(docs, "doc_id", "text", w = 2, maxDf = 4, lg, nBuckets = 2))
    noPins("LinkGraphStore.append")(LinkGraphStore.append(moreDocs, "doc_id", "text", lg))
    val mh = tmp("iterate-mhs")
    noPins("MinHashStore.build")(MinHashStore.build(docs, "text", "doc_id", mh,
      numHashes = 8, bands = 4, nBuckets = 2))
    noPins("MinHashStore.append")(MinHashStore.append(moreDocs, "text", "doc_id", mh))
    val sd = tmp("iterate-sds")
    noPins("SemDedupStore.build")(SemDedupStore.build(vecs(0, 12), "id", "vec", sd, k = 2,
      nBuckets = 2))
    noPins("SemDedupStore.append")(SemDedupStore.append(vecs(12, 16), "id", "vec", sd))
    val bm = tmp("iterate-bm25")
    noPins("Bm25Store.build")(Bm25Store.build(docs, "text", "doc_id", bm, nBuckets = 2))
    // the segment's own pin is the caller's (a returned lazy index)
    val seg = Bm25.buildIndex(moreDocs, "text", "doc_id")
    noPins("Bm25Store.append")(Bm25Store.append(seg, bm, segmentId = 1L))
    Pins.release(seg.postings)
    noPins("Similarity.saveIvfIndexRefined")(Similarity.saveIvfIndexRefined(vecs(0, 20),
      tmp("iterate-ivf"), "vec", "id", nlist = 4))
  }

  test("a failed write or append guard leaves no pin") {
    val file = java.io.File.createTempFile("iterate-file", ".txt").getPath
    noPinsAfter[Exception]("StreamingClean.applyBatch, outDir under a regular file")(
      StreamingClean.applyBatch(docs, 0L, "text", "doc_id", Seq("zz"), maxHits = 0,
        s"$file/out"))
    val ann = tmp("iterate-ann")
    StreamingAnnIndex.initialize(vecs(0, 20), "vec", "id", nlist = 4, ann)
    noPinsAfter[Exception]("StreamingAnnIndex.applyBatch, statsDir under a regular file")(
      StreamingAnnIndex.applyBatch(vecs(20, 24), 0L, "vec", "id", ann, s"$file/stats"))
    // the centroids are ids 0..3, so ids from 2 up break the append contract
    val ivf = tmp("iterate-ivf-append")
    Similarity.saveIvfIndexAppendable(Similarity.ivfBuild(vecs(0, 20), "vec", "id", 4),
      ivf, "vec", "id", 4)
    noPinsAfter[IllegalArgumentException]("appendToIvfIndex, ids at the centroid cells")(
      Similarity.appendToIvfIndex(vecs(2, 6), "vec", "id", ivf))
  }

  test("an existing pin is not pinned again: BM25 segment writes, positional append") {
    val index = Bm25.buildIndex(docs, "text", "doc_id")
    assert(Pins.isPinned(index.postings))
    // a pin shows up as a persisted RDD in the stages of the job that makes
    // it, and the segment write releases its own pins before it returns
    val pinnedBefore = persisted
    val made = jobsStarted(Bm25Store.save(index, tmp("iterate-bm25-pinned"), nBuckets = 2))
      .flatMap(_.stageInfos).flatMap(_.rddInfos).filter(_.storageLevel.isValid).map(_.id)
      .toSet -- pinnedBefore
    assert(made.isEmpty, s"writing the segment pinned the postings again: $made")
    Pins.release(index.postings)
    // a row index over a shuffled frame pins it once; zipping that result
    // with a projection of itself reads the same pin and makes none
    val ix = RowId.withRowIndex(spark.range(0, 40, 1, 4).toDF("v").repartition(3), "ri")
    val before = persisted
    val zipped = Combine.appendByPosition(ix, ix.select($"v".as("w")))
    assert(zipped.where($"v" =!= $"w").isEmpty && zipped.count() == 40)
    assert((persisted -- before).isEmpty, s"appendByPosition pinned ${persisted -- before}")
    resultPins(ix).foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }
}
