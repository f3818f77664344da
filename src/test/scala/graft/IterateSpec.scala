package graft

import graft.dedup.Dedup
import graft.text.{HyperBall, HyperBallStore, LinkGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pin discipline of the iterative operators: after each one returns and
  * its result is collected, the only pins left are the ones the result
  * reads (the `LogicalRDD`s of its analyzed plan), and a fail-fast path
  * leaves none at all. Plus the loop driver's own contract: cadence,
  * fixed point, round-scoped pins and release on a throw.
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

  /** Run `op`, which must throw `T`, and require that it pinned nothing. */
  private def noPinsAfter[T <: Throwable](name: String)(op: => Any)
      (implicit ct: scala.reflect.ClassTag[T]): Unit = {
    val before = persisted
    intercept[T](op)
    val added = persisted -- before
    assert(added.isEmpty, s"$name failed fast but left pins $added")
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
}
