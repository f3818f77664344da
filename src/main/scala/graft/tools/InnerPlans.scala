package graft.tools

import graft.GraftSession
import graft.text.{HyperBall, LinkGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Dev tool (optimization rounds): the declared iterative queries pin
  * every round with localCheckpoint, so their `.explain` shows only the
  * final readout over an ExistingRDD. This probe explains the INNER
  * shapes the loops execute — the edge build and one loop round — which
  * is where the per-iteration Exchange counts live. The round bodies are
  * the operators' own (`LinkGraph.pageRankStep`, `LinkGraph.largeStar`,
  * `HyperBall.registerRound`), so a dump cannot drift from the shipped
  * loop.
  *
  * usage: InnerPlans <outDir> <suffix>
  */
object InnerPlans {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix) = args.take(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    def dump(name: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      // formatted explain draws nodes as "+- Exchange (9)" and details
      // them as "(9) Exchange", so count mentions, the plans/ convention
      val nEx = txt.linesIterator.count(_.contains("Exchange"))
      System.err.println(s"[innerplans] $name -> ${name}_$suffix.txt ($nEx Exchange mentions)")
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // 1. the shared-span edge build (feeds ~15 graph lanes)
    val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
    dump("inner_sharedSpanEdges", edges)

    // 2. one pageRank iteration body, LinkGraph.pageRankStep itself (the
    //    iterations chain with no per-iteration checkpoint, so the body
    //    below is what each chained step adds)
    val ewd = LinkGraph.degreeEdges(edges).cache()
    val ids = docs.select(col("doc_id").as("id"))
    def prStep(ranks: DataFrame) = LinkGraph.pageRankStep(ranks, ids, ewd, "r div __deg",
      teleport = 7L, dampNum = 85, dampDen = 100)
    dump("inner_pagerank_round",
      prStep(ids.withColumn("r", lit(1000000L)).localCheckpoint(true)))
    // 2b. three chained iterations — the whole-loop plan the declared
    //     3-iter lanes execute as ONE job
    dump("inner_pagerank_chained3",
      (1 to 3).foldLeft(ids.withColumn("r", lit(1000000L)))((r, _) => prStep(r)))
    ewd.unpersist()

    // 3. one connected-components largeStar pass over the canonicalized
    //    edge set
    dump("inner_components_largestar",
      LinkGraph.largeStar(LinkGraph.canonicalEdges(edges).localCheckpoint(true)))

    // 4. one HyperBall round (register pull + max-merge)
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val regs0 = ids.select(col("id"), HyperBall.initRegisters(col("id")).as("reg"))
      .localCheckpoint(true)
    dump("inner_hyperball_round", HyperBall.registerRound(e, regs0))

    spark.stop()
  }
}
