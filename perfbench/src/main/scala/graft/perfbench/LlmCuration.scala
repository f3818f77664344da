package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{CurationPipeline, Dedup}
import graft.similarity.Similarity
import graft.text.{Bm25, LinkGraph}

/** llm_curation: the LLM data pipeline. Each cycle runs curation with
  * exact and near dedup, a BM25 index build with 100 queries, an IVF
  * build with 100 queries, connected components and PageRank, over
  * generated inputs with planted duplicates, clusters and components.
  */
final class LlmCuration(ctx: Ctx, docs: Int, vectors: Int, nodes: Int, edges: Int) extends Workload {
  import LlmCuration._
  val name = "llm_curation"
  val nominalCycleSeconds = 14.0
  private def spark = ctx.spark
  private def tr = ctx.tracer
  private val seed = ctx.seed
  private var dirs = Map.empty[String, String]
  private var corpus: Gen.Corpus = _
  private var vecs: Seq[(Long, Array[Double])] = Nil
  private var queryVecs: Seq[(Long, Array[Double])] = Nil
  private var component: Array[Int] = Array.empty

  def setup(dir: File): Unit = {
    def at(t: String) = new File(dir, t).getPath
    corpus = Gen.corpus(docs, seed)
    val (v, q) = Gen.embeddings(vectors, Dim, Clusters, QueryPool, seed)
    vecs = v; queryVecs = q
    val (e, comp) = Gen.graph(nodes, edges, seed)
    component = comp
    val docSchema = StructType(Seq(StructField("id", LongType, false), StructField("text", StringType)))
    val vecSchema = StructType(Seq(StructField("id", LongType, false), StructField("vec", ArrayType(DoubleType, false))))
    Gen.writeParquet(Gen.frame(spark, corpus.ids.indices.map(i => Row(corpus.ids(i), corpus.texts(i))),
      docSchema, Partitions), at("docs"))
    Gen.writeParquet(Gen.frame(spark, v.map { case (i, x) => Row(i, x.toSeq) }, vecSchema, Partitions), at("vectors"))
    Gen.writeParquet(Gen.frame(spark, q.map { case (i, x) => Row(i, x.toSeq) }, vecSchema, 1), at("query_vectors"))
    Gen.writeParquet(Gen.frame(spark, e.toSeq.map { case (s, d) => Row(s, d) },
      StructType(Seq(StructField("src", LongType, false), StructField("dst", LongType, false))), Partitions), at("edges"))
    Gen.writeParquet(spark.range(0, nodes, 1, Partitions).toDF("id"), at("nodes"))
    dirs = Seq("docs", "vectors", "query_vectors", "edges", "nodes").map(t => t -> at(t)).toMap
  }

  /** The inputs an op reads: the full set, or a quarter of it for warm-up. */
  private final class In(val docs: DataFrame, val vecs: DataFrame, val edges: DataFrame, val nodes: DataFrame)
  private var full: In = _
  private var small: In = _
  private var docsDf: DataFrame = _
  private var vecDf: DataFrame = _
  private var edgesDf: DataFrame = _
  private var nodesDf: DataFrame = _
  private var bm25Queries = IndexedSeq.empty[(DataFrame, Map[Long, Long])]
  private var annQueries = IndexedSeq.empty[(DataFrame, Seq[Long])]
  private var annTruth = Map.empty[Long, Set[Long]]
  private var ivfRef = Map.empty[Long, Seq[Long]]
  private var recall = 0.0
  /** The first PageRank result; every later run must reproduce it. */
  private var pageRankRef: Option[(Long, Long)] = None
  private var inputBytes = 0L

  def prepare(dir: File): Unit = {
    docsDf = spark.read.parquet(dirs("docs"))
    vecDf = spark.read.parquet(dirs("vectors"))
    edgesDf = spark.read.parquet(dirs("edges"))
    nodesDf = spark.read.parquet(dirs("nodes"))
    full = new In(docsDf, vecDf, edgesDf, nodesDf)
    val q = nodes / 4
    small = new In(docsDf.where(col("id") < docs / 4), vecDf.where(col("id") < vectors / 4),
      edgesDf.where(col("src") < q && col("dst") < q), nodesDf.where(col("id") < q))
    inputBytes = dirs.values.map(Gen.bytesOnDisk).sum
    val rnd = new java.util.SplittableRandom(seed ^ 0xb325L)
    val loners = corpus.loners
    // each query is six content words of one document that nothing duplicates
    val stop = Gen.Stopwords.toSet
    val pool = (0 until QueryPool).map { i =>
      val d = loners(rnd.nextInt(loners.length))
      val w = corpus.texts(d).split(' ').filterNot(stop).distinct
      val picked = VirtualTable.shuffle(w.indices, rnd).take(6).sorted.map(w(_))
      (1000000000L + i, picked.mkString(" "), corpus.ids(d))
    }
    val textSchema = StructType(Seq(StructField("id", LongType, false), StructField("text", StringType)))
    val vecSchema = StructType(Seq(StructField("id", LongType, false), StructField("vec", ArrayType(DoubleType, false))))
    bm25Queries = pool.grouped(QueriesPerOp).map { g =>
      (Gen.frame(spark, g.map(x => Row(x._1, x._2)), textSchema, 1), g.map(x => x._1 -> x._3).toMap)
    }.toIndexedSeq
    annQueries = queryVecs.grouped(QueriesPerOp).map { g =>
      (Gen.frame(spark, g.map { case (i, x) => Row(i, x.toSeq) }, vecSchema, 1), g.map(_._1))
    }.toIndexedSeq
    val allQueries = spark.read.parquet(dirs("query_vectors"))
    annTruth = topK(Similarity.bruteForceTopK(vecDf, allQueries, "vec", "id", K)).map { case (q, ns) => q -> ns.toSet }
    ivfRef = topK(Similarity.ivfTopK(Similarity.ivfBuild(vecDf, "vec", "id", NList), allQueries, "vec", "id", K, NList, NProbe))
    recall = recallOf(ivfRef)
  }

  private def topK(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("query_id", "neighbor_id", "rank").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }

  private def recallOf(got: Map[Long, Seq[Long]]): Double = {
    val hits = annTruth.map { case (q, truth) => got.getOrElse(q, Nil).count(truth.contains) }.sum
    hits.toDouble / annTruth.values.map(_.size).sum
  }

  def summary: Seq[(String, String)] = Seq(
    "docs" -> docs.toString,
    "planted_exact_copy_share" -> f"${corpus.exactCopies.toDouble / docs}%.3f",
    "planted_near_variant_share" -> f"${corpus.nearVariants.toDouble / docs}%.3f",
    "planted_duplicate_groups" -> corpus.groups.toString,
    "vectors" -> s"$vectors x $Dim in $Clusters planted clusters",
    "graph" -> s"$nodes nodes, $edges edges, ${component.max + 1} planted components",
    "input_parquet_bytes" -> inputBytes.toString,
    "ann_recall_at_10" -> f"$recall%.4f")

  def cycle(c: Int): Seq[Op] = {
    val k = c + (seed.toInt & 0x7fffffff)
    Seq(curate(full), bm25(k % bm25Queries.length, full), ann(k % annQueries.length, full),
      components(full), pageRank(full))
  }

  /** The cycle on a quarter of the inputs, unchecked: it warms the JIT and
    * the generated code for every op at a fraction of a cycle's cost.
    */
  override def warmup: Seq[Op] =
    Seq(curate(small), bm25(0, small), ann(0, small), components(small), pageRank(small))

  private def curate(in: In): Op = Op("curate", docs, () => {
    val got = tr.span("dedup.curate") {
      val r = CurationPipeline.run(in.docs, "text", "id")
      ctx.collect(r.survivors.select(col("id"), xxhash64(col("id"), col("text"))))
    }
    () => {
      val survivors = got.map(_.getLong(0))
      val index = corpus.ids.zipWithIndex.toMap
      val groups = corpus.group
      val kept = survivors.map(index).groupBy(groups).map { case (g, xs) => g -> xs.length }
      Loop.expect("unique docs kept", kept.getOrElse(-1, 0), groups.count(_ < 0))
      val bad = (0 until corpus.groups).filter(g => kept.getOrElse(g, 0) != 1)
      if (bad.nonEmpty) throw new IllegalStateException(
        s"${bad.length} planted duplicate groups do not keep exactly one survivor, e.g. group ${bad.head} keeps ${kept.getOrElse(bad.head, 0)}")
    }
  })

  private def bm25(i: Int, in: In): Op = Op("bm25", docs, () => {
    val (queries, expected) = bm25Queries(i)
    val index = tr.span("text.bm25_build")(Bm25.buildIndex(in.docs, "text", "id"))
    val got = tr.span("text.bm25_query")(ctx.collect(Bm25.scoreTopK(index, queries, "text", "id", k = K)))
    () => {
      val top = got.filter(_.getAs[Int]("rank") == 1).map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id")).toMap
      val wrong = expected.filter { case (q, d) => !top.get(q).contains(d) }
      if (wrong.nonEmpty) throw new IllegalStateException(
        s"${wrong.size} of ${expected.size} BM25 queries do not rank their source document first")
    }
  })

  private def ann(i: Int, in: In): Op = Op("ann", vectors, () => {
    val (queries, ids) = annQueries(i)
    val indexed = tr.span("similarity.ivf_build")(Similarity.ivfBuild(in.vecs, "vec", "id", NList).localCheckpoint())
    val got = tr.span("similarity.ivf_query")(
      ctx.collect(Similarity.ivfTopK(indexed, queries, "vec", "id", K, NList, NProbe)))
    graft.Pins.release(indexed)
    () => {
      val res = got.groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq }
      ids.foreach(q => Loop.expect(s"IVF top-$K of query $q", res.getOrElse(q, Nil), ivfRef(q)))
    }
  })

  private def components(in: In): Op = Op("components", edges, () => {
    val got = tr.span("text.components")(
      ctx.collect(LinkGraph.connectedComponents(in.nodes, "id", in.edges).select("id", "rep", "component_size")))
    () => {
      Loop.expect("labelled nodes", got.length, nodes)
      val planted = component.groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
      got.foreach { r =>
        val n = r.getLong(0).toInt
        if (r.getLong(2) != planted(component(n))) throw new IllegalStateException(
          s"node $n: component size ${r.getLong(2)}, planted ${planted(component(n))}")
      }
      val repsPerComponent = got.groupBy(r => component(r.getLong(0).toInt)).map(_._2.map(_.getLong(1)).distinct.length)
      Loop.expect("components with one representative", repsPerComponent.count(_ == 1), planted.size)
      Loop.expect("distinct representatives", got.map(_.getLong(1)).distinct.length, planted.size)
    }
  })

  private def pageRank(in: In): Op = Op("pagerank", edges, () => {
    val got = tr.span("text.pagerank")(
      ctx.collect(LinkGraph.pageRank(in.nodes, "id", in.edges, PageRankIters).select("id", "rank_fp", "score")))
    () => {
      Loop.expect("ranked nodes", got.length, nodes)
      val mass = got.map(_.getDouble(2)).sum
      if (!(mass > 0.5 && mass <= 1.0 + 1e-9)) throw new IllegalStateException(s"total rank $mass outside (0.5, 1]")
      val digest = ContentHash.combine(Seq(ContentHash.fold(got.iterator.map(r => r.getLong(0) * 31 + r.getLong(1)),
        ordered = false)), ordered = false)
      if (pageRankRef.isEmpty) pageRankRef = Some(digest)
      Loop.expect("pagerank result (same as the first run)", digest, pageRankRef.get)
    }
  })

  override def extraMetrics(results: Seq[OpResult]): Seq[(String, Double, String)] =
    Seq(("ann_recall_at_10", recall, "ratio"))

  override def layerCounts(): Seq[(String, Double)] = {
    val deduped = Dedup.exact(docsDf, "text", "id")
    val candidates = Dedup.minHashCandidatePairs(deduped, "text", "id").count().toDouble
    val verified = Dedup.minHashPairs(deduped, "text", "id", threshold = 0.7).count().toDouble
    Seq("dedup.candidate_pairs" -> candidates, "dedup.verified_pairs" -> verified,
      "dedup.verified_frac" -> (if (candidates > 0) verified / candidates else 0.0))
  }
}

object LlmCuration {
  val Partitions = 8
  val Dim = 64
  val Clusters = 200
  val QueryPool = 200
  val QueriesPerOp = 100
  val K = 10
  val NList = 64
  val NProbe = 8
  val PageRankIters = 5
}
