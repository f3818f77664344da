package graft.text

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval (Robertson–Spärck Jones; the public Okapi
  * formula) — the inverted-index complement to [[TfVectors]]' hashed
  * cosine KNN: exact terms, document-frequency IDF, and the standard
  * length-normalized saturation
  * `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgLen))`.
  *
  * Scale shape (100 TB): the per-(doc, term) tf table IS the inverted
  * index — one explode + one uniform-key aggregation; the df/IDF table
  * is vocabulary-sized and BROADCASTS; queries broadcast; scoring joins
  * the query terms against the tf table on the term key. `maxDfFraction`
  * drops stopword-grade terms from both sides (same floor(count·f)
  * formula as [[TfVectors.cosineTopK]], oracle-reproducible): their IDF
  * is near zero but their join fan-out is the whole corpus — for
  * all-pairs workloads that's the quadratic trap, so pruning defaults
  * ON at 0.5.
  *
  * The index is a first-class ARTIFACT ([[Bm25.Index]]): postings +
  * unpruned df sidecar + scalar corpus stats. [[buildIndex]] makes one,
  * [[mergeIndex]] folds a new segment in (the Lucene-style segment-merge
  * shape: postings union — no shuffle if both sides are written
  * term-bucketed — plus a vocabulary-sized df outer-join and a scalar
  * add), and [[scoreTopK]] queries one. Df pruning happens at SCORE
  * time, because the cap `floor(n·f)` depends on the corpus size n,
  * which merging changes — pruning at build time would make merged
  * segments irrecoverably wrong.
  *
  * Determinism: tf/df/lengths are integer-exact; IDF and the score sum
  * are floats whose accumulation order is partition-dependent, so
  * callers rank on the ROUNDED score (ties to doc id) — the
  * q_perplexity precedent, and what [[topK]] does.
  */
object Bm25 {

  /** Inverted-index artifact.
    *
    * @param postings (doc_id, term, tf, len) — the corpus-scale table;
    *                 at scale, write it out bucketed by `term`.
    * @param dfTab    (term, df) — vocabulary-sized, UNPRUNED document
    *                 frequencies (pruning is score-time, see above).
    * @param nDocs    corpus document count.
    * @param sumLen   total token count (for avgLen).
    */
  final case class Index(postings: DataFrame, dfTab: DataFrame, nDocs: Long, sumLen: Long)

  /** Build the index for a corpus. One explode + one (doc_id, term)
    * aggregation; the doc length rides each posting row (constant per
    * doc — max() is a free map-side carry that avoids a corpus-sized
    * join at score time).
    */
  def buildIndex(corpus: DataFrame, textCol: String, idCol: String): Index = {
    val toks = corpus.select(col(idCol).as("doc_id"), T.tokenize(col(textCol)).as("toks"))
    val tf = toks
      .select(col("doc_id"), size(col("toks")).as("len"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
      .localCheckpoint(true)
    // corpus stats WITHOUT a second tokenize pass over the text: nDocs is
    // a tokenize-free count (empty docs included, matching the oracle's
    // count(*)); sumLen is Σ tf over the postings — each posting counts
    // one term's occurrences in one doc, so Σ tf = Σ doc length (empty
    // docs contribute 0 by construction), one single-stage aggregate with
    // no per-doc regroup. The postings are checkpointed because they feed
    // three consumers (stats, df, scoring) — without it the
    // tokenize+explode+agg pipeline would run thrice.
    val nDocs = corpus.count()
    val sumLen = tf.agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0)
    Index(tf, tf.groupBy(col("term")).agg(count(lit(1)).as("df")), nDocs, sumLen)
  }

  /** Merge a new segment into an existing index. Caller contract: the
    * two sides index DISJOINT doc-id sets (re-indexing an updated doc
    * means delete + add, as in any segment architecture); overlapping
    * ids would double-count df and corpus stats. Cost at scale: postings
    * union is a metadata op, the df merge is vocabulary-sized, the stats
    * add is free — nothing touches the old corpus text.
    */
  def mergeIndex(a: Index, b: Index): Index = {
    val df = a.dfTab.select(col("term"), col("df").as("df_a"))
      .join(b.dfTab.select(col("term"), col("df").as("df_b")), Seq("term"), "full_outer")
      .select(col("term"), (coalesce(col("df_a"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df"))
    Index(a.postings.unionByName(b.postings), df, a.nDocs + b.nDocs, a.sumLen + b.sumLen)
  }

  /** Top-`k` indexed docs per query doc, from an [[Index]]. A query
    * never matches itself. Output: (query_id, doc_id, score, rank) with
    * `score` rounded to 4.
    */
  def scoreTopK(index: Index, queries: DataFrame, textCol: String, idCol: String,
      k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Option[Double] = Some(0.5)): DataFrame = {
    val nDocs = index.nDocs
    require(nDocs > 0, "Bm25.scoreTopK: empty index")
    val avgLen = index.sumLen.toDouble / nDocs.toDouble
    val dfCap = maxDfFraction.map(f => math.max(1L, math.floor(nDocs * f).toLong))
    val dfTab = dfCap.fold(index.dfTab)(cap => index.dfTab.where(col("df") <= cap))
    val idf = dfTab.select(col("term"),
      log(((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) + lit(1.0)).as("idf"))
    val qTerms = queries.select(col(idCol).as("query_id"), T.tokenize(col(textCol)).as("qt"))
      .select(col("query_id"), explode(col("qt")).as("term")).distinct()
    // df-prune BEFORE the posting fan-out: `idf` already excludes
    // stopword-grade terms (df > cap), so joining it against the query
    // terms FIRST keeps those terms' corpus-sized posting lists out of
    // the (query × posting) exchange entirely. Inner joins commute —
    // results are identical — but the old order paid the full stopword
    // fan-out and only then dropped the rows: at the 500k-doc tier
    // (fixed synthetic vocabulary → every term stopword-grade) that was
    // the difference between a quadratic exchange and a no-op.
    val contrib = qTerms
      .join(broadcast(idf), Seq("term"))
      .join(index.postings, Seq("term"))
      .where(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        (col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / lit(avgLen)))).as("c"))
    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("c")), 4).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** Top-`k` corpus docs per query doc — one-shot convenience over
    * [[buildIndex]] + [[scoreTopK]].
    */
  def topK(corpus: DataFrame, queries: DataFrame, textCol: String, idCol: String,
      k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Option[Double] = Some(0.5)): DataFrame =
    scoreTopK(buildIndex(corpus, textCol, idCol), queries, textCol, idCol, k, k1, b, maxDfFraction)
}
