package graft.text

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction — the tokenizer-training step
  * of an LLM data pipeline, distributed the way BPE actually scales:
  * corpus text is scanned ONCE into a word-frequency dictionary (the
  * classic Sennrich formulation trains on word types × counts, not the
  * token stream), and every merge round then runs over that dictionary
  * alone — at 100 TB the dict is ~10⁷ rows regardless of corpus size, so
  * K merge rounds cost K small shuffles with map-side combine, never K
  * corpus passes.
  *
  * Determinism: the best pair each round is (max weighted count, then
  * lexicographically smallest pair) — a total order, so the merge
  * sequence is a pure function of the corpus. Words are represented as
  * DOUBLE-space-joined symbol strings with single-space bounds
  * (" t  h  e "), and a merge is a left-to-right non-overlapping string
  * replace of " l  r " with " lr ". The doubled separator is what makes
  * one replace pass equal greedy BPE: the pattern keeps a SINGLE space
  * on each side, so a match consumes only one space of each doubled
  * boundary and the next adjacent occurrence still starts with its own
  * space (" a  b  a  b " → " ab  ab " in one pass — a single-space
  * representation under-merges here because consecutive matches share
  * the delimiter). Replace semantics are shared bit-for-bit by Spark's
  * `replace` and DuckDB's `replace`, which makes the whole trainer
  * SQL-oracle-checkable (q_bpe_train / q_bpe_segment).
  */
object Bpe {

  /** One learned merge: step (1-based), the pair ("l r"), its
    * concatenation, and the weighted adjacency count that won the round.
    */
  final case class Merge(step: Int, pair: String, merged: String, count: Long)

  /** The word-frequency dictionary with each word as a spaced symbol
    * string — the ONLY pass over corpus text.
    */
  private def wordDict(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(T.tokenize(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(
        col("w"),
        concat(lit(" "), array_join(array_remove(split(col("w"), ""), ""), "  "), lit(" ")).as("s"),
        col("cnt"))

  /** Adjacent symbol pairs of a spaced word, as "l r" strings — total
    * (single-symbol words yield an empty array, not a descending
    * sequence).
    */
  private def pairsOf(s: Column): Column = {
    val toks = split(trim(s), "  ")
    zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))
  }

  /** Train `merges` BPE rounds; returns the merge table in step order.
    * Stops early (shorter result) if the corpus runs out of pairs.
    * Driver-side cost: one 1-row collect per round.
    */
  def train(docs: DataFrame, textCol: Column, merges: Int): Seq[Merge] = graft.Pins.scoped { scope =>
    require(merges >= 1, s"merges must be >= 1, got $merges")
    // pin the dict: each round's collect re-executes lineage, which must
    // not re-scan the corpus. The pin is released after the loop — the
    // result is a driver-side Seq, nothing lazy survives it
    var words = scope.pin(wordDict(docs, textCol))
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val top = words
        .select(col("cnt"), explode(pairsOf(col("s"))).as("p"))
        .groupBy("p").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("p").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val c = top(0).getLong(1)
        val merged = pair.replace(" ", "")
        out += Merge(step, pair, merged, c)
        // pair is stored single-spaced ("l r"); the search string doubles
        // the internal separator to match the word representation
        words = words.withColumn("s",
          call_function("replace", col("s"),
            lit(" " + pair.replace(" ", "  ") + " "), lit(s" $merged ")))
        step += 1
      }
    }
    out.toSeq
  }

  /** The merge table as a DataFrame (step, pair, merged, cnt). */
  def trainTable(docs: DataFrame, textCol: Column, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, merges).toDF("step", "pair", "merged", "cnt")
  }

  /** Per-document subword counts under a learned merge sequence: tokens
    * join the (broadcast) segmented dictionary — corpus text is scanned
    * once, the merge applications run over the dict only.
    * Output: (idCol, n_tokens, n_subwords).
    */
  def segment(docs: DataFrame, idCol: String, textCol: Column, merges: Seq[Merge]): DataFrame = {
    val dict = merges
      .foldLeft(wordDict(docs, textCol)) { (d, m) =>
        d.withColumn("s",
          call_function("replace", col("s"),
            lit(" " + m.pair.replace(" ", "  ") + " "), lit(s" ${m.merged} ")))
      }
      .select(col("w"), size(split(trim(col("s")), "  ")).as("n_sub"))
    docs.select(col(idCol), explode(T.tokenize(textCol)).as("w"))
      .join(broadcast(dict), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_subwords"))
  }
}
