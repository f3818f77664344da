package graft.dedup

import graft.functions.{HashFunctions => H, TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * shuffle-consciously for 100 TB:
  *
  *  - exact: one hash aggregation on a content fingerprint (map-side
  *    partial combine; the only shuffle key is the fingerprint — uniform by
  *    construction, no skew).
  *  - MinHash+LSH near-dup: shingle hashes AND the k-lane signature are
  *    computed per ROW by fused native expressions
  *    (graft.expressions.ShingleHashes / MinHashSig — one primitive JVM
  *    pass per document, no interpreted higher-order functions, no
  *    explode, no aggregate shuffle). The only wide stages left are the
  *    LSH bucket join and verification — irreducible at any scale. The
  *    shuffle carries (id, band, bucket) triples and per-doc hash sets,
  *    never document text.
  *  - candidate generation posexplodes b band-bucket hashes per doc
  *    (b≈16 ⇒ 16× row amplification of (id, key64) pairs only), buckets
  *    join on (band,bucket) — uniform 64-bit keys; verification re-checks
  *    candidates with exact Jaccard over the per-doc shingle-hash sets.
  *  - SimHash: per-row 64-bit fingerprint (fused token-hash + sign-vote
  *    expression), banded bucketing, Hamming verification.
  *  - embedding near-dup: random-hyperplane LSH buckets, cosine
  *    verification.
  *
  * Cluster representative assignment uses iterated min-label propagation
  * over the candidate-pair graph (the standard distributed connected-
  * components loop; each iteration is one join+agg over (id,id) pairs,
  * converging in O(cluster diameter) ≤ `maxIters`).
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical normalized content.
    * Returns the survivors (all original columns). ONE scan and ONE
    * uniform-key shuffle: `min_by` keeps the lowest-id full row per
    * fingerprint, and the map-side partial aggregation collapses
    * within-partition duplicates before the exchange — so the shuffle
    * carries at most one row per (partition, fingerprint), strictly less
    * than the corpus when duplicates exist. (The agg + semi-join-back
    * alternative scans the corpus twice and shuffles it twice.)
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cols = docs.columns.toSeq
    // null-text rows have no content to be duplicates OF — they all pass
    // through (grouping them would collapse every null row into one
    // arbitrary survivor; the incremental path's anti-join never matches
    // null fingerprints either, so the two surfaces now agree)
    val deduped = docs
      .where(col(textCol).isNotNull)
      .groupBy(T.fingerprint(col(textCol)).as("__fp"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(col("__row.*"))
    deduped.unionByName(docs.where(col(textCol).isNull))
  }

  /** (id, sig, shset) per document, all narrow: the fused shingle-hash
    * expression runs once per row (shset = distinct shingle hashes for
    * exact-Jaccard verification), and the k-lane signature is a per-row
    * pass over that array. The two-step projection keeps the expensive
    * shingle expression evaluated ONCE (CollapseProject does not inline
    * non-cheap expressions referenced twice).
    */
  private def minHashSignatures(docs: DataFrame, idCol: String, shingleHashExpr: Column, k: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), shingleHashExpr.as("shset"))
      .select(col("id"), H.minHashSigFromHashes(col("shset"), k).as("sig"), col("shset"))

  // shared kernels — one implementation for batch/simhash/embedding paths
  // (HashFunctions.bandKeys64 also owns the width=64 mask-wrap guard)
  private def bandKeys(fp: Column, bands: Int, width: Int): Column = H.bandKeys64(fp, bands, width)
  private def jaccardSets(a: Column, b: Column): Column = H.jaccard(a, b)

  /** Shared LSH-banding candidate pipeline over MinHash signatures. */
  private def lshVerifiedPairs(
      preparedIn: DataFrame, // (id, sig, shset)
      bands: Int,
      rows: Int,
      threshold: Double
  ): DataFrame = {
    // The signature table feeds three consumers (both self-join sides and
    // the verification join); persist it so the scan+explode+aggregate
    // pipeline runs once. MEMORY_AND_DISK: at 100 TB this is the artifact
    // you would checkpoint to the store — it is ~100 bytes/doc (signature
    // + hash set), orders of magnitude smaller than the corpus.
    // Materialize the (tiny) verified-pair set so the signature cache can be
    // released on return or throw — otherwise every dedup call leaks a
    // MEMORY_AND_DISK entry for the session lifetime. localCheckpoint blocks
    // are reclaimed by the ContextCleaner once the result is unreferenced.
    graft.Pins.scoped { scope =>
      val prepared = scope.adopt(
        preparedIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      lshVerifiedPairsPlan(prepared, bands, rows, threshold).localCheckpoint(true)
    }
  }

  /** The un-pinned pair plan behind [[lshVerifiedPairs]] — split out so
    * [[graft.tools.PlanCheck]] can assert the collapse/join shapes that
    * the production path's localCheckpoint hides from the executed plan.
    */
  private[graft] def lshVerifiedPairsPlan(
      prepared: DataFrame, // (id, sig, shset)
      bands: Int,
      rows: Int,
      threshold: Double
  ): DataFrame = {
    // docs with EMPTY shingle sets never band: their sentinel signatures
    // are all identical, so banding them would funnel every such doc into
    // one hot bucket (candidate blowup) for pairs whose true Jaccard is 0
    //
    // SET-GROUP COLLAPSE — the giant-duplicate-cluster guard. A corpus
    // with one text repeated m times (boilerplate pages — the common case
    // at web scale, and the sf1skew stress input) puts all m docs in
    // every band bucket: the clique join is O(m²·bands), 160× measured
    // blowup at m = 10k. Docs with IDENTICAL shingle SETS collapse to
    // their min-id representative: within a group, emit the (rep, member)
    // STAR — O(m) pairs, each still exact-Jaccard-verified (identical
    // set → J = 1.0, so star edges always survive) — and only
    // representatives enter the band self-join. The pair set is a
    // CONNECTIVITY CERTIFICATE: same connected components as the full
    // clique (every consumer — survivors, cluster reps, contamination
    // BFS — consumes components, not cliques), linear in duplicate count.
    //
    // The group key is xxhash64 over the SORTED shingle-hash set — the
    // exact set identity (up to the engine-wide 64-bit-hash caveat), NOT
    // the MinHash signature: a superset-by-one doc keeps an identical
    // 64-lane signature with probability (n/(n+1))^64 ≈ 0.5 at n = 100,
    // so signature grouping would routinely fold near-identical-but-
    // distinct sets together and lose threshold-straddling (x, member)
    // pairs that verify while (x, rep) fails. The 8-byte set key also
    // shuffles 64× less than the 512-byte signature it replaced.
    val nonEmpty = prepared.where(size(col("shset")) > 0)
      .withColumn("__sk", xxhash64(array_sort(col("shset"))))
    val reps = nonEmpty.groupBy(col("__sk")).agg(min(col("id")).as("rep"))
    val withRep = nonEmpty.join(reps, Seq("__sk"))
    val starCand = withRep.where(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b")) // rep = group min, so id_a < id_b
    val keyed = withRep
      .where(col("id") === col("rep"))
      .select(col("id"), posexplode(H.bandHashes(col("sig"), bands, rows)).as(Seq("band", "bucket")))
    val crossCand = keyed.as("a")
      .join(keyed.as("b"), Seq("band", "bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand = starCand.unionAll(crossCand).distinct()
    val sh = prepared.select(col("id"), col("shset"))
    cand
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("shset", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("shset", "sh_b"), "id_b")
      .withColumn("__j", jaccardSets(col("sh_a"), col("sh_b")))
      // threshold on the UNROUNDED value (matches minHashIncremental —
      // rounding first let 0.6999996-pairs sneak past a 0.7 threshold);
      // round only the reported column
      .where(col("__j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__j"), 6).as("jaccard_sim"))
  }

  /** Plan-audit twin of [[minHashPairs]]: same pipeline, no persist or
    * checkpoint pin, so the full shape is visible to plan assertions.
    */
  private[graft] def minHashPairsPlan(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7
  ): DataFrame =
    lshVerifiedPairsPlan(
      minHashSignatures(docs, idCol, T.shingleHashes(col(textCol), shingleSize), numHashes),
      bands, numHashes / bands, threshold)

  /** Near-duplicate pairs (id_a < id_b) via word-shingle MinHash + LSH
    * banding, verified with exact shingle-set Jaccard ≥ threshold.
    * Identical-shingle-set groups are collapsed to min-id representatives
    * (star pairs within, banding between — see [[lshVerifiedPairs]]), so
    * the output is a connectivity certificate of the near-dup graph:
    * identical connected components to the full clique set (up to 64-bit
    * hash collision, the engine-wide shingle-identity caveat), linear
    * (not quadratic) in duplicate-cluster size.
    */
  def minHashPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7
  ): DataFrame = {
    require(numHashes % bands == 0)
    lshVerifiedPairs(
      minHashSignatures(docs, idCol, T.shingleHashes(col(textCol), shingleSize), numHashes),
      bands, numHashes / bands, threshold)
  }

  /** ALL banded candidate pairs with their exact shingle-set Jaccard —
    * [[minHashPairs]] without the verification threshold (a threshold of
    * 0 keeps every candidate, since set Jaccard is never negative).
    * This is the banding's raw output, the input to precision analysis:
    * candidates that fail verification are the wasted verification work
    * a (numHashes, bands) choice costs.
    */
  def minHashCandidatePairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    require(numHashes % bands == 0)
    lshVerifiedPairs(
      minHashSignatures(docs, idCol, T.shingleHashes(col(textCol), shingleSize), numHashes),
      bands, numHashes / bands, threshold = 0.0)
  }

  /** Character-n-gram Jaccard near-dup pairs (same MinHash machinery over
    * char shingles).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5
  ): DataFrame = {
    require(numHashes % bands == 0)
    lshVerifiedPairs(
      minHashSignatures(docs, idCol, T.charShingleHashes(col(textCol), n), numHashes),
      bands, numHashes / bands, threshold)
  }

  /** 64-bit SimHash fingerprints, fully per-row (fused token-hash + vote
    * expressions — no explode, no aggregate). Output: (id, fp).
    */
  def simHashFingerprints(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      H.simHashFromHashes(T.tokenHashes(col(textCol))).as("fp"))

  /** SimHash near-dup pairs within a Hamming radius. Identical
    * fingerprints collapse to their min-id representative before banding
    * (the [[lshVerifiedPairsPlan]] giant-cluster guard — an identical fp
    * is exactly an identical band-key set): members pair with their rep
    * at Hamming 0, representatives band against each other. Connected
    * components match the full clique set at O(cluster) cost.
    *
    * Recall is exact when `maxHamming < bands` (pigeonhole: some band is
    * untouched). Keep bands TIGHT to that bound: band width is 64/bands
    * bits and a random-fp pair collides in a band with probability
    * 2^-(64/bands) — the quadratic term at corpus scale. `bands <= 0`
    * (the default) derives the tightest compliant banding — the smallest
    * divisor of 64 exceeding `maxHamming` — so any maxHamming works
    * without the caller knowing the pigeonhole rule (maxHamming=3 → 4
    * bands, the classic 16-bit-bucket setting; maxHamming=6 → 8). An
    * EXPLICIT bands still `require`s `maxHamming < bands`: silently
    * widening a stated banding would change its collision cost behind
    * the caller's back.
    */
  def simHashPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      bands: Int = 0
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming ($maxHamming) out of [0, 64)")
    val b =
      if (bands > 0) bands
      else Seq(1, 2, 4, 8, 16, 32, 64).find(_ > maxHamming).get
    require(maxHamming < b, s"maxHamming ($maxHamming) must be < bands ($b) for full recall")
    val fp = simHashFingerprints(docs, textCol, idCol)
    val reps = fp.groupBy(col("fp")).agg(min(col("id")).as("rep"))
    val withRep = fp.join(reps, Seq("fp"))
    val star = withRep.where(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"),
        lit(0).cast("int").as("hamming")) // identical fp → Hamming 0
    val keyed = withRep.where(col("id") === col("rep"))
      .select(col("id"), col("fp"), explode(H.simHashBands(col("fp"), b)).as("bk"))
      .select(col("id"), col("fp"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val cross = keyed.as("a")
      .join(keyed.as("b"), Seq("band", "bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()
      .withColumn("hamming", H.hamming64(col("fp_a"), col("fp_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    star.unionAll(cross)
  }

  /** Embedding cosine near-dup pairs via random-hyperplane LSH bucketing +
    * cosine verification. Bit-identical vectors (exact-dup content
    * re-embedded — the giant-cluster case for embeddings) collapse to
    * their min-id representative before bucketing: members pair with
    * their rep (cosine 1, always ≥ threshold), representatives band.
    * Components match the clique set at O(cluster) cost; the group key
    * is the raw vector, so the collapse is exact (no hash caveat).
    *
    * Bucket width is nBits/bands hyperplane signs; random-vector pairs
    * collide in a band with probability ~2^-(nBits/bands), the quadratic
    * term at corpus scale — 64/4 (16-bit buckets) keeps a 10⁵-vector
    * tier tractable where 16/4 (4-bit, 16 buckets) saturates
    * (SCALE.md). Identical vectors sketch identically at any width, so
    * exact-duplicate recall is unaffected by nBits.
    */
  def embeddingPairs(
      emb: DataFrame,
      vecCol: String,
      idCol: String,
      nBits: Int = 64,
      bands: Int = 4,
      threshold: Double = 0.95
  ): DataFrame = {
    import graft.functions.{VectorFunctions => V}
    require(nBits % bands == 0)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val reps = base.groupBy(col("vec")).agg(min(col("id")).as("rep"))
    val withRep = base.join(reps, Seq("vec"))
    val star = withRep.where(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    val keyed = withRep
      .where(col("id") === col("rep"))
      .select(col("id"), col("vec"), V.lshBits(col("vec"), nBits).as("fp"))
      .select(col("id"), col("vec"), explode(bandKeys(col("fp"), bands, nBits / bands)).as("bk"))
      .select(col("id"), col("vec"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    // candidate dedup over IDS ONLY (16 B/row through the exchange);
    // vectors re-join by id for verification — distinct() over rows
    // carrying both embeddings would shuffle KBs per candidate
    val cand = keyed.as("a")
      .join(keyed.as("b"), Seq("band", "bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .unionAll(star)
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("vec").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vb")), "id_b")
      .withColumn("cosine_sim", round(V.cosine(col("va"), col("vb")), 6))
      .where(col("cosine_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine_sim"))
  }

  /** Duplicated-passage detection (substring-level dedup, the
    * public-pipeline "exact substring deduplication" shape): spans of `w`
    * consecutive tokens that appear in at least `minDocs` distinct
    * documents. Per doc the rolling window hashes come from ONE fused
    * expression pass (distinct within doc, so per-span counts are document
    * counts); the only shuffle carries (span_hash, id) pairs — uniform
    * 64-bit keys, never text. Returns (span_hash, n_docs, min_doc_id).
    */
  def duplicatedSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      w: Int = 8,
      minDocs: Int = 2
  ): DataFrame =
    docSpans(docs, textCol, idCol, w)
      .groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_doc_id"))
      .where(col("n_docs") >= minDocs)

  /** Per-document duplication profile against the corpus: how many of the
    * doc's w-token spans also occur in OTHER documents, and the duplicated
    * fraction — the signal public curation pipelines threshold on to drop
    * boilerplate-heavy documents. Two uniform-key shuffles (span count,
    * per-doc re-aggregation).
    */
  def spanDupStats(docs: DataFrame, textCol: String, idCol: String, w: Int = 8): DataFrame = {
    val spans = docSpans(docs, textCol, idCol, w)
    // span_hash → in how many docs it appears (distinct within doc ⇒ count = doc count)
    val freq = spans.groupBy(col("span_hash")).agg(count(lit(1)).as("__docs"))
    spans
      .join(freq, "span_hash")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__docs") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn(
        "dup_ratio",
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("n_dup_spans").cast("double") / col("n_spans")))
  }

  private def docSpans(docs: DataFrame, textCol: String, idCol: String, w: Int): DataFrame =
    docs.select(
      col(idCol).as("id"),
      explode(T.shingleHashes(col(textCol), w)).as("span_hash"))

  /** Exact substring dedup at character level — the suffix-array
    * use-case (find text duplicated verbatim across documents, Lee et
    * al.'s "exact substring deduplication"), re-expressed Spark-native:
    * every duplicated substring of length ≥ L CONTAINS a duplicated
    * L-char window (its first L characters), so rolling-hashing all L-char
    * windows — one fused pass per row, O(chars) total — detects exactly
    * the documents a suffix array would flag, with no false negatives
    * (false positives only via 64-bit hash collision). What a suffix
    * array adds is the maximal extent of each duplicate; the positional
    * window set recovers the same signal as COVERAGE: the union of
    * [i, i+L) over duplicated window starts i is precisely the characters
    * lying inside some cross-document duplicate of length ≥ L.
    *
    * Returns per-doc (id, n_windows, n_dup_windows, dup_window_frac,
    * dup_char_frac) where dup_char_frac is that exact covered-character
    * fraction — the threshold signal for dropping boilerplate-heavy
    * documents. Distribution: the window table feeds three consumers
    * (dup-set aggregation, coverage join, per-doc totals) and is
    * RECOMPUTED per consumer, deliberately: the fused hash pass is
    * scan-local codegen'd CPU over compressed parquet, while persisting
    * the exploded table would materialize ~20 B × corpus characters to
    * the block store — measured 10× slower at bench scale and the wrong
    * trade at 100 TB too (cache I/O ≫ re-hash CPU). The shuffles are a
    * (window_hash, doc) count aggregation on uniform 64-bit keys
    * (map-side combine) and one per-doc sort-window pass; document text
    * never shuffles.
    */
  def exactSubstringDupStats(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minLen: Int = 50,
      minDocs: Int = 2
  ): DataFrame = {
    // (id, pos, h): every L-window hash with its 0-based start offset in
    // the normalized text; within-doc DISTINCT by first occurrence would
    // undercount coverage, so all positions are kept
    val wins = docs.select(
        col(idCol).as("id"),
        posexplode(T.charWindowHashes(col(textCol), minLen)).as(Seq("pos", "h")))
    // windows duplicated ACROSS documents (distinct docs ≥ minDocs);
    // within-doc repeats alone do not make a window a cross-doc duplicate
    val dup = wins.select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("__docs"))
      .where(col("__docs") >= minDocs)
      .select(col("h"))
    // merged-interval coverage: duplicated starts sorted per doc; each
    // start contributes min(L, gap to the next duplicated start), the
    // last a full L — the exact union length of overlapping [pos, pos+L)
    val wNext = Window.partitionBy(col("id")).orderBy(col("pos"))
    val covered = wins.join(dup, "h")
      .select(col("id"), col("pos"))
      .withColumn("__next", lead(col("pos"), 1).over(wNext))
      .withColumn("__contrib",
        when(col("__next").isNull, lit(minLen))
          .otherwise(least(lit(minLen), col("__next") - col("pos"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_windows"), sum(col("__contrib")).as("dup_chars"))
    wins.groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"), (max(col("pos")) + minLen).as("__n_chars"))
      .join(covered, Seq("id"), "left")
      .select(
        col("id"),
        col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup_windows"), lit(0L)).cast("double") / col("n_windows"), 6)
          .as("dup_window_frac"),
        round(coalesce(col("dup_chars"), lit(0L)).cast("double") / col("__n_chars"), 6)
          .as("dup_char_frac"))
  }

  /** Global unit-level dedup with document REWRITE — the C4/Dolma
    * "deduplicate paragraphs, keep the first occurrence, emit the cleaned
    * corpus" operator. The prior span/substring operators REPORT
    * duplication; this one rewrites the text. Units are non-overlapping
    * `w`-token chunks of the normalized text (this corpus has no line
    * structure; swap the chunker for a line split where documents have
    * one). A chunk survives only at its globally first occurrence —
    * lowest (id, chunk_idx) — including within-document repeats; each
    * document is re-emitted with its surviving chunks joined by single
    * spaces.
    *
    * Returns (id, clean_text, n_chunks, n_dropped).
    *
    * 100 TB shape: document text never enters an exchange. The unit table
    * shuffles (chunk_hash, id, idx) triples (~24 B/chunk, uniform 64-bit
    * keys, map-side min combine for the winner agg); the drop list —
    * (id, sorted idx array) for AFFECTED documents only — is
    * duplicate-proportional and joins back to the corpus (AQE broadcasts
    * it when small; under pathological duplication it degrades to a
    * doc-id shuffle of id-sized rows, still never text). Untouched
    * documents pass through scan-local with a null drop list. The chunk
    * array is recomputed on the rewrite pass rather than persisted —
    * the substring-dedup measurement (persist 10× worse) applies
    * unchanged: fused scan-local chunking is cheaper than block-store
    * round-trips of exploded text.
    */
  def chunkDedupRewrite(docs: DataFrame, textCol: String, idCol: String, w: Int = 8): DataFrame = {
    require(w >= 1, s"chunkDedupRewrite: bad chunk width $w")
    val chunked = chunkPrep(docs, textCol, w)
    val units = chunkUnits(chunked, idCol)
    // first global occurrence per chunk hash; min over (id, idx) structs
    // combines map-side. Only hashes with >= 2 occurrences can produce a
    // drop, so the join's build side is DUPLICATE-proportional (and AQE-
    // broadcastable at realistic duplication rates) rather than one row
    // per distinct chunk in the corpus — single-occurrence units simply
    // don't join and the drops set is identical.
    val winners = units.groupBy(col("__h"))
      .agg(min(struct(col("id"), col("idx"))).as("__win"), count(lit(1)).as("__n"))
      .where(col("__n") > 1)
      .select(col("__h"), col("__win"))
    val drops = units.join(winners, "__h")
      .where(col("id") =!= col("__win.id") || col("idx") =!= col("__win.idx"))
    rewriteWithDrops(chunked, idCol, drops)
  }

  /** [[chunkDedupRewrite]] with CONTENT-DEFINED chunk boundaries
    * ([[graft.functions.TextFunctions.cdcChunks]]): the rsync/FastCDC
    * idea applied to corpus dedup. Fixed w-token chunks lose every match
    * after an insertion/deletion (all downstream boundaries shift); CDC
    * boundaries derive from the text's own rolling hash, so an edit
    * re-chunks only its local neighborhood and the rest of the document
    * still deduplicates against its other copies. Expected chunk length
    * ≈ 2^maskBits tokens clamped to [minTokens, maxTokens].
    *
    * Downstream is the shared unit machinery: keep-first global winner
    * per chunk, duplicate-proportional drop lists, text moves only on
    * the per-affected-doc join-back — same 100 TB shape as
    * [[chunkDedupRewrite]], same persist-vs-recompute trade (the fused
    * chunker is re-run per consumer rather than materialized).
    */
  def cdcDedupRewrite(docs: DataFrame, textCol: String, idCol: String,
      hashW: Int = 8, maskBits: Int = 3, minTokens: Int = 4, maxTokens: Int = 16): DataFrame = {
    val chunked = cdcPrep(docs, textCol, hashW, maskBits, minTokens, maxTokens)
    val units = chunkUnits(chunked, idCol)
    val winners = units.groupBy(col("__h"))
      .agg(min(struct(col("id"), col("idx"))).as("__win"), count(lit(1)).as("__n"))
      .where(col("__n") > 1)
      .select(col("__h"), col("__win"))
    val drops = units.join(winners, "__h")
      .where(col("id") =!= col("__win.id") || col("idx") =!= col("__win.idx"))
    rewriteWithDrops(chunked, idCol, drops)
  }

  /** Lineage of the keep-first rewrite: for every chunk occurrence
    * [[chunkDedupRewrite]] drops, the surviving occurrence it
    * deduplicated against — the "where did my content go" audit table
    * (id, idx, winner_id, winner_idx). Same unit machinery; the output
    * is duplicate-proportional, id-sized.
    */
  def chunkDropAttribution(docs: DataFrame, textCol: String, idCol: String, w: Int = 8): DataFrame = {
    require(w >= 1, s"chunkDropAttribution: bad chunk width $w")
    val units = chunkUnits(chunkPrep(docs, textCol, w), idCol)
    val winners = units.groupBy(col("__h"))
      .agg(min(struct(col("id"), col("idx"))).as("__win"), count(lit(1)).as("__n"))
      .where(col("__n") > 1)
      .select(col("__h"), col("__win"))
    units.join(winners, "__h")
      .where(col("id") =!= col("__win.id") || col("idx") =!= col("__win.idx"))
      .select(col("id"), col("idx"),
        col("__win.id").as("winner_id"), col("__win.idx").as("winner_idx"))
  }

  /** [[chunkDedupRewrite]] against a PRIOR admitted-chunk state (one `h`
    * column of 64-bit chunk hashes — the artifact
    * [[admittedChunkHashes]] emits): a chunk occurrence survives only if
    * it is its batch's first occurrence AND its hash is not already
    * admitted. The incremental/streaming form of the rewrite — prior
    * state is hash-sized (8 B/chunk), never text, so the per-batch cost
    * is batch × state, not batch × corpus.
    */
  def chunkDedupRewriteAgainst(priorHashes: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, w: Int = 8): DataFrame = {
    require(w >= 1, s"chunkDedupRewriteAgainst: bad chunk width $w")
    val chunked = chunkPrep(docs, textCol, w)
    val units = chunkUnits(chunked, idCol)
    val admitted = batchAdmitted(units, priorHashes)
    // drop every occurrence that is not an admitted winner occurrence
    val drops = units.join(admitted, Seq("__h"), "left")
      .where(col("__win").isNull ||
        col("id") =!= col("__win.id") || col("idx") =!= col("__win.idx"))
    rewriteWithDrops(chunked, idCol, drops)
  }

  /** Boilerplate removal with document rewrite — the C4 "line appears in
    * ≥ N documents → remove it EVERYWHERE" rule (template/navigation text
    * is noise in every copy, so unlike [[chunkDedupRewrite]] no first
    * occurrence survives). Same unit machinery and scale shape: the
    * distinct (hash, id) projection aggregates to document frequencies on
    * uniform 64-bit keys, the boilerplate hash set is df-bounded, and
    * text only moves on the per-affected-doc drop-list join-back.
    */
  def boilerplateRewrite(docs: DataFrame, textCol: String, idCol: String,
      w: Int = 8, minDocs: Int = 3): DataFrame = {
    require(w >= 1, s"boilerplateRewrite: bad chunk width $w")
    require(minDocs >= 2, s"boilerplateRewrite: minDocs $minDocs < 2")
    val chunked = chunkPrep(docs, textCol, w)
    val units = chunkUnits(chunked, idCol)
    val common = units.select(col("__h"), col("id")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__docs"))
      .where(col("__docs") >= minDocs)
      .select(col("__h"))
    rewriteWithDrops(chunked, idCol, units.join(common, "__h"))
  }

  /** The chunk hashes `docs` newly admits over `priorHashes` — the state
    * delta a streaming rewrite persists per batch (schema: `h` long).
    */
  def admittedChunkHashes(priorHashes: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, w: Int = 8): DataFrame =
    batchAdmitted(chunkUnits(chunkPrep(docs, textCol, w), idCol), priorHashes)
      .select(col("__h").as("h"))

  /** [[chunkDedupRewriteAgainst]] with content-defined boundaries — the
    * incremental form of [[cdcDedupRewrite]]. Prior state is the same
    * 8 B/chunk hash artifact; chunk identity is content-defined, so a
    * re-ingested near-duplicate with a local edit still drops everything
    * outside the edited neighborhood against state admitted epochs ago.
    */
  def cdcDedupRewriteAgainst(priorHashes: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, hashW: Int = 8, maskBits: Int = 3,
      minTokens: Int = 4, maxTokens: Int = 16): DataFrame = {
    val chunked = cdcPrep(docs, textCol, hashW, maskBits, minTokens, maxTokens)
    val units = chunkUnits(chunked, idCol)
    val admitted = batchAdmitted(units, priorHashes)
    val drops = units.join(admitted, Seq("__h"), "left")
      .where(col("__win").isNull ||
        col("id") =!= col("__win.id") || col("idx") =!= col("__win.idx"))
    rewriteWithDrops(chunked, idCol, drops)
  }

  /** The CDC chunk hashes `docs` newly admits over `priorHashes`
    * (schema: `h` long) — state delta twin of [[admittedChunkHashes]].
    */
  def admittedCdcChunkHashes(priorHashes: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, hashW: Int = 8, maskBits: Int = 3,
      minTokens: Int = 4, maxTokens: Int = 16): DataFrame =
    batchAdmitted(
      chunkUnits(cdcPrep(docs, textCol, hashW, maskBits, minTokens, maxTokens), idCol),
      priorHashes)
      .select(col("__h").as("h"))

  private def cdcPrep(docs: DataFrame, textCol: String, hashW: Int, maskBits: Int,
      minTokens: Int, maxTokens: Int): DataFrame =
    docs.withColumn("__chunks", T.cdcChunks(col(textCol), hashW, maskBits, minTokens, maxTokens))

  // FUSED fixed-w chunking: the degenerate CDC case (minTokens ==
  // maxTokens == w forces a cut every w tokens; the mask never fires on
  // an empty scan range), so one codegen'd pass replaces the interpreted
  // transform/slice/array_join HOF chain of TextFunctions.chunkTokens —
  // measured 5× on the rewrite family at sf1skew (43.9 s → CDC-path
  // speed; SCALE.md round 9). Chunk strings are identical for the
  // engine's ASCII normalization (the same fused-normalize semantics
  // every other text op already uses).
  private def chunkPrep(docs: DataFrame, textCol: String, w: Int): DataFrame =
    docs.withColumn("__chunks",
      T.cdcChunks(col(textCol), hashW = 1, maskBits = 0, minTokens = w, maxTokens = w))

  private def chunkUnits(chunked: DataFrame, idCol: String): DataFrame =
    chunked
      .select(col(idCol).as("id"), posexplode(col("__chunks")).as(Seq("idx", "__chunk")))
      .select(col("id"), col("idx").cast("long").as("idx"), xxhash64(col("__chunk")).as("__h"))

  /** Within-batch winners whose hash is not already in the prior state:
    * (__h, __win struct(id, idx)).
    */
  private def batchAdmitted(units: DataFrame, priorHashes: DataFrame): DataFrame =
    units.groupBy(col("__h"))
      .agg(min(struct(col("id"), col("idx"))).as("__win"))
      .join(priorHashes.select(col("h").as("__h")), Seq("__h"), "left_anti")

  /** Re-emit every document with its dropped chunk positions removed.
    * `drops` rows carry (id, idx) of occurrences to remove; affected
    * docs' sorted drop lists join back (broadcast when small — the
    * duplicate-proportional case), untouched docs pass through with a
    * null list.
    */
  private def rewriteWithDrops(chunked: DataFrame, idCol: String, drops: DataFrame): DataFrame = {
    val dropLists = drops
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("idx"))).as("__drop"), count(lit(1)).as("__n_dropped"))
      .withColumnRenamed("id", "__drop_id")
    chunked
      .join(dropLists, col(idCol) === col("__drop_id"), "left")
      .select(
        col(idCol).as("id"),
        array_join(
          filter(col("__chunks"), (_, i) => !coalesce(array_contains(col("__drop"), i.cast("long")), lit(false))),
          " ").as("clean_text"),
        size(col("__chunks")).cast("long").as("n_chunks"),
        coalesce(col("__n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Assign each doc a cluster representative = min id reachable over the
    * pair graph: iterated min-label propagation (distributed connected
    * components, bounded iterations).
    */
  def clusterRepresentatives(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .cache()
    // labels (id, newRep[, chg]): the update select names its output
    // newRep because Spark 4's lateral alias resolution would let a `rep`
    // alias shadow the input `rep` in the change flag
    val init = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("newRep", col("id"))
      .localCheckpoint(true)
    // change detection folded into the update row (one extra boolean per
    // row, one tiny agg) instead of a second join+count pass; coalesce:
    // max over an EMPTY label set (no near-duplicate pairs at all — the
    // common clean-corpus case) aggregates to null, not false
    def unchanged(updated: graft.Iterate.Next, round: Int): Boolean =
      !updated.state.agg(coalesce(max(col("chg")), lit(false))).head().getBoolean(0)
    // every round pinned, not cached: the labels feed each round TWICE
    // (neighborMin + the update join), so an uncut lineage doubles per
    // iteration — a 2^diameter logical plan that OOMs the DRIVER on
    // chain-shaped components (~20 hops) long before any executor sees data
    val labels = try graft.Iterate(init, maxIters, done = unchanged) { r =>
      val labels = r.state.select(col("id"), col("newRep").as("rep"))
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("rep").as("nrep")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nrep")).as("minNeighbor"))
      labels
        .join(neighborMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("rep"), coalesce(col("minNeighbor"), col("rep"))).as("newRep"),
          (coalesce(col("minNeighbor"), col("rep")) < col("rep")).as("chg"))
    } finally edges.unpersist()
    labels.select(col("id"), col("newRep").as("rep"))
  }

  /** Incremental exact dedup: survivors of `batch` against an existing
    * corpus — batch rows whose content fingerprint is new (not in the
    * corpus), internally deduped (lowest id wins). The corpus contributes
    * only its DISTINCT fingerprint set (16 B/doc): at 100 TB that set is
    * the artifact a pipeline maintains between ingests, so the corpus
    * text is never rescanned per batch — pass the stored fingerprint
    * table via `corpusFingerprints` when available.
    */
  def exactIncremental(corpus: DataFrame, batch: DataFrame, textCol: String, idCol: String): DataFrame =
    exactIncrementalAgainst(
      corpus.select(T.fingerprint(col(textCol)).as("__fp")).distinct(),
      batch, textCol, idCol)

  /** [[exactIncremental]] with a precomputed corpus fingerprint column
    * (one column named `__fp`, as produced by `T.fingerprint`).
    */
  def exactIncrementalAgainst(corpusFingerprints: DataFrame, batch: DataFrame, textCol: String, idCol: String): DataFrame = {
    val deduped = exact(batch, textCol, idCol)
    deduped
      .join(corpusFingerprints, T.fingerprint(deduped(textCol)) === corpusFingerprints("__fp"), "left_anti")
  }

  /** [[exactIncrementalAgainst]] with a Bloom prefilter: the corpus
    * fingerprint set compresses to ~1.2 bytes/doc at 1% fpp (vs 16 B/doc
    * for the exact set), so the anti-join — the only shuffle touching the
    * corpus artifact — runs over just the batch rows the filter flags
    * (true duplicates + fpp false positives) instead of the whole batch.
    * Rows the filter clears are PROVABLY new (Bloom filters have no false
    * negatives); flagged rows are re-checked exactly, so the result is
    * identical to the exact variant. At 10⁹ corpus docs the filter is
    * ~1.2 GB: build it once per ingest window, not per batch.
    */
  def exactIncrementalBloom(
      corpusFingerprints: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      expectedCorpusSize: Long,
      fpp: Double = 0.01
  ): DataFrame = {
    val bloom = corpusFingerprints.stat.bloomFilter("__fp", math.max(expectedCorpusSize, 1L), fpp)
    val mightContain = udf((s: String) => s != null && bloom.mightContainString(s))
    val deduped = exact(batch, textCol, idCol)
    val withFp = deduped.withColumn("__fp_b", T.fingerprint(col(textCol)))
    val cleared = withFp.where(!mightContain(col("__fp_b")))
    val suspects = withFp.where(mightContain(col("__fp_b")))
      .join(corpusFingerprints, col("__fp_b") === corpusFingerprints("__fp"), "left_anti")
    cleared.unionByName(suspects).drop("__fp_b")
  }

  /** Incremental near-dedup: batch docs that are NOT near-duplicates of
    * any corpus doc nor of a lower-id batch doc. Candidate generation is
    * batch×(corpus ∪ batch) — the corpus side joins only through its LSH
    * band keys and signature table (the ~100 B/doc artifact a pipeline
    * stores between ingests), never corpus×corpus, so per-batch cost
    * scales with the batch, not the corpus.
    *
    * Batch-internal policy is greedy drop-higher-id (a~b drops b): for
    * chains a~b~c this drops {b, c} like min-label propagation would;
    * it diverges from full clustering only when a higher-id doc pairs
    * exclusively with already-dropped docs — acceptable for ingest
    * batches, which are small relative to the corpus.
    */
  def minHashIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7
  ): DataFrame =
    minHashIncrementalAgainst(
      minHashSignatures(corpus, idCol, T.shingleHashes(col(textCol), shingleSize), numHashes),
      batch, textCol, idCol, shingleSize, numHashes, bands, threshold)

  /** The (id, sig, shset) signature table for `docs` — the ~100 B/doc
    * artifact an incremental pipeline stores between ingests (and the
    * streaming state of [[graft.streaming.StreamingDedup]]). Feed it back
    * through [[minHashIncrementalAgainst]] so the corpus text is never
    * rescanned per batch.
    */
  def minHashSignatureTable(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64
  ): DataFrame =
    minHashSignatures(docs, idCol, T.shingleHashes(col(textCol), shingleSize), numHashes)

  /** [[minHashIncremental]] with a PRECOMPUTED corpus signature table
    * (schema of [[minHashSignatureTable]]) — per-batch cost touches the
    * batch and the stored artifact only.
    */
  def minHashIncrementalAgainst(
      corpusSignatures: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7
  ): DataFrame =
    minHashIncrementalSigs(
      corpusSignatures,
      minHashSignatures(batch, idCol, T.shingleHashes(col(textCol), shingleSize), numHashes),
      batch, idCol, numHashes, bands, threshold)

  /** Signature-table core: both sides PRECOMPUTED (schema of
    * [[minHashSignatureTable]]); batch rows join back by `idCol`. Callers
    * that already hold the batch's signatures (e.g. the streaming path,
    * which also persists them as the next batches' state) avoid a second
    * shingle+hash pass over the batch text.
    */
  def minHashIncrementalSigs(
      corpusSignatures: DataFrame,
      batchSignatures: DataFrame,
      batch: DataFrame,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7
  ): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // both signature tables are released on return or throw
    val losers = graft.Pins.scoped { scope =>
      def prep(sigs: DataFrame) =
        scope.adopt(sigs.select(col("id"), col("sig"), col("shset")).persist(lvl))
      val prepC = prep(corpusSignatures)
      val prepB = prep(batchSignatures)
      // SIDE-LOCAL set-group collapse (the [[lshVerifiedPairsPlan]]
      // giant-cluster guard, applied per side): only group representatives
      // band. Groups key on the exact sorted shingle set (not the MinHash
      // signature — see lshVerifiedPairsPlan for why signature grouping
      // folds distinct sets together), so a member shares its rep's set,
      // hence its signature and band keys: the rep's corpus verdict
      // genuinely covers the group, and the member itself dies against its
      // rep via the star candidate below — the same (lower id survives)
      // outcome the full clique produced, at O(cluster) cost.
      def collapse(prep: DataFrame) = {
        val ne = prep.where(size(col("shset")) > 0) // empty sets never band (sentinel collision)
          .withColumn("__sk", xxhash64(array_sort(col("shset"))))
        ne.join(ne.groupBy(col("__sk")).agg(min(col("id")).as("rep")), Seq("__sk"))
      }
      val wrC = collapse(prepC)
      val wrB = collapse(prepB)
      def keyed(wr: DataFrame) = wr
        .where(col("id") === col("rep"))
        .select(col("id"), posexplode(H.bandHashes(col("sig"), bands, rows)).as(Seq("band", "bucket")))
      val keyedC = keyed(wrC)
      val keyedB = keyed(wrB)
      // batch-vs-corpus candidates (all such pairs kill the batch doc) and
      // batch-internal candidates (ordered: only the higher id can die);
      // batch members of an identical-signature group die against their
      // group rep (star — verified like every other candidate)
      val starBB = wrB.where(col("id") =!= col("rep"))
        .select(col("id").as("id_b"), col("rep").as("id_other"))
      val candCB = keyedB.as("b").join(keyedC.as("c"), Seq("band", "bucket"))
        .select(col("b.id").as("id_b"), col("c.id").as("id_other")).distinct()
      val candBB = keyedB.as("a").join(keyedB.as("b"), Seq("band", "bucket"))
        .where(col("a.id") < col("b.id"))
        .select(col("b.id").as("id_b"), col("a.id").as("id_other")).distinct()
        .unionAll(starBB)
      val shC = prepC.select(col("id"), col("shset"))
      val shB = prepB.select(col("id"), col("shset"))
      def verified(cand: DataFrame, otherSh: DataFrame) = cand
        .join(shB.withColumnRenamed("id", "id_b").withColumnRenamed("shset", "sh_b"), "id_b")
        .join(otherSh.withColumnRenamed("id", "id_other").withColumnRenamed("shset", "sh_o"), "id_other")
        .where(jaccardSets(col("sh_b"), col("sh_o")) >= threshold)
        .select(col("id_b"))
      verified(candCB, shC).unionAll(verified(candBB, shB)).distinct()
        .localCheckpoint(true)
    }
    batch.join(losers.withColumnRenamed("id_b", idCol), Seq(idCol), "left_anti")
  }

  /** Near-dedup end-to-end: survivors after removing every doc whose
    * cluster representative is a lower id. `maxIters` bounds the label
    * propagation — components whose graph diameter exceeds it keep more
    * than one representative (under-dedup, never wrong drops); raise it
    * for corpora with long duplicate chains.
    */
  def minHashDedup(docs: DataFrame, textCol: String, idCol: String, threshold: Double = 0.7, maxIters: Int = 20): DataFrame = {
    // pairs come back localCheckpoint'ed (materialized, lineage-free), so
    // the multi-consumer reuse below needs no extra cache
    val pairs = minHashPairs(docs, textCol, idCol, threshold = threshold)
    val reps = clusterRepresentatives(pairs, maxIters)
    val losers = reps.where(col("rep") =!= col("id")).select(col("id"))
    docs.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** LEAKAGE-SAFE train/test split: hash-split by each document's
    * near-duplicate CLUSTER representative instead of its own id, so a
    * near-duplicate pair can never straddle the split — the doc-level
    * hash split silently leaks test content into training whenever the
    * corpus has near-dups (it almost always does), which inflates eval
    * scores exactly like decontamination failure. Unclustered docs
    * split by their own id, so with no near-dups this IS the plain
    * hash split. Returns (idCol, split_key, split); the side is
    * `md5(split_key) prefix < trainPrefix` — the same deterministic
    * predicate as the doc-level split, evaluated on the cluster key.
    *
    * Scale shape: the pair stage is [[minHashPairs]] (collapse-guarded);
    * everything after is one id-sized left join and a per-row hash.
    */
  def leakageSafeSplit(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7, maxIters: Int = 20,
      trainPrefix: String = "cccd"): DataFrame = {
    val pairs = minHashPairs(docs, textCol, idCol, threshold = threshold)
    val reps = clusterRepresentatives(pairs, maxIters)
    docs.select(col(idCol))
      .join(reps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("rep"), col(idCol)))
      .withColumn("split",
        when(substring(md5(col("split_key").cast("string")), 1, 4) < trainPrefix,
          "train").otherwise("test"))
      .select(col(idCol), col("split_key"), col("split"))
  }

  /** [[minHashDedup]] with a SURVIVOR POLICY: each duplicate cluster
    * keeps its best-scoring member (highest `score`, ties to lowest id)
    * instead of the lowest id. The policy real curation passes want —
    * "keep the longest / highest-quality copy" — min-id keeps whichever
    * copy happened to be crawled first. `score` is any deterministic
    * per-doc expression over `docs` (token count for keep-longest, a
    * quality-model score, …); integer scores keep the selection
    * bit-exact across engines.
    *
    * Scale shape: identical to [[minHashDedup]] (pairs + label
    * propagation) plus two component-keyed aggregations and one id-sized
    * join — everything after the pair stage moves (id, rep, score) rows
    * only. The keeper is picked in two exact passes — max score per
    * component, then MIN id among the max-score members — so the
    * tie-break needs no arithmetic negation and works for ANY orderable
    * id type (a `-id` trick would throw on string ids under ANSI mode
    * and silently cast them to null otherwise, making the keeper
    * partition-dependent); selection never depends on partitioning.
    */
  def minHashDedupKeepBest(docs: DataFrame, textCol: String, idCol: String,
      score: org.apache.spark.sql.Column, threshold: Double = 0.7,
      maxIters: Int = 20): DataFrame = {
    val pairs = minHashPairs(docs, textCol, idCol, threshold = threshold)
    val reps = clusterRepresentatives(pairs, maxIters)
    // only docs IN a component can lose; everyone else never joins in
    val scored = docs.select(col(idCol).as("id"), score.as("__sc")).join(reps, Seq("id"))
    val best = scored.groupBy(col("rep")).agg(max(col("__sc")).as("__best"))
    val losers = scored.join(best, Seq("rep"))
      .where(col("__sc") === col("__best"))
      .groupBy(col("rep")).agg(min(col("id")).as("__keep"))
      .join(scored.select(col("id"), col("rep")), Seq("rep"))
      .where(col("id") =!= col("__keep"))
      .select(col("id"))
    docs.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }
}
