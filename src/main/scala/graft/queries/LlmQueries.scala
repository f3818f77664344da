package graft.queries

import graft.dedup.{Decontaminate, Dedup, SemDedup}
import graft.text.{Bm25, Curriculum, Dsir, HeavyHitters, LinkGraph, Mixture, Sharding}
import graft.functions.{TextFunctions => T}
import graft.multimodal.Multimodal
import graft.similarity.{Evaluation, Pca, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` tables: dedup (exact / MinHash / SimHash / n-gram /
  * embedding), similarity search, text analysis, and multimodal
  * plumbing. EVERY query here is full-oracle checked (rows + schema +
  * hash against DuckDB) — including the hash-based operators (xxhash64
  * MinHash/SimHash/LSH/PQ), whose oracles reproduce the engine's hash
  * pipelines bit-for-bit in SQL via [[XxhSql]] (since round 6); ScalaTest
  * invariants (planted near-duplicates must pair up — see DedupSpec)
  * cover the properties SQL can't express.
  */
object LlmQueries {

  /** Session-lifetime cache of persisted IVF index dirs keyed by the data
    * dir: the correctness harness and best-of-3 bench re-run every query,
    * and a fresh `createTempDirectory` + full index write per invocation
    * both leaks orphan dirs in /tmp and re-measures the build instead of
    * the probe. Built once per (JVM, sfDir); a shutdown hook removes the
    * dirs on exit.
    */
  private val ivfIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      ivfIndexDirs.values().forEach { d =>
        try {
          val root = java.nio.file.Paths.get(d)
          if (java.nio.file.Files.exists(root)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(root).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => () })
          }
        } catch { case _: Exception => () }
      }
    }))
  }

  val queries: Map[String, Q] = Map(
    // exact dedup: survivors (lowest doc_id per identical normalized text)
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // MinHash+LSH near-dup pairs (rows-only check; invariants in DedupSpec)
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minHashPairs(t(s, dir, "documents"), "text", "doc_id", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash near-dup pairs (rows-only)
    // hamming ≤ 3 on 64-bit fps with 4×16-bit bands — the classic
    // near-dup setting; wider hamming radii force narrow bands whose
    // bucket space saturates quadratically at corpus scale (SCALE.md)
    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simHashPairs(t(s, dir, "documents"), "text", "doc_id", maxHamming = 3, bands = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // char-n-gram Jaccard pairs (rows-only)
    "q_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // embedding cosine near-dup pairs. The synthetic corpus's max natural
    // pairwise cosine is ~0.51, so every threshold that means "near-dup"
    // gates on an empty result — plant positives instead: re-keyed copies
    // of the 10 lowest-id vectors (cosine 1.0 to their originals, and
    // bit-identical LSH sketches → bucketed recall is exact, which is what
    // makes the brute-force DuckDB oracle sound here).
    "q_dedup_embedding" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // Planted ids live at a fixed +100000 offset, mirrored in the DuckDB
      // oracle. Guard the invariant instead of trusting the SF: if real
      // vec_ids ever reached the offset, planted ids would collide with
      // real ones and silently corrupt pair identities (ADVICE r5).
      val guarded = base.withColumn("vec_id",
        when(col("vec_id") < 100000, col("vec_id"))
          .otherwise(raise_error(lit(
            "embeddings.vec_id reached the planted-id offset (100000); raise the offset"))))
      val planted = guarded.where(col("vec_id") < 10)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Dedup.embeddingPairs(guarded.union(planted), "embedding", "vec_id", threshold = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // DSIR importance weighting (Xie et al. 2023): hashed unigram+bigram
    // log-likelihood ratios against a target domain; integer-exact counts
    // and md5 bucketing, weight rounded at the aggregate edge (float-sum
    // order is partition-dependent — the q_perplexity precedent)
    "q_dsir_weights" -> ((s, dir) => {
      Dsir.importanceWeights(t(s, dir, "documents"), "text", "doc_id",
          col("source") === "src13", dim = 2048, alpha = 1.0)
        .select(col("doc_id"), col("n_terms"), round(col("weight"), 4).as("weight"))
        .orderBy(col("doc_id"))
    }),

    // DSIR selection: top-k raw-pool docs by rounded weight (target rows
    // excluded — they are the reference distribution, not candidates)
    "q_dsir_select" -> ((s, dir) => {
      Dsir.selectTopK(t(s, dir, "documents"), "text", "doc_id",
          col("source") === "src13", k = 50, dim = 2048, alpha = 1.0)
        .select(col("doc_id"), col("n_terms"), col("weight"))
    }),

    // end-to-end near-dedup: survivors after cluster-representative removal
    "q_dedup_minhash_survivors" -> ((s, dir) => {
      Dedup.minHashDedup(t(s, dir, "documents"), "text", "doc_id", threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // leakage-safe split: hash-split by near-dup cluster representative
    // — a near-duplicate pair can never straddle train/test (the
    // doc-level split leaks test content through near-dups); unclustered
    // docs split by their own id (same md5 predicate as
    // q_train_test_split, evaluated on the cluster key)
    "q_split_leakage_safe" -> ((s, dir) => {
      Dedup.leakageSafeSplit(t(s, dir, "documents"), "text", "doc_id", threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // survivor POLICY: each near-dup cluster keeps its LONGEST member
    // (token count, ties to lowest id) — what curation actually wants;
    // min-id keeps whichever copy was crawled first
    "q_dedup_keep_longest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minHashDedupKeepBest(docs, "text", "doc_id",
          T.tokenCount(col("text")).cast("long"), threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // brute-force cosine top-k ANN (DuckDB list_cosine_similarity oracle)
    "q_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), "embedding", "vec_id", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF ANN (rows-only; recall-vs-brute-force invariant in SimilaritySpec).
    // The built index is materialized once (localCheckpoint — blocks
    // release with the reference, unlike cache(), which would leak a
    // CacheManager entry per run) — it is the reusable artifact (at
    // scale: written out partitioned by cell), probed twice inside ivfTopK.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val indexed = Similarity.ivfBuild(emb, "embedding", "vec_id", nlist = 16).localCheckpoint(true)
      Similarity.ivfTopK(indexed, emb.where(col("vec_id") < 5), "embedding", "vec_id", k = 5, nlist = 16, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // the persisted-index path: build → save partitioned by cell → load
    // → probe. Same verdicts as q_ann_ivf (shared oracle); the on-disk
    // layout buys dynamic partition pruning, so a probe reads ~nprobe/
    // nlist of the index (IvfPersistSpec asserts the pruning subquery)
    "q_ann_ivf_persisted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxDir = ivfIndexDirs.computeIfAbsent(dir, _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
        Similarity.saveIvfIndex(Similarity.ivfBuild(emb, "embedding", "vec_id", nlist = 16), d)
        d
      })
      val loaded = Similarity.loadIvfIndex(s, idxDir)
      Similarity.ivfTopK(loaded, emb.where(col("vec_id") < 5), "embedding", "vec_id", k = 5, nlist = 16, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // incremental index maintenance: build on the low-id 80%, APPEND the
    // rest batch-wise (assigned against the persisted centroid sidecar,
    // per-cell partition files appended, manifest counts refreshed last),
    // probe the merged artifact. Oracle = q_ann_ivf's full-corpus build:
    // append must be bit-identical to a rebuild on the concatenated corpus
    "q_ann_ivf_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxDir = ivfIndexDirs.computeIfAbsent(dir + "#append", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
        val base = emb.where(col("vec_id") < 400)
        Similarity.saveIvfIndexAppendable(
          Similarity.ivfBuild(base, "embedding", "vec_id", nlist = 16),
          d, "embedding", "vec_id", nlist = 16)
        Similarity.appendToIvfIndex(emb.where(col("vec_id") >= 400), "embedding", "vec_id", d)
        d
      })
      val loaded = Similarity.loadIvfIndex(s, idxDir)
      Similarity.ivfTopK(loaded, emb.where(col("vec_id") < 5), "embedding", "vec_id", k = 5, nlist = 16, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // index maintenance, part 2: REBALANCE. Appends accumulate into
    // fixed cells; cells over budget (here 9n/128 ≈ 1.125× the mean —
    // hot at every SF) split deterministically (new centroid = the
    // member farthest from the old one; members re-argmaxed between the
    // two), hot partitions rewritten via dynamic partition overwrite,
    // sidecar refreshed last. The probe then uses the SIDECAR centroids
    // (ivfTopKPersisted) — the lowest-id recovery no longer holds. The
    // oracle replays the whole chain: assign → hot → split → re-assign
    // → sidecar-centroid probe
    "q_ann_ivf_rebalance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxDir = ivfIndexDirs.computeIfAbsent(dir + "#rebal", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_ivf_rebal").toString
        Similarity.saveIvfIndexAppendable(
          Similarity.ivfBuild(emb, "embedding", "vec_id", nlist = 16),
          d, "embedding", "vec_id", nlist = 16)
        val n = emb.count()
        Similarity.rebalanceIvfIndex(s, d, "embedding", "vec_id", maxCellRows = 9L * n / 128L)
        d
      })
      Similarity.ivfTopKPersisted(s, idxDir, emb.where(col("vec_id") < 5),
          "embedding", "vec_id", k = 5, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // index maintenance, part 3: the STREAMED ingest folded back. Base
    // build on the low-id 80% under batch=0, two micro-batches appended
    // via the streaming twin's exactly-once per-batch layout, then
    // COMPACT folds everything into a one-file-per-cell base (marker-last
    // roll-forward). Oracle = q_ann_ivf's full-corpus build: the probe
    // over the folded artifact must be bit-identical to a rebuild — the
    // shared oracle is the stream+compact ≡ rebuild proof, closing the
    // lifecycle (build → append → rebalance → streamed fold) as oracle-
    // verified end to end
    "q_ann_stream_compact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val baseDir = ivfIndexDirs.computeIfAbsent(dir + "#stream", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
        val (ix, st) = (s"$d/index", s"$d/stats")
        graft.streaming.StreamingAnnIndex.initialize(
          emb.where(col("vec_id") < 400), "embedding", "vec_id", nlist = 16, ix)
        graft.streaming.StreamingAnnIndex.applyBatch(
          emb.where(col("vec_id") >= 400 && col("vec_id") < 450), 0L,
          "embedding", "vec_id", ix, st)
        graft.streaming.StreamingAnnIndex.applyBatch(
          emb.where(col("vec_id") >= 450), 1L, "embedding", "vec_id", ix, st)
        graft.streaming.StreamingAnnIndex.compact(s, ix, st, upToBatch = 2L)
        d
      })
      val loaded = graft.streaming.StreamingAnnIndex
        .readIndex(s, s"$baseDir/index").drop("batch")
      Similarity.ivfTopK(loaded, emb.where(col("vec_id") < 5),
          "embedding", "vec_id", k = 5, nlist = 16, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // the REFINED coarse quantizer: centroids trained by deterministic
    // k-means (lowest-id seeds, id-ordered Lloyd folds — the fix for the
    // cell skew id-seeding leaves, measured at 19/64 hot cells on the
    // sf10 ladder), assignment and probe on the same rounded-cosine
    // kernel as every other IVF lane. The oracle replays the whole
    // chain: Lloyd refinement, cosine assignment, probe, exact scoring
    "q_ann_ivf_refined" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfRefinedTopK(emb, emb.where(col("vec_id") < 5),
          "embedding", "vec_id", k = 5, nlist = 16, nprobe = 4, iters = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // refined build → hot-cell rebalance → sidecar probe on ONE
    // artifact: the composition the refined quantizer's scaladoc
    // promises (k-means buys recall, rebalance restores balance — they
    // must not invalidate each other). The oracle replays the whole
    // chain: Lloyd folds → cosine assignment → budgeted farthest-member
    // split → constrained re-argmax → probe over the final centroid set
    "q_ann_ivf_refined_rebalance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxDir = ivfIndexDirs.computeIfAbsent(dir + "#refrebal", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_ivf_refrebal").toString
        Similarity.saveIvfIndexRefined(emb, d, "embedding", "vec_id", nlist = 16, iters = 1)
        val n = emb.count()
        Similarity.rebalanceIvfIndex(s, d, "embedding", "vec_id", maxCellRows = 9L * n / 128L)
        d
      })
      Similarity.ivfTopKPersisted(s, idxDir, emb.where(col("vec_id") < 5),
          "embedding", "vec_id", k = 5, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // index-quality evaluation: per-query recall@10 of the IVF probe
    // against exact ground truth — the oracle recomputes BOTH sides
    // (brute force and the full IVF assign/probe pipeline) from raw
    // parquet, so the measurement itself is verified, not self-checked
    "q_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 10)
      val indexed = Similarity.ivfBuild(emb, "embedding", "vec_id", nlist = 16).localCheckpoint(true)
      val approx = Similarity.ivfTopK(indexed, q, "embedding", "vec_id", k = 10, nlist = 16, nprobe = 4)
      Evaluation.recallAtK(exact, approx, k = 10).orderBy(col("query_id"))
    }),

    // ranked-retrieval metrics over the same exact-vs-IVF pair: per-query
    // reciprocal rank + NDCG@10 with graded relevance (k - exact_rank + 1)
    // — recall@k says WHETHER the index finds the truth, NDCG says how
    // well it ORDERS it. The oracle recomputes both rankings from raw
    // parquet and replays the rank-ordered DCG fold
    "q_retrieval_metrics" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 10)
      val indexed = Similarity.ivfBuild(emb, "embedding", "vec_id", nlist = 16).localCheckpoint(true)
      val approx = Similarity.ivfTopK(indexed, q, "embedding", "vec_id", k = 10, nlist = 16, nprobe = 4)
      Evaluation.rankingMetrics(exact, approx, k = 10).orderBy(col("query_id"))
    }),

    // embedding-quality probe: k-NN majority-vote label prediction over
    // the labeled eval slice (every vector classified by its 5 cosine
    // neighbors, self excluded; vote counts integer-exact)
    // queries = the vec_id % 5 eval slice: knnClassify's contract is a
    // SMALL query set against the full corpus (brute-force kNN is
    // O(|corpus|·|queries|) by design — the full-corpus self-probe ran
    // 911 s at the 20k-vector tier, SCALE.md; ANN gates are the scale
    // path for big query sets)
    "q_knn_classify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Evaluation.knnClassify(emb, emb.where(pmod(col("vec_id"), lit(5)) === 0),
          "embedding", "vec_id", "label", k = 5)
        .orderBy(col("query_id"))
    }),

    // label-level error structure of the same classifier: which labels
    // get confused with which (the eval artifact a training run reads)
    "q_knn_confusion" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Evaluation.knnClassify(emb, emb.where(pmod(col("vec_id"), lit(5)) === 0),
          "embedding", "vec_id", "label", k = 5)
        .groupBy(col("true_label"), col("predicted_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("true_label"), col("predicted_label"))
    }),

    // contrastive-training data prep: per query the closest vectors of a
    // DIFFERENT label (boundary negatives), label filter before ranking
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Evaluation.hardNegatives(emb, emb.where(col("vec_id") < 20), "embedding", "vec_id", "label", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // LSH parameter evaluation on a bounded slice: exact all-pairs
    // Jaccard vs the production banding pipeline — found=false isolates
    // banding misses (how you pick numHashes/bands empirically). The
    // corpus' own near-dups are all J ≥ 0.9 (banding always hits), so
    // the gate PLANTS a half-prefix variant per doc at +200000: J ≈ 0.5
    // is the regime where 16×4 banding misses ~35% of true pairs
    "q_lsh_recall" -> ((s, dir) => {
      val base = t(s, dir, "documents").where(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
      val planted = base.select((col("doc_id") + 200000).as("doc_id"),
        substr(col("text"), lit(1), floor(length(col("text")) / 2).cast("int")).as("text"))
      Evaluation.lshRecall(base.union(planted),
          "text", "doc_id", shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // the precision companion: every banded candidate with its exact
    // Jaccard and a pass flag — passed=false rows are the verification
    // work the banding wastes (same planted slice as q_lsh_recall)
    "q_lsh_precision" -> ((s, dir) => {
      val base = t(s, dir, "documents").where(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
      val planted = base.select((col("doc_id") + 200000).as("doc_id"),
        substr(col("text"), lit(1), floor(length(col("text")) / 2).cast("int")).as("text"))
      Evaluation.lshPrecision(base.union(planted),
          "text", "doc_id", shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // clustering-quality probe: per-cluster label purity of the
    // deterministic k-means (the SemDeDup clustering reused as an
    // unsupervised-structure evaluation against the labeled slice)
    "q_cluster_purity" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SemDedup.kmeansDeterministic(emb, "embedding", "vec_id", k = 16, iters = 1)
      val assigned = SemDedup.assignClusters(emb, "embedding", cents)
        .select(col("cluster").cast("int").as("cluster"), col("label"))
      Evaluation.clusterPurity(assigned, "cluster", "label").orderBy(col("cluster"))
    }),

    // chance-corrected clustering agreement: exact-integer pair counts,
    // one fixed-order float division at the edge — bit-exact without
    // transcendentals (the ARI companion to q_cluster_purity)
    "q_cluster_ari" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SemDedup.kmeansDeterministic(emb, "embedding", "vec_id", k = 16, iters = 1)
      val assigned = SemDedup.assignClusters(emb, "embedding", cents)
        .select(col("cluster").cast("int").as("cluster"), col("label"))
      Evaluation.adjustedRandIndex(assigned, "cluster", "label")
    }),

    // information-theoretic clustering agreement: MI / entropies as
    // fixed-order folds of (count ratio)·ln(count ratio) terms over the
    // bounded cell table, round-6 at the edge (ln ulp parity), nmi
    // computed FROM the rounded components — the NMI companion closing
    // the purity/ARI/NMI evaluation triad
    "q_cluster_nmi" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SemDedup.kmeansDeterministic(emb, "embedding", "vec_id", k = 16, iters = 1)
      val assigned = SemDedup.assignClusters(emb, "embedding", cents)
        .select(col("cluster").cast("int").as("cluster"), col("label"))
      Evaluation.normalizedMutualInfo(assigned, "cluster", "label")
    }),

    // snapshot drift: per-source PSI of the n_chars distribution between
    // the md5-split halves of the corpus (the monitoring op between crawl
    // refreshes) — bounded (source × bin) cells, driver fold (NMI pattern)
    "q_drift_psi" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isRef = substring(md5(col("doc_id").cast("string")), 1, 4) < "8000"
      Evaluation.populationStability(
          docs.where(isRef), docs.where(!isRef), "n_chars", "source",
          lo = 0.0, width = 100.0, nBins = 8)
        .withColumnRenamed("group", "source")
        .orderBy(col("source"))
    }),

    // reliability table (binned calibration, Guo et al. 2017) of a
    // deterministic scorer vs a deterministic label: per-bin count, mean
    // confidence, label rate, |gap| — the per-bin form of ECE. Scores
    // include exact 1.0 rows so the top-bin fold-in is exercised
    "q_calibration" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(
        when(col("doc_id") % 101 === 0, lit(1.0))
          .otherwise((col("doc_id") % 1009).cast("double") / 1009.0).as("score"),
        (col("doc_id") % 3 === 0).as("label"))
      Evaluation.calibration(scored, "score", "label", nBins = 10)
    }),

    // scalar calibration summary: ECE (fixed ascending-bin fold of the
    // table's rounded gaps) + Brier score — the model-card numbers
    "q_calibration_summary" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(
        when(col("doc_id") % 101 === 0, lit(1.0))
          .otherwise((col("doc_id") % 1009).cast("double") / 1009.0).as("score"),
        (col("doc_id") % 3 === 0).as("label"))
      Evaluation.calibrationSummary(scored, "score", "label", nBins = 10)
    }),

    // per-vector margin: best same-label minus best other-label cosine —
    // negative margin flags boundary/mislabeled vectors
    "q_sim_margin" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Evaluation.similarityMargin(emb, emb.where(col("vec_id") < 100), "embedding", "vec_id", "label")
        .orderBy(col("query_id"))
    }),

    // hybrid retrieval: reciprocal-rank fusion of BM25 (exact terms over
    // documents.text) and dense cosine (embeddings) rankings for the
    // same query ids — the standard lexical+vector RAG retrieval shape
    "q_hybrid_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lexical = Bm25.topK(docs, docs.where(col("doc_id") < 5), "text", "doc_id", k = 10)
        .select(col("query_id"), col("doc_id").as("item_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("neighbor_id").as("item_id"), col("rank"))
      Evaluation.rrfFuse(Seq(lexical, dense), k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // end-to-end curation: quality gate → exact dedup → near dedup
    // (rows-only; stage invariants in CurationPipelineSpec)
    "q_curation_pipeline" -> ((s, dir) => {
      graft.dedup.CurationPipeline
        .run(t(s, dir, "documents"), "text", "doc_id", minQuality = 0.3, nearThreshold = 0.6)
        .survivors
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // text analysis: token counting
    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          T.tokenCount(col("text")).cast("long").as("n_tokens"),
          T.subwordCountEstimate(col("text")).cast("long").as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    // text analysis: quality scoring
    "q_text_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), T.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // BM25 lexical retrieval: exact-term inverted index, df-pruned IDF
    // broadcast; score sums round at the edge (accumulation order).
    // maxDfFraction = 0.9, NOT the 0.5 default: the synthetic corpus has
    // a 31-word vocabulary where all but one term exceed df/N = 0.5, and
    // the one survivor never appears in the query docs — at 0.5 this gate
    // (and the persisted twin sharing its oracle) hash-matched on ZERO
    // rows, proving nothing. 0.9 keeps the cap computation live (the df
    // prune still evaluates) while every SF scores real documents.
    "q_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Bm25.topK(docs, docs.where(col("doc_id") < 5), "text", "doc_id", k = 5,
          maxDfFraction = Some(0.9))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // incremental index maintenance: the corpus indexed as two disjoint
    // segments (Lucene-style), merged, then scored — the oracle rebuilds
    // from the FULL corpus in one shot, so the gate proves merge ≡
    // rebuild end-to-end (df re-capped at score time, stats re-added)
    "q_bm25_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = Bm25.mergeIndex(
        Bm25.buildIndex(docs.where(col("doc_id") % 5 =!= 0), "text", "doc_id"),
        Bm25.buildIndex(docs.where(col("doc_id") % 5 === 0), "text", "doc_id"))
      Bm25.scoreTopK(idx, docs.where(col("doc_id") >= 5 && col("doc_id") < 10), "text", "doc_id", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // the PERSISTED inverted index: build → save (term-bucketed postings
    // + unpruned df surface + manifest-last scalars) → serve with the
    // query vocabulary's buckets pruning the postings scan. Oracle =
    // q_bm25's from-scratch SQL: the artifact must score bit-identically
    "q_bm25_persisted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxDir = ivfIndexDirs.computeIfAbsent(dir + "#bm25", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_bm25").toString
        graft.text.Bm25Store.build(docs, "text", "doc_id", d, nBuckets = 16)
        d
      })
      graft.text.Bm25Store.scoreTopKPersisted(s, idxDir,
          docs.where(col("doc_id") < 5), "text", "doc_id", k = 5,
          maxDfFraction = Some(0.9))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // index maintenance for the persisted artifact: build on the low-id
    // half, then appendAuto the rest at maxSegments = 2 - the router
    // appends the segment AND (bound reached) folds the store in place
    // through the staged roll-forward swap, so the r14 auto-compaction
    // path is ON the oracle-gated serving path. Oracle =
    // q_bm25_incremental's (the full-corpus rebuild): matching it proves
    // append + in-place fold ≡ rebuild on disk
    "q_bm25_index_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxDir = ivfIndexDirs.computeIfAbsent(dir + "#bm25app", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_bm25_app").toString
        val half = maxDocId(docs).getOrElse(0L) / 2
        graft.text.Bm25Store.build(docs.where(col("doc_id") <= half),
          "text", "doc_id", d, nBuckets = 16)
        val seg = Bm25.buildIndex(docs.where(col("doc_id") > half), "text", "doc_id")
        val route = graft.text.Bm25Store.appendAuto(seg, d, segmentId = 1L, maxSegments = 2)
        // an empty segment is not committed, so there is nothing to fold
        val want = if (seg.nDocs > 0) "append+compact" else "append"
        require(route == want, s"q_bm25_index_append: expected route $want, got $route")
        require(graft.text.Bm25Store.committedSegments(s, d) == Seq(0L),
          "q_bm25_index_append: in-place fold left more than the base segment")
        d
      })
      graft.text.Bm25Store.scoreTopKPersisted(s, idxDir,
          docs.where(col("doc_id") >= 5 && col("doc_id") < 10), "text", "doc_id", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // temperature-based domain mixture: √p token-share flattening over
    // the source dimension, budgeted rates computed driver-side from a
    // source-granularity aggregate, corpus kept via scan-local id-hash
    // filter (never shuffled); Z folds in ascending source order so the
    // oracle reproduces the float bit-for-bit
    "q_domain_mixture" -> ((s, dir) => {
      Mixture.sampleSummary(t(s, dir, "documents"), "text", "doc_id", "source", budgetFraction = 0.25)
        .orderBy(col("source"))
    }),

    // per-domain percentile filter (CCNet shape): each source keeps its
    // top half by classifier score — per-domain thresholds, one window
    // shuffle on the bounded source dimension
    "q_quality_percentile" -> ((s, dir) => {
      graft.text.QualityLr.keepTopPerSource(
          t(s, dir, "documents"), "text", "doc_id", "source", frac = 0.5)
        .orderBy(col("id"))
    }),

    // upsampling mixture: uncapped √p rates — rate > 1 repeats a doc
    // floor(rate) times plus a hash-decided extra, so expected copies =
    // rate exactly; rate table broadcast, repeat is a narrow explode
    "q_mixture_upsample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Mixture.temperatureExpand(docs, "text", "doc_id", "source", budgetFraction = 1.5)
        .select(col("doc_id"), col("source"), col("copy").cast("long").as("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }),

    // balanced output sharding: sorted round-robin (rank by weight desc,
    // shard = rank mod N) bounds shard spread by the largest single item
    // — only (id, weight) pairs enter the rank exchange
    "q_shard_assign" -> ((s, dir) => {
      Sharding.assignShards(t(s, dir, "documents"), "doc_id",
          T.tokenCount(col("text")).cast("long"), nShards = 8)
        .orderBy(col("doc_id"))
    }),

    // the balance report over the same assignment: near-equal totals is
    // the operator's whole contract, so gate the per-shard aggregates
    "q_shard_balance" -> ((s, dir) => {
      Sharding.shardSummary(Sharding.assignShards(t(s, dir, "documents"), "doc_id",
          T.tokenCount(col("text")).cast("long"), nShards = 8))
        .orderBy(col("shard"))
    }),

    // epoch-frozen mixture: rates computed ONCE from the epoch-start
    // snapshot (doc_id < 250), then applied unchanged to the whole
    // corpus — the q_domain_mixture keep rule with the rate table
    // decoupled from the filtered data (the StreamingMixture batch twin:
    // a doc's verdict is identical whenever it arrives)
    "q_mixture_epoch" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val rates = Mixture.sourceRates(
        docs.where(col("doc_id") < 250), "text", "source", budgetFraction = 0.25)
      Mixture.summaryWithRates(docs, "text", "doc_id", "source", rates)
        .orderBy(col("source"))
    }),

    // curriculum ordering: ntile difficulty buckets (from the global
    // rank via the exact ntile formula — no single-partition window),
    // easy-to-hard epoch schedule, epoch-salted reproducible shuffle;
    // only (id, score) pairs enter any exchange
    "q_curriculum" -> ((s, dir) => {
      Curriculum.epochOrder(t(s, dir, "documents"), "doc_id",
          col("n_chars"), nBuckets = 8, epochs = 4)
        .orderBy(col("epoch"), col("pos"))
    }),

    // model-based quality classifier (fastText/CCNet inference shape):
    // fixed weights over exact-ratio features, sigmoid rounded at the
    // edge, keep verdict on the rounded score — one narrow codegen'd
    // expression, no UDF, no shuffle
    "q_quality_lr" -> ((s, dir) => {
      graft.text.QualityLr.score(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("id"))
    }),

    // Gopher rule battery (Rae et al. 2021): integer counts and exact
    // ratios only — verdicts bit-identical across engines, no rounding
    "q_gopher_rules" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), T.tokenize(col("text")).as("toks"))
        .select(col("doc_id"), T.gopherRules(col("toks"), minStopwords = 1).as("g"))
        .select(col("doc_id"), col("g.*"))
        .orderBy(col("doc_id"))
    }),

    // text analysis: language ID (stopword heuristic)
    "q_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), T.langId(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    // document fingerprinting (md5 — exact DuckDB parity)
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // multimodal plumbing: binary payload → deterministic byte-level
    // features (the codec-less media shape; decode body is the documented
    // stub, schema/partitioning/batch plumbing real)
    "q_multimodal_decode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.decodeImages(docs, "doc_id", "payload")
        .select(col("doc_id"), col("byte_length"), col("content_hash"), round(col("mean_intensity"), 6).as("mean_intensity"))
        .orderBy(col("doc_id"))
    }),

    // multimodal REAL decode: deterministic grayscale PNGs manufactured
    // per doc_id (real ImageIO encode), decoded back with the real
    // ImageIO codec; the oracle recomputes dimensions and the exact
    // pixel mean arithmetically from doc_id — PNG is lossless, so only a
    // genuine decode round trip reproduces it
    "q_image_decode" -> ((s, dir) => {
      val png = udf((id: Long) => Multimodal.syntheticPng(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), png(col("doc_id")).as("payload"))
      Multimodal.decodeImagesIO(docs, "doc_id", "payload")
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(col("mean_intensity"), 6).as("mean_intensity"))
        .orderBy(col("doc_id"))
    }),

    // real resize: PNG → decode → integer box-average to 4×4 → re-encode
    // PNG → decode again; the oracle recomputes each output cell as the
    // truncating-division block mean of the formula pixels
    "q_image_resize" -> ((s, dir) => {
      val png = udf((id: Long) => Multimodal.syntheticPng(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), png(col("doc_id")).as("payload"))
      val resized = Multimodal.resizeImagesIO(docs, "payload", width = 4, height = 4)
      Multimodal.decodeImagesIO(resized, "doc_id", "payload")
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          round(col("mean_intensity"), 6).as("mean_intensity"))
        .orderBy(col("doc_id"))
    }),

    // audio twin of q_image_decode: real WAV payloads (AudioSystem
    // encode), real javax.sound decode; the oracle recomputes rate /
    // frames / duration / RMS arithmetically — PCM is lossless
    "q_audio_decode" -> ((s, dir) => {
      val wav = udf((id: Long) => Multimodal.syntheticWav(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), wav(col("doc_id")).as("payload"))
      Multimodal.decodeAudioIO(docs, "doc_id", "payload")
        .select(col("doc_id"), col("sample_rate"), col("channels"), col("bits"),
          col("n_frames"), col("duration_ms"), round(col("rms"), 6).as("rms"))
        .orderBy(col("doc_id"))
    }),

    // real audio FEATURES (1→4 generator rows): windowed RMS + stream
    // zero-crossing count / peak / mean-abs over genuinely decoded PCM —
    // every quantity integer-exact or a fixed-order float fold, so the
    // oracle replays them from the sample formula
    "q_audio_features" -> ((s, dir) => {
      val wav = udf((id: Long) => Multimodal.syntheticWav(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), wav(col("doc_id")).as("payload"))
      Multimodal.audioFeaturesIO(docs, "doc_id", "payload", nWindows = 4)
        .select(col("doc_id"), col("w"), round(col("win_rms"), 6).as("win_rms"),
          col("zcr"), round(col("peak"), 6).as("peak"), round(col("mean_abs"), 6).as("mean_abs"))
        .orderBy(col("doc_id"), col("w"))
    }),

    // REAL spectral features: own radix-2 FFT (graft.multimodal.Dsp — the
    // JDK ships none) over real WAV decodes; the oracle replays the same
    // windowed-FFT → mel → log → DCT op sequence in SQL with embedded
    // constant tables, so everything up to the final ln is bit-exact
    // across engines (round-6 absorbs the ln's libm ulp parity)
    "q_audio_mfcc" -> ((s, dir) => {
      val wav = udf((id: Long) => Multimodal.syntheticWavLong(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), wav(col("doc_id")).as("payload"))
      Multimodal.mfccIO(docs, "doc_id", "payload", frameLen = 64, nMels = 8, nCoef = 4)
        .select(col("doc_id") +: col("frame") +:
          ((0 until 4).map(j => round(col(s"c$j"), 6).as(s"c$j")) :+
            round(col("log_energy"), 6).as("log_energy")): _*)
        .orderBy(col("doc_id"), col("frame"))
    }),

    // spectral shape features over the same FFT pipeline: centroid,
    // bandwidth, 85% rolloff, flatness — all fixed-order folds
    "q_audio_spectral" -> ((s, dir) => {
      val wav = udf((id: Long) => Multimodal.syntheticWavLong(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), wav(col("doc_id")).as("payload"))
      Multimodal.spectralFeaturesIO(docs, "doc_id", "payload", frameLen = 64)
        .select(col("doc_id"), col("frame"),
          round(col("centroid"), 6).as("centroid"), round(col("bandwidth"), 6).as("bandwidth"),
          round(col("rolloff"), 6).as("rolloff"), round(col("flatness"), 6).as("flatness"))
        .orderBy(col("doc_id"), col("frame"))
    }),

    // video twin of q_image_decode: real AVI containers ([[Avi.encode]]
    // BI_RGB — lossless), decoded by the dependency-free RIFF reader; the
    // oracle recomputes dims / fps / frame count / duration and the exact
    // all-frame pixel mean arithmetically from the id formula
    "q_video_decode" -> ((s, dir) => {
      val avi = udf((id: Long) => Multimodal.syntheticAvi(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), avi(col("doc_id")).as("payload"))
      Multimodal.decodeVideoIO(docs, "doc_id", "payload")
        .select(col("doc_id"), col("width"), col("height"), col("fps_rate"), col("fps_scale"),
          col("n_frames"), col("duration_ms"), round(col("mean_intensity"), 6).as("mean_intensity"))
        .orderBy(col("doc_id"))
    }),

    // real frame sampling (1→N generator): 3 evenly-spaced frames per
    // video, per-frame pixel means — the oracle replays the sampling
    // arithmetic (frame_no = s·nf/k) and the per-frame formula means
    "q_video_frames" -> ((s, dir) => {
      val avi = udf((id: Long) => Multimodal.syntheticAvi(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), avi(col("doc_id")).as("payload"))
      Multimodal.sampleFramesIO(docs, "doc_id", "payload", n = 3)
        .select(col("doc_id"), col("sample_idx"), col("frame_no"),
          round(col("frame_mean"), 6).as("frame_mean"))
        .orderBy(col("doc_id"), col("sample_idx"))
    }),

    // BPE vocabulary induction: 8 merge rounds over the word-frequency
    // dict (one corpus pass, then dict-only rounds); the oracle replays
    // the full trainer as 8 chained SQL stages — both engines share the
    // (count desc, pair asc) total order and left-to-right
    // non-overlapping replace semantics, so the merge table is exact
    "q_bpe_train" -> ((s, dir) => {
      graft.text.Bpe.trainTable(t(s, dir, "documents"), col("text"), merges = 8)
        .orderBy(col("step"))
    }),

    // apply the learned merges: per-doc subword counts via a broadcast
    // join of corpus tokens against the segmented dictionary
    "q_bpe_segment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.train(docs, col("text"), merges = 8)
      graft.text.Bpe.segment(docs, "doc_id", col("text"), merges)
        .orderBy(col("doc_id"))
    }),

    // tokenizer fertility: per source, subwords-per-word under the
    // learned BPE — the tokenizer-efficiency report run before committing
    // a vocab (high-fertility sources tokenize expensively). Rides the
    // broadcast segmented dictionary; the corpus reduces to per-source
    // sums
    "q_token_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.train(docs, col("text"), merges = 8)
      val seg = graft.text.Bpe.segment(docs, "doc_id", col("text"), merges)
      docs.select(col("doc_id"), col("source"))
        .join(seg, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("n_words"),
          coalesce(sum(col("n_subwords")), lit(0L)).as("n_subwords"))
        .withColumn("fertility",
          when(col("n_words") === 0, lit(0.0))
            .otherwise(round(col("n_subwords").cast("double") / col("n_words"), 6)))
        .orderBy(col("source"))
    }),

    // perceptual image fingerprints: aHash64 over genuinely decoded PNG
    // pixels — the oracle replays the kernel from the pixel formula
    "q_image_phash" -> ((s, dir) => {
      val png = udf((id: Long) => Multimodal.syntheticPng(id))
      val phash = udf((b: Array[Byte]) => Multimodal.aHash64(b))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), png(col("doc_id")).as("payload"))
      docs.select(col("doc_id"), phash(col("payload")).as("phash"))
        .where(col("phash").isNotNull)
        .orderBy(col("doc_id"))
    }),

    // perceptual video fingerprints: 3 sampled frames per video, each
    // aHash'd over genuinely decoded pixels; the oracle replays the full
    // aHash kernel (8×8 box means, grid-mean threshold, bit packing)
    // arithmetically from the frame formula
    "q_video_phash" -> ((s, dir) => {
      val avi = udf((id: Long) => Multimodal.syntheticAvi(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), avi(col("doc_id")).as("payload"))
      Multimodal.videoFrameHashes(docs, "doc_id", "payload", n = 3)
        .select(col("doc_id"), col("sample_idx"), col("frame_no"), col("frame_hash"))
        .orderBy(col("doc_id"), col("sample_idx"))
    }),

    // MP4 container indexing (no frame decoding — Mp4 class doc): per
    // sample byte range / chunk / timing / keyframe from real stbl
    // parsing of a real Mp4.encode container; the oracle replays the
    // generator's sample-table arithmetic
    "q_video_index" -> ((s, dir) => {
      val mp4 = udf((id: Long) => Multimodal.syntheticMp4(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), mp4(col("doc_id")).as("payload"))
      Multimodal.indexVideoMp4(docs, "doc_id", "payload")
        .orderBy(col("doc_id"), col("sample_no"))
    }),

    // FRAGMENTED MP4 indexing (moof/traf/trun — the fMP4 layout of
    // DASH/HLS captures, which dominates web-crawled video): same
    // per-sample formulas as q_video_index laid out as real fragments;
    // the oracle replays the per-fragment byte arithmetic (constant
    // 625-byte init header + 88+12·nf moof + 8-byte mdat header per
    // fragment — Mp4Spec pins the constants)
    "q_video_index_frag" -> ((s, dir) => {
      val mp4 = udf((id: Long) => Multimodal.syntheticFragMp4(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), mp4(col("doc_id")).as("payload"))
      Multimodal.indexVideoMp4(docs, "doc_id", "payload")
        .orderBy(col("doc_id"), col("sample_no"))
    }),

    // WebM/Matroska container indexing (EBML cluster/SimpleBlock walk —
    // the web's other dominant video container): same per-sample formulas
    // as q_video_index in Matroska's native millisecond clock, laid out
    // as real clusters of 2 blocks; the oracle replays the fixed-width
    // EBML byte arithmetic (constant 243-byte header + 23 + 13·nf per
    // cluster — WebmSpec pins the constants). One unified index schema
    // with the MP4 lanes
    "q_video_index_webm" -> ((s, dir) => {
      val webm = udf((id: Long) => Multimodal.syntheticWebm(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), webm(col("doc_id")).as("payload"))
      Multimodal.indexVideoWebm(docs, "doc_id", "payload")
        .orderBy(col("doc_id"), col("sample_no"))
    }),

    // LACED WebM: each cluster's 2 frames behind one Xiph-laced
    // SimpleBlock — the audio/all-key shape lacing exists for. Two
    // deliberate divergences from the unlaced twin, both Matroska
    // semantics the parser implements and the oracle replays: every
    // laced frame inherits the BLOCK's keyframe flag (the cluster's
    // first frame, sample 2f), and offsets shift by the lace header
    // (count byte + one size byte per leading frame)
    "q_video_index_webm_laced" -> ((s, dir) => {
      val webm = udf((id: Long) => Multimodal.syntheticWebmLaced(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), webm(col("doc_id")).as("payload"))
      Multimodal.indexVideoWebm(docs, "doc_id", "payload")
        .orderBy(col("doc_id"), col("sample_no"))
    }),

    // Cues-bearing WebM: the same frames behind a real seek table —
    // every cluster shifts by the constant 12 + 58·⌈n/2⌉ bytes the Cues
    // element occupies between Tracks and the first Cluster. The full
    // walk must skip the element (Cues are a hint, not data); the oracle
    // replays the shifted byte arithmetic
    "q_video_index_webm_cues" -> ((s, dir) => {
      val webm = udf((id: Long) => Multimodal.syntheticWebmCues(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), webm(col("doc_id")).as("payload"))
      Multimodal.indexVideoWebm(docs, "doc_id", "payload")
        .orderBy(col("doc_id"), col("sample_no"))
    }),

    // clip extraction through the Cues seek: samples with dts in
    // [400, 700) ticks, walked from the cue-pointed cluster covering 400
    // (clusters before it are never block-parsed — the reason muxers
    // write Cues), renumbered from 0 within the clip. Docs whose frames
    // all fall outside the range drop. The oracle filters the shifted
    // layout replay by the same dts window and renumbers with
    // row_number/dense_rank
    "q_video_clip_webm" -> ((s, dir) => {
      val webm = udf((id: Long) => Multimodal.syntheticWebmCues(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), webm(col("doc_id")).as("payload"))
      Multimodal.clipVideoWebm(docs, "doc_id", "payload", fromTicks = 400L, toTicks = 700L)
        .orderBy(col("doc_id"), col("sample_no"))
    }),

    // MIXED-container corpus through the magic-byte dispatch (web crawls
    // carry MP4 and WebM side by side): even doc_ids get an MP4 payload,
    // odd ones a WebM, one indexVideoAuto pass over the blend. The
    // oracle unions the two byte-layout replays split by the same
    // parity — verifying both the per-container arithmetic AND that the
    // dispatcher sent every payload to the right parser
    "q_video_index_auto" -> ((s, dir) => {
      val payload = udf((id: Long) =>
        if (id % 2 == 0) Multimodal.syntheticMp4(id) else Multimodal.syntheticWebm(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), payload(col("doc_id")).as("payload"))
      Multimodal.indexVideoAuto(docs, "doc_id", "payload")
        .orderBy(col("doc_id"), col("sample_no"))
    }),

    // container-agnostic clip extraction in WALL MILLISECONDS over the
    // mixed corpus: MP4 clips by filtering its parsed sample table (the
    // moov IS the seek index), WebM by the Cues-seeked cluster walk —
    // one [400, 700) ms window despite per-file tick rates. The oracle
    // unions the two byte-layout replays filtered by each container's
    // time_ms arithmetic ((s·delta·1000)//timescale vs s·delta) and
    // renumbers within the clip
    "q_video_clip_auto" -> ((s, dir) => {
      val payload = udf((id: Long) =>
        if (id % 2 == 0) Multimodal.syntheticMp4(id) else Multimodal.syntheticWebmCues(id))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), payload(col("doc_id")).as("payload"))
      Multimodal.clipVideoAuto(docs, "doc_id", "payload", fromMs = 400L, toMs = 700L)
        .orderBy(col("doc_id"), col("sample_no"))
    }),

    // sequence packing (pre-training concat-and-chunk): documents
    // concatenate in doc_id order into one token stream, split into
    // 128-token training sequences; output is the (doc, seq) span table
    // with intra-document splits — complementary to q_pack_chunks, which
    // groups WHOLE docs into char-budget chunks without splitting
    // packing-efficiency report: per-source padding waste / utilization /
    // doc fragmentation at seqLen=128 — the trade-off curve sample that
    // decides a seqLen; grouped offsets pattern, no single-partition window
    "q_pack_efficiency" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Packing.packEfficiency(docs, "doc_id", T.tokenCount(col("text")),
          "source", seqLen = 128)
        .orderBy(col("source"))
    }),

    "q_pack_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Packing.packSequences(docs, "doc_id", T.tokenCount(col("text")), seqLen = 128)
        .orderBy(col("doc_id"), col("seq_id"))
    }),

    // training-data export (graft.sources.Export): per-shard manifest over
    // the packed-sequence span table — sequence/token/pad counts and the
    // contributing doc-id range, computed WITHOUT materializing tokens
    "q_export_manifest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val spans = graft.text.Packing.packSequences(docs, "doc_id", T.tokenCount(col("text")), seqLen = 128)
      graft.sources.Export.packedManifest(spans, "doc_id", seqLen = 128, nShards = 4)
        .orderBy(col("shard"))
    }),

    // export manifest's source-mix lane: per (shard, source) token counts
    // attributing each packed span to its document's source
    "q_export_source_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val spans = graft.text.Packing.packSequences(docs, "doc_id", T.tokenCount(col("text")), seqLen = 128)
      graft.sources.Export.sourceMix(spans, docs, "doc_id", "source", nShards = 4)
        .orderBy(col("shard"), col("source"))
    }),

    // the materialization itself: every training token's (seq_id, seq_pos,
    // token_id) identity — exploded from the packed sequences so padding
    // positions (token_id = 0) are pinned too
    "q_export_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.sources.Export.packTokens(docs, "doc_id", "text", "source", seqLen = 128, nShards = 4)
        .select(col("shard"), col("seq_id"), posexplode(col("tokens")).as(Seq("seq_pos", "token_id")))
        .select(col("shard"), col("seq_id"), col("seq_pos").cast("long").as("seq_pos"), col("token_id"))
        .orderBy(col("seq_id"), col("seq_pos"))
    }),

    // span-corruption (denoising-objective) export: deterministic block
    // masking over the packed sequences — input stream with sentinel-
    // replaced blocks + target stream of (sentinel, original block)
    // pairs. Pure function of (seq_id, block): the oracle replays every
    // masked position through the splitmix64 key in HUGEINT arithmetic
    "q_export_masked" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val packed = graft.sources.Export.packTokens(docs, "doc_id", "text", "source", seqLen = 128, nShards = 4)
      val m = graft.sources.Export.maskSpans(packed, blockLen = 16, maskNum = 3, maskDen = 20,
        sentinelBase = 1000000L)
      val inp = m.select(col("seq_id"), lit("input").as("stream"),
        posexplode(col("input_tokens")).as(Seq("pos", "token_id")))
      val tgt = m.select(col("seq_id"), lit("target").as("stream"),
        posexplode(col("target_tokens")).as(Seq("pos", "token_id")))
      inp.unionAll(tgt)
        .select(col("seq_id"), col("stream"), col("pos").cast("long").as("pos"), col("token_id"))
        .orderBy(col("seq_id"), col("stream"), col("pos"))
    }),

    // JSONL export manifest: weight-balanced shard assignment (sorted
    // round-robin on token count) aggregated per shard
    "q_export_jsonl" -> ((s, dir) => {
      graft.sources.Export.jsonlManifest(t(s, dir, "documents"), "doc_id", "text", nShards = 4)
        .orderBy(col("shard"))
    }),

    // incremental epoch export END TO END: two epochs (docs split by id
    // parity) written through writePackedShardsEpoch into a real
    // directory — data first, merged manifest renamed last — then the
    // certificate read back through readManifest. The oracle recomputes
    // both epochs' per-shard manifests from the raw table (packing spans
    // partitioned by parity), so every certified count crosses the full
    // write→merge→read path before comparing
    "q_export_epoch" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = java.nio.file.Files.createTempDirectory("graft_export_epoch").toString
      (0 to 1).foreach { ep =>
        val d = docs.where(pmod(col("doc_id"), lit(2)) === ep)
        val spans = graft.text.Packing.packSequences(d, "doc_id", T.tokenCount(col("text")), seqLen = 128)
        val packed = graft.sources.Export.packTokens(d, "doc_id", "text", "source", seqLen = 128, nShards = 4)
        graft.sources.Export.writePackedShardsEpoch(packed, spans, d, "doc_id", "source",
          seqLen = 128, nShards = 4, out, epoch = ep)
      }
      graft.sources.Export.readManifest(s, out)
        .select(col("epoch"), col("shard"), col("n_sequences"), col("n_tokens"),
          col("pad_tokens"), col("n_docs"), col("min_doc_id"), col("max_doc_id"),
          col("min_seq_id"), col("max_seq_id"))
        .orderBy(col("epoch"), col("shard"))
    }),

    // the certification CONSUMER end to end: a 2-epoch export audited
    // against its own manifest — certified vs actual counts cross the
    // full write→merge→read-back→recount path, and the oracle recomputes
    // what BOTH sides must say from the raw table (an intact export
    // audits 'ok' with counts equal on both lanes)
    "q_export_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = java.nio.file.Files.createTempDirectory("graft_export_audit").toString
      (0 to 1).foreach { ep =>
        val d = docs.where(pmod(col("doc_id"), lit(2)) === ep)
        val spans = graft.text.Packing.packSequences(d, "doc_id", T.tokenCount(col("text")), seqLen = 128)
        val packed = graft.sources.Export.packTokens(d, "doc_id", "text", "source", seqLen = 128, nShards = 4)
        graft.sources.Export.writePackedShardsEpoch(packed, spans, d, "doc_id", "source",
          seqLen = 128, nShards = 4, out, epoch = ep)
      }
      graft.sources.Export.auditPackedShards(s, out)
        .orderBy(col("epoch"), col("shard"))
    }),

    // text analysis: stopword removal (duplicates/order preserved)
    "q_stopword_removal" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          T.tokenCount(col("text")).cast("long").as("n_tokens"),
          size(T.removeStopwords(col("text"), "en")).cast("long").as("n_content_tokens"))
        .orderBy(col("doc_id"))
    }),

    // text analysis: sentence split on terminal punctuation
    "q_sentence_split" -> ((s, dir) => {
      val sent = T.sentences(col("text"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(sent).cast("long").as("n_sentences"),
          coalesce(array_max(transform(sent, x => length(x))), lit(0)).cast("long").as("max_sentence_len"),
          coalesce(element_at(sent, 1), lit("")).as("first_sentence"))
        .orderBy(col("doc_id"))
    }),

    // text analysis: char-trigram language ID (short-text-robust variant)
    "q_langid_ngram" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          T.trigramHits(col("text"), "en").cast("long").as("h_en"),
          T.trigramHits(col("text"), "es").cast("long").as("h_es"),
          T.trigramHits(col("text"), "de").cast("long").as("h_de"),
          T.trigramHits(col("text"), "fr").cast("long").as("h_fr"),
          T.langIdNgram(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    // substring-level dedup: per-doc duplicated-passage profile (8-token
    // spans shared with other docs) — DuckDB oracle reproduces the spans
    // as strings, Spark carries only their 64-bit hashes
    "q_span_dedup" -> ((s, dir) => {
      Dedup.spanDupStats(t(s, dir, "documents"), "text", "doc_id", w = 8)
        .select(col("id"), col("n_spans"), col("n_dup_spans"), col("dup_ratio"))
        .orderBy(col("id"))
    }),

    // global chunk-level dedup with document REWRITE (C4/Dolma "dedupe
    // paragraphs" shape): keep the first global occurrence of every
    // 8-token chunk, emit the cleaned corpus — the oracle dedups on the
    // chunk STRINGS where the engine uses their 64-bit hashes
    "q_dedup_rewrite" -> ((s, dir) => {
      Dedup.chunkDedupRewrite(t(s, dir, "documents"), "text", "doc_id", w = 8)
        .orderBy(col("id"))
    }),

    // content-defined chunk boundaries (FastCDC-style): edit-robust
    // dedup — an insertion re-chunks its neighborhood only, where the
    // fixed-w rewrite above loses every match past the edit point.
    // Expected chunk ≈ 2^3 = 8 tokens, clamped to [4, 16]
    "q_cdc_rewrite" -> ((s, dir) => {
      Dedup.cdcDedupRewrite(t(s, dir, "documents"), "text", "doc_id",
          hashW = 8, maskBits = 3, minTokens = 4, maxTokens = 16)
        .orderBy(col("id"))
    }),

    // dataset card: the per-source release report — size, token mass,
    // quality, dominant language, and duplication profile in one row per
    // source. Every lane is exact-integer (or a rounded exact ratio /
    // threshold on bit-identical doubles), so the whole card hash-matches
    "q_dataset_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.select(
        col("source"), col("lang"), col("doc_id"),
        T.tokenCount(col("text")).cast("long").as("__nt"),
        T.qualityScore(col("text")).as("__q"))
      val stats = base.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(when(col("__q") >= 0.5, 1L).otherwise(0L)).as("n_hi_quality"))
      val langW = Window.partitionBy(col("source"))
        .orderBy(col("__lc").desc, col("lang"))
      val topLang = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("__lc"))
        .withColumn("__rn", row_number().over(langW))
        .where(col("__rn") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("__lc").as("top_lang_docs"))
      val dupDocs = Dedup.chunkDedupRewrite(docs, "text", "doc_id", w = 8)
        .where(col("n_dropped") > 0)
        .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
      stats.join(topLang, Seq("source"))
        .join(dupDocs, Seq("source"), "left")
        .select(
          col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("n_docs"), 6).as("avg_doc_tokens"),
          col("n_hi_quality"), col("top_lang"), col("top_lang_docs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
        .orderBy(col("source"))
    }),

    // token-budget selection: keep the best-quality documents until a
    // 10k-token budget (greedy prefix over the exact global running sum —
    // the RowId offsets pattern generalized to sums)
    "q_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Budget.tokenBudgetSelect(
          docs, "doc_id", T.qualityScore(col("text")), T.tokenCount(col("text")), budget = 10000L)
        .orderBy(col("doc_id"))
    }),

    // rewrite lineage: every dropped chunk occurrence with the surviving
    // occurrence it deduplicated against (the "where did my content go"
    // audit for q_dedup_rewrite)
    "q_rewrite_attribution" -> ((s, dir) => {
      Dedup.chunkDropAttribution(t(s, dir, "documents"), "text", "doc_id", w = 8)
        .orderBy(col("id"), col("idx"))
    }),

    // boilerplate removal: chunks in >= 3 distinct docs are template
    // text — removed EVERYWHERE (no surviving copy), unlike the
    // keep-first rewrite above
    "q_boilerplate_rewrite" -> ((s, dir) => {
      Dedup.boilerplateRewrite(t(s, dir, "documents"), "text", "doc_id", w = 8, minDocs = 3)
        .orderBy(col("id"))
    }),

    // sketch-prefiltered ANN with exact re-rank (rows-only; recall
    // invariant in SimilaritySpec)
    "q_ann_sketch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sketchTopK(emb, emb.where(col("vec_id") < 5), "embedding", "vec_id", k = 5, oversample = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // product-quantization ANN: 32×-compressed corpus codes, ADC scoring,
    // exact re-rank (rows-only; recall invariant in SimilaritySpec)
    "q_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Similarity.pqTrain(emb, "embedding", "vec_id", m = 8, k = 16)
      val encoded = Similarity.pqEncode(emb, "embedding", model)
      Similarity.pqTopK(encoded, emb.where(col("vec_id") < 5), "embedding", "vec_id", 5, model, oversample = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // SemDeDup (Abbas et al. 2023): deterministic full-vector k-means
    // (= PQ with m = 1), then intra-cluster cosine pruning — the oracle
    // replays clustering AND pruning exactly via the shared Lloyd layers.
    // The synthetic embeddings have no natural near-dup pairs (max pair
    // cosine ≈ 0.48), so exact copies are planted at the same +100000
    // offset q_dedup_embedding uses (identical vectors assign to the
    // same cluster and cosine 1.0 trips the prune)
    "q_semdedup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val guarded = base.withColumn("vec_id",
        when(col("vec_id") < 100000, col("vec_id"))
          .otherwise(raise_error(lit(
            "embeddings.vec_id reached the planted-id offset (100000); raise the offset"))))
      val planted = guarded.where(col("vec_id") < 10)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      SemDedup.semDedup(guarded.union(planted), "vec_id", "embedding",
          k = 16, iters = 1, tau = 0.9)
        .orderBy(col("vec_id"))
    }),

    // the PERSISTED semantic-dedup artifact (round 14, SemDedupStore):
    // centroids trained + corpus state assigned ONCE into a
    // committed-segment store over the base 3/4 of the embeddings, then
    // the remaining quarter (plus planted exact copies - +100000/+200000
    // of low base ids die vs state, +300000 of low batch ids die ONLY
    // via the in-batch lower-id rule) probed against it. Oracle replays
    // clustering on the base, frozen-centroid assignment of the batch,
    // and the exact drop rule - so the gate proves store-served ==
    // from-scratch semantics with the clustering NOT recomputed per query
    "q_semdedup_store" -> ((s, dir) => {
      // planted-id offset guard (the q_semdedup precedent): ids at or
      // above the first offset would collide with the plants
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("vec_id",
          when(col("vec_id") < 100000, col("vec_id"))
            .otherwise(raise_error(lit(
              "embeddings.vec_id reached the planted-id offset (100000); raise the offsets"))))
      val storeDir = ivfIndexDirs.computeIfAbsent(dir + "#sds", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_sds").toString
        graft.dedup.SemDedupStore.build(
          emb.where(pmod(col("vec_id"), lit(4)) =!= 0),
          "vec_id", "embedding", d, k = 16, iters = 1, nBuckets = 16)
        d
      })
      def planted(offset: Int, baseSide: Boolean) = emb
        .where((if (baseSide) pmod(col("vec_id"), lit(4)) =!= 0
                else pmod(col("vec_id"), lit(4)) === 0) && col("vec_id") < 10)
        .select((col("vec_id") + offset).as("vec_id"), col("embedding"))
      val batch = emb.where(pmod(col("vec_id"), lit(4)) === 0)
        .unionAll(planted(100000, baseSide = true))
        .unionAll(planted(200000, baseSide = true))
        .unionAll(planted(300000, baseSide = false))
      graft.dedup.SemDedupStore
        .dedupVerdict(s, storeDir, batch, "vec_id", "embedding", tau = 0.9)
        .orderBy(col("vec_id"))
    }),

    // deterministic PCA (power iteration, id-ordered folds — the
    // pqRefineDeterministic discipline): per-vector projection on the
    // top principal component, bit-reproducible across engines
    "q_pca_project" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (mu, pc) = Pca.fit(emb, "embedding", "vec_id", iters = 3)
      Pca.project(emb, "embedding", "vec_id", mu, pc)
        .select(col("vec_id"), round(col("pc_score"), 6).as("pc_score"))
        .orderBy(col("vec_id"))
    }),

    // the learned component itself (rounded through Spark's round so the
    // compare shares rounding semantics with the oracle)
    "q_pca_component" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (_, pc) = Pca.fit(emb, "embedding", "vec_id", iters = 3)
      import s.implicits._
      pc.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toSeq
        .toDF("dim", "loading")
        .select(col("dim"), round(col("loading"), 6).as("loading"))
        .orderBy(col("dim"))
    }),

    // Lloyd-REFINED PQ: one deterministic k-means step on the seed
    // codebook (sequential id-ordered component folds — bit-reproducible),
    // then the same encode/ADC/re-rank pipeline; the DuckDB oracle
    // replicates the refinement arithmetic exactly
    "q_ann_pq_refined" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeded = Similarity.pqTrain(emb, "embedding", "vec_id", m = 8, k = 16)
      val model = Similarity.pqRefineDeterministic(emb, "embedding", "vec_id", seeded, iters = 1)
      val encoded = Similarity.pqEncode(emb, "embedding", model)
      Similarity.pqTopK(encoded, emb.where(col("vec_id") < 5), "embedding", "vec_id", 5, model, oversample = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // int8 embedding quantization: 4× smaller vector storage; per-vector
    // scale and exact reconstruction L2 error (full oracle)
    "q_embed_quantize" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      t(s, dir, "embeddings")
        .select(col("vec_id"), V.quantizeInt8(col("embedding")).as("__q"),
          col("embedding").cast("array<double>").as("__v"))
        .select(col("vec_id"),
          round(col("__q.scale"), 6).as("scale"),
          round(V.l2Distance(col("__v"), V.dequantizeInt8(col("__q"))), 6).as("l2_err"))
        .orderBy(col("vec_id"))
    }),

    // exact substring dedup (the suffix-array use-case, window-hash
    // re-expression): per-doc duplicated-window and covered-char
    // fractions for cross-doc verbatim L-char duplicates (full oracle)
    "q_substring_dedup" -> ((s, dir) => {
      Dedup.exactSubstringDupStats(t(s, dir, "documents"), "text", "doc_id", minLen = 40, minDocs = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // IVF × PQ composed ANN: cell-pruned probe over the 32×-compressed
    // code artifact, exact re-rank — the 100 TB shape (full oracle)
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val indexed = Similarity.ivfBuild(emb, "embedding", "vec_id", nlist = 16).localCheckpoint(true)
      val model = Similarity.pqTrain(emb, "embedding", "vec_id", m = 8, k = 16)
      Similarity.ivfPqTopK(indexed, emb.where(col("vec_id") < 5), "embedding", "vec_id",
          k = 5, nlist = 16, nprobe = 8, model, oversample = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // the PERSISTED compressed serving artifact: cell-partitioned codes
    // + vectors, centroid and codebook sidecars — q_ann_ivfpq's exact
    // pipeline served from disk (shared oracle proves bit-equality); the
    // probe reads ~nprobe/nlist of the store and scans m-byte codes
    "q_ann_ivfpq_persisted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxDir = ivfIndexDirs.computeIfAbsent(dir + "#ivfpq", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
        Similarity.saveIvfPqIndex(emb, d, "embedding", "vec_id", nlist = 16, m = 8, k = 16)
        d
      })
      Similarity.ivfPqTopKPersisted(s, idxDir, emb.where(col("vec_id") < 5),
          "embedding", "vec_id", k = 5, nprobe = 8, oversample = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // incremental exact dedup: new batch (doc_id % 3 != 0) against an
    // existing corpus (doc_id % 3 == 0) — corpus contributes only its
    // fingerprint set, batch internally deduped
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val batch = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      Dedup.exactIncremental(corpus, batch, "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // incremental near-dedup (rows-only; invariants in DedupSpec)
    "q_minhash_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val batch = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      Dedup.minHashIncremental(corpus, batch, "text", "doc_id", threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // the PERSISTED near-dup index: corpus signatures + LSH band postings
    // stored bucketed, the batch deduped against the store with the
    // posting scan pruned to the batch's band buckets and the signature
    // scan to the candidates' — q_minhash_incremental's exact semantics
    // served from disk (shared oracle proves bit-equality)
    "q_minhash_store" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val batch = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val storeDir = ivfIndexDirs.computeIfAbsent(dir + "#mhs", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_mhs").toString
        graft.dedup.MinHashStore.build(docs.where(pmod(col("doc_id"), lit(3)) === 0),
          "text", "doc_id", d, nBuckets = 16)
        d
      })
      graft.dedup.MinHashStore.dedupBatch(s, storeDir, batch, "text", "doc_id",
          threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Gopher/C4-style repetition signals (top-word fraction, top-bigram
    // char fraction, duplicated-trigram fraction) — fused per-row
    // expression, zero shuffle; DuckDB oracle recomputes over token lists
    "q_repetition" -> ((s, dir) => {
      val sig = T.repetitionSignals(col("text")).toMap
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          round(sig("top_word_frac"), 6).as("top_word_frac"),
          round(sig("top_bigram_char_frac"), 6).as("top_bigram_char_frac"),
          round(sig("dup_trigram_frac"), 6).as("dup_trigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // duplicate-line stats (lines synthesized by mapping ' the ' → '\n' —
    // the synthetic corpus has no newlines; the operator itself is
    // delimiter-agnostic)
    "q_line_repetition" -> ((s, dir) => {
      val st = T.lineStats(regexp_replace(col("text"), " the ", "\n"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          st.getField("n_lines").as("n_lines"),
          round(
            when(st.getField("n_lines") <= 0, lit(0.0))
              .otherwise((st.getField("n_lines") - st.getField("n_distinct")).cast("double")
                / st.getField("n_lines").cast("double")), 6).as("dup_line_frac"),
          round(
            when(st.getField("total_chars") <= 0, lit(0.0))
              .otherwise(st.getField("dup_chars").cast("double")
                / st.getField("total_chars").cast("double")), 6).as("dup_char_frac"))
        .orderBy(col("doc_id"))
    }),

    // corpus vocabulary: token → frequency, top 100 (explode + count —
    // map-side partial aggregation absorbs the head-word skew)
    "q_vocab" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(T.tokenize(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(100)
    }),

    // EXACT corpus heavy hitters (tokens above θ = 2% of all occurrences):
    // per-partition Misra–Gries candidate pass (one scan, O(1/θ) memory,
    // no occurrence shuffle) + exact recount of the broadcast candidate
    // set — the two-scan shape that answers "what dominates this crawl"
    // at 100 TB where a full group-by shuffles every token. The output is
    // provably the exact count > θ·n set (superset guarantee + exact
    // recount), which the oracle computes directly by brute force.
    "q_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(T.tokenize(col("text"))).as("token"))
      HeavyHitters.frequent(toks, "token", theta = 0.02)
        .orderBy(col("cnt").desc, col("token"))
    }),

    // per-key variant: tokens above θ = 3% of THEIR LANGUAGE's occurrence
    // count (one Misra–Gries summary per key per partition; per-key
    // superset guarantee + exact recount joined on (key, item)) — the
    // "what dominates each slice" analysis with per-slice thresholds
    "q_heavy_hitters_by_lang" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"), explode(T.tokenize(col("text"))).as("token"))
      HeavyHitters.frequentPerKey(toks, "lang", "token", theta = 0.03)
        .orderBy(col("lang"), col("cnt").desc, col("token"))
    }),

    // overlapping token chunking (RAG/context-window shape): 16-token
    // windows every 8 tokens; tokens materialized as a column first so the
    // window lambdas never re-run the tokenize chain
    "q_chunk_overlap" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), T.tokenize(col("text")).as("toks"))
        .select(
          col("doc_id"),
          posexplode(T.chunkTokens(col("toks"), chunkSize = 16, step = 8)).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // embedding L2 normalization (norm materialized once — the HOF lambda
    // divides by a column attribute, not a re-evaluated norm expression).
    // The intermediate norm column must NOT share the output alias "norm":
    // Spark 4 lateral-column-alias resolution would bind the later lambda
    // references to the ROUNDED alias (r2 bug: first_comp = e/round(norm))
    "q_embed_normalize" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => V}
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), V.l2Norm(col("embedding")).as("__norm"))
        .select(
          col("vec_id"),
          round(col("__norm"), 6).as("norm"),
          round(element_at(transform(col("embedding"), v => v.cast("double") / col("__norm")), 1), 6)
            .as("first_comp"),
          round(V.l2Norm(transform(col("embedding"), v => v.cast("double") / col("__norm"))), 6)
            .as("unit_norm"))
        .orderBy(col("vec_id"))
    }),

    // per-label centroid in long form: posexplode → (label, dim) mean —
    // one uniform-key shuffle carrying partial (sum, count) pairs
    "q_embed_centroid" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("val")), 6).as("mean_val"), count(lit(1)).as("n"))
        .select(col("label"), col("pos").cast("long").as("pos"), col("mean_val"), col("n"))
        .orderBy(col("label"), col("pos"))
    }),

    // out-of-vocabulary rate against the corpus top-20 vocab (vocab
    // broadcasts; corpus explodes once)
    "q_oov_rate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Vocab
        .oovStats(docs, "text", "doc_id", graft.text.Vocab.topTokens(docs, "text", 20))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // text KNN without embeddings: hashed-TF sparse cosine join (md5
    // buckets → DuckDB-reproducible), top-5 neighbors for doc_id < 5.
    // Scale-safe config: word-BIGRAM terms (a 31-token synthetic
    // vocabulary becomes ~930 sparse features; every unigram here is
    // stopword-grade at df≈78%) + 2048 buckets + default df-pruning
    // (buckets in >10% of corpus docs dropped from both sides — a no-op
    // on this uniform corpus, load-bearing on Zipf text) bound the
    // bucket join fan-out that made the unpruned dim=256 unigram variant
    // r2's 7.5 s outlier.
    "q_text_knn" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.TfVectors
        .cosineTopK(docs, docs.where(col("doc_id") < 5), "text", "doc_id",
          dim = 2048, k = 5, ngramN = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // unigram-LM perplexity scoring (CCNet-shape quality filter; the
    // model table broadcasts, scoring is one uniform-key shuffle)
    "q_perplexity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.LmScore.unigramModel(docs, "text")
      graft.text.LmScore.perplexity(docs, "text", "doc_id", model)
        .select(col("id").as("doc_id"), col("n_tokens"), round(col("perplexity"), 4).as("perplexity"))
        .orderBy(col("doc_id"))
    }),

    // bigram-LM perplexity, trained on 90% of the corpus and scoring ALL
    // docs — held-out docs exercise the smoothed out-of-model mass (one
    // uniform add-one formula, no OOV branch)
    "q_perplexity_bigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.text.LmScore.bigramModel(docs.where(col("doc_id") % 10 =!= 0), "text")
      graft.text.LmScore.bigramPerplexity(docs, "text", "doc_id", model)
        .select(col("id").as("doc_id"), col("n_transitions"),
          round(col("perplexity"), 4).as("perplexity"))
        .orderBy(col("doc_id"))
    }),

    // embedding-space contamination report: each train doc's nearest
    // EVAL-SET embedding (vec_id % 5 == 0 held out) and the cosine —
    // the semantic-dedup twin of the span-based decontamination
    "q_decontaminate_embedding" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val evalE = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      val trainE = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
      Similarity.bruteForceTopK(evalE, trainE, "embedding", "vec_id", k = 1)
        .select(
          col("query_id").as("train_id"),
          col("neighbor_id").as("nearest_eval_id"),
          col("cosine_sim"))
        .orderBy(col("train_id"))
    }),

    // binary content dedup (media pipeline shape): payloads keyed by
    // 64-bit content hash, min-id survivor — oracle checks via exact raw
    // text equality (identical bytes ⟺ identical text here)
    "q_media_dedup" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.dedupByContent(media, "doc_id", "payload")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // the PERSISTED perceptual media-dedup artifact (round 14,
    // MediaFingerprintStore): corpus videos fingerprinted once into a
    // committed-segment store, then the odd-id batch deduped against it
    // via bucket-pruned posting reads - the oracle replays the full
    // slot-aligned banded-Hamming rule (aHash kernel arithmetic + 
    // bit_count(xor) <= 6 on >= 2 slots, corpus-vs-batch AND in-batch
    // lower-id-survives) from the synthetic frame formula, so the gate
    // proves store-served == exact perceptual semantics end to end
    "q_media_dedup_store" -> ((s, dir) => {
      val avi = udf((id: Long) => Multimodal.syntheticAvi(id))
      val docs = t(s, dir, "documents")
      val storeDir = ivfIndexDirs.computeIfAbsent(dir + "#mfps", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_mfps").toString
        graft.multimodal.MediaFingerprintStore.build(
          docs.where(pmod(col("doc_id"), lit(2)) === 0)
            .select(col("doc_id"), avi(col("doc_id")).as("payload")),
          "payload", "doc_id", d, n = 3, bands = 8, nBuckets = 16)
        d
      })
      val batch = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), avi(col("doc_id")).as("payload"))
      graft.multimodal.MediaFingerprintStore
        .dedupBatch(s, storeDir, batch, "payload", "doc_id",
          maxHamming = 6, minMatches = 2)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // eval-set decontamination: training docs (doc_id % 5 != 0) sharing
    // any 8-token span with the eval slice (doc_id % 5 == 0) — DuckDB
    // oracle reproduces the spans as strings, Spark carries only hashes
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      val train = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      Decontaminate.overlapStats(train, evalSet, "text", "doc_id", w = 8)
        .where(col("n_eval_spans") > 0)
        .select(col("id"), col("n_spans"), col("n_eval_spans"), col("overlap_ratio"))
        .orderBy(col("id"))
    }),

    // same report computed through the Bloom-prefilter path (the shape
    // for eval sets past broadcast range): bloom_filter_agg on the eval
    // side, codegen'd might_contain scan-side, exact join on survivors —
    // bit-identical to q_decontaminate, which the shared oracle verifies
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      val train = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      Decontaminate.overlapStatsBloom(train, evalSet, "text", "doc_id", w = 8, fpp = 0.01)
        .where(col("n_eval_spans") > 0)
        .select(col("id"), col("n_spans"), col("n_eval_spans"), col("overlap_ratio"))
        .orderBy(col("id"))
    }),

    // transitive contamination: BFS through the near-dup graph from the
    // directly-contaminated docs — a near-duplicate of a leaked doc
    // carries the leak even when its own text matches no eval span
    // verbatim. The corpus' own near-dup families are all directly
    // contaminated together (shared spans), so the gate PLANTS perturbed
    // copies (+300000, every 8th token replaced by a positional junk
    // token): zero shared 8-spans (never a seed), ~0.45 shingle Jaccard
    // (reachable at hop 1). Planted-id guard per the ADVICE-r5 pattern.
    "q_transitive_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      val trainBase = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("doc_id",
          when(col("doc_id") < 300000, col("doc_id"))
            .otherwise(raise_error(lit(
              "documents.doc_id reached the planted-id offset (300000); raise the offset"))))
      val toks = T.tokenize(col("text"))
      val planted = trainBase.select(
        (col("doc_id") + 300000).as("doc_id"),
        array_join(
          transform(toks, (tok, i) =>
            when(pmod(i, lit(8)) === 0, concat(lit("qq"), i.cast("string"))).otherwise(tok)),
          " ").as("text"))
      // second generation (+600000): junk at BOTH offsets — ~0.45 Jaccard
      // to its first-generation variant, ~0.17 to the original, so it is
      // reachable only at hop 2 (keeps the deepest lane live)
      val planted2 = trainBase.select(
        (col("doc_id") + 600000).as("doc_id"),
        array_join(
          transform(toks, (tok, i) =>
            when(pmod(i, lit(8)) === 0, concat(lit("qq"), i.cast("string")))
              .when(pmod(i, lit(8)) === 4, concat(lit("rr"), i.cast("string")))
              .otherwise(tok)),
          " ").as("text"))
      val train = trainBase.select(col("doc_id"), col("text"))
        .unionByName(planted).unionByName(planted2)
      val seeds = Decontaminate.overlapStats(train, evalSet, "text", "doc_id", w = 8)
        .where(col("n_eval_spans") > 0).select(col("id"))
      val pairs = Dedup.minHashPairs(train, "text", "doc_id", threshold = 0.4)
      Decontaminate.transitiveContamination(pairs, seeds, maxHops = 2)
        .withColumn("hop", col("hop").cast("long"))
        .orderBy(col("id"))
    }),

    // the auditor's direction: per EVAL doc, how much leaked into the
    // training corpus and how many training docs carry it — the report
    // a benchmark run needs even when nothing is dropped
    "q_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      val train = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      Decontaminate.evalContamination(train, evalSet, "text", "doc_id", w = 8)
        .orderBy(col("eval_id"))
    }),

    // report direction through the Bloom path — bit-identical to
    // q_contamination_report (shared oracle), eval-set-past-broadcast shape
    "q_contamination_report_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      val train = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      Decontaminate.evalContaminationBloom(train, evalSet, "text", "doc_id", w = 8)
        .orderBy(col("eval_id"))
    }),

    // link-graph quality scoring: bounded-hop neighborhood centrality
    // over the shared-span document graph (w=5 shingles, df cap 32 drops
    // boilerplate hubs; w=4 over the synthetic 31-word vocabulary is
    // collision-dense enough to make the 3-hop closure quadratic — the
    // measured difference is 78k vs 3k edges at sf0.1). All-integer
    // min-distance BFS — bit-exact, unlike float PageRank; harmonic is a
    // fixed-order expression over the integer hop counts
    "q_link_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      LinkGraph.centrality(docs.select(col("doc_id")), "doc_id", edges, maxHops = 3)
        .orderBy(col("doc_id"))
    }),

    // the CORPUS-SCALE centrality shape (SCALE.md r9 finding 2): sampled
    // candidate roots + sparser spans. All-roots closures are inherently
    // Σ|ball| — at web scale a curation pass scores a candidate set, it
    // does not materialize all-pairs distance; measured 44 s at sf10
    // where the all-roots gate exhausts disk. Deterministic 1% root
    // sample (doc_id % 100) keeps the full-oracle check.
    "q_link_score_sampled" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 6, maxDf = 32)
      val roots = docs.select(col("doc_id")).where(pmod(col("doc_id"), lit(100)) === 0)
      LinkGraph.centrality(roots, "doc_id", edges, maxHops = 3)
        .orderBy(col("doc_id"))
    }),

    // second parameterization of the sampled-roots protocol (pins the
    // sampling itself, not one lucky configuration): denser ~2.7% root
    // sample, the all-roots gate's w=5 edge graph, and a DIFFERENT hop
    // bound (2) so the bound handling is exercised at both depths
    "q_link_score_sampled2" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      val roots = docs.select(col("doc_id")).where(pmod(col("doc_id"), lit(37)) === 1)
      LinkGraph.centrality(roots, "doc_id", edges, maxHops = 2)
        .orderBy(col("doc_id"))
    }),

    // blocklist report: per-term occurrences + containing-doc counts via
    // ONE Aho–Corasick pass per document (vs one scan per term — the
    // difference between 1 and |blocklist| corpus passes at 100 TB)
    "q_blocklist" -> ((s, dir) => {
      graft.text.Blocklist.report(t(s, dir, "documents"), "text", BlocklistTerms)
        .orderBy(col("term"))
    }),

    // the filter stage: keep docs with <= 2 blocklisted occurrences,
    // rolled up per source (narrow scan filter, no extra shuffle)
    "q_blocklist_filter" -> ((s, dir) => {
      graft.text.Blocklist
        .filterClean(t(s, dir, "documents"), "text", BlocklistFilterTerms, maxHits = 2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // HyperBall: approximate all-roots ball sizes in O(hops·|E|) —
    // the 100×-scale answer to exact all-pairs centrality's measured
    // disk-exhaustion (registers exact vs DuckDB; estimate bit-portable)
    "q_reach_estimate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      graft.text.HyperBall
        .neighborhoodEstimate(docs.select(col("doc_id")), "doc_id", edges, maxHops = 3)
        .orderBy(col("doc_id"))
    }),

    // HyperBall neighborhood function: per-hop ball estimates + the
    // approximate harmonic centrality readout (fixed-order double sum —
    // bit-portable, like the exact harmonic lane)
    "q_reach_harmonic" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      graft.text.HyperBall
        .neighborhoodFunction(docs.select(col("doc_id")), "doc_id", edges, maxHops = 3)
        .orderBy(col("doc_id"))
    }),

    // HyperANF distance distribution: global N(d) per hop in FIXED POINT
    // (floor(est·2^20) summed as exact longs — partition-order-proof),
    // reach-0.9 flag = the effective-diameter readout
    "q_reach_distribution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      graft.text.HyperBall
        .distanceDistribution(docs.select(col("doc_id")), "doc_id", edges, maxHops = 3)
        .orderBy(col("hop"))
    }),

    // the reach family served from the PERSISTED register artifact
    // (round 13): q_reach_* were three of the most expensive lanes and
    // each re-propagated the same registers over the same graph — the
    // store propagates once (from the persisted link-graph artifact's
    // edges, composing the two artifacts) and every readout is a
    // node-sized scan. Built as maxHops=2 + extendTo(3), so matching the
    // from-scratch hops=3 oracle ALSO proves extend ≡ deeper rebuild
    "q_reach_estimate_artifact" -> ((s, dir) => {
      // Checked variants: the r14 staleness gate (source-graph fingerprint
      // recorded at build, re-verified at serve) is ON the serving path
      graft.text.HyperBallStore
        .neighborhoodEstimateChecked(s, hyperBallDir(s, dir), linkGraphDir(s, dir), "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q_reach_harmonic_artifact" -> ((s, dir) => {
      graft.text.HyperBallStore
        .neighborhoodFunctionChecked(s, hyperBallDir(s, dir), linkGraphDir(s, dir), "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q_reach_distribution_artifact" -> ((s, dir) => {
      graft.text.HyperBallStore
        .distanceDistributionChecked(s, hyperBallDir(s, dir), linkGraphDir(s, dir))
        .orderBy(col("hop"))
    }),

    // the distribution SERVED from a DerivedStore certified against the
    // register artifact's own state fingerprint (round 16): the readout
    // is computed once and stored hop-sized; serving skips the register
    // scan entirely, and the chain (graph fp -> register manifest ->
    // derived certificate) fails loud end to end when either upstream
    // moves (oracle = q_reach_distribution's from-scratch SQL)
    "q_reach_distribution_store" -> ((s, dir) => {
      val gDir = linkGraphDir(s, dir)
      val hbDir = hyperBallDir(s, dir)
      val dDir = ivfIndexDirs.computeIfAbsent(dir + "#rds", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_rds").toString
        graft.text.HyperBallStore.saveDistanceDistribution(s, hbDir, gDir, d)
        d
      })
      graft.text.HyperBallStore.distanceDistributionStored(s, dDir, hbDir, gDir)
        .orderBy(col("hop"))
    }),

    // the bucket-pruned POINT lookup (single-doc "how connected is this
    // document" probes): reads only the probe ids' hash buckets of one
    // hop surface - the driver-side pmod(xxhash64) replay is the hazard
    // class NOTES records (remainderUnsigned != pmod), so the gate proves
    // pruned == unpruned against the full from-scratch oracle restricted
    // to the same ids (PlanCheck asserts the files-read bound)
    "q_reach_point_artifact" -> ((s, dir) => {
      graft.text.HyperBallStore
        .neighborhoodEstimateFor(s, hyperBallDir(s, dir), "doc_id", ReachPointIds)
        .orderBy(col("doc_id"))
    }),

    // span-novelty profile: unique / shared / boilerplate span counts
    // per doc (the no-pair-join inverse of the link graph)
    "q_span_novelty" -> ((s, dir) => {
      LinkGraph.spanNovelty(t(s, dir, "documents"), "doc_id", "text", w = 5, maxDf = 32)
        .orderBy(col("doc_id"))
    }),

    // weighted PageRank: link strength = # shared spans, contribution
    // (rank·w)/W(src) — same fixed-point determinism contract; w=6 keeps
    // the second PageRank lane on the sparser corpus-scale span width
    "q_pagerank_weighted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdgesWeighted(docs, "doc_id", "text", w = 6, maxDf = 32)
      LinkGraph.pageRankWeighted(docs.select(col("doc_id")), "doc_id", edges, iters = 3)
        .orderBy(col("doc_id"))
    }),

    // blocklist redaction: mask the terms instead of dropping the doc
    // (regexp_replace-alternation semantics in one automaton pass)
    "q_blocklist_redact" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.Blocklist.redactTerms(col("text"), BlocklistFilterTerms, "[BLOCKED]")
            .as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // MMR-diversified retrieval: top-10 cosine candidates per query,
    // greedily re-ranked to 5 picks trading relevance against
    // max-similarity-to-already-selected (the classic diversification
    // re-ranker; sequential only WITHIN a query's bounded candidate list)
    "q_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Evaluation.mmrRerank(emb, emb.where(col("vec_id") < 5), "embedding", "vec_id",
          nCandidates = 10, k = 5)
        .orderBy(col("query_id"), col("mmr_rank"))
    }),

    // fixed-point PageRank over the shared-span graph: the PageRank-
    // family quality signal the centrality class doc deferred, made
    // bit-deterministic (integer mass units; see LinkGraph.pageRank) —
    // per-iteration cost is linear in |E| at any scale, no closure state
    "q_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      LinkGraph.pageRank(docs.select(col("doc_id")), "doc_id", edges, iters = 3)
        .orderBy(col("doc_id"))
    }),

    // connected components over the shared-span graph: alternating
    // large-star/small-star (O(log n) rounds at ANY component diameter —
    // the cluster-labeling primitive min-propagation can't afford on
    // chain-shaped components at corpus scale); rep = component min id
    "q_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      LinkGraph.connectedComponents(docs.select(col("doc_id")), "doc_id", edges)
        .orderBy(col("doc_id"))
    }),

    // per-doc triangle counts + clustering coefficient: degree-ordered
    // wedge join (each triangle counted once from its lowest-degree
    // corner — hub-proof), the template-family/mirror-farm density signal
    "q_triangles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      LinkGraph.triangleStats(docs.select(col("doc_id")), "doc_id", edges)
        .orderBy(col("doc_id"))
    }),

    // incremental components: half the edges labeled first, the other
    // half folded in through the prior labels' star contraction — the
    // oracle is the FULL-graph closure, so the gate IS the
    // append ≡ rebuild proof (same contract as q_ann_ivf_append)
    "q_components_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // pin: both halves must slice the SAME materialized edge set (and
      // the pair join shouldn't run twice)
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
        .localCheckpoint(true)
      val seen = edges.where(pmod(col("src") + col("dst"), lit(2)) === 0)
      val fresh = edges.where(pmod(col("src") + col("dst"), lit(2)) === 1)
      val prior = LinkGraph.connectedComponents(docs.select(col("doc_id")), "doc_id", seen)
      LinkGraph.connectedComponentsIncremental(docs.select(col("doc_id")), "doc_id",
          prior, fresh)
        .orderBy(col("doc_id"))
    }),

    // personalized PageRank (TrustRank shape): teleport restricted to a
    // deterministic 5% seed set — rank = link-proximity to the seeds,
    // the seed-propagation quality signal plain PageRank lacks
    "q_trustrank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      val seeds = docs.select(col("doc_id")).where(pmod(col("doc_id"), lit(20)) === 1)
      LinkGraph.pageRankPersonalized(docs.select(col("doc_id")), "doc_id", edges,
          seeds, iters = 3)
        .orderBy(col("doc_id"))
    }),

    // degree assortativity: hubs-link-hubs vs hubs-link-leaves — the
    // one-scalar structural fingerprint next to the degree histogram
    "q_assortativity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      LinkGraph.degreeAssortativity(edges)
    }),

    // degree distribution incl. the zero bin: the first-look graph
    // summary (power-law tails here predict pair-join pain downstream)
    "q_degree_distribution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      LinkGraph.degreeDistribution(docs.select(col("doc_id")), "doc_id", edges)
        .orderBy(col("degree"))
    }),

    // synchronous label-propagation communities (deterministic min
    // tie-break, bounded rounds): denser-than-components topical
    // clusters — the grouping mixture design reads
    "q_communities" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      LinkGraph.labelPropagation(docs.select(col("doc_id")), "doc_id", edges, iters = 2)
        .orderBy(col("doc_id"))
    }),

    // exact 2-core: iterative peel to the fixed point — tendrils and
    // pendant chains drop, cyclically-embedded docs stay (the
    // spam-farm-interlink signal next to q_triangles)
    "q_kcore" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 5, maxDf = 32)
      LinkGraph.kCore(docs.select(col("doc_id")), "doc_id", edges, k = 2)
        .orderBy(col("doc_id"))
    }),

    // the persisted link-graph artifact (LinkGraphStore): build once per
    // session, then PageRank reads the stored edges — closing the
    // measured 100×-tier gap where the from-raw-docs edge build cost 8×
    // the labeling it feeds and nine operators rebuilt it per query.
    // Oracle = q_pagerank's (from-scratch SQL): the artifact must be
    // edge-for-edge the live builder's output
    "q_pagerank_artifact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gDir = linkGraphDir(s, dir)
      LinkGraph.pageRank(docs.select(col("doc_id")), "doc_id",
          graft.text.LinkGraphStore.loadEdges(s, gDir), iters = 3)
        .orderBy(col("doc_id"))
    }),

    // the PERSISTED rank table (round 14, DerivedStore): PageRank
    // computed once from the link-graph artifact and stored WITH the
    // graph's state fingerprint; serving goes through loadChecked, which
    // refuses a stale table if the graph mutates - the generic form of
    // HyperBallStore's source certificate, for flat derived results.
    // Oracle = q_pagerank's from-scratch SQL: the stored table must be
    // value-identical to a live recompute
    "q_pagerank_store" -> ((s, dir) => {
      val gDir = linkGraphDir(s, dir)
      val pDir = ivfIndexDirs.computeIfAbsent(dir + "#prs", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_prs").toString
        val fp = graft.text.LinkGraphStore.stateFingerprint(s, gDir)
        graft.table.DerivedStore.save(
          LinkGraph.pageRank(t(s, dir, "documents").select(col("doc_id")), "doc_id",
            graft.text.LinkGraphStore.loadEdges(s, gDir), iters = 3),
          d, fp)
        d
      })
      graft.table.DerivedStore.loadChecked(s, pDir,
          graft.text.LinkGraphStore.stateFingerprint(s, gDir))
        .orderBy(col("doc_id"))
    }),

    // components SERVED from a DerivedStore: the label table is computed
    // once, certified against the link graph's state fingerprint, and
    // every later consumer reads node-sized parquet instead of re-running
    // the large-star/small-star fixed point — the second DerivedStore
    // consumer proving the source-certificate pattern is operator-
    // agnostic (oracle = q_components's, same as the artifact lane)
    "q_components_store" -> ((s, dir) => {
      val gDir = linkGraphDir(s, dir)
      val cDir = ivfIndexDirs.computeIfAbsent(dir + "#ccs", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_ccs").toString
        val fp = graft.text.LinkGraphStore.stateFingerprint(s, gDir)
        graft.table.DerivedStore.save(
          LinkGraph.connectedComponents(t(s, dir, "documents").select(col("doc_id")), "doc_id",
            graft.text.LinkGraphStore.loadEdges(s, gDir)),
          d, fp)
        d
      })
      graft.table.DerivedStore.loadChecked(s, cDir,
          graft.text.LinkGraphStore.stateFingerprint(s, gDir))
        .orderBy(col("doc_id"))
    }),

    // components over the same persisted artifact — the second consumer
    // proving the artifact is operator-agnostic (oracle = q_components's)
    "q_components_artifact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gDir = linkGraphDir(s, dir)
      LinkGraph.connectedComponents(docs.select(col("doc_id")), "doc_id",
          graft.text.LinkGraphStore.loadEdges(s, gDir))
        .orderBy(col("doc_id"))
    }),

    // the artifact's WEIGHTED surface: stored support counts ARE
    // sharedSpanEdgesWeighted's weights, so weighted PageRank runs off
    // the same store — oracle is the from-scratch weighted replay at the
    // artifact's own w=5 parameters
    "q_pagerank_weighted_artifact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gDir = linkGraphDir(s, dir)
      LinkGraph.pageRankWeighted(docs.select(col("doc_id")), "doc_id",
          graft.text.LinkGraphStore.loadEdgesWeighted(s, gDir), iters = 3)
        .orderBy(col("doc_id"))
    }),

    // span novelty SERVED from the artifact's df surface: a 100-doc
    // "batch" scored against the corpus document frequencies without a
    // corpus rescan (bucket-pruned dfs join — batch-proportional). The
    // oracle recomputes the novelty bands from the FULL corpus and
    // restricts to the batch ids, so matching proves served-from-store ≡
    // recompute for ingested docs
    "q_span_novelty_artifact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gDir = linkGraphDir(s, dir)
      graft.text.LinkGraphStore.spanNoveltyAgainst(
          docs.where(col("doc_id") < 100), "doc_id", "text", gDir)
        .orderBy(col("doc_id"))
    }),

    // the delta-log STREAMING twin oracle-gated end to end: base built on
    // the low-id half, the rest folded as one committed delta entry, then
    // components over the base+delta merged view — oracle is the
    // full-corpus closure (q_components's), so the gate proves the
    // streamed fold ≡ batch rebuild at the driver's own data
    "q_linkgraph_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gDir = ivfIndexDirs.computeIfAbsent(dir + "#slg", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_slg").toString
        val half = maxDocId(docs).getOrElse(0L) / 2
        graft.streaming.StreamingLinkGraph.initialize(
          docs.where(col("doc_id") <= half), "doc_id", "text",
          w = 5, maxDf = 32, d, nBuckets = 16)
        graft.streaming.StreamingLinkGraph.applyBatch(
          docs.where(col("doc_id") > half), 0L, "doc_id", "text", d)
        d
      })
      LinkGraph.connectedComponents(docs.select(col("doc_id")), "doc_id",
          graft.streaming.StreamingLinkGraph.readEdges(s, gDir))
        .orderBy(col("doc_id"))
    }),

    // append ≡ rebuild for the link-graph artifact, DELETIONS included:
    // build on the low-id half, append the rest (span df-band
    // transitions become exact ±support deltas — spans crossing maxDf
    // retract the edges they alone supported), then emit the canonical
    // (id_a, id_b, support) table. The oracle computes the FULL-corpus
    // banded pair support from scratch in SQL, so matching it proves the
    // incremental maintenance is bit-identical to a rebuild — the
    // q_ann_ivf_append contract for the graph artifact. (w=3, maxDf=4:
    // measured as the parameters where the synthetic corpus actually
    // crosses the band in BOTH directions across the half split — 115
    // retracting spans + 4479 entering at sf0.01; the graph gates'
    // w=5/maxDf=32 has zero retractions at every SF, which would leave
    // the deletion path oracle-unexercised)
    "q_linkgraph_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gDir = ivfIndexDirs.computeIfAbsent(dir + "#lga", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_lga").toString
        val half = maxDocId(docs).getOrElse(0L) / 2
        graft.text.LinkGraphStore.build(docs.where(col("doc_id") <= half),
          "doc_id", "text", w = 3, maxDf = 4, d, nBuckets = 16)
        graft.text.LinkGraphStore.append(docs.where(col("doc_id") > half),
          "doc_id", "text", d)
        d
      })
      graft.text.LinkGraphStore.loadEdgesCanonical(s, gDir)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // appendAuto ROUTING gated end-to-end: base on all but the 20
    // highest-id docs, then two 10-doc batches through appendAuto — small
    // relative to the corpus, so both land in the DELTA log (the
    // batch-proportional path; in-place would pay the touched-bucket
    // floor), and the canonical reader serves base+deltas merged. Same
    // band-crossing parameters (w=3, maxDf=4) and same full-corpus oracle
    // as q_linkgraph_append: matching it proves the routed path is
    // bit-identical to a rebuild, retractions included
    "q_linkgraph_append_auto" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gDir = ivfIndexDirs.computeIfAbsent(dir + "#lgauto", _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_lgauto").toString
        val top = maxDocId(docs)
        val mx = top.getOrElse(0L)
        graft.text.LinkGraphStore.build(docs.where(col("doc_id") <= mx - 20),
          "doc_id", "text", w = 3, maxDf = 4, d, nBuckets = 16)
        val r1 = graft.text.LinkGraphStore.appendAuto(
          docs.where(col("doc_id") > mx - 20 && col("doc_id") <= mx - 10),
          "doc_id", "text", d)
        val r2 = graft.text.LinkGraphStore.appendAuto(
          docs.where(col("doc_id") > mx - 10), "doc_id", "text", d)
        // an empty corpus gives two empty batches: both are no-ops
        val want = if (top.isEmpty) "noop" else "delta"
        require(r1 == want && r2 == want,
          s"q_linkgraph_append_auto: expected $want routing, got $r1/$r2")
        d
      })
      graft.text.LinkGraphStore.loadEdgesCanonical(s, gDir)
        .orderBy(col("id_a"), col("id_b"))
    })
  )

  /** The highest `doc_id`, None for an empty corpus (the split lanes then
    * build and append nothing, and return an empty result).
    */
  private def maxDocId(docs: org.apache.spark.sql.DataFrame): Option[Long] = {
    val r = docs.agg(max(col("doc_id")).cast("long")).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Session-lifetime persisted link-graph artifact for the `_artifact`
    * gates — built once per (JVM, sfDir) like the IVF index dirs, so the
    * gates measure the READ path (the artifact's whole point), not a
    * rebuild per invocation.
    */
  private def linkGraphDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
    ivfIndexDirs.computeIfAbsent(dir + "#lgs", _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_lgs").toString
      graft.text.LinkGraphStore.build(t(s, dir, "documents"),
        "doc_id", "text", w = 5, maxDf = 32, d, nBuckets = 16)
      d
    })

  /** Session-lifetime persisted HyperBall register artifact for the
    * `q_reach_*_artifact` gates — propagated ONCE per (JVM, sfDir) from
    * the persisted link-graph artifact's edges (w=5/maxDf=32, the reach
    * gates' graph), shallow-built then extended so the gates exercise the
    * extend ≡ rebuild path against the from-scratch oracles.
    */
  /** Probe ids for the bucket-pruned point-lookup gate - present at
    * every SF (doc ids 0..499 exist at sf0.001 and up) and spread across
    * hash buckets.
    */
  private val ReachPointIds = Seq(0L, 7L, 123L, 499L)

  private def hyperBallDir(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    // resolved BEFORE the #hbs lambda: a computeIfAbsent mapping function
    // must not computeIfAbsent into the SAME map (ConcurrentHashMap
    // forbids recursive updates - same-bin keys throw or lose the entry)
    val gDir = linkGraphDir(s, dir)
    ivfIndexDirs.computeIfAbsent(dir + "#hbs", _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_hbs").toString
      // fromGraph variants record + re-check the source fingerprint, so
      // the _artifact gates serve through the staleness check end to end
      graft.text.HyperBallStore.buildFromGraph(s,
        t(s, dir, "documents").select(col("doc_id")), "doc_id", gDir,
        maxHops = 2, d, nBuckets = 16)
      graft.text.HyperBallStore.extendToFromGraph(s, gDir, d, newMaxHops = 3)
      d
    })
  }

  /** Blocklist-gate term sets (substring semantics over raw text; the
    * synthetic corpus vocabulary makes these dense enough to exercise
    * overlapping and multi-word patterns).
    */
  private val BlocklistTerms =
    Seq("spark", "join", "batch batch", "merge line", "qu", "the fast")
  private val BlocklistFilterTerms = Seq("batch batch", "merge line", "the fast")

  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
  private val toksSql = s"string_split($normSql, ' ')"

  /** Shared DSIR CTEs (`feat`: per-occurrence hashed unigram+bigram
    * buckets with the target flag; `lam`: the dim-bounded smoothed
    * log-likelihood-ratio table — mirrors
    * [[graft.text.Dsir.featureLogRatios]] with target `source = 'src13'`,
    * dim 2048, α = 1), prepended to a query-specific tail.
    */
  private def dsirSql(tail: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, (source = 'src13') AS tgt, list_filter($toksSql, x -> x <> '') AS t FROM documents
       |), term AS (
       |  SELECT doc_id, tgt, unnest(t) AS term FROM toks
       |  UNION ALL
       |  SELECT doc_id, tgt, unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS term FROM toks
       |), feat AS MATERIALIZED (
       |  SELECT doc_id, tgt,
       |    CAST(CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 2048 AS INTEGER) AS bucket
       |  FROM term
       |), cnt AS MATERIALIZED (
       |  SELECT bucket, count(*) AS raw_cnt, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt_cnt
       |  FROM feat GROUP BY bucket
       |), tot AS (SELECT sum(raw_cnt) AS r, sum(tgt_cnt) AS tt FROM cnt),
       |lam AS MATERIALIZED (
       |  SELECT bucket,
       |    ln((CAST(tgt_cnt AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + 2048.0)) -
       |    ln((CAST(raw_cnt AS DOUBLE) + 1.0) / (CAST(r AS DOUBLE) + 2048.0)) AS lam
       |  FROM cnt, tot)
       |$tail""".stripMargin

  /** K-stage BPE oracle: w0 = the word-frequency dict as DOUBLE-spaced
    * symbol strings with single-space bounds (" t  h  e "); each stage
    * picks the (max weighted count, lexicographically smallest) adjacent
    * pair and applies it as a left-to-right non-overlapping string
    * replace with single-space-bounded pattern ' l  r ' — the doubled
    * separator makes one replace pass equal greedy BPE (adjacent
    * occurrences don't share a delimiter), the same total order and the
    * same replace semantics as [[graft.text.Bpe]], so the merge sequence
    * is reproducible exactly. Returns (ctes, lastWordStage).
    */
  private def bpeCtes(merges: Int): (String, String) = {
    val w0 =
      s"""w0 AS MATERIALIZED (
         |  SELECT w, ' ' || array_to_string([w[i] FOR i IN range(1, len(w) + 1)], '  ') || ' ' AS s, cnt
         |  FROM (SELECT w, count(*) AS cnt FROM (
         |          SELECT unnest(list_filter($toksSql, x -> x <> '')) AS w FROM documents)
         |        GROUP BY w))""".stripMargin
    val stages = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""b$i AS MATERIALIZED (
         |  SELECT $i AS step, p AS pair, replace(p, ' ', '') AS merged, c FROM (
         |    SELECT p, sum(cnt) AS c FROM (
         |      SELECT cnt, unnest([toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))]) AS p
         |      FROM (SELECT string_split(trim(s), '  ') AS toks, cnt FROM $prev))
         |    GROUP BY p)
         |  ORDER BY c DESC, p LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, replace(s, ' ' || replace((SELECT pair FROM b$i), ' ', '  ') || ' ',
         |                       ' ' || (SELECT merged FROM b$i) || ' ') AS s, cnt
         |  FROM $prev)""".stripMargin
    }
    ((w0 +: stages).mkString(",\n"), s"w$merges")
  }

  private def bpeTrainSql(merges: Int): String = {
    val (ctes, _) = bpeCtes(merges)
    val union = (1 to merges).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
    s"""WITH $ctes
       |SELECT step, pair, merged, CAST(c AS BIGINT) AS cnt FROM ($union) ORDER BY step""".stripMargin
  }

  private def bpeSegmentSql(merges: Int): String = {
    val (ctes, last) = bpeCtes(merges)
    s"""WITH $ctes
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(len(string_split(trim(s), '  '))) AS BIGINT) AS n_subwords
       |FROM (SELECT doc_id, unnest(list_filter($toksSql, x -> x <> '')) AS w FROM documents) t
       |JOIN $last USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private def tokenFertilitySql(merges: Int): String = {
    val (ctes, last) = bpeCtes(merges)
    s"""WITH $ctes,
       |seg AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(len(string_split(trim(s), '  '))) AS BIGINT) AS n_subwords
       |  FROM (SELECT doc_id, unnest(list_filter($toksSql, x -> x <> '')) AS w FROM documents) t
       |  JOIN $last USING (w)
       |  GROUP BY doc_id)
       |SELECT source, count(*) AS n_docs,
       |  CAST(coalesce(sum(seg.n_tokens), 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(sum(seg.n_subwords), 0) AS BIGINT) AS n_subwords,
       |  CASE WHEN coalesce(sum(seg.n_tokens), 0) = 0 THEN 0.0
       |       ELSE round(coalesce(sum(seg.n_subwords), 0) / CAST(sum(seg.n_tokens) AS DOUBLE), 6) END AS fertility
       |FROM documents LEFT JOIN seg USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // DuckDB twins of TextFunctions' stopword lists (same order-insensitive sets)
  private val stopEn = "['the','and','of','to','in','is','that','it','for','with','was','on','are','as','at']"
  private val stopEs = "['el','la','de','que','y','en','los','del','las','un','por','con','una','su','para']"
  private val stopDe = "['der','die','und','das','von','zu','den','mit','ist','im','für','auf','des','ein','nicht']"
  private val stopFr = "['le','la','de','et','les','des','en','un','du','une','que','est','pour','qui','dans']"
  private val stopAll =
    "['the','and','of','to','in','is','that','it','for','with','was','on','are','as','at'," +
      "'el','la','de','que','y','en','los','del','las','un','por','con','una','su','para'," +
      "'der','die','und','das','von','zu','den','mit','ist','im','für','auf','des','ein','nicht'," +
      "'le','et','les','des','du','une','est','pour','qui','dans']"

  /** Unrounded quality score (doc_id, quality) — shared by the
    * q_text_quality oracle and the curation pipeline's gate (the
    * threshold classifies identically because the doubles are
    * bit-identical across engines).
    */
  private lazy val qualitySelectSql: String =
    s"""SELECT doc_id,
       |  (least(length(coalesce(text,'')) / 200.0, 1.0)
       |   + CASE WHEN length(coalesce(text,'')) = 0 THEN 0.0
       |          ELSE length(regexp_replace(coalesce(text,''), '[^A-Za-z0-9 ]', '', 'g'))
       |               / CAST(length(coalesce(text,'')) AS DOUBLE) END
       |   + CASE WHEN list_has_any(toks, $stopAll) THEN 1.0 ELSE 0.0 END
       |   + CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.0 END) / 4.0 AS quality
       |FROM (
       |  SELECT doc_id, text, toks,
       |    CASE WHEN norm = '' THEN 0.0
       |         ELSE (SELECT sum(length(tok)) FROM unnest(toks) AS u(tok)) / len(toks) END AS mtl
       |  FROM (SELECT doc_id, text, $normSql AS norm, $toksSql AS toks FROM documents)
       |)""".stripMargin

  // lazy: baseOracles is defined below in source order
  lazy val oracles: Map[String, String] = withAliases(baseOracles)

  /** The persisted-index probe is verdict-identical to the in-memory one
    * — it shares q_ann_ivf's oracle verbatim. So is the incrementally-
    * APPENDED index: append assigns with the build's own kernel against
    * the build's own centroids, so base+append ≡ one build over the
    * concatenated corpus, and the probe result is the same rows — the
    * shared oracle IS the append-equals-rebuild proof.
    */
  private def withAliases(m: Map[String, String]): Map[String, String] =
    m + ("q_ann_ivf_persisted" -> m("q_ann_ivf")) +
      ("q_ann_ivf_append" -> m("q_ann_ivf")) +
      ("q_ann_stream_compact" -> m("q_ann_ivf")) +
      // the persisted link-graph artifact must reproduce the live
      // builders' graphs edge-for-edge: the from-scratch oracles apply
      ("q_pagerank_artifact" -> m("q_pagerank")) +
      // the stored rank table serves value-identical to a live recompute
      ("q_pagerank_store" -> m("q_pagerank")) +
      ("q_components_artifact" -> m("q_components")) +
      // the DerivedStore-served label table replays q_components exactly
      ("q_components_store" -> m("q_components")) +
      // the persisted BM25 artifact must score bit-identically to the
      // from-scratch builds those oracles replay
      ("q_bm25_persisted" -> m("q_bm25")) +
      ("q_bm25_index_append" -> m("q_bm25_incremental")) +
      // the persisted compressed ANN artifact serves q_ann_ivfpq's exact
      // pipeline from disk
      ("q_ann_ivfpq_persisted" -> m("q_ann_ivfpq")) +
      // the streamed delta-log graph serves the same closure
      ("q_linkgraph_stream" -> m("q_components")) +
      // the persisted near-dup index serves the incremental semantics
      ("q_minhash_store" -> m("q_minhash_incremental")) +
      // appendAuto's delta-routed small batches must serve the same
      // full-corpus support table through the merged readers
      ("q_linkgraph_append_auto" -> m("q_linkgraph_append")) +
      // register readouts from the persisted artifact are bit-identical
      // to the in-memory propagation (integer max-merge all the way), so
      // the from-scratch HyperBall oracles apply — and because the store
      // is built shallow then extendTo'd, matching them also proves
      // extend ≡ deeper rebuild
      ("q_reach_estimate_artifact" -> m("q_reach_estimate")) +
      ("q_reach_harmonic_artifact" -> m("q_reach_harmonic")) +
      ("q_reach_distribution_artifact" -> m("q_reach_distribution")) +
      // the DerivedStore-served distribution replays the same readout
      // from disk — value-identical to the from-scratch propagation
      ("q_reach_distribution_store" -> m("q_reach_distribution")) +
      // the point lookup serves the SAME estimates as the full readout
      // restricted to the probe ids: wrap the from-scratch oracle
      ("q_reach_point_artifact" ->
        (s"SELECT * FROM (${m("q_reach_estimate")}) " +
          s"WHERE doc_id IN (${ReachPointIds.mkString(", ")})"))

  /** Exact all-occurrences oracle for the blocklist lanes: every start
    * position × every term, substring-compared — O(chars · terms), the
    * brute force the AC automaton replaces.
    */
  private def blocklistTermsSql(terms: Seq[String]): String =
    terms.map(t => s"('${t.replace("'", "''")}')").mkString(", ")

  private def blocklistReportSql(terms: Seq[String]): String =
    s"""WITH terms(term) AS (VALUES ${blocklistTermsSql(terms)}),
       |pos AS (
       |  SELECT d.doc_id, t.term, length(t.term) AS tl, d.text,
       |    unnest(range(1, greatest(length(d.text) - length(t.term) + 2, 1))) AS i
       |  FROM documents d CROSS JOIN terms t),
       |hits AS (
       |  SELECT doc_id, term,
       |    sum(CASE WHEN substr(text, CAST(i AS INTEGER), CAST(tl AS INTEGER)) = term
       |      THEN 1 ELSE 0 END) AS n
       |  FROM pos GROUP BY doc_id, term)
       |SELECT term, CAST(sum(n) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
       |FROM hits GROUP BY term ORDER BY term""".stripMargin

  private def blocklistFilterSql(terms: Seq[String], maxHits: Int): String =
    s"""WITH terms(term) AS (VALUES ${blocklistTermsSql(terms)}),
       |pos AS (
       |  SELECT d.doc_id, d.source, d.n_chars, t.term, length(t.term) AS tl, d.text,
       |    unnest(range(1, greatest(length(d.text) - length(t.term) + 2, 1))) AS i
       |  FROM documents d CROSS JOIN terms t),
       |tot AS (
       |  SELECT doc_id, any_value(source) AS source, any_value(n_chars) AS n_chars,
       |    sum(CASE WHEN substr(text, CAST(i AS INTEGER), CAST(tl AS INTEGER)) = term
       |      THEN 1 ELSE 0 END) AS n
       |  FROM pos GROUP BY doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM tot WHERE n <= $maxHits GROUP BY source ORDER BY source""".stripMargin

  /** Fixed-point PageRank oracle: the q_link_score edge CTEs (span
    * strings instead of hashes — injective modulo 64-bit collisions),
    * then `iters` unrolled BIGINT power-iteration stages mirroring
    * [[graft.text.LinkGraph.pageRank]]'s integer formula exactly
    * (DuckDB `//` floors, Spark `div` truncates — identical on the
    * all-positive mass values).
    */
  private def pageRankSql(w: Int, iters: Int, scale: Long, dNum: Int, dDen: Int,
      weighted: Boolean = false): String = {
    val sl = w - 1
    // weighted: edge weight = # shared spans, contribution (r·w)/W(src);
    // unweighted: r/outdeg — both replayed in BIGINT exactly
    val contribExpr =
      if (weighted) "sum((p.r * e.w) // d.deg)" else "sum(p.r // d.deg)"
    val iterCtes = (1 to iters).map { k =>
      val prev = if (k == 1) "p0" else s"p${k - 1}"
      s"""c$k AS (
         |  SELECT e.dst AS id, CAST($contribExpr AS BIGINT) AS s
         |  FROM r1 e JOIN $prev p ON e.src = p.id JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |p$k AS MATERIALIZED (
         |  SELECT doc_id AS id,
         |    CAST(tp.tp + coalesce(($dNum * c$k.s) // $dDen, 0) AS BIGINT) AS r
         |  FROM documents CROSS JOIN tp LEFT JOIN c$k ON documents.doc_id = c$k.id)""".stripMargin
    }.mkString(",\n")
    val edgeCtes =
      if (weighted)
        s"""r1 AS MATERIALIZED (
           |  SELECT a.doc_id AS src, b.doc_id AS dst, CAST(count(*) AS BIGINT) AS w
           |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id
           |  GROUP BY a.doc_id, b.doc_id),
           |deg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM r1 GROUP BY src),""".stripMargin
      else
        s"""r1 AS MATERIALIZED (
           |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
           |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
           |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM r1 GROUP BY src),""".stripMargin
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
       |sp0 AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    unnest([array_to_string(toks[i:i+$sl], ' ') FOR i IN range(1, greatest(len(toks) - ${sl - 1}, 1))]) AS span
       |  FROM tk),
       |rare AS MATERIALIZED (
       |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
       |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
       |$edgeCtes
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |tp AS (SELECT CAST(((${dDen - dNum} * $scale) // $dDen) // n AS BIGINT) AS tp FROM nn),
       |p0 AS MATERIALIZED (
       |  SELECT doc_id AS id, CAST($scale // n AS BIGINT) AS r FROM documents CROSS JOIN nn),
       |$iterCtes
       |SELECT id AS doc_id, r AS rank_fp, CAST(r AS DOUBLE) / $scale.0 AS score
       |FROM p$iters ORDER BY doc_id""".stripMargin
  }

  /** Personalized-PageRank oracle: [[pageRankSql]] with the teleport and
    * initial mass restricted to the seed predicate (TrustRank shape) —
    * mirrors [[graft.text.LinkGraph.pageRankPersonalized]] in BIGINT.
    */
  private def pageRankSeedSql(w: Int, iters: Int, scale: Long, dNum: Int, dDen: Int,
      seedPred: String): String = {
    val sl = w - 1
    val iterCtes = (1 to iters).map { k =>
      val prev = if (k == 1) "p0" else s"p${k - 1}"
      s"""c$k AS (
         |  SELECT e.dst AS id, CAST(sum(p.r // d.deg) AS BIGINT) AS s
         |  FROM r1 e JOIN $prev p ON e.src = p.id JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |p$k AS MATERIALIZED (
         |  SELECT doc_id AS id,
         |    CAST((CASE WHEN $seedPred THEN tp.tp ELSE 0 END)
         |      + coalesce(($dNum * c$k.s) // $dDen, 0) AS BIGINT) AS r
         |  FROM documents CROSS JOIN tp LEFT JOIN c$k ON documents.doc_id = c$k.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
       |sp0 AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    unnest([array_to_string(toks[i:i+$sl], ' ') FOR i IN range(1, greatest(len(toks) - ${sl - 1}, 1))]) AS span
       |  FROM tk),
       |rare AS MATERIALIZED (
       |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
       |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
       |r1 AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM r1 GROUP BY src),
       |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE $seedPred),
       |tp AS (SELECT CAST(((${dDen - dNum} * $scale) // $dDen) // n AS BIGINT) AS tp FROM ns),
       |p0 AS MATERIALIZED (
       |  SELECT doc_id AS id,
       |    CAST(CASE WHEN $seedPred THEN $scale // n ELSE 0 END AS BIGINT) AS r
       |  FROM documents CROSS JOIN ns),
       |$iterCtes
       |SELECT id AS doc_id, r AS rank_fp, CAST(r AS DOUBLE) / $scale.0 AS score
       |FROM p$iters ORDER BY doc_id""".stripMargin
  }

  /** Synchronous label-propagation oracle: `iters` unrolled rounds of
    * (neighbor-label count → per-node argmax with min tie-break) —
    * mirrors [[graft.text.LinkGraph.labelPropagation]] exactly.
    */
  private def labelPropSql(w: Int, iters: Int): String = {
    val sl = w - 1
    val rounds = (1 to iters).map { k =>
      val prev = s"l${k - 1}"
      s"""cnt$k AS (
         |  SELECT e.src AS u, l.lbl, count(*) AS c
         |  FROM r1 e JOIN $prev l ON e.dst = l.id GROUP BY e.src, l.lbl),
         |pk$k AS (
         |  SELECT u, lbl FROM (
         |    SELECT u, lbl,
         |      row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl ASC) AS rn
         |    FROM cnt$k) WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT $prev.id, coalesce(pk$k.lbl, $prev.lbl) AS lbl
         |  FROM $prev LEFT JOIN pk$k ON $prev.id = pk$k.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
       |sp0 AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    unnest([array_to_string(toks[i:i+$sl], ' ') FOR i IN range(1, greatest(len(toks) - ${sl - 1}, 1))]) AS span
       |  FROM tk),
       |rare AS MATERIALIZED (
       |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
       |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
       |r1 AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
       |l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM documents),
       |$rounds,
       |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n FROM l$iters GROUP BY lbl)
       |SELECT l$iters.id AS doc_id, l$iters.lbl AS community, sz.n AS community_size
       |FROM l$iters JOIN sz USING (lbl) ORDER BY doc_id""".stripMargin
  }

  /** Greedy-MMR oracle: candidate/pair CTEs (6-rounded cosines — the
    * doubles are bitwise equal across engines, so the `lam·rel − pen·max`
    * arithmetic is too), then k−1 unrolled selection steps, each an
    * argmax over the not-yet-selected candidates with a max-sim join to
    * the running selection. `lam`/`pen` are passed as SQL literal TEXT so
    * both engines parse the identical double.
    */
  private def mmrSql(nQ: Int, nCand: Int, k: Int, lam: String, pen: String): String = {
    val steps = (2 to k).map { i =>
      s"""sc$i AS (
         |  SELECT c.query_id, c.id, $lam * c.rel - $pen * pn.mx AS score
         |  FROM cands c
         |  JOIN (SELECT p.query_id, p.ia AS id, max(p.s) AS mx
         |        FROM ps p JOIN sel${i - 1} s ON p.query_id = s.query_id AND p.ib = s.id
         |        GROUP BY p.query_id, p.ia) pn
         |    ON c.query_id = pn.query_id AND c.id = pn.id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s2
         |                    WHERE s2.query_id = c.query_id AND s2.id = c.id)),
         |pk$i AS (
         |  SELECT query_id, id, score, $i AS mmr_rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rn
         |    FROM sc$i) WHERE rn = 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pk$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < $nQ),
       |c0 AS (
       |  SELECT q.query_id, e.vec_id AS id,
       |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS rel
       |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
       |cands AS MATERIALIZED (
       |  SELECT query_id, id, rel FROM (
       |    SELECT query_id, id, rel,
       |      row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, id) AS rn
       |    FROM c0) WHERE rn <= $nCand),
       |ps AS MATERIALIZED (
       |  SELECT a.query_id, a.id AS ia, b.id AS ib,
       |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 6) AS s
       |  FROM cands a JOIN cands b ON a.query_id = b.query_id AND a.id <> b.id
       |  JOIN embeddings ea ON ea.vec_id = a.id
       |  JOIN embeddings eb ON eb.vec_id = b.id),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, id, $lam * rel - $pen * 0.0 AS score, 1 AS mmr_rank FROM (
       |    SELECT query_id, id, rel,
       |      row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, id) AS rn
       |    FROM cands) WHERE rn = 1),
       |$steps
       |SELECT query_id, id AS neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank, score
       |FROM sel$k ORDER BY query_id, mmr_rank""".stripMargin
  }

  private val baseOracles: Map[String, String] = Map(
    "q_blocklist" -> blocklistReportSql(BlocklistTerms),
    "q_blocklist_filter" -> blocklistFilterSql(BlocklistFilterTerms, maxHits = 2),
    "q_pagerank" -> pageRankSql(w = 5, iters = 3, scale = 1000000000000L, dNum = 85, dDen = 100),
    "q_trustrank" -> pageRankSeedSql(w = 5, iters = 3, scale = 1000000000000L,
      dNum = 85, dDen = 100, seedPred = "doc_id % 20 = 1"),
    "q_communities" -> labelPropSql(w = 5, iters = 2),
    "q_assortativity" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
         |r1 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM r1),
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
         |ends AS (
         |  SELECT da.d AS x, db.d AS y
         |  FROM und JOIN deg da ON da.id = und.a JOIN deg db ON db.id = und.b
         |  UNION ALL
         |  SELECT db.d, da.d
         |  FROM und JOIN deg da ON da.id = und.a JOIN deg db ON db.id = und.b),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS mm,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM ends)
         |SELECT mm // 2 AS n_edges,
         |  CASE WHEN mm < 2 OR sxy IS NULL THEN 0.0
         |    ELSE (CASE WHEN sqrt(CAST(mm AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |               * sqrt(CAST(mm AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0.0
         |      THEN 0.0
         |      ELSE (CAST(mm AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (sqrt(CAST(mm AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |           * sqrt(CAST(mm AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END)
         |    END AS r
         |FROM s""".stripMargin,
    "q_degree_distribution" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
         |r1 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM r1),
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id)
         |SELECT CAST(coalesce(deg.d, 0) AS BIGINT) AS degree,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM documents LEFT JOIN deg ON deg.id = documents.doc_id
         |GROUP BY 1 ORDER BY degree""".stripMargin,
    "q_pagerank_weighted" -> pageRankSql(w = 6, iters = 3, scale = 1000000000000L,
      dNum = 85, dDen = 100, weighted = true),
    // the persisted artifact's weighted surface at its own w=5 parameters
    "q_pagerank_weighted_artifact" -> pageRankSql(w = 5, iters = 3,
      scale = 1000000000000L, dNum = 85, dDen = 100, weighted = true),
    // full-corpus banded pair support computed from scratch (w=3,
    // maxDf=4 — the parameters where the corpus crosses the df band in
    // both directions across the gate's half split) — matching it proves
    // the artifact's half-build + append (± support deltas across
    // df-band transitions, retractions included) is bit-identical to a
    // rebuild
    "q_linkgraph_append" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 4),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS support
         |FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin,
    "q_reach_estimate" -> XxhSql.hyperBallSql(w = 5, hops = 3),
    "q_reach_harmonic" -> XxhSql.hyperBallHarmonicSql(w = 5, hops = 3),
    "q_reach_distribution" -> XxhSql.hyperBallDistanceSql(w = 5, hops = 3,
      q = "0.9", scale = 1048576L),
    "q_mmr_rerank" -> mmrSql(nQ = 5, nCand = 10, k = 5, lam = "0.7", pen = "0.3"),
    // span df-band counts per document (distinct spans, df over sp0)
    "q_span_novelty" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |df AS MATERIALIZED (SELECT span, count(*) AS df FROM sp0 GROUP BY span),
         |ct AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |    CAST(sum(CASE WHEN df BETWEEN 2 AND 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |    CAST(sum(CASE WHEN df > 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
         |  FROM sp0 JOIN df USING (span) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(n_spans, 0) AS n_spans, coalesce(n_unique, 0) AS n_unique,
         |  coalesce(n_shared, 0) AS n_shared, coalesce(n_boilerplate, 0) AS n_boilerplate,
         |  CASE WHEN coalesce(n_spans, 0) = 0 THEN 0.0
         |    ELSE CAST(n_unique AS DOUBLE) / CAST(n_spans AS DOUBLE) END AS novelty
         |FROM documents d LEFT JOIN ct USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // same bands, corpus-wide df, output restricted to the served batch
    "q_span_novelty_artifact" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |df AS MATERIALIZED (SELECT span, count(*) AS df FROM sp0 GROUP BY span),
         |ct AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |    CAST(sum(CASE WHEN df BETWEEN 2 AND 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |    CAST(sum(CASE WHEN df > 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
         |  FROM sp0 JOIN df USING (span) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(n_spans, 0) AS n_spans, coalesce(n_unique, 0) AS n_unique,
         |  coalesce(n_shared, 0) AS n_shared, coalesce(n_boilerplate, 0) AS n_boilerplate,
         |  CASE WHEN coalesce(n_spans, 0) = 0 THEN 0.0
         |    ELSE CAST(n_unique AS DOUBLE) / CAST(n_spans AS DOUBLE) END AS novelty
         |FROM documents d LEFT JOIN ct USING (doc_id)
         |WHERE d.doc_id < 100 ORDER BY d.doc_id""".stripMargin,
    // alternation-regex twin of the AC redaction (terms are regex-inert:
    // alphanumerics + spaces; alternation order = term-list order)
    "q_blocklist_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(text, '${BlocklistFilterTerms.mkString("|")}', '[BLOCKED]', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin,
    // Full independent oracles for the MinHash/SimHash/sketch lanes:
    // DuckDB recomputes XXH64(seed 42) + splitmix64 from the raw
    // text/vectors in HUGEINT arithmetic (see XxhSql) — no
    // engine-produced inputs anywhere.
    "q_dedup_minhash" -> XxhSql.minhashPairsSql(charLevel = false, n = 3, k = 64, bands = 16, threshold = 0.5),
    "q_ngram_jaccard" -> XxhSql.minhashPairsSql(charLevel = true, n = 5, k = 32, bands = 8, threshold = 0.4),
    "q_dedup_simhash" -> XxhSql.simhashPairsSql(maxHamming = 3, bands = 4),
    "q_dedup_minhash_survivors" -> XxhSql.minhashSurvivorsSql(n = 3, k = 64, bands = 16, threshold = 0.5),
    "q_dedup_keep_longest" -> XxhSql.minhashKeepBestSql(n = 3, k = 64, bands = 16, threshold = 0.5),
    "q_split_leakage_safe" -> XxhSql.leakageSafeSplitSql(n = 3, k = 64, bands = 16,
      threshold = 0.5, trainPrefix = "cccd"),
    "q_cdc_rewrite" -> XxhSql.cdcRewriteSql(hashW = 8, maskBits = 3, minT = 4, maxT = 16),
    "q_export_masked" -> XxhSql.maskedExportSql(seqLen = 128, blockLen = 16,
      maskNum = 3, maskDen = 20, sentinelBase = 1000000L),
    "q_minhash_incremental" -> XxhSql.minhashIncrementalSql(n = 3, k = 64, bands = 16, threshold = 0.5),
    "q_transitive_contamination" -> XxhSql.transitiveContaminationSql(n = 3, k = 64, bands = 16, threshold = 0.4),
    "q_curation_pipeline" -> XxhSql.curationPipelineSql(
      qualitySelectSql, minQuality = 0.3, n = 3, k = 64, bands = 16, threshold = 0.6),
    "q_multimodal_decode" -> XxhSql.multimodalDecodeSql,
    // real-codec gate: dims + exact pixel mean recomputed from the
    // generator formula (pixel(i,j) = (doc_id*31 + i*7 + j*13) mod 256 on
    // a (1 + doc_id%16) × (1 + (doc_id//16)%16) grayscale grid) — the
    // engine value went through a genuine PNG encode/decode round trip
    "q_image_decode" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(1 + (doc_id % 16) AS INTEGER) AS width,
        |    CAST(1 + ((doc_id // 16) % 16) AS INTEGER) AS height
        |  FROM documents)
        |SELECT doc_id, width, height, CAST(1 AS INTEGER) AS channels,
        |  round(list_sum([CAST((doc_id * 31 + (k // width) * 7 + (k % width) * 13) % 256 AS BIGINT)
        |                  FOR k IN range(0, width * height)])::DOUBLE / (width * height), 6) AS mean_intensity
        |FROM dims ORDER BY doc_id""".stripMargin,
    // real-resize gate: output cell (gy,gx) = floor-div block mean of the
    // source formula pixels mapping to it (gy = i*4//h, gx = j*4//w);
    // cells no source pixel maps to (upscaling) are 0, so the 4×4 mean is
    // sum(cell)/16 regardless
    "q_image_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 1 + (doc_id % 16) AS w, 1 + ((doc_id // 16) % 16) AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS k FROM dims),
        |cells AS (
        |  SELECT doc_id,
        |    sum((doc_id * 31 + (k // w) * 7 + (k % w) * 13) % 256) // count(*) AS cv
        |  FROM px
        |  GROUP BY doc_id, (((k // w) * 4) // h) * 4 + (((k % w) * 4) // w))
        |SELECT doc_id, CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS channels,
        |  round(sum(cv)::DOUBLE / 16, 6) AS mean_intensity
        |FROM cells GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // real-codec audio gate: sample(t) = ((doc_id*31 + t*17) mod 65536) -
    // 32768 over 32 + doc_id%32 frames at 8000 + (doc_id%8)*1000 Hz; RMS
    // folds the normalized squares sequentially (engine accumulation
    // order), duration is integer-division milliseconds
    "q_audio_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 8) * 1000 AS INTEGER) AS sample_rate,
        |    32 + (doc_id % 32) AS n
        |  FROM documents)
        |SELECT doc_id, sample_rate, CAST(1 AS INTEGER) AS channels, CAST(16 AS INTEGER) AS bits,
        |  CAST(n AS BIGINT) AS n_frames,
        |  (n * 1000) // sample_rate AS duration_ms,
        |  round(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    [list_transform([((doc_id * 31 + t * 17) % 65536 - 32768) / 32768.0], x -> x * x)[1]
        |     FOR t IN range(0, n)]), (a, x) -> a + x) / n), 6) AS rms
        |FROM p ORDER BY doc_id""".stripMargin,
    // audio features: the same PCM formula as q_audio_decode; zcr/peak/
    // mean_abs are integer-exact, window RMS folds ascending like the
    // engine; the w-dependent inner range rides a cross-joined unnest
    // column (comprehension vars can't nest into inner lambdas)
    "q_audio_features" ->
      """WITH p AS (
        |  SELECT doc_id, 32 + (doc_id % 32) AS n,
        |    [CAST((doc_id * 31 + t * 17) % 65536 - 32768 AS BIGINT)
        |     FOR t IN range(0, 32 + (doc_id % 32))] AS smp
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, n, smp,
        |    CAST(len([1 FOR t IN range(1, n) IF (smp[t] < 0) != (smp[t+1] < 0)]) AS BIGINT) AS zcr,
        |    round(list_max(list_transform(smp, x -> abs(x))) / 32768.0, 6) AS peak,
        |    round((list_sum(list_transform(smp, x -> abs(x)))::DOUBLE / 32768.0) / n, 6) AS mean_abs
        |  FROM p),
        |wx AS (SELECT doc_id, n, smp, zcr, peak, mean_abs, unnest(range(0, 4)) AS w FROM d)
        |SELECT doc_id, CAST(w AS INTEGER) AS w,
        |  round(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    [(smp[i+1] / 32768.0) * (smp[i+1] / 32768.0)
        |     FOR i IN range((w * n) // 4, ((w + 1) * n) // 4)]),
        |    (a, x) -> a + x) / greatest(((w + 1) * n) // 4 - (w * n) // 4, 1)), 6) AS win_rms,
        |  zcr, peak, mean_abs
        |FROM wx ORDER BY doc_id, w""".stripMargin,
    // the generated SQL replays Dsp's windowed FFT → mel → log → DCT with
    // embedded constant tables — see graft.queries.DspSql for the
    // bit-exactness argument
    "q_audio_mfcc" -> DspSql.mfccSql(frameLen = 64, nMels = 8, nCoef = 4),
    "q_audio_spectral" -> DspSql.spectralSql(frameLen = 64),
    // real-codec video gate: frame f pixel (i,j) = (doc_id*31 + f*101 +
    // i*7 + j*13) mod 256 over 1 + doc_id%6 frames of (1 + doc_id%8) ×
    // (1 + (doc_id//8)%8) at 5 + doc_id%10 fps; BI_RGB is lossless, so
    // only a genuine container decode reproduces the formula mean
    "q_video_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + (doc_id % 8) AS INTEGER) AS width,
        |    CAST(1 + ((doc_id // 8) % 8) AS INTEGER) AS height,
        |    CAST(5 + (doc_id % 10) AS INTEGER) AS fps_rate,
        |    1 + (doc_id % 6) AS nf
        |  FROM documents)
        |SELECT doc_id, width, height, fps_rate, CAST(1 AS INTEGER) AS fps_scale,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  (nf * 1000) // fps_rate AS duration_ms,
        |  round(list_sum([CAST((doc_id * 31 + (k // (width * height)) * 101
        |                        + ((k % (width * height)) // width) * 7 + (k % width) * 13) % 256 AS BIGINT)
        |                  FOR k IN range(0, nf * width * height)])::DOUBLE / (nf * width * height), 6) AS mean_intensity
        |FROM p ORDER BY doc_id""".stripMargin,
    // frame sampling: k = least(3, nf) samples, frame_no = (s·nf)//k —
    // strictly increasing; per-frame mean from the same pixel formula
    "q_video_frames" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + (doc_id % 8) AS INTEGER) AS w,
        |    CAST(1 + ((doc_id // 8) % 8) AS INTEGER) AS h,
        |    1 + (doc_id % 6) AS nf
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, w, h, nf, least(3, nf) AS k,
        |    unnest(range(0, least(3, nf))) AS sample_idx
        |  FROM p)
        |SELECT doc_id, CAST(sample_idx AS INTEGER) AS sample_idx,
        |  CAST((sample_idx * nf) // k AS INTEGER) AS frame_no,
        |  round(list_sum([CAST((doc_id * 31 + ((sample_idx * nf) // k) * 101
        |                        + (px // w) * 7 + (px % w) * 13) % 256 AS BIGINT)
        |                  FOR px IN range(0, w * h)])::DOUBLE / (w * h), 6) AS frame_mean
        |FROM s ORDER BY doc_id, sample_idx""".stripMargin,
    "q_bpe_train" -> bpeTrainSql(8),
    "q_bpe_segment" -> bpeSegmentSql(8),
    "q_token_fertility" -> tokenFertilitySql(8),
    // image aHash replay: same kernel as q_video_phash over the PNG
    // formula (w = 1 + id%16, h = 1 + (id//16)%16, single frame)
    "q_image_phash" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + (doc_id % 16) AS INTEGER) AS w,
        |    CAST(1 + ((doc_id // 16) % 16) AS INTEGER) AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS pk FROM p),
        |cells AS (
        |  SELECT doc_id,
        |    (((pk // w) * 8) // h) * 8 + ((pk % w) * 8) // w AS cell,
        |    sum((doc_id * 31 + (pk // w) * 7 + (pk % w) * 13) % 256)::DOUBLE / count(*) AS cv
        |  FROM px
        |  GROUP BY doc_id, (((pk // w) * 8) // h) * 8 + ((pk % w) * 8) // w),
        |frames AS (
        |  SELECT doc_id,
        |    list(cv ORDER BY cell) AS cvs, list(cell ORDER BY cell) AS cls,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(cv ORDER BY cell)), (a, x) -> a + x) / 64.0 AS m
        |  FROM cells GROUP BY doc_id),
        |bits AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CASE WHEN cvs[i] > m THEN CAST(1 AS HUGEINT) << cls[i] ELSE CAST(0 AS HUGEINT) END
        |       FOR i IN range(1, len(cvs) + 1)]), (a, x) -> a + x) AS hb
        |  FROM frames)
        |SELECT doc_id,
        |  CAST(hb - CASE WHEN hb >= CAST(9223372036854775808 AS HUGEINT)
        |                 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
        |       AS BIGINT) AS phash
        |FROM bits ORDER BY doc_id""".stripMargin,
    // aHash kernel replay: per (doc, sample) group pixels into 8×8 grid
    // cells (gy = i·8//h, gx = j·8//w), cell value = integer sum / count;
    // the grid mean folds cell values in k-order (zeros from empty cells
    // don't move a float accumulator, so folding present cells in cell
    // order equals the engine's 64-element ordered sum); bits pack in
    // HUGEINT then convert to the engine's signed 64-bit value
    "q_video_phash" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + (doc_id % 8) AS INTEGER) AS w,
        |    CAST(1 + ((doc_id // 8) % 8) AS INTEGER) AS h,
        |    1 + (doc_id % 6) AS nf
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, w, h, nf, least(3, nf) AS k,
        |    unnest(range(0, least(3, nf))) AS sample_idx
        |  FROM p),
        |px AS (
        |  SELECT doc_id, w, h, sample_idx, (sample_idx * nf) // k AS fno,
        |    unnest(range(0, w * h)) AS pk
        |  FROM s),
        |cells AS (
        |  SELECT doc_id, sample_idx, fno,
        |    (((pk // w) * 8) // h) * 8 + ((pk % w) * 8) // w AS cell,
        |    sum((doc_id * 31 + fno * 101 + (pk // w) * 7 + (pk % w) * 13) % 256)::DOUBLE
        |      / count(*) AS cv
        |  FROM px
        |  GROUP BY doc_id, sample_idx, fno, (((pk // w) * 8) // h) * 8 + ((pk % w) * 8) // w),
        |frames AS (
        |  SELECT doc_id, sample_idx, fno,
        |    list(cv ORDER BY cell) AS cvs, list(cell ORDER BY cell) AS cls,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(cv ORDER BY cell)), (a, x) -> a + x) / 64.0 AS m
        |  FROM cells GROUP BY doc_id, sample_idx, fno),
        |bits AS (
        |  SELECT doc_id, sample_idx, fno,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CASE WHEN cvs[i] > m THEN CAST(1 AS HUGEINT) << cls[i] ELSE CAST(0 AS HUGEINT) END
        |       FOR i IN range(1, len(cvs) + 1)]), (a, x) -> a + x) AS hb
        |  FROM frames)
        |SELECT doc_id, CAST(sample_idx AS INTEGER) AS sample_idx, CAST(fno AS INTEGER) AS frame_no,
        |  CAST(hb - CASE WHEN hb >= CAST(9223372036854775808 AS HUGEINT)
        |                 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
        |       AS BIGINT) AS frame_hash
        |FROM bits ORDER BY doc_id, sample_idx""".stripMargin,
    // MP4 sample-table index: replay the syntheticMp4 generator
    // arithmetic — n = 1 + id mod 7 samples, size 50 + (id·13 + s·7) mod
    // 200 packed contiguously from byte 32 (24-byte ftyp + 8-byte mdat
    // header), delta 100 + (id mod 9)·10, timescale 600·(1 + id mod 4)
    "q_video_index" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(unnest(range(1 + doc_id % 7)) AS BIGINT) AS s
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, s,
        |    50 + (doc_id * 13 + s * 7) % 200 AS size,
        |    100 + (doc_id % 9) * 10 AS delta,
        |    600 * (1 + doc_id % 4) AS timescale
        |  FROM g),
        |o AS (
        |  SELECT doc_id, s, size, delta, timescale,
        |    CAST(32 + coalesce(sum(size) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
        |  FROM sz)
        |SELECT doc_id, s AS sample_no, CAST(s // 2 AS BIGINT) AS chunk_no, "offset",
        |  CAST(size AS BIGINT) AS size,
        |  CAST(s * delta AS BIGINT) AS dts,
        |  CAST(delta AS BIGINT) AS duration_ticks,
        |  CAST((s * delta * 1000) // timescale AS BIGINT) AS time_ms,
        |  (s % 3 = 0) AS keyframe,
        |  CAST(timescale AS BIGINT) AS timescale,
        |  CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |  CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |FROM o ORDER BY doc_id, sample_no""".stripMargin,
    // fragmented MP4 index: same sample formulas, fMP4 byte layout —
    // constant 625-byte ftyp+moov init, then per fragment g of nf
    // samples: (88 + 12·nf) moof + 8 mdat header + payload bytes
    "q_video_index_frag" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(unnest(range(1 + doc_id % 7)) AS BIGINT) AS s
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, s,
        |    50 + (doc_id * 13 + s * 7) % 200 AS size,
        |    100 + (doc_id % 9) * 10 AS delta,
        |    600 * (1 + doc_id % 4) AS timescale,
        |    s // 2 AS f
        |  FROM g),
        |fr AS (
        |  SELECT doc_id, f, count(*) AS nf, sum(size) AS body
        |  FROM sz GROUP BY doc_id, f),
        |fo AS (
        |  SELECT doc_id, f, nf,
        |    625 + coalesce(sum(88 + 12 * nf + 8 + body) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS frag_start
        |  FROM fr),
        |o AS (
        |  SELECT sz.doc_id, sz.s, sz.size, sz.delta, sz.timescale, sz.f,
        |    CAST(fo.frag_start + 88 + 12 * fo.nf + 8 +
        |      coalesce(sum(sz.size) OVER (PARTITION BY sz.doc_id, sz.f ORDER BY sz.s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
        |  FROM sz JOIN fo ON sz.doc_id = fo.doc_id AND sz.f = fo.f)
        |SELECT doc_id, s AS sample_no, CAST(f AS BIGINT) AS chunk_no, "offset",
        |  CAST(size AS BIGINT) AS size,
        |  CAST(s * delta AS BIGINT) AS dts,
        |  CAST(delta AS BIGINT) AS duration_ticks,
        |  CAST((s * delta * 1000) // timescale AS BIGINT) AS time_ms,
        |  (s % 3 = 0) AS keyframe,
        |  CAST(timescale AS BIGINT) AS timescale,
        |  CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |  CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |FROM o ORDER BY doc_id, sample_no""".stripMargin,
    // calibration: replay the deterministic scorer/label and the engine's
    // binning (least(floor(score·10), 9), score 1.0 folds into bin 9);
    // mean_score rounds at 6 (aggregate-rounding convention), label_rate
    // is an exact integer ratio
    "q_calibration" ->
      """WITH s AS (
        |  SELECT CASE WHEN doc_id % 101 = 0 THEN CAST(1 AS DOUBLE)
        |              ELSE CAST(doc_id % 1009 AS DOUBLE) / 1009 END AS sc,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |b AS (SELECT CAST(least(floor(sc * 10), 9) AS BIGINT) AS bin, sc, y FROM s)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(sc), 6) AS mean_score,
        |  CAST(sum(y) AS DOUBLE) / count(*) AS label_rate,
        |  round(abs(CAST(sum(y) AS DOUBLE) / count(*) - round(avg(sc), 6)), 6) AS gap
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    // ECE: left fold of (n_b/N)·gap_b over ascending bins with the
    // table's rounded gaps; Brier: round-6 mean squared error
    "q_calibration_summary" ->
      """WITH s AS (
        |  SELECT CASE WHEN doc_id % 101 = 0 THEN CAST(1 AS DOUBLE)
        |              ELSE CAST(doc_id % 1009 AS DOUBLE) / 1009 END AS sc,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |b AS MATERIALIZED (
        |  SELECT CAST(least(floor(sc * 10), 9) AS BIGINT) AS bin, sc, y FROM s),
        |t AS MATERIALIZED (
        |  SELECT bin, count(*) AS nb,
        |    round(abs(CAST(sum(y) AS DOUBLE) / count(*) - round(avg(sc), 6)), 6) AS gap
        |  FROM b GROUP BY bin),
        |tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n FROM t),
        |terms AS (
        |  SELECT list(CAST(nb AS DOUBLE) / (SELECT n FROM tot) * gap ORDER BY bin) AS l
        |  FROM t)
        |SELECT (SELECT n FROM tot) AS n,
        |  round(list_reduce(list_prepend(0.0, (SELECT l FROM terms)), (a, x) -> a + x), 6) AS ece,
        |  (SELECT round(avg((sc - y) * (sc - y)), 6) FROM b) AS brier""".stripMargin,
    // WebM index: same sample formulas in the millisecond clock
    // (timescale 1000, dts = time_ms), fixed-width EBML byte layout —
    // constant 243-byte header, then per cluster f of nf blocks:
    // 23-byte cluster head + per block 13-byte head + payload
    "q_video_index_webm" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(unnest(range(1 + doc_id % 7)) AS BIGINT) AS s
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, s,
        |    50 + (doc_id * 13 + s * 7) % 200 AS size,
        |    100 + (doc_id % 9) * 10 AS delta,
        |    s // 2 AS f
        |  FROM g),
        |fr AS (
        |  SELECT doc_id, f, count(*) AS nf, sum(size) AS body
        |  FROM sz GROUP BY doc_id, f),
        |fo AS (
        |  SELECT doc_id, f, nf,
        |    243 + coalesce(sum(23 + 13 * nf + body) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS frag_start
        |  FROM fr),
        |o AS (
        |  SELECT sz.doc_id, sz.s, sz.size, sz.delta, sz.f,
        |    CAST(fo.frag_start + 23 +
        |      coalesce(sum(13 + sz.size) OVER (PARTITION BY sz.doc_id, sz.f ORDER BY sz.s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 13 AS BIGINT) AS "offset"
        |  FROM sz JOIN fo ON sz.doc_id = fo.doc_id AND sz.f = fo.f)
        |SELECT doc_id, s AS sample_no, CAST(f AS BIGINT) AS chunk_no, "offset",
        |  CAST(size AS BIGINT) AS size,
        |  CAST(s * delta AS BIGINT) AS dts,
        |  CAST(delta AS BIGINT) AS duration_ticks,
        |  CAST(s * delta AS BIGINT) AS time_ms,
        |  (s % 3 = 0) AS keyframe,
        |  CAST(1000 AS BIGINT) AS timescale,
        |  CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |  CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |FROM o ORDER BY doc_id, sample_no""".stripMargin,
    // laced WebM: one Xiph-laced SimpleBlock per cluster — cluster f of
    // nf frames occupies 36 + nf + body bytes after the constant
    // 243-byte header (23 cluster head + 9 SimpleBlock head + 4 block
    // head + 1 lace count + (nf-1) one-byte sizes), frame s sits at
    // frag_start + 36 + nf + its in-cluster predecessors' sizes, and
    // every laced frame takes the BLOCK keyframe = sample 2f's verdict
    "q_video_index_webm_laced" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(unnest(range(1 + doc_id % 7)) AS BIGINT) AS s
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, s,
        |    50 + (doc_id * 13 + s * 7) % 200 AS size,
        |    100 + (doc_id % 9) * 10 AS delta,
        |    s // 2 AS f
        |  FROM g),
        |fr AS (
        |  SELECT doc_id, f, count(*) AS nf, sum(size) AS body
        |  FROM sz GROUP BY doc_id, f),
        |fo AS (
        |  SELECT doc_id, f, nf,
        |    243 + coalesce(sum(36 + nf + body) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS frag_start
        |  FROM fr),
        |o AS (
        |  SELECT sz.doc_id, sz.s, sz.size, sz.delta, sz.f,
        |    CAST(fo.frag_start + 36 + fo.nf +
        |      coalesce(sum(sz.size) OVER (PARTITION BY sz.doc_id, sz.f ORDER BY sz.s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
        |  FROM sz JOIN fo ON sz.doc_id = fo.doc_id AND sz.f = fo.f)
        |SELECT doc_id, s AS sample_no, CAST(f AS BIGINT) AS chunk_no, "offset",
        |  CAST(size AS BIGINT) AS size,
        |  CAST(s * delta AS BIGINT) AS dts,
        |  CAST(delta AS BIGINT) AS duration_ticks,
        |  CAST(s * delta AS BIGINT) AS time_ms,
        |  ((2 * f) % 3 = 0) AS keyframe,
        |  CAST(1000 AS BIGINT) AS timescale,
        |  CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |  CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |FROM o ORDER BY doc_id, sample_no""".stripMargin,
    // Cues-bearing WebM: the q_video_index_webm replay with every
    // cluster shifted by the 12 + 58·⌈n/2⌉-byte seek table (⌈n/2⌉
    // clusters at 2 frames each), i.e. frag_start base 243 → 255 + 58·nc
    "q_video_index_webm_cues" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(unnest(range(1 + doc_id % 7)) AS BIGINT) AS s
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, s,
        |    50 + (doc_id * 13 + s * 7) % 200 AS size,
        |    100 + (doc_id % 9) * 10 AS delta,
        |    s // 2 AS f
        |  FROM g),
        |fr AS (
        |  SELECT doc_id, f, count(*) AS nf, sum(size) AS body
        |  FROM sz GROUP BY doc_id, f),
        |fo AS (
        |  SELECT doc_id, f, nf,
        |    255 + 58 * (count(*) OVER (PARTITION BY doc_id)) +
        |    coalesce(sum(23 + 13 * nf + body) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS frag_start
        |  FROM fr),
        |o AS (
        |  SELECT sz.doc_id, sz.s, sz.size, sz.delta, sz.f,
        |    CAST(fo.frag_start + 23 +
        |      coalesce(sum(13 + sz.size) OVER (PARTITION BY sz.doc_id, sz.f ORDER BY sz.s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 13 AS BIGINT) AS "offset"
        |  FROM sz JOIN fo ON sz.doc_id = fo.doc_id AND sz.f = fo.f)
        |SELECT doc_id, s AS sample_no, CAST(f AS BIGINT) AS chunk_no, "offset",
        |  CAST(size AS BIGINT) AS size,
        |  CAST(s * delta AS BIGINT) AS dts,
        |  CAST(delta AS BIGINT) AS duration_ticks,
        |  CAST(s * delta AS BIGINT) AS time_ms,
        |  (s % 3 = 0) AS keyframe,
        |  CAST(1000 AS BIGINT) AS timescale,
        |  CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |  CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |FROM o ORDER BY doc_id, sample_no""".stripMargin,
    // the clip: the same shifted replay filtered to 400 <= s·delta < 700,
    // sample_no/chunk_no renumbered from 0 within each doc's clip
    "q_video_clip_webm" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(unnest(range(1 + doc_id % 7)) AS BIGINT) AS s
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, s,
        |    50 + (doc_id * 13 + s * 7) % 200 AS size,
        |    100 + (doc_id % 9) * 10 AS delta,
        |    s // 2 AS f
        |  FROM g),
        |fr AS (
        |  SELECT doc_id, f, count(*) AS nf, sum(size) AS body
        |  FROM sz GROUP BY doc_id, f),
        |fo AS (
        |  SELECT doc_id, f, nf,
        |    255 + 58 * (count(*) OVER (PARTITION BY doc_id)) +
        |    coalesce(sum(23 + 13 * nf + body) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS frag_start
        |  FROM fr),
        |o AS (
        |  SELECT sz.doc_id, sz.s, sz.size, sz.delta, sz.f,
        |    CAST(fo.frag_start + 23 +
        |      coalesce(sum(13 + sz.size) OVER (PARTITION BY sz.doc_id, sz.f ORDER BY sz.s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 13 AS BIGINT) AS "offset"
        |  FROM sz JOIN fo ON sz.doc_id = fo.doc_id AND sz.f = fo.f),
        |clip AS (
        |  SELECT * FROM o WHERE s * delta >= 400 AND s * delta < 700)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS BIGINT) AS sample_no,
        |  CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY f) - 1 AS BIGINT) AS chunk_no,
        |  "offset",
        |  CAST(size AS BIGINT) AS size,
        |  CAST(s * delta AS BIGINT) AS dts,
        |  CAST(delta AS BIGINT) AS duration_ticks,
        |  CAST(s * delta AS BIGINT) AS time_ms,
        |  (s % 3 = 0) AS keyframe,
        |  CAST(1000 AS BIGINT) AS timescale,
        |  CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |  CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |FROM clip ORDER BY doc_id, sample_no""".stripMargin,
    // mixed-container ms-window clip: the auto replay's two branches
    // (MP4 plain layout, WebM cues-shifted layout) filtered by each
    // container's integer time_ms arithmetic, then renumbered from 0
    // within each doc's clip
    "q_video_clip_auto" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(unnest(range(1 + doc_id % 7)) AS BIGINT) AS s
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, s,
        |    50 + (doc_id * 13 + s * 7) % 200 AS size,
        |    100 + (doc_id % 9) * 10 AS delta,
        |    600 * (1 + doc_id % 4) AS timescale,
        |    s // 2 AS f
        |  FROM g),
        |m AS (
        |  SELECT doc_id, s, size, delta, timescale, f,
        |    CAST(32 + coalesce(sum(size) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
        |  FROM sz WHERE doc_id % 2 = 0),
        |fr AS (
        |  SELECT doc_id, f, count(*) AS nf, sum(size) AS body
        |  FROM sz WHERE doc_id % 2 = 1 GROUP BY doc_id, f),
        |fo AS (
        |  SELECT doc_id, f, nf,
        |    255 + 58 * (count(*) OVER (PARTITION BY doc_id)) +
        |    coalesce(sum(23 + 13 * nf + body) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS frag_start
        |  FROM fr),
        |w AS (
        |  SELECT sz.doc_id, sz.s, sz.size, sz.delta, sz.f,
        |    CAST(fo.frag_start + 23 +
        |      coalesce(sum(13 + sz.size) OVER (PARTITION BY sz.doc_id, sz.f ORDER BY sz.s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 13 AS BIGINT) AS "offset"
        |  FROM sz JOIN fo ON sz.doc_id = fo.doc_id AND sz.f = fo.f),
        |u AS (
        |  SELECT doc_id, s, f, "offset", CAST(size AS BIGINT) AS size,
        |    CAST(s * delta AS BIGINT) AS dts, CAST(delta AS BIGINT) AS duration_ticks,
        |    CAST((s * delta * 1000) // timescale AS BIGINT) AS time_ms,
        |    (s % 3 = 0) AS keyframe, CAST(timescale AS BIGINT) AS timescale,
        |    CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |    CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |  FROM m
        |  WHERE (s * delta * 1000) // timescale >= 400 AND (s * delta * 1000) // timescale < 700
        |  UNION ALL
        |  SELECT doc_id, s, f, "offset", CAST(size AS BIGINT) AS size,
        |    CAST(s * delta AS BIGINT) AS dts, CAST(delta AS BIGINT) AS duration_ticks,
        |    CAST(s * delta AS BIGINT) AS time_ms,
        |    (s % 3 = 0) AS keyframe, CAST(1000 AS BIGINT) AS timescale,
        |    CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |    CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |  FROM w
        |  WHERE s * delta >= 400 AND s * delta < 700)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS BIGINT) AS sample_no,
        |  CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY f) - 1 AS BIGINT) AS chunk_no,
        |  "offset", size, dts, duration_ticks, time_ms, keyframe, timescale, width, height
        |FROM u ORDER BY doc_id, sample_no""".stripMargin,
    // mixed-container auto dispatch: MP4 replay for even doc_ids, WebM
    // replay for odd — the same arithmetic as q_video_index /
    // q_video_index_webm, parity-split and unioned
    "q_video_index_auto" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(unnest(range(1 + doc_id % 7)) AS BIGINT) AS s
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, s,
        |    50 + (doc_id * 13 + s * 7) % 200 AS size,
        |    100 + (doc_id % 9) * 10 AS delta,
        |    600 * (1 + doc_id % 4) AS timescale,
        |    s // 2 AS f
        |  FROM g),
        |m AS (
        |  SELECT doc_id, s, size, delta, timescale,
        |    CAST(32 + coalesce(sum(size) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
        |  FROM sz WHERE doc_id % 2 = 0),
        |fr AS (
        |  SELECT doc_id, f, count(*) AS nf, sum(size) AS body
        |  FROM sz WHERE doc_id % 2 = 1 GROUP BY doc_id, f),
        |fo AS (
        |  SELECT doc_id, f, nf,
        |    243 + coalesce(sum(23 + 13 * nf + body) OVER (PARTITION BY doc_id ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS frag_start
        |  FROM fr),
        |w AS (
        |  SELECT sz.doc_id, sz.s, sz.size, sz.delta, sz.f,
        |    CAST(fo.frag_start + 23 +
        |      coalesce(sum(13 + sz.size) OVER (PARTITION BY sz.doc_id, sz.f ORDER BY sz.s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 13 AS BIGINT) AS "offset"
        |  FROM sz JOIN fo ON sz.doc_id = fo.doc_id AND sz.f = fo.f)
        |SELECT * FROM (
        |  SELECT doc_id, s AS sample_no, CAST(s // 2 AS BIGINT) AS chunk_no, "offset",
        |    CAST(size AS BIGINT) AS size,
        |    CAST(s * delta AS BIGINT) AS dts,
        |    CAST(delta AS BIGINT) AS duration_ticks,
        |    CAST((s * delta * 1000) // timescale AS BIGINT) AS time_ms,
        |    (s % 3 = 0) AS keyframe,
        |    CAST(timescale AS BIGINT) AS timescale,
        |    CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |    CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |  FROM m
        |  UNION ALL
        |  SELECT doc_id, s AS sample_no, CAST(f AS BIGINT) AS chunk_no, "offset",
        |    CAST(size AS BIGINT) AS size,
        |    CAST(s * delta AS BIGINT) AS dts,
        |    CAST(delta AS BIGINT) AS duration_ticks,
        |    CAST(s * delta AS BIGINT) AS time_ms,
        |    (s % 3 = 0) AS keyframe,
        |    CAST(1000 AS BIGINT) AS timescale,
        |    CAST(16 * (1 + doc_id % 8) AS INTEGER) AS width,
        |    CAST(16 * (1 + (doc_id // 8) % 8) AS INTEGER) AS height
        |  FROM w)
        |ORDER BY doc_id, sample_no""".stripMargin,
    "q_ann_sketch" -> XxhSql.annSketchSql(dim = 64, nBits = 64, k = 5, oversample = 8, nQueries = 5),
    "q_ann_pq" -> XxhSql.annPqSql(d = 64, m = 8, kc = 16, k = 5, oversample = 8, nQueries = 5),
    "q_ann_pq_refined" -> XxhSql.annPqRefinedSql(d = 64, m = 8, kc = 16, k = 5, oversample = 8,
      nQueries = 5, iters = 1),
    "q_semdedup" -> XxhSql.semDedupSql(d = 64, kc = 16, iters = 1, tau = 0.9),
    "q_semdedup_store" -> XxhSql.semDedupStoreSql(d = 64, kc = 16, iters = 1, tau = 0.9),
    "q_cluster_purity" -> XxhSql.clusterPuritySql(d = 64, kc = 16, iters = 1),
    "q_lsh_recall" -> XxhSql.lshRecallSql(n = 3, k = 64, bands = 16, threshold = 0.35, idMax = 250),
    "q_cluster_ari" -> XxhSql.clusterAriSql(d = 64, kc = 16, iters = 1),
    "q_cluster_nmi" -> XxhSql.clusterNmiSql(d = 64, kc = 16, iters = 1),
    "q_lsh_precision" -> XxhSql.lshPrecisionSql(n = 3, k = 64, bands = 16, threshold = 0.5, idMax = 250),
    "q_pca_project" -> XxhSql.pcaProjectSql(d = 64, iters = 3),
    "q_pca_component" -> XxhSql.pcaComponentSql(d = 64, iters = 3),
    "q_ann_ivfpq" -> XxhSql.annIvfPqSql(d = 64, m = 8, kc = 16, k = 5, oversample = 8,
      nQueries = 5, nlist = 16, nprobe = 8),
    "q_ann_ivf_refined" -> XxhSql.annIvfRefinedSql(d = 64, nlist = 16, iters = 1,
      k = 5, nprobe = 4, nQueries = 5),
    "q_ann_ivf_refined_rebalance" -> XxhSql.annIvfRefinedRebalanceSql(d = 64, nlist = 16,
      iters = 1, k = 5, nprobe = 4, nQueries = 5, budgetNum = 9, budgetDen = 128),
    // absmax scaling and floor(x/scale + 0.5) rounding are IEEE-exact in
    // both engines; the L2 error folds sequentially to match the engine's
    // accumulation order
    "q_embed_quantize" ->
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    coalesce(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 0) / 127 AS scale
        |  FROM embeddings),
        |c AS MATERIALIZED (
        |  SELECT vec_id, v, scale,
        |    [CASE WHEN scale = 0 THEN 0.0 ELSE greatest(-127.0, least(127.0, floor(v[i] / scale + 0.5))) END
        |     FOR i IN range(1, len(v) + 1)] AS codes
        |  FROM q)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    [(v[i] - codes[i] * scale) * (v[i] - codes[i] * scale) FOR i IN range(1, len(v) + 1)]),
        |    (a, x) -> a + x)), 6) AS l2_err
        |FROM c ORDER BY vec_id""".stripMargin,
    // windows compared as SUBSTRINGS (the engine's xxhash64 identity is
    // collision-free at this scale, so the sets coincide)
    "q_substring_dedup" ->
      s"""WITH wins AS MATERIALIZED (
         |  SELECT doc_id, u.pos AS pos, u.w AS w FROM (
         |    SELECT doc_id,
         |      unnest([{'pos': i - 1, 'w': substr(norm, CAST(i AS INTEGER), 40)}
         |              FOR i IN range(1, greatest(length(norm) - 38, 1))]) AS u
         |    FROM (SELECT doc_id, $normSql AS norm FROM documents WHERE text IS NOT NULL))),
         |dup AS MATERIALIZED (
         |  SELECT w FROM (SELECT DISTINCT doc_id, w FROM wins) GROUP BY w HAVING count(*) >= 2),
         |cov AS (
         |  SELECT doc_id, count(*) AS n_dup_windows, sum(contrib) AS dup_chars FROM (
         |    SELECT doc_id, CASE WHEN nxt IS NULL THEN 40 ELSE least(40, nxt - pos) END AS contrib FROM (
         |      SELECT wins.doc_id, pos, lead(pos) OVER (PARTITION BY wins.doc_id ORDER BY pos) AS nxt
         |      FROM wins JOIN dup USING (w)))
         |  GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_windows, max(pos) + 40 AS n_chars FROM wins GROUP BY doc_id)
         |SELECT tot.doc_id, n_windows,
         |  CAST(coalesce(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
         |  round(coalesce(n_dup_windows, 0) / CAST(n_windows AS DOUBLE), 6) AS dup_window_frac,
         |  round(coalesce(dup_chars, 0) / CAST(n_chars AS DOUBLE), 6) AS dup_char_frac
         |FROM tot LEFT JOIN cov USING (doc_id) ORDER BY tot.doc_id""".stripMargin,
    // chunks compared as STRINGS (the engine's xxhash64 chunk identity is
    // collision-free at this scale, so keep-first verdicts coincide);
    // string_agg skips the NULLed dropped chunks, ORDER BY idx matches the
    // engine's in-array chunk order
    "q_dedup_rewrite" ->
      s"""WITH d2 AS MATERIALIZED (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |u AS MATERIALIZED (
         |  SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM (
         |    SELECT doc_id, unnest([{'idx': CAST(s // 8 AS BIGINT),
         |                            'chunk': array_to_string(toks[CAST(s+1 AS INTEGER):CAST(s+8 AS INTEGER)], ' ')}
         |                           FOR s IN range(0, len(toks), 8)]) AS u
         |    FROM d2)),
         |k AS (
         |  SELECT doc_id, idx, chunk,
         |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
         |  FROM u)
         |SELECT d2.doc_id AS id,
         |  coalesce(string_agg(CASE WHEN k.rn = 1 THEN k.chunk END, ' ' ORDER BY k.idx), '') AS clean_text,
         |  CAST(count(k.chunk) AS BIGINT) AS n_chunks,
         |  CAST(coalesce(sum(CASE WHEN k.rn > 1 THEN 1 END), 0) AS BIGINT) AS n_dropped
         |FROM d2 LEFT JOIN k ON d2.doc_id = k.doc_id
         |GROUP BY d2.doc_id ORDER BY d2.doc_id""".stripMargin,
    // dataset card: all-exact lanes (counts, a rounded exact ratio, a
    // threshold on the bit-identical quality doubles, keep-first chunk
    // verdicts on chunk strings)
    "q_dataset_card" ->
      s"""WITH q AS ($qualitySelectSql),
         |t0 AS (
         |  SELECT doc_id, source, lang,
         |    CAST(len(list_filter($toksSql, x -> x <> '')) AS BIGINT) AS nt
         |  FROM documents),
         |stats AS (
         |  SELECT t0.source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_quality
         |  FROM t0 JOIN q USING (doc_id) GROUP BY t0.source),
         |lc AS (
         |  SELECT source, lang, count(*) AS c,
         |    row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang) AS rn
         |  FROM t0 GROUP BY source, lang),
         |d2 AS MATERIALIZED (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |u AS MATERIALIZED (
         |  SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM (
         |    SELECT doc_id, unnest([{'idx': CAST(s // 8 AS BIGINT),
         |                            'chunk': array_to_string(toks[CAST(s+1 AS INTEGER):CAST(s+8 AS INTEGER)], ' ')}
         |                           FOR s IN range(0, len(toks), 8)]) AS u
         |    FROM d2)),
         |k AS (
         |  SELECT doc_id, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
         |  FROM u),
         |dup AS (
         |  SELECT t0.source, count(DISTINCT k.doc_id) AS n_dup_docs
         |  FROM k JOIN t0 ON k.doc_id = t0.doc_id WHERE k.rn > 1 GROUP BY t0.source)
         |SELECT stats.source, n_docs, n_tokens,
         |  round(n_tokens / CAST(n_docs AS DOUBLE), 6) AS avg_doc_tokens,
         |  n_hi_quality, lc.lang AS top_lang, CAST(lc.c AS BIGINT) AS top_lang_docs,
         |  CAST(coalesce(dup.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
         |FROM stats
         |JOIN lc ON lc.source = stats.source AND lc.rn = 1
         |LEFT JOIN dup ON dup.source = stats.source
         |ORDER BY stats.source""".stripMargin,
    // the unrounded quality doubles are bit-identical across engines
    // (q_text_quality precedent), so the DESC ordering — and therefore
    // the running sum and the budget cut — coincide exactly
    "q_token_budget" ->
      s"""WITH q AS ($qualitySelectSql),
         |t0 AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter($toksSql, x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT q.doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, q.doc_id) AS BIGINT) AS cum_tokens
         |  FROM q JOIN t0 USING (doc_id))
         |SELECT doc_id, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin,
    // attribution joins every occurrence of a duplicated chunk to its
    // string-identical first occurrence
    "q_rewrite_attribution" ->
      s"""WITH d2 AS MATERIALIZED (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |u AS MATERIALIZED (
         |  SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM (
         |    SELECT doc_id, unnest([{'idx': CAST(s // 8 AS BIGINT),
         |                            'chunk': array_to_string(toks[CAST(s+1 AS INTEGER):CAST(s+8 AS INTEGER)], ' ')}
         |                           FOR s IN range(0, len(toks), 8)]) AS u
         |    FROM d2)),
         |w1 AS (
         |  SELECT chunk, doc_id AS winner_id, idx AS winner_idx,
         |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
         |  FROM u),
         |winners AS (SELECT chunk, winner_id, winner_idx FROM w1 WHERE rn = 1)
         |SELECT u.doc_id AS id, u.idx, winner_id, winner_idx
         |FROM u JOIN winners USING (chunk)
         |WHERE u.doc_id <> winner_id OR u.idx <> winner_idx
         |ORDER BY id, idx""".stripMargin,
    // boilerplate chunks resolved as STRINGS (same collision argument as
    // q_dedup_rewrite); df counts distinct docs per chunk
    "q_boilerplate_rewrite" ->
      s"""WITH d2 AS MATERIALIZED (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |u AS MATERIALIZED (
         |  SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM (
         |    SELECT doc_id, unnest([{'idx': CAST(s // 8 AS BIGINT),
         |                            'chunk': array_to_string(toks[CAST(s+1 AS INTEGER):CAST(s+8 AS INTEGER)], ' ')}
         |                           FOR s IN range(0, len(toks), 8)]) AS u
         |    FROM d2)),
         |cm AS MATERIALIZED (
         |  SELECT chunk FROM (SELECT DISTINCT doc_id, chunk FROM u)
         |  GROUP BY chunk HAVING count(*) >= 3),
         |k AS (
         |  SELECT u.doc_id, u.idx, u.chunk, (cm.chunk IS NOT NULL) AS is_bp
         |  FROM u LEFT JOIN cm USING (chunk))
         |SELECT d2.doc_id AS id,
         |  coalesce(string_agg(CASE WHEN NOT k.is_bp THEN k.chunk END, ' ' ORDER BY k.idx), '') AS clean_text,
         |  CAST(count(k.chunk) AS BIGINT) AS n_chunks,
         |  CAST(coalesce(sum(CASE WHEN k.is_bp THEN 1 END), 0) AS BIGINT) AS n_dropped
         |FROM d2 LEFT JOIN k ON d2.doc_id = k.doc_id
         |GROUP BY d2.doc_id ORDER BY d2.doc_id""".stripMargin,
    // PSI: add-one-smoothed probabilities are exact-integer ratios; the
    // per-source fold runs in ascending bin order on both sides (list
    // ORDER BY bin here, the driver's while-loop there), round-6 on the
    // sum only; top bin by |term| desc with lowest-bin tie-break
    "q_drift_psi" ->
      """WITH s AS MATERIALIZED (
        |  SELECT source,
        |    CAST(least(greatest(floor(n_chars / 100.0), 0), 7) AS INTEGER) AS bin,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000' AS is_ref
        |  FROM documents),
        |g AS MATERIALIZED (
        |  SELECT source, bin,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS r,
        |    CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM s GROUP BY source, bin),
        |tot AS (SELECT source, CAST(sum(r) AS BIGINT) AS nr, CAST(sum(c) AS BIGINT) AS nc
        |        FROM g GROUP BY source),
        |cell AS (
        |  SELECT tot.source, CAST(b.b AS INTEGER) AS bin, tot.nr, tot.nc,
        |    coalesce(g.r, 0) AS r, coalesce(g.c, 0) AS c
        |  FROM tot CROSS JOIN unnest(range(0, 8)) AS b(b)
        |  LEFT JOIN g ON g.source = tot.source AND g.bin = CAST(b.b AS INTEGER)),
        |term AS (
        |  SELECT source, bin, nr, nc,
        |    ((r + 1.0) / (nr + 8.0) - (c + 1.0) / (nc + 8.0))
        |      * ln(((r + 1.0) / (nr + 8.0)) / ((c + 1.0) / (nc + 8.0))) AS t
        |  FROM cell)
        |SELECT source, CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur,
        |  round(list_reduce(list_prepend(0.0, list(t ORDER BY bin)), (a, x) -> a + x), 6) AS psi,
        |  CAST(list(bin ORDER BY abs(t) DESC, bin)[1] AS BIGINT) AS top_shift_bin
        |FROM term GROUP BY source ORDER BY source""".stripMargin,
    "q_repetition" ->
      s"""SELECT doc_id,
         |  round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(maxw AS DOUBLE) / len(toks) END, 6) AS top_word_frac,
         |  round(CASE WHEN nsch <= 0 THEN 0.0 ELSE least(CAST(maxbg AS DOUBLE) / nsch, 1.0) END, 6) AS top_bigram_char_frac,
         |  round(CASE WHEN len(tris) = 0 THEN 0.0 ELSE CAST(len(tris) - len(list_distinct(tris)) AS DOUBLE) / len(tris) END, 6) AS dup_trigram_frac
         |FROM (
         |  SELECT doc_id, toks, tris,
         |    coalesce(list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, x -> x = w)))), 0) AS maxw,
         |    coalesce(list_max(list_transform(list_distinct(bgs), g -> len(list_filter(bgs, x -> x = g)) * length(replace(g, ' ', '')))), 0) AS maxbg,
         |    length(replace(norm, ' ', '')) AS nsch
         |  FROM (
         |    SELECT doc_id, norm, toks,
         |      [toks[i] || ' ' || toks[i+1] FOR i IN range(1, greatest(len(toks), 1))] AS bgs,
         |      [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, greatest(len(toks) - 1, 1))] AS tris
         |    FROM (SELECT doc_id, $normSql AS norm, list_filter($toksSql, x -> x <> '') AS toks FROM documents)
         |  )
         |) ORDER BY doc_id""".stripMargin,
    "q_line_repetition" ->
      """SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  round(CASE WHEN len(lines) = 0 THEN 0.0
        |        ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) END, 6) AS dup_line_frac,
        |  round(CASE WHEN totch <= 0 THEN 0.0 ELSE CAST(dupch AS DOUBLE) / totch END, 6) AS dup_char_frac
        |FROM (
        |  SELECT doc_id, lines,
        |    coalesce(list_sum(list_transform(lines, l -> length(l))), 0) AS totch,
        |    coalesce(list_sum(list_transform(list_distinct(lines), l ->
        |      CASE WHEN len(list_filter(lines, x -> x = l)) > 1
        |           THEN len(list_filter(lines, x -> x = l)) * length(l) ELSE 0 END)), 0) AS dupch
        |  FROM (
        |    SELECT doc_id,
        |      list_filter(list_transform(string_split(regexp_replace(text, ' the ', chr(10), 'g'), chr(10)),
        |                                 x -> trim(x)), x -> x <> '') AS lines
        |    FROM documents)
        |) ORDER BY doc_id""".stripMargin,
    "q_vocab" ->
      s"""SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(list_filter($toksSql, x -> x <> '')) AS token FROM documents)
         |GROUP BY token ORDER BY cnt DESC, token LIMIT 100""".stripMargin,
    // brute-force exact count > θ·n — the engine's sketch only bounds the
    // candidate set, so exactness is directly comparable. Same double
    // arithmetic both sides: cnt > 0.02 * n with n an exact BIGINT.
    "q_heavy_hitters" ->
      s"""WITH tok AS MATERIALIZED (
         |  SELECT unnest(list_filter($toksSql, x -> x <> '')) AS token FROM documents)
         |SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
         |HAVING count(*) > 0.02 * (SELECT count(*) FROM tok)
         |ORDER BY cnt DESC, token""".stripMargin,
    // per-key: the HAVING threshold is each language's own token total
    "q_heavy_hitters_by_lang" ->
      s"""WITH tok AS MATERIALIZED (
         |  SELECT lang, unnest(list_filter($toksSql, x -> x <> '')) AS token FROM documents
         |  WHERE lang IS NOT NULL),
         |tot AS MATERIALIZED (SELECT lang, count(*) AS n FROM tok GROUP BY lang)
         |SELECT k.lang, k.token, k.cnt FROM (
         |  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY lang, token) k
         |JOIN tot USING (lang) WHERE k.cnt > 0.03 * tot.n
         |ORDER BY lang, cnt DESC, token""".stripMargin,
    "q_ann_ivf" ->
      """WITH cent AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
        |  FROM embeddings WHERE vec_id < 16
        |), corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        |), assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, ct.cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY round(list_cosine_similarity(c.vec, ct.centroid), 6) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1
        |), queries AS (
        |  SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5
        |), probe AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, ct.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(q.qvec, ct.centroid), 6) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN cent ct) WHERE rn <= 4
        |), cand AS (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.qvec, c.vec), 6) AS cosine_sim
        |  FROM probe p
        |  JOIN queries q ON q.query_id = p.query_id
        |  JOIN assign a ON a.cell = p.cell
        |  JOIN corpus c ON c.vec_id = a.vec_id
        |  WHERE c.vec_id <> p.query_id
        |)
        |SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT query_id, neighbor_id, cosine_sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        |  FROM cand)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the rebalance chain replayed end-to-end: build assignment, hot
    // cells at the same 9n/128 budget (BIGINT // = floor, matching the
    // engine's long division), farthest-member split centroids
    // (min rounded cosine, ties to min id), constrained re-argmax
    // inside each hot cell (ties to the LOWER candidate cell id — the
    // engine's max_by on (sim, -cell)), then the probe over the FINAL
    // centroid set (original 16 + one per split)
    "q_ann_ivf_rebalance" ->
      """WITH cent AS MATERIALIZED (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centroid
        |  FROM embeddings WHERE vec_id < 16
        |), corpus AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        |), assign AS MATERIALIZED (
        |  SELECT vec_id, vec, cell FROM (
        |    SELECT c.vec_id, c.vec, ct.cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY round(list_cosine_similarity(c.vec, ct.centroid), 6) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1
        |), hot AS MATERIALIZED (
        |  SELECT cell FROM assign GROUP BY cell
        |  HAVING count(*) > (SELECT 9 * count(*) // 128 FROM corpus)
        |), newcent AS MATERIALIZED (
        |  SELECT old_cell, vec_id AS new_cell, vec AS centroid FROM (
        |    SELECT a.cell AS old_cell, a.vec_id, a.vec,
        |      row_number() OVER (PARTITION BY a.cell
        |        ORDER BY round(list_cosine_similarity(a.vec, ct.centroid), 6) ASC, a.vec_id) AS rn
        |    FROM assign a JOIN cent ct ON ct.cell = a.cell
        |    WHERE a.cell IN (SELECT cell FROM hot)) WHERE rn = 1
        |), cand AS MATERIALIZED (
        |  SELECT n.old_cell, n.old_cell AS cand_cell, ct.centroid
        |  FROM newcent n JOIN cent ct ON ct.cell = n.old_cell
        |  UNION ALL
        |  SELECT old_cell, new_cell AS cand_cell, centroid FROM newcent
        |), resplit AS MATERIALIZED (
        |  SELECT vec_id, vec, cand_cell AS cell FROM (
        |    SELECT a.vec_id, a.vec, cd.cand_cell,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY round(list_cosine_similarity(a.vec, cd.centroid), 6) DESC, cd.cand_cell) AS rn
        |    FROM assign a JOIN cand cd ON cd.old_cell = a.cell) WHERE rn = 1
        |), final AS MATERIALIZED (
        |  SELECT vec_id, vec, cell FROM assign WHERE cell NOT IN (SELECT cell FROM hot)
        |  UNION ALL SELECT vec_id, vec, cell FROM resplit
        |), fcent AS MATERIALIZED (
        |  SELECT cell, centroid FROM cent
        |  UNION ALL SELECT new_cell, centroid FROM newcent
        |), queries AS (
        |  SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 5
        |), probe AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, ct.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(q.qvec, ct.centroid), 6) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN fcent ct) WHERE rn <= 4
        |), candq AS (
        |  SELECT p.query_id, f.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.qvec, f.vec), 6) AS cosine_sim
        |  FROM probe p
        |  JOIN queries q ON q.query_id = p.query_id
        |  JOIN final f ON f.cell = p.cell
        |  WHERE f.vec_id <> p.query_id
        |)
        |SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT query_id, neighbor_id, cosine_sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
        |  FROM candq)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the persisted path returns the in-memory path's exact verdicts —
    // alias the same oracle by map lookup below
    // recomputes BOTH the exact ground truth and the full IVF
    // assign/probe pipeline from raw parquet, then the recall join —
    // verifying the measurement itself, not trusting either side
    "q_ann_recall" ->
      """WITH corpus AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        |), queries AS MATERIALIZED (
        |  SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 50
        |), exact AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(q.qvec, c.vec), 6) DESC, c.vec_id) AS rn
        |    FROM queries q JOIN corpus c ON c.vec_id <> q.query_id) WHERE rn <= 10
        |), cent AS MATERIALIZED (
        |  SELECT vec_id AS cell, vec AS centroid FROM corpus WHERE vec_id < 16
        |), assign AS MATERIALIZED (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, ct.cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY round(list_cosine_similarity(c.vec, ct.centroid), 6) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1
        |), probe AS MATERIALIZED (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, ct.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(q.qvec, ct.centroid), 6) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN cent ct) WHERE rn <= 4
        |), approx AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT cand.query_id, cand.neighbor_id,
        |      row_number() OVER (PARTITION BY cand.query_id
        |        ORDER BY cand.cosine_sim DESC, cand.neighbor_id) AS rn
        |    FROM (
        |      SELECT p.query_id, c.vec_id AS neighbor_id,
        |        round(list_cosine_similarity(q.qvec, c.vec), 6) AS cosine_sim
        |      FROM probe p
        |      JOIN queries q ON q.query_id = p.query_id
        |      JOIN assign a ON a.cell = p.cell
        |      JOIN corpus c ON c.vec_id = a.vec_id
        |      WHERE c.vec_id <> p.query_id) cand) WHERE rn <= 10
        |)
        |SELECT e.query_id, CAST(count(ap.neighbor_id) AS BIGINT) AS hits,
        |  CAST(count(ap.neighbor_id) AS BIGINT) / 10.0E0 AS recall
        |FROM exact e LEFT JOIN approx ap
        |  ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
        |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    // same recomputed exact + IVF rankings as q_ann_recall, ranks kept;
    // the DCG fold replays the engine's rank-ordered left fold
    // (list_reduce over list(... ORDER BY arank)) and IDCG is the same
    // left-to-right constant sum the engine writes
    "q_retrieval_metrics" ->
      """WITH corpus AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        |), queries AS MATERIALIZED (
        |  SELECT vec_id AS query_id, vec AS qvec FROM corpus WHERE vec_id < 50
        |), exact AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, rn FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(q.qvec, c.vec), 6) DESC, c.vec_id) AS rn
        |    FROM queries q JOIN corpus c ON c.vec_id <> q.query_id) WHERE rn <= 10
        |), cent AS MATERIALIZED (
        |  SELECT vec_id AS cell, vec AS centroid FROM corpus WHERE vec_id < 16
        |), assign AS MATERIALIZED (
        |  SELECT vec_id, cell FROM (
        |    SELECT c.vec_id, ct.cell,
        |      row_number() OVER (PARTITION BY c.vec_id
        |        ORDER BY round(list_cosine_similarity(c.vec, ct.centroid), 6) DESC, ct.cell) AS rn
        |    FROM corpus c CROSS JOIN cent ct) WHERE rn = 1
        |), probe AS MATERIALIZED (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, ct.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY round(list_cosine_similarity(q.qvec, ct.centroid), 6) DESC, ct.cell) AS rn
        |    FROM queries q CROSS JOIN cent ct) WHERE rn <= 4
        |), approx AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, rn AS arank FROM (
        |    SELECT cand.query_id, cand.neighbor_id,
        |      row_number() OVER (PARTITION BY cand.query_id
        |        ORDER BY cand.cosine_sim DESC, cand.neighbor_id) AS rn
        |    FROM (
        |      SELECT p.query_id, c.vec_id AS neighbor_id,
        |        round(list_cosine_similarity(q.qvec, c.vec), 6) AS cosine_sim
        |      FROM probe p
        |      JOIN queries q ON q.query_id = p.query_id
        |      JOIN assign a ON a.cell = p.cell
        |      JOIN corpus c ON c.vec_id = a.vec_id
        |      WHERE c.vec_id <> p.query_id) cand) WHERE rn <= 10
        |), lanes AS (
        |  SELECT ap.query_id, ap.arank, COALESCE(11 - e.rn, 0) AS rel
        |  FROM approx ap LEFT JOIN exact e
        |    ON e.query_id = ap.query_id AND e.neighbor_id = ap.neighbor_id
        |), agg AS (
        |  SELECT query_id,
        |    min(CASE WHEN rel > 0 THEN arank END) AS firstrel,
        |    list_reduce(list_prepend(0.0E0, list(rel / log2(arank + 1.0E0) ORDER BY arank)),
        |      (a, x) -> a + x) AS dcg_raw
        |  FROM lanes GROUP BY query_id
        |)
        |SELECT q.query_id,
        |  CAST(COALESCE(g.firstrel, 0) AS BIGINT) AS first_rel_rank,
        |  COALESCE(1.0E0 / g.firstrel, 0.0E0) AS reciprocal_rank,
        |  round(COALESCE(g.dcg_raw, 0.0E0), 6) AS dcg,
        |  round(COALESCE(g.dcg_raw, 0.0E0) /
        |    (10/log2(2.0E0) + 9/log2(3.0E0) + 8/log2(4.0E0) + 7/log2(5.0E0) + 6/log2(6.0E0)
        |     + 5/log2(7.0E0) + 4/log2(8.0E0) + 3/log2(9.0E0) + 2/log2(10.0E0) + 1/log2(11.0E0)), 6) AS ndcg
        |FROM (SELECT DISTINCT query_id FROM exact) q
        |LEFT JOIN agg g ON g.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin,
    "q_knn_classify" ->
      """WITH corpus AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label FROM embeddings
        |), nn AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 6) DESC, c.vec_id) AS rn
        |    FROM (SELECT * FROM corpus WHERE vec_id % 5 = 0) q
        |    JOIN corpus c ON c.vec_id <> q.vec_id) WHERE rn <= 5
        |), votes AS (
        |  SELECT n.query_id, l.label, count(*) AS cnt
        |  FROM nn n JOIN corpus l ON l.vec_id = n.neighbor_id
        |  GROUP BY n.query_id, l.label
        |), pred AS (
        |  SELECT query_id, label AS predicted_label FROM (
        |    SELECT query_id, label,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cnt DESC, label) AS rn
        |    FROM votes) WHERE rn = 1
        |)
        |SELECT p.query_id, p.predicted_label, t.label AS true_label,
        |  CAST(CASE WHEN p.predicted_label = t.label THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM pred p JOIN corpus t ON t.vec_id = p.query_id
        |ORDER BY p.query_id""".stripMargin,
    "q_knn_confusion" ->
      """WITH corpus AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label FROM embeddings
        |), nn AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 6) DESC, c.vec_id) AS rn
        |    FROM (SELECT * FROM corpus WHERE vec_id % 5 = 0) q
        |    JOIN corpus c ON c.vec_id <> q.vec_id) WHERE rn <= 5
        |), votes AS (
        |  SELECT n.query_id, l.label, count(*) AS cnt
        |  FROM nn n JOIN corpus l ON l.vec_id = n.neighbor_id
        |  GROUP BY n.query_id, l.label
        |), pred AS (
        |  SELECT query_id, label AS predicted_label FROM (
        |    SELECT query_id, label,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cnt DESC, label) AS rn
        |    FROM votes) WHERE rn = 1
        |)
        |SELECT t.label AS true_label, p.predicted_label, CAST(count(*) AS BIGINT) AS n
        |FROM pred p JOIN corpus t ON t.vec_id = p.query_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_hard_negatives" ->
      """SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine_sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id <> c.vec_id AND q.label <> c.label
        |  WHERE q.vec_id < 20)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_sim_margin" ->
      """WITH sims AS (
        |  SELECT q.vec_id AS query_id, q.label AS qlabel, c.label AS clabel,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 100
        |)
        |SELECT query_id,
        |  max(CASE WHEN clabel = qlabel THEN sim END) AS best_pos,
        |  max(CASE WHEN clabel <> qlabel THEN sim END) AS best_neg,
        |  max(CASE WHEN clabel = qlabel THEN sim END)
        |    - max(CASE WHEN clabel <> qlabel THEN sim END) AS margin
        |FROM sims GROUP BY query_id ORDER BY query_id""".stripMargin,
    "q_perplexity" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_filter($toksSql, x -> x <> '')) AS token FROM documents
         |), counts AS (
         |  SELECT token, count(*) AS cnt FROM tok GROUP BY token
         |), tot AS (
         |  SELECT sum(cnt) AS total, count(*) AS v FROM counts
         |), model AS (
         |  SELECT token, ln((cnt + 1) / CAST(total + v AS DOUBLE)) AS logp FROM counts, tot
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(exp(-avg(m.logp)), 4) AS perplexity
         |FROM tok LEFT JOIN model m USING (token)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bigram pairs via per-row unnest(range) indexing; model counts from
    // the 90% training slice; the single smoothed formula covers
    // in-model and out-of-model transitions alike
    "q_perplexity_bigram" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents
         |), bg AS MATERIALIZED (
         |  SELECT doc_id, toks[CAST(g AS INTEGER) + 1] AS w1, toks[CAST(g AS INTEGER) + 2] AS w2
         |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 1)) AS g FROM tk)
         |), c12 AS MATERIALIZED (
         |  SELECT w1, w2, count(*) AS c FROM bg WHERE doc_id % 10 <> 0 GROUP BY 1, 2
         |), c1 AS MATERIALIZED (
         |  SELECT w1, CAST(sum(c) AS BIGINT) AS c FROM c12 GROUP BY 1
         |), v AS (
         |  SELECT count(DISTINCT token) AS v FROM (
         |    SELECT unnest(toks) AS token FROM tk WHERE doc_id % 10 <> 0)
         |)
         |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         |  round(exp(-avg(ln((coalesce(m.c, 0) + 1) / CAST(coalesce(k.c, 0) + v.v AS DOUBLE)))), 4) AS perplexity
         |FROM bg
         |LEFT JOIN c12 m ON m.w1 = bg.w1 AND m.w2 = bg.w2
         |LEFT JOIN c1 k ON k.w1 = bg.w1, v
         |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin,
    "q_decontaminate_embedding" ->
      """SELECT train_id, nearest_eval_id, cosine_sim FROM (
        |  SELECT t.vec_id AS train_id, e.vec_id AS nearest_eval_id,
        |    round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cosine_sim,
        |    row_number() OVER (PARTITION BY t.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) DESC,
        |               e.vec_id) AS rank
        |  FROM embeddings t JOIN embeddings e
        |    ON t.vec_id % 5 <> 0 AND e.vec_id % 5 = 0)
        |WHERE rank = 1 ORDER BY train_id""".stripMargin,
    // sound despite the LSH bucketing: qualifying pairs (cosine ≥ 0.95)
    // exist only between a vector and its planted copy, whose identical
    // sketches share every band bucket — so bucketed recall = brute force
    "q_dedup_embedding" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), all_v AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, v FROM base WHERE vec_id < 10
        |)
        |SELECT id_a, id_b, cosine_sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        |  FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id)
        |WHERE cosine_sim >= 0.95 ORDER BY id_a, id_b""".stripMargin,
    "q_media_dedup" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // perceptual store-served dedup replay: q_video_phash's aHash kernel
    // arithmetic produces every (doc, slot) frame hash, then the exact
    // slot-aligned rule - batch (odd ids) vs corpus (even ids) and
    // in-batch lower-id-survives, Hamming = bit_count(xor) on the signed
    // 64-bit hashes (validated == Long.bitCount), >= 2 matching slots
    "q_media_dedup_store" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + (doc_id % 8) AS INTEGER) AS w,
        |    CAST(1 + ((doc_id // 8) % 8) AS INTEGER) AS h,
        |    1 + (doc_id % 6) AS nf
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, w, h, nf, least(3, nf) AS k,
        |    unnest(range(0, least(3, nf))) AS sample_idx
        |  FROM p),
        |px AS (
        |  SELECT doc_id, w, h, sample_idx, (sample_idx * nf) // k AS fno,
        |    unnest(range(0, w * h)) AS pk
        |  FROM s),
        |cells AS (
        |  SELECT doc_id, sample_idx, fno,
        |    (((pk // w) * 8) // h) * 8 + ((pk % w) * 8) // w AS cell,
        |    sum((doc_id * 31 + fno * 101 + (pk // w) * 7 + (pk % w) * 13) % 256)::DOUBLE
        |      / count(*) AS cv
        |  FROM px
        |  GROUP BY doc_id, sample_idx, fno, (((pk // w) * 8) // h) * 8 + ((pk % w) * 8) // w),
        |frames AS (
        |  SELECT doc_id, sample_idx, fno,
        |    list(cv ORDER BY cell) AS cvs, list(cell ORDER BY cell) AS cls,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(cv ORDER BY cell)), (a, x) -> a + x) / 64.0 AS m
        |  FROM cells GROUP BY doc_id, sample_idx, fno),
        |bits AS (
        |  SELECT doc_id, sample_idx,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CASE WHEN cvs[i] > m THEN CAST(1 AS HUGEINT) << cls[i] ELSE CAST(0 AS HUGEINT) END
        |       FOR i IN range(1, len(cvs) + 1)]), (a, x) -> a + x) AS hb
        |  FROM frames),
        |fps AS MATERIALIZED (
        |  SELECT doc_id, sample_idx,
        |    CAST(hb - CASE WHEN hb >= CAST(9223372036854775808 AS HUGEINT)
        |              THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
        |      AS BIGINT) AS fh
        |  FROM bits),
        |corpus AS (SELECT * FROM fps WHERE doc_id % 2 = 0),
        |batch AS (SELECT * FROM fps WHERE doc_id % 2 = 1),
        |losers AS (
        |  SELECT doc_id FROM (
        |    SELECT b.doc_id, c.doc_id AS o FROM batch b JOIN corpus c
        |      ON b.sample_idx = c.sample_idx
        |    WHERE bit_count(xor(b.fh, c.fh)) <= 6
        |    GROUP BY b.doc_id, c.doc_id HAVING count(*) >= 2
        |    UNION ALL
        |    SELECT b.doc_id, a.doc_id AS o FROM batch b JOIN batch a
        |      ON b.sample_idx = a.sample_idx AND a.doc_id < b.doc_id
        |    WHERE bit_count(xor(b.fh, a.fh)) <= 6
        |    GROUP BY b.doc_id, a.doc_id HAVING count(*) >= 2))
        |SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    "q_text_knn" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS t FROM documents
         |), tok AS (
         |  SELECT doc_id, unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS term
         |  FROM toks
         |), vec0 AS (
         |  SELECT doc_id,
         |    CAST(CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 2048 AS INTEGER) AS bucket,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY doc_id, bucket
         |), hot AS (
         |  SELECT bucket FROM (SELECT bucket, count(*) AS df FROM vec0 GROUP BY bucket)
         |  WHERE df > (SELECT greatest(1, CAST(floor(count(*) * 0.1) AS BIGINT)) FROM documents)
         |), vec AS (
         |  SELECT v.* FROM vec0 v ANTI JOIN hot h ON v.bucket = h.bucket
         |), norms AS (
         |  SELECT doc_id, sum(tf * tf) AS n2 FROM vec GROUP BY doc_id
         |), dots AS (
         |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id, sum(q.tf * c.tf) AS dot
         |  FROM vec q JOIN vec c ON q.bucket = c.bucket AND q.doc_id <> c.doc_id
         |  WHERE q.doc_id < 5
         |  GROUP BY q.doc_id, c.doc_id
         |), sims AS (
         |  SELECT d.query_id, d.neighbor_id,
         |    round(CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.n2 * nc.n2 AS DOUBLE)), 6) AS cosine_sim
         |  FROM dots d
         |  JOIN norms nq ON nq.doc_id = d.query_id
         |  JOIN norms nc ON nc.doc_id = d.neighbor_id
         |)
         |SELECT query_id, neighbor_id, cosine_sim, rank FROM (
         |  SELECT query_id, neighbor_id, cosine_sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine_sim DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM sims)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // DSIR: counts and md5 bucketing are integer-exact; ln and the tf·λ
    // sum are rounded at the edge (accumulation order differs)
    "q_dsir_weights" -> dsirSql(
      """SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_terms, round(sum(l.lam), 4) AS weight
        |FROM feat f JOIN lam l USING (bucket)
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin),
    "q_dsir_select" -> dsirSql(
      """SELECT w.doc_id, w.n_terms, w.weight FROM (
        |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_terms, round(sum(l.lam), 6) AS weight
        |  FROM feat f JOIN lam l USING (bucket) GROUP BY f.doc_id) w
        |JOIN documents d ON d.doc_id = w.doc_id
        |WHERE d.source <> 'src13'
        |ORDER BY w.weight DESC, w.doc_id LIMIT 50""".stripMargin),
    "q_oov_rate" ->
      s"""WITH vocab AS (
         |  SELECT token FROM (
         |    SELECT unnest(list_filter($toksSql, x -> x <> '')) AS token FROM documents)
         |  GROUP BY token ORDER BY count(*) DESC, token LIMIT 20
         |), tok AS (
         |  SELECT doc_id, unnest(list_filter($toksSql, x -> x <> '')) AS token FROM documents
         |)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS oov_ratio
         |FROM tok LEFT JOIN vocab v USING (token)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_chunk_overlap" ->
      s"""SELECT doc_id,
         |  CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_idx,
         |  unnest(chunks) AS chunk
         |FROM (
         |  SELECT doc_id,
         |    [array_to_string(toks[i:least(i + 15, len(toks))], ' ') FOR i IN range(1, len(toks) + 1, 8)] AS chunks
         |  FROM (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents))
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_embed_normalize" ->
      """SELECT vec_id,
        |  round(norm, 6) AS norm,
        |  round(emb[1] / norm, 6) AS first_comp,
        |  round(sqrt(list_sum(list_transform(emb, x -> (x / norm) * (x / norm)))), 6) AS unit_norm
        |FROM (
        |  SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings))
        |ORDER BY vec_id""".stripMargin,
    "q_embed_centroid" ->
      """SELECT label, pos, round(avg(val), 6) AS mean_val, CAST(count(*) AS BIGINT) AS n
        |FROM (
        |  SELECT label,
        |    CAST(generate_subscripts(emb, 1) - 1 AS BIGINT) AS pos,
        |    unnest(emb) AS val
        |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings))
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "q_dedup_exact" ->
      s"""SELECT doc_id, lang, source, n_chars FROM (
         |  SELECT doc_id, lang, source, n_chars,
         |    row_number() OVER (PARTITION BY $normSql ORDER BY doc_id) AS rn
         |  FROM documents)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_ann_bruteforce" ->
      """SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine_sim,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
        |               c.vec_id) AS BIGINT) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
         |  CAST(CASE WHEN $normSql = '' THEN 0 ELSE len($toksSql) END AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN $normSql = '' THEN 0 ELSE (
         |    SELECT sum(1 + CAST(floor(length(tok) / 4) AS INT)) FROM unnest($toksSql) AS u(tok)
         |  ) END AS BIGINT) AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(CASE WHEN $normSql = '' THEN '' ELSE array_to_string($toksSql, ' ') END) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" -> s"$qualitySelectSql ORDER BY doc_id",
    // BM25: mirrors Bm25.topK term-for-term — integer tf/df/len, the
    // scalar (N, avgLen) pair recomputed the same way, the exact
    // contribution expression order, round-4 at the score sum.
    // df cap 0.9 (matches the gate — see the queries() comment: 0.5
    // zero-rowed both BM25 serving lanes on the synthetic vocabulary)
    "q_bm25" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents
         |), st AS (SELECT count(*) AS n, sum(len(toks)) AS s FROM tk),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, term, count(*) AS tf, max(len) AS len FROM (
         |    SELECT doc_id, len(toks) AS len, unnest(toks) AS term FROM tk)
         |  GROUP BY doc_id, term
         |), dfc AS MATERIALIZED (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), idf AS MATERIALIZED (
         |  SELECT term, ln(((n - df + 0.5E0) / (df + 0.5E0)) + 1.0E0) AS idf
         |  FROM dfc, st WHERE df <= greatest(1, CAST(floor(n * 0.9E0) AS BIGINT))
         |), qt AS (
         |  SELECT DISTINCT doc_id AS query_id, unnest(toks) AS term FROM tk WHERE doc_id < 5
         |), contrib AS (
         |  SELECT q.query_id, f.doc_id,
         |    i.idf * (f.tf * (1.2E0 + 1.0E0)) /
         |      (f.tf + 1.2E0 * ((1.0E0 - 0.75E0) + 0.75E0 * f.len / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))) AS c
         |  FROM qt q JOIN tf f USING (term) JOIN idf i USING (term), st
         |  WHERE f.doc_id <> q.query_id
         |), scored AS (
         |  SELECT query_id, doc_id, round(sum(c), 4) AS score FROM contrib GROUP BY query_id, doc_id
         |)
         |SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // same pipeline as q_bm25 rebuilt from the FULL corpus — the engine
    // side answers from a two-segment merged index, so equality proves
    // incremental maintenance
    "q_bm25_incremental" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents
         |), st AS (SELECT count(*) AS n, sum(len(toks)) AS s FROM tk),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, term, count(*) AS tf, max(len) AS len FROM (
         |    SELECT doc_id, len(toks) AS len, unnest(toks) AS term FROM tk)
         |  GROUP BY doc_id, term
         |), dfc AS MATERIALIZED (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), idf AS MATERIALIZED (
         |  SELECT term, ln(((n - df + 0.5E0) / (df + 0.5E0)) + 1.0E0) AS idf
         |  FROM dfc, st WHERE df <= greatest(1, CAST(floor(n * 0.5E0) AS BIGINT))
         |), qt AS (
         |  SELECT DISTINCT doc_id AS query_id, unnest(toks) AS term FROM tk
         |  WHERE doc_id >= 5 AND doc_id < 10
         |), contrib AS (
         |  SELECT q.query_id, f.doc_id,
         |    i.idf * (f.tf * (1.2E0 + 1.0E0)) /
         |      (f.tf + 1.2E0 * ((1.0E0 - 0.75E0) + 0.75E0 * f.len / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))) AS c
         |  FROM qt q JOIN tf f USING (term) JOIN idf i USING (term), st
         |  WHERE f.doc_id <> q.query_id
         |), scored AS (
         |  SELECT query_id, doc_id, round(sum(c), 4) AS score FROM contrib GROUP BY query_id, doc_id
         |)
         |SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT query_id, doc_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // reciprocal-rank fusion of the BM25 pipeline (k=10) and the dense
    // cosine ranking (k=10): score = Σ 1/(60+rank), a fixed two-term
    // row-wise sum (order-exact across engines), ties on item_id
    "q_hybrid_retrieval" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents
         |), st AS (SELECT count(*) AS n, sum(len(toks)) AS s FROM tk),
         |tf AS MATERIALIZED (
         |  SELECT doc_id, term, count(*) AS tf, max(len) AS len FROM (
         |    SELECT doc_id, len(toks) AS len, unnest(toks) AS term FROM tk)
         |  GROUP BY doc_id, term
         |), dfc AS MATERIALIZED (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), idf AS MATERIALIZED (
         |  SELECT term, ln(((n - df + 0.5E0) / (df + 0.5E0)) + 1.0E0) AS idf
         |  FROM dfc, st WHERE df <= greatest(1, CAST(floor(n * 0.5E0) AS BIGINT))
         |), qt AS (
         |  SELECT DISTINCT doc_id AS query_id, unnest(toks) AS term FROM tk WHERE doc_id < 5
         |), contrib AS (
         |  SELECT q.query_id, f.doc_id,
         |    i.idf * (f.tf * (1.2E0 + 1.0E0)) /
         |      (f.tf + 1.2E0 * ((1.0E0 - 0.75E0) + 0.75E0 * f.len / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))) AS c
         |  FROM qt q JOIN tf f USING (term) JOIN idf i USING (term), st
         |  WHERE f.doc_id <> q.query_id
         |), scored AS (
         |  SELECT query_id, doc_id, round(sum(c), 4) AS score FROM contrib GROUP BY query_id, doc_id
         |), lex AS MATERIALIZED (
         |  SELECT query_id, doc_id AS item_id, rank FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |    FROM scored) WHERE rank <= 10
         |), dense AS MATERIALIZED (
         |  SELECT query_id, neighbor_id AS item_id, rank FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
         |                 c.vec_id) AS rank
         |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id < 5) WHERE rank <= 10
         |), fused AS (
         |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         |    coalesce(l.item_id, d.item_id) AS item_id,
         |    round(coalesce(1.0E0 / (60.0E0 + l.rank), 0.0E0)
         |        + coalesce(1.0E0 / (60.0E0 + d.rank), 0.0E0), 6) AS score
         |  FROM lex l FULL OUTER JOIN dense d
         |    ON d.query_id = l.query_id AND d.item_id = l.item_id
         |)
         |SELECT query_id, item_id, score, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT query_id, item_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id) AS rank
         |  FROM fused) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // mirrors Mixture.sampleSummary: the Z fold is list_reduce over
    // sqrt shares in ascending source order (the engine's driver-side
    // fold order), rates are single-application IEEE ops, and the keep
    // hash is the shared md5 16-bit idiom — all floats bit-exact
    "q_domain_mixture" ->
      s"""WITH tk AS (
         |  SELECT doc_id, source, len(list_filter($toksSql, x -> x <> '')) AS ntok FROM documents
         |), src AS MATERIALIZED (
         |  SELECT source, CAST(sum(ntok) AS BIGINT) AS tokens FROM tk GROUP BY source
         |), tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM src),
         |zc AS (
         |  SELECT list_reduce(list_prepend(0.0E0,
         |    list(sqrt(tokens / CAST(total AS DOUBLE)) ORDER BY source)), (a, x) -> a + x) AS z
         |  FROM src, tot
         |), rates AS MATERIALIZED (
         |  SELECT source, tokens,
         |    CASE WHEN tokens = 0 THEN 0.0E0
         |         ELSE least(1.0E0, (0.25E0 * CAST(total AS DOUBLE))
         |                * (sqrt(tokens / CAST(total AS DOUBLE)) / z) / CAST(tokens AS DOUBLE))
         |    END AS rate
         |  FROM src, tot, zc
         |), kept AS (
         |  SELECT t.source, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(t.ntok) AS BIGINT) AS tokens_kept
         |  FROM tk t JOIN rates r USING (source)
         |  WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) / 65536.0E0 < r.rate
         |  GROUP BY t.source
         |)
         |SELECT r.source, r.tokens, r.rate,
         |  coalesce(k.n_kept, 0) AS n_kept, coalesce(k.tokens_kept, 0) AS tokens_kept
         |FROM rates r LEFT JOIN kept k USING (source)
         |ORDER BY r.source""".stripMargin,
    // percentile filter: the q_quality_lr score pipeline with source
    // carried through, ranked per source, kept iff rank <= ceil(n/2)
    "q_quality_percentile" ->
      s"""WITH scored AS (
         |  SELECT id, source,
         |    round(1.0E0 / (1.0E0 + exp(-(-3.0E0
         |      + 1.2E0 * (CAST(n_tokens AS DOUBLE) / 100.0E0)
         |      + 0.4E0 * (nchars / CAST(n_tokens AS DOUBLE))
         |      + 1.5E0 * (ndist / CAST(n_tokens AS DOUBLE))))), 4) AS score
         |  FROM (
         |    SELECT doc_id AS id, source,
         |      CAST(len(list_filter($toksSql, x -> x <> '')) AS BIGINT) AS n_tokens,
         |      length(replace($normSql, ' ', '')) AS nchars,
         |      len(list_distinct(list_filter($toksSql, x -> x <> ''))) AS ndist
         |    FROM documents)
         |  WHERE n_tokens > 0
         |), ranked AS (
         |  SELECT id, source, score,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, id) AS BIGINT) AS rank,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM scored
         |)
         |SELECT id, source, score, rank FROM ranked
         |WHERE rank <= ceil(0.5E0 * CAST(n AS DOUBLE))
         |ORDER BY id""".stripMargin,
    // upsample: same rate pipeline as q_domain_mixture minus the least()
    // cap; n_copies = floor(rate) + hash-fraction extra, rows unnested
    "q_mixture_upsample" ->
      s"""WITH tk AS (
         |  SELECT doc_id, source, len(list_filter($toksSql, x -> x <> '')) AS ntok FROM documents
         |), src AS MATERIALIZED (
         |  SELECT source, CAST(sum(ntok) AS BIGINT) AS tokens FROM tk GROUP BY source
         |), tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM src),
         |zc AS (
         |  SELECT list_reduce(list_prepend(0.0E0,
         |    list(sqrt(tokens / CAST(total AS DOUBLE)) ORDER BY source)), (a, x) -> a + x) AS z
         |  FROM src, tot
         |), rates AS MATERIALIZED (
         |  SELECT source,
         |    CASE WHEN tokens = 0 THEN 0.0E0
         |         ELSE (1.5E0 * CAST(total AS DOUBLE))
         |                * (sqrt(tokens / CAST(total AS DOUBLE)) / z) / CAST(tokens AS DOUBLE)
         |    END AS rate
         |  FROM src, tot, zc
         |), copies AS (
         |  SELECT t.doc_id, t.source,
         |    CAST(floor(r.rate) AS BIGINT)
         |      + CASE WHEN CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) / 65536.0E0
         |                  < r.rate - floor(r.rate) THEN 1 ELSE 0 END AS n_copies
         |  FROM tk t JOIN rates r USING (source)
         |)
         |SELECT doc_id, source, CAST(unnest(range(n_copies)) AS BIGINT) AS copy
         |FROM copies ORDER BY doc_id, copy""".stripMargin,
    "q_shard_assign" ->
      s"""SELECT doc_id, ntok AS weight, CAST((rn - 1) % 8 AS INTEGER) AS shard FROM (
         |  SELECT doc_id, ntok, row_number() OVER (ORDER BY ntok DESC, doc_id) AS rn
         |  FROM (SELECT doc_id, CAST(len(list_filter($toksSql, x -> x <> '')) AS BIGINT) AS ntok
         |        FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "q_shard_balance" ->
      s"""SELECT CAST((rn - 1) % 8 AS INTEGER) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(ntok) AS BIGINT) AS total_weight,
         |  CAST(max(ntok) AS BIGINT) AS max_weight
         |FROM (
         |  SELECT doc_id, ntok, row_number() OVER (ORDER BY ntok DESC, doc_id) AS rn
         |  FROM (SELECT doc_id, CAST(len(list_filter($toksSql, x -> x <> '')) AS BIGINT) AS ntok
         |        FROM documents))
         |GROUP BY 1 ORDER BY shard""".stripMargin,
    // epoch-frozen mixture: identical to q_domain_mixture except the
    // rate pipeline (src/tot/zc/rates) reads only the snapshot slice
    // while kept filters the full corpus
    "q_mixture_epoch" ->
      s"""WITH tk AS (
         |  SELECT doc_id, source, len(list_filter($toksSql, x -> x <> '')) AS ntok FROM documents
         |), src AS MATERIALIZED (
         |  SELECT source, CAST(sum(ntok) AS BIGINT) AS tokens FROM tk WHERE doc_id < 250 GROUP BY source
         |), tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM src),
         |zc AS (
         |  SELECT list_reduce(list_prepend(0.0E0,
         |    list(sqrt(tokens / CAST(total AS DOUBLE)) ORDER BY source)), (a, x) -> a + x) AS z
         |  FROM src, tot
         |), rates AS MATERIALIZED (
         |  SELECT source, tokens,
         |    CASE WHEN tokens = 0 THEN 0.0E0
         |         ELSE least(1.0E0, (0.25E0 * CAST(total AS DOUBLE))
         |                * (sqrt(tokens / CAST(total AS DOUBLE)) / z) / CAST(tokens AS DOUBLE))
         |    END AS rate
         |  FROM src, tot, zc
         |), kept AS (
         |  SELECT t.source, CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(t.ntok) AS BIGINT) AS tokens_kept
         |  FROM tk t JOIN rates r USING (source)
         |  WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) / 65536.0E0 < r.rate
         |  GROUP BY t.source
         |)
         |SELECT r.source, r.tokens, r.rate,
         |  coalesce(k.n_kept, 0) AS n_kept, coalesce(k.tokens_kept, 0) AS tokens_kept
         |FROM rates r LEFT JOIN kept k USING (source)
         |ORDER BY r.source""".stripMargin,
    // curriculum: buckets are DuckDB's own ntile over the identical
    // total order; the schedule and the epoch-salted md5 shuffle are
    // integer/string-exact, so rows match hash-for-hash
    "q_curriculum" ->
      """WITH ranked AS (
        |  SELECT doc_id, CAST(ntile(8) OVER (ORDER BY n_chars, doc_id) AS INTEGER) AS bucket
        |  FROM documents
        |), sched AS (SELECT CAST(unnest(range(1, 5)) AS INTEGER) AS epoch)
        |SELECT doc_id, bucket, epoch,
        |  CAST(row_number() OVER (PARTITION BY epoch
        |    ORDER BY md5('epoch' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS pos
        |FROM ranked JOIN sched ON bucket <= (epoch * 8 + 3) // 4
        |ORDER BY epoch, pos""".stripMargin,
    // exact-ratio features; the logit is the engine's left-to-right
    // multiply-add chain verbatim; sigmoid rounded to 4 (exp parity per
    // the q_perplexity precedent), keep thresholds the rounded score
    "q_quality_lr" ->
      s"""SELECT id, n_tokens, avg_len, ttr, score, score >= 0.5E0 AS keep FROM (
         |  SELECT id, n_tokens,
         |    nchars / CAST(n_tokens AS DOUBLE) AS avg_len,
         |    ndist / CAST(n_tokens AS DOUBLE) AS ttr,
         |    round(1.0E0 / (1.0E0 + exp(-(-3.0E0
         |      + 1.2E0 * (CAST(n_tokens AS DOUBLE) / 100.0E0)
         |      + 0.4E0 * (nchars / CAST(n_tokens AS DOUBLE))
         |      + 1.5E0 * (ndist / CAST(n_tokens AS DOUBLE))))), 4) AS score
         |  FROM (
         |    SELECT doc_id AS id,
         |      CAST(len(list_filter($toksSql, x -> x <> '')) AS BIGINT) AS n_tokens,
         |      length(replace($normSql, ' ', '')) AS nchars,
         |      len(list_distinct(list_filter($toksSql, x -> x <> ''))) AS ndist
         |    FROM documents)
         |  WHERE n_tokens > 0)
         |ORDER BY id""".stripMargin,
    "q_gopher_rules" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents
         |), st AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) END AS mean_word_len,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS distinct_ratio,
         |    CAST(len(list_filter(list_distinct(toks), t -> list_contains($stopAll, t))) AS BIGINT) AS n_stop
         |  FROM tk)
         |SELECT doc_id, n_words, mean_word_len, distinct_ratio, n_stop,
         |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
         |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_word_len,
         |  (distinct_ratio >= 0.3) AS r_repetition,
         |  (n_stop >= 1) AS r_stop,
         |  ((n_words >= 50 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
         |   AND (distinct_ratio >= 0.3) AND (n_stop >= 1)) AS passes
         |FROM st ORDER BY doc_id""".stripMargin,
    "q_langid" ->
      s"""SELECT doc_id,
         |  CASE WHEN best <= 0 THEN 'und'
         |       WHEN h_fr = best THEN 'fr'
         |       WHEN h_es = best THEN 'es'
         |       WHEN h_en = best THEN 'en'
         |       ELSE 'de' END AS lang_guess
         |FROM (
         |  SELECT doc_id, greatest(h_en, h_es, h_de, h_fr) AS best, h_en, h_es, h_de, h_fr
         |  FROM (
         |    SELECT doc_id,
         |      len(list_intersect(list_distinct(toks), $stopEn)) AS h_en,
         |      len(list_intersect(list_distinct(toks), $stopEs)) AS h_es,
         |      len(list_intersect(list_distinct(toks), $stopDe)) AS h_de,
         |      len(list_intersect(list_distinct(toks), $stopFr)) AS h_fr
         |    FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |  )
         |) ORDER BY doc_id""".stripMargin,
    "q_stopword_removal" ->
      s"""SELECT doc_id,
         |  CAST(CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN norm = '' THEN 0
         |       ELSE len(list_filter(toks, t -> NOT list_contains($stopEn, t))) END AS BIGINT) AS n_content_tokens
         |FROM (SELECT doc_id, $normSql AS norm, $toksSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q_sentence_split" ->
      """SELECT doc_id,
        |  CAST(len(sents) AS BIGINT) AS n_sentences,
        |  CAST(coalesce(list_max(list_transform(sents, x -> length(x))), 0) AS BIGINT) AS max_sentence_len,
        |  coalesce(sents[1], '') AS first_sentence
        |FROM (
        |  SELECT doc_id,
        |    list_filter(list_transform(regexp_split_to_array(coalesce(text, ''), '[.!?]+'), x -> trim(x)),
        |                x -> x <> '') AS sents
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // packing efficiency: per-source cumulative sum is the sequential
    // ground truth; all lanes are exact integers or ratios of exact
    // integers <= 2^53 (portable doubles, no rounding)
    "q_pack_efficiency" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS BIGINT) AS n
         |  FROM (SELECT doc_id, source, $normSql AS norm, $toksSql AS toks FROM documents)),
         |c AS (
         |  SELECT doc_id, source, n,
         |    CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM d WHERE n > 0),
         |g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN prev // 128 <> (prev + n - 1) // 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
         |    CAST((sum(n) + 127) // 128 AS BIGINT) AS n_sequences
         |  FROM c GROUP BY source)
         |SELECT source, n_docs, n_tokens, n_sequences,
         |  n_sequences * 128 - n_tokens AS pad_tokens,
         |  n_tokens / CAST(n_sequences * 128 AS DOUBLE) AS utilization,
         |  n_split_docs,
         |  n_split_docs / CAST(n_docs AS DOUBLE) AS split_ratio
         |FROM g ORDER BY source""".stripMargin,
    // packing: the window cumulative sum over doc_id order is the
    // sequential ground truth; all arithmetic is exact integers
    "q_pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS BIGINT) AS n
         |  FROM (SELECT doc_id, $normSql AS norm, $toksSql AS toks FROM documents)),
         |c AS (
         |  -- DuckDB sum(BIGINT) is HUGEINT; range() needs BIGINT
         |  SELECT doc_id, n,
         |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM d WHERE n > 0),
         |s AS (
         |  SELECT doc_id, n, prev, unnest(range(prev // 128, (prev + n - 1) // 128 + 1)) AS seq_id
         |  FROM c)
         |SELECT doc_id, n AS n_toks, CAST(seq_id AS BIGINT) AS seq_id,
         |  greatest(0, seq_id * 128 - prev) AS doc_offset,
         |  greatest(0, prev - seq_id * 128) AS seq_offset,
         |  least(n, (seq_id + 1) * 128 - prev) - greatest(0, seq_id * 128 - prev) AS span_len
         |FROM s ORDER BY doc_id, seq_id""".stripMargin,
    // export manifest: aggregate the q_pack_sequences span table per
    // shard (= seq_id mod 4); all lanes exact integers
    "q_export_manifest" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS BIGINT) AS n
         |  FROM (SELECT doc_id, $normSql AS norm, $toksSql AS toks FROM documents)),
         |c AS (
         |  SELECT doc_id, n,
         |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM d WHERE n > 0),
         |s AS (
         |  SELECT doc_id, n, prev, unnest(range(prev // 128, (prev + n - 1) // 128 + 1)) AS seq_id
         |  FROM c),
         |sp AS (
         |  SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
         |    least(n, (seq_id + 1) * 128 - prev) - greatest(0, seq_id * 128 - prev) AS span_len
         |  FROM s)
         |SELECT CAST(seq_id % 4 AS INTEGER) AS shard,
         |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_sequences,
         |  CAST(sum(span_len) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT seq_id) * 128 - sum(span_len) AS BIGINT) AS pad_tokens,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
         |  min(seq_id) AS min_seq_id, max(seq_id) AS max_seq_id
         |FROM sp GROUP BY 1 ORDER BY shard""".stripMargin,
    // export source mix: the same span table joined back to each doc's
    // source, aggregated per (shard, source)
    "q_export_source_mix" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS BIGINT) AS n
         |  FROM (SELECT doc_id, $normSql AS norm, $toksSql AS toks FROM documents)),
         |c AS (
         |  SELECT doc_id, n,
         |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM d WHERE n > 0),
         |s AS (
         |  SELECT doc_id, n, prev, unnest(range(prev // 128, (prev + n - 1) // 128 + 1)) AS seq_id
         |  FROM c),
         |sp AS (
         |  SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
         |    least(n, (seq_id + 1) * 128 - prev) - greatest(0, seq_id * 128 - prev) AS span_len
         |  FROM s)
         |SELECT CAST(seq_id % 4 AS INTEGER) AS shard, source,
         |  CAST(sum(span_len) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT sp.doc_id) AS BIGINT) AS n_docs
         |FROM sp JOIN documents USING (doc_id)
         |GROUP BY 1, 2 ORDER BY shard, source""".stripMargin,
    // export pack: every training token's (shard, seq_id, seq_pos,
    // token_id) identity. Vocabulary id = 1-based lexicographic rank of
    // the distinct corpus tokens (0 = padding); gpos = global stream
    // position over ascending doc_id; only the stream's tail pads
    "q_export_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |d2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d),
         |c AS MATERIALIZED (
         |  SELECT doc_id, toks, n,
         |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM d2 WHERE n > 0),
         |vocab AS MATERIALIZED (
         |  SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS token_id
         |  FROM (SELECT DISTINCT unnest(toks) AS token FROM d)),
         |tok AS (
         |  SELECT prev + i AS gpos, toks[CAST(i AS INTEGER) + 1] AS token
         |  FROM (SELECT prev, toks, unnest(range(n)) AS i FROM c)),
         |real AS (
         |  SELECT gpos // 128 AS seq_id, gpos % 128 AS seq_pos, v.token_id
         |  FROM tok JOIN vocab v USING (token)),
         |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total FROM c),
         |pad AS (
         |  SELECT g // 128 AS seq_id, g % 128 AS seq_pos, CAST(0 AS BIGINT) AS token_id
         |  FROM (SELECT unnest(range(total, ((total + 127) // 128) * 128)) AS g FROM tot))
         |SELECT CAST(seq_id % 4 AS INTEGER) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(seq_pos AS BIGINT) AS seq_pos, token_id
         |FROM (SELECT * FROM real UNION ALL SELECT * FROM pad)
         |ORDER BY seq_id, seq_pos""".stripMargin,
    // export JSONL manifest: sorted round-robin on token count (the
    // q_shard_assign rank) aggregated per shard, nShards = 4
    "q_export_jsonl" ->
      s"""SELECT CAST((rn - 1) % 4 AS INTEGER) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM (
         |  SELECT doc_id, ntok, row_number() OVER (ORDER BY ntok DESC, doc_id) AS rn
         |  FROM (SELECT doc_id, CAST(len(list_filter($toksSql, x -> x <> '')) AS BIGINT) AS ntok
         |        FROM documents))
         |GROUP BY 1 ORDER BY shard""".stripMargin,
    // epoch export: both epochs' manifests recomputed from the raw
    // table — packing spans partitioned by doc-id parity, aggregated per
    // (epoch, shard); all lanes exact integers (types BIGINT to match
    // the JSON-read certificate)
    "q_export_epoch" ->
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 2 AS epoch,
         |    CAST(CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS BIGINT) AS n
         |  FROM (SELECT doc_id, $normSql AS norm, $toksSql AS toks FROM documents)),
         |c AS (
         |  SELECT doc_id, epoch, n,
         |    CAST(coalesce(sum(n) OVER (PARTITION BY epoch ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM d WHERE n > 0),
         |s AS (
         |  SELECT doc_id, epoch, n, prev,
         |    unnest(range(prev // 128, (prev + n - 1) // 128 + 1)) AS seq_id
         |  FROM c),
         |sp AS (
         |  SELECT doc_id, epoch, CAST(seq_id AS BIGINT) AS seq_id,
         |    least(n, (seq_id + 1) * 128 - prev) - greatest(0, seq_id * 128 - prev) AS span_len
         |  FROM s)
         |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(seq_id % 4 AS BIGINT) AS shard,
         |  CAST(count(DISTINCT seq_id) AS BIGINT) AS n_sequences,
         |  CAST(sum(span_len) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT seq_id) * 128 - sum(span_len) AS BIGINT) AS pad_tokens,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
         |  min(seq_id) AS min_seq_id, max(seq_id) AS max_seq_id
         |FROM sp GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin,
    // audit of an intact 2-epoch export: both the certificate AND the
    // data recount must equal the recomputed packing counts, status 'ok'
    "q_export_audit" ->
      s"""WITH d AS (
         |  SELECT doc_id, doc_id % 2 AS epoch,
         |    CAST(CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS BIGINT) AS n
         |  FROM (SELECT doc_id, $normSql AS norm, $toksSql AS toks FROM documents)),
         |c AS (
         |  SELECT doc_id, epoch, n,
         |    CAST(coalesce(sum(n) OVER (PARTITION BY epoch ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM d WHERE n > 0),
         |s AS (
         |  SELECT doc_id, epoch, n, prev,
         |    unnest(range(prev // 128, (prev + n - 1) // 128 + 1)) AS seq_id
         |  FROM c),
         |sp AS (
         |  SELECT doc_id, epoch, CAST(seq_id AS BIGINT) AS seq_id,
         |    least(n, (seq_id + 1) * 128 - prev) - greatest(0, seq_id * 128 - prev) AS span_len
         |  FROM s)
         |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(seq_id % 4 AS BIGINT) AS shard,
         |  CAST(count(DISTINCT seq_id) AS BIGINT) AS cert_sequences,
         |  CAST(count(DISTINCT seq_id) AS BIGINT) AS actual_sequences,
         |  CAST(sum(span_len) AS BIGINT) AS cert_tokens,
         |  CAST(sum(span_len) AS BIGINT) AS actual_tokens,
         |  'ok' AS status
         |FROM sp GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin,
    // link-graph centrality: shared-span edges (w=5, df in [2,32]), then
    // min-distance within 3 hops via unrolled path joins + min(d); the
    // harmonic lane mirrors the engine's left-to-right expression order
    "q_link_score" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
         |r1 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
         |r2 AS MATERIALIZED (
         |  SELECT DISTINCT a.src, b.dst FROM r1 a JOIN r1 b ON a.dst = b.src
         |  WHERE b.dst <> a.src),
         |r3 AS MATERIALIZED (
         |  SELECT DISTINCT a.src, b.dst FROM r2 a JOIN r1 b ON a.dst = b.src
         |  WHERE b.dst <> a.src),
         |md AS (
         |  SELECT src, dst, min(d) AS d FROM (
         |    SELECT src, dst, 1 AS d FROM r1
         |    UNION ALL SELECT src, dst, 2 FROM r2
         |    UNION ALL SELECT src, dst, 3 FROM r3)
         |  GROUP BY src, dst),
         |ct AS (
         |  SELECT src AS doc_id,
         |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop_1,
         |    CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop_2,
         |    CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop_3
         |  FROM md GROUP BY src)
         |SELECT d.doc_id,
         |  coalesce(n_hop_1, 0) AS n_hop_1,
         |  coalesce(n_hop_2, 0) AS n_hop_2,
         |  coalesce(n_hop_3, 0) AS n_hop_3,
         |  coalesce(n_hop_1, 0) + coalesce(n_hop_2, 0) + coalesce(n_hop_3, 0) AS reach,
         |  CAST(coalesce(n_hop_1, 0) AS DOUBLE) / 1.0
         |    + CAST(coalesce(n_hop_2, 0) AS DOUBLE) / 2.0
         |    + CAST(coalesce(n_hop_3, 0) AS DOUBLE) / 3.0 AS harmonic
         |FROM documents d LEFT JOIN ct USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // connected components: the q_link_score edge CTEs, then
    // min-reachable-id via a recursive closure (DuckDB enumerates the
    // full reach set; the engine contracts in O(log n) star rounds —
    // identical labels either way), sizes counted per representative
    "q_components" ->
      s"""WITH RECURSIVE tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
         |r1 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
         |reach(id, r) AS (
         |  SELECT src, src FROM r1
         |  UNION
         |  SELECT r1.src, reach.r FROM r1 JOIN reach ON r1.dst = reach.id),
         |lbl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         |sz AS (SELECT rep, count(*) AS n FROM lbl GROUP BY rep)
         |SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS rep,
         |  CAST(coalesce(s.n, 1) AS BIGINT) AS component_size
         |FROM documents d
         |LEFT JOIN lbl l ON l.id = d.doc_id
         |LEFT JOIN sz s ON s.rep = l.rep
         |ORDER BY d.doc_id""".stripMargin,
    // triangles: same edge CTEs, id-ordered 3-way join (x < y < z — the
    // engine's degree-ordered orientation counts the same unordered
    // triangle set); clustering replays the exact (2.0·t)/(d·(d−1)) order
    "q_triangles" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
         |r1 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM r1),
         |deg AS (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT a AS id FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY id),
         |tri AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1
         |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         |corners AS (
         |  SELECT id, count(*) AS t FROM (
         |    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY id)
         |SELECT d0.doc_id,
         |  CAST(coalesce(deg.d, 0) AS BIGINT) AS degree,
         |  CAST(coalesce(c.t, 0) AS BIGINT) AS triangles,
         |  CASE WHEN coalesce(deg.d, 0) >= 2
         |    THEN 2.0 * coalesce(c.t, 0) / (deg.d * (deg.d - 1))
         |    ELSE 0.0 END AS clustering
         |FROM documents d0
         |LEFT JOIN deg ON deg.id = d0.doc_id
         |LEFT JOIN corners c ON c.id = d0.doc_id
         |ORDER BY d0.doc_id""".stripMargin,
    // incremental components: the engine folds half the edges into the
    // other half's labels through the star contraction — connectivity-
    // equivalent, so the oracle is simply the FULL-graph closure (the
    // very same SQL as q_components): matching it IS the append ≡
    // rebuild proof
    "q_components_incremental" ->
      s"""WITH RECURSIVE tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
         |r1 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
         |reach(id, r) AS (
         |  SELECT src, src FROM r1
         |  UNION
         |  SELECT r1.src, reach.r FROM r1 JOIN reach ON r1.dst = reach.id),
         |lbl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         |sz AS (SELECT rep, count(*) AS n FROM lbl GROUP BY rep)
         |SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS rep,
         |  CAST(coalesce(s.n, 1) AS BIGINT) AS component_size
         |FROM documents d
         |LEFT JOIN lbl l ON l.id = d.doc_id
         |LEFT JOIN sz s ON s.rep = l.rep
         |ORDER BY d.doc_id""".stripMargin,
    // exact 2-core: the peel unrolled 12 rounds — peeling is monotone and
    // a stable set is a fixed point, so any unroll depth ≥ the true peel
    // depth reproduces the engine's exact fixpoint (rounds past
    // stabilization are no-ops); 12 leaves generous margin over the
    // measured depth at every tier
    "q_kcore" -> {
      val peelRounds = (0 until 12).map { i =>
        s"""d$i AS (SELECT id, count(*) AS d FROM (
           |  SELECT a AS id FROM a$i UNION ALL SELECT b FROM a$i) GROUP BY id),
           |w$i AS (SELECT id FROM d$i WHERE d < 2),
           |a${i + 1} AS MATERIALIZED (
           |  SELECT a, b FROM a$i
           |  WHERE a NOT IN (SELECT id FROM w$i) AND b NOT IN (SELECT id FROM w$i)),""".stripMargin
      }.mkString("\n")
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
         |r1 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
         |a0 AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM r1),
         |$peelRounds
         |cd AS (
         |  SELECT id, count(*) AS n FROM (
         |    SELECT a AS id FROM a12 UNION ALL SELECT b FROM a12) GROUP BY id)
         |SELECT doc.doc_id,
         |  cd.id IS NOT NULL AS in_core,
         |  CAST(coalesce(cd.n, 0) AS BIGINT) AS core_degree
         |FROM documents doc
         |LEFT JOIN cd ON cd.id = doc.doc_id
         |ORDER BY doc.doc_id""".stripMargin
    },
    // sampled-roots variant: w = 6 spans, BFS expanded only from the 1%
    // root sample (r1s seeds the closure; hops 2-3 still walk ALL edges)
    "q_link_score_sampled" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+5], ' ') FOR i IN range(1, greatest(len(toks) - 4, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
         |r1 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
         |r1s AS MATERIALIZED (SELECT src, dst FROM r1 WHERE src % 100 = 0),
         |r2 AS MATERIALIZED (
         |  SELECT DISTINCT a.src, b.dst FROM r1s a JOIN r1 b ON a.dst = b.src
         |  WHERE b.dst <> a.src),
         |r3 AS MATERIALIZED (
         |  SELECT DISTINCT a.src, b.dst FROM r2 a JOIN r1 b ON a.dst = b.src
         |  WHERE b.dst <> a.src),
         |md AS (
         |  SELECT src, dst, min(d) AS d FROM (
         |    SELECT src, dst, 1 AS d FROM r1s
         |    UNION ALL SELECT src, dst, 2 FROM r2
         |    UNION ALL SELECT src, dst, 3 FROM r3)
         |  GROUP BY src, dst),
         |ct AS (
         |  SELECT src AS doc_id,
         |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop_1,
         |    CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop_2,
         |    CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop_3
         |  FROM md GROUP BY src)
         |SELECT d.doc_id,
         |  coalesce(n_hop_1, 0) AS n_hop_1,
         |  coalesce(n_hop_2, 0) AS n_hop_2,
         |  coalesce(n_hop_3, 0) AS n_hop_3,
         |  coalesce(n_hop_1, 0) + coalesce(n_hop_2, 0) + coalesce(n_hop_3, 0) AS reach,
         |  CAST(coalesce(n_hop_1, 0) AS DOUBLE) / 1.0
         |    + CAST(coalesce(n_hop_2, 0) AS DOUBLE) / 2.0
         |    + CAST(coalesce(n_hop_3, 0) AS DOUBLE) / 3.0 AS harmonic
         |FROM documents d LEFT JOIN ct USING (doc_id)
         |WHERE d.doc_id % 100 = 0 ORDER BY d.doc_id""".stripMargin,
    // second sampled parameterization: w = 5 spans, ~2.7% roots, 2 hops
    "q_link_score_sampled2" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter($toksSql, x -> x <> '') AS toks FROM documents),
         |sp0 AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks) - 3, 1))]) AS span
         |  FROM tk),
         |rare AS MATERIALIZED (
         |  SELECT span FROM sp0 GROUP BY span HAVING count(*) BETWEEN 2 AND 32),
         |sp AS MATERIALIZED (SELECT doc_id, span FROM sp0 JOIN rare USING (span)),
         |r1 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id <> b.doc_id),
         |r1s AS MATERIALIZED (SELECT src, dst FROM r1 WHERE src % 37 = 1),
         |r2 AS MATERIALIZED (
         |  SELECT DISTINCT a.src, b.dst FROM r1s a JOIN r1 b ON a.dst = b.src
         |  WHERE b.dst <> a.src),
         |md AS (
         |  SELECT src, dst, min(d) AS d FROM (
         |    SELECT src, dst, 1 AS d FROM r1s
         |    UNION ALL SELECT src, dst, 2 FROM r2)
         |  GROUP BY src, dst),
         |ct AS (
         |  SELECT src AS doc_id,
         |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop_1,
         |    CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hop_2
         |  FROM md GROUP BY src)
         |SELECT d.doc_id,
         |  coalesce(n_hop_1, 0) AS n_hop_1,
         |  coalesce(n_hop_2, 0) AS n_hop_2,
         |  coalesce(n_hop_1, 0) + coalesce(n_hop_2, 0) AS reach,
         |  CAST(coalesce(n_hop_1, 0) AS DOUBLE) / 1.0
         |    + CAST(coalesce(n_hop_2, 0) AS DOUBLE) / 2.0 AS harmonic
         |FROM documents d LEFT JOIN ct USING (doc_id)
         |WHERE d.doc_id % 37 = 1 ORDER BY d.doc_id""".stripMargin,
    "q_langid_ngram" -> {
      def profile(lang: String): String =
        graft.functions.TextFunctions.trigramProfiles(lang).map(x => s"'$x'").mkString("[", ",", "]")
      s"""SELECT doc_id, h_en, h_es, h_de, h_fr,
         |  CASE WHEN best <= 0 THEN 'und'
         |       WHEN h_fr = best THEN 'fr'
         |       WHEN h_es = best THEN 'es'
         |       WHEN h_en = best THEN 'en'
         |       ELSE 'de' END AS lang_guess
         |FROM (
         |  SELECT doc_id, greatest(h_en, h_es, h_de, h_fr) AS best, h_en, h_es, h_de, h_fr
         |  FROM (
         |    SELECT doc_id,
         |      CAST(len(list_intersect(tris, ${profile("en")})) AS BIGINT) AS h_en,
         |      CAST(len(list_intersect(tris, ${profile("es")})) AS BIGINT) AS h_es,
         |      CAST(len(list_intersect(tris, ${profile("de")})) AS BIGINT) AS h_de,
         |      CAST(len(list_intersect(tris, ${profile("fr")})) AS BIGINT) AS h_fr
         |    FROM (
         |      SELECT doc_id,
         |        list_distinct([substring(norm, i, 3) FOR i IN range(1, greatest(length(norm) - 1, 1))]) AS tris
         |      FROM (SELECT doc_id, $normSql AS norm FROM documents))
         |  )
         |) ORDER BY doc_id""".stripMargin
    },
    "q_dedup_incremental" ->
      s"""WITH corpus AS (
         |  SELECT DISTINCT $normSql AS fp FROM documents WHERE doc_id % 3 = 0
         |), batch AS (
         |  SELECT doc_id, lang, source, n_chars, $normSql AS fp,
         |    row_number() OVER (PARTITION BY $normSql ORDER BY doc_id) AS rn
         |  FROM documents WHERE doc_id % 3 <> 0
         |)
         |SELECT doc_id, lang, source, n_chars FROM batch
         |WHERE rn = 1 AND fp NOT IN (SELECT fp FROM corpus)
         |ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH spans AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(toks[i:i+7], ' ') FOR i IN range(1, greatest(len(toks) - 6, 1))])) AS span
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE $normSql <> '')
         |), ev AS (
         |  SELECT DISTINCT span FROM spans WHERE doc_id % 5 = 0
         |)
         |SELECT s.doc_id AS id,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN e.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_spans,
         |  sum(CASE WHEN e.span IS NOT NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS overlap_ratio
         |FROM spans s LEFT JOIN ev e USING (span)
         |WHERE s.doc_id % 5 <> 0
         |GROUP BY s.doc_id
         |HAVING sum(CASE WHEN e.span IS NOT NULL THEN 1 ELSE 0 END) > 0
         |ORDER BY id""".stripMargin,
    // Bloom-prefilter path returns bit-identical results (no false
    // negatives; false positives die in the exact join) — same oracle
    "q_decontaminate_bloom" ->
      s"""WITH spans AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(toks[i:i+7], ' ') FOR i IN range(1, greatest(len(toks) - 6, 1))])) AS span
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE $normSql <> '')
         |), ev AS (
         |  SELECT DISTINCT span FROM spans WHERE doc_id % 5 = 0
         |)
         |SELECT s.doc_id AS id,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN e.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_spans,
         |  sum(CASE WHEN e.span IS NOT NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS overlap_ratio
         |FROM spans s LEFT JOIN ev e USING (span)
         |WHERE s.doc_id % 5 <> 0
         |GROUP BY s.doc_id
         |HAVING sum(CASE WHEN e.span IS NOT NULL THEN 1 ELSE 0 END) > 0
         |ORDER BY id""".stripMargin,
    // same span model as q_decontaminate, aggregated per eval doc with
    // distinct-train-doc counts; zero-hit eval docs stay (left join)
    "q_contamination_report" ->
      s"""WITH spans AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(toks[i:i+7], ' ') FOR i IN range(1, greatest(len(toks) - 6, 1))])) AS span
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE $normSql <> '')
         |), ev AS (
         |  SELECT doc_id AS eval_id, span FROM spans WHERE doc_id % 5 = 0
         |), tr AS (
         |  SELECT doc_id AS train_id, span FROM spans WHERE doc_id % 5 <> 0
         |), hits AS (
         |  SELECT e.eval_id,
         |    CAST(count(DISTINCT e.span) AS BIGINT) AS n_hit_spans,
         |    CAST(count(DISTINCT t.train_id) AS BIGINT) AS n_train_docs
         |  FROM ev e JOIN tr t USING (span) GROUP BY e.eval_id
         |), tot AS (
         |  SELECT eval_id, CAST(count(*) AS BIGINT) AS n_spans FROM ev GROUP BY eval_id
         |)
         |SELECT t.eval_id, t.n_spans,
         |  coalesce(h.n_hit_spans, 0) AS n_hit_spans,
         |  coalesce(h.n_train_docs, 0) AS n_train_docs,
         |  coalesce(h.n_hit_spans, 0) / CAST(t.n_spans AS DOUBLE) AS contamination_ratio
         |FROM tot t LEFT JOIN hits h USING (eval_id)
         |ORDER BY t.eval_id""".stripMargin,
    // Bloom path is bit-identical to the exact path — same oracle
    "q_contamination_report_bloom" ->
      s"""WITH spans AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(toks[i:i+7], ' ') FOR i IN range(1, greatest(len(toks) - 6, 1))])) AS span
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE $normSql <> '')
         |), ev AS (
         |  SELECT doc_id AS eval_id, span FROM spans WHERE doc_id % 5 = 0
         |), tr AS (
         |  SELECT doc_id AS train_id, span FROM spans WHERE doc_id % 5 <> 0
         |), hits AS (
         |  SELECT e.eval_id,
         |    CAST(count(DISTINCT e.span) AS BIGINT) AS n_hit_spans,
         |    CAST(count(DISTINCT t.train_id) AS BIGINT) AS n_train_docs
         |  FROM ev e JOIN tr t USING (span) GROUP BY e.eval_id
         |), tot AS (
         |  SELECT eval_id, CAST(count(*) AS BIGINT) AS n_spans FROM ev GROUP BY eval_id
         |)
         |SELECT t.eval_id, t.n_spans,
         |  coalesce(h.n_hit_spans, 0) AS n_hit_spans,
         |  coalesce(h.n_train_docs, 0) AS n_train_docs,
         |  coalesce(h.n_hit_spans, 0) / CAST(t.n_spans AS DOUBLE) AS contamination_ratio
         |FROM tot t LEFT JOIN hits h USING (eval_id)
         |ORDER BY t.eval_id""".stripMargin,
    "q_span_dedup" ->
      s"""WITH spans AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(toks[i:i+7], ' ') FOR i IN range(1, greatest(len(toks) - 6, 1))])) AS span
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE $normSql <> '')
         |), freq AS (
         |  SELECT span, count(*) AS docs FROM spans GROUP BY span
         |)
         |SELECT s.doc_id AS id,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN f.docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  sum(CASE WHEN f.docs > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS dup_ratio
         |FROM spans s JOIN freq f USING (span)
         |GROUP BY s.doc_id ORDER BY id""".stripMargin
  )
}
