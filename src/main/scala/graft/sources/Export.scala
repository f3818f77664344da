package graft.sources

import graft.functions.{TextFunctions => T}
import graft.table.RowId
import graft.text.{Packing, Sharding}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** Training-data export — the pipeline's last mile: turn a curated corpus
  * into the artifact a trainer actually consumes.
  *
  * Two shapes, both sharded with a per-shard manifest sidecar:
  *
  *  - '''packed token shards''': every sequence is exactly `seqLen` token
  *    ids (concat-and-chunk over ascending doc id, zero-padded tail), one
  *    parquet directory per shard, each row carrying its provenance spans
  *    so any training token traces back to (doc, offset);
  *  - '''JSONL shards''': one JSON document per line, weight-balanced
  *    across shards ([[graft.text.Sharding]] sorted round-robin).
  *
  * The manifest is the footer-metadata analog of the reference's batch
  * store (reference org.knime.core.columnar.arrow/…/ArrowReaderWriterUtils.java:93,229
  * — batch offsets + schema metadata appended as file footer): per shard
  * it records sequence/token/padding counts, the contributing doc-id
  * range, and the source mix — everything a loader needs to plan an epoch
  * without scanning data files, and everything an audit needs to tie a
  * shard back to its sources.
  *
  * Scale shape (100 TB): text never shuffles. The packing plan shuffles
  * (id, n_toks) pairs only ([[Packing.packSequences]]); the one
  * data-sized exchange is the unavoidable materialization shuffle, and it
  * moves token IDS (ints), not text — `(seq_id, seq_pos, token_id)`
  * triples partitioned by the uniform key `seq_id`. The manifest is
  * computed from the span table (never the token stream) and is
  * O(shards × sources). Vocabulary ids come from the [[RowId]] offset
  * pattern — no single-partition window even for web-scale vocabularies.
  */
object Export {

  /** Deterministic vocabulary: distinct corpus tokens, id = 1-based
    * lexicographic rank (0 is reserved for padding). A pure function of
    * the corpus token SET — independent of partitioning and engine
    * (oracle: `row_number() OVER (ORDER BY token)`).
    */
  def vocabulary(docs: DataFrame, textCol: String): DataFrame = {
    val toks = docs.select(explode(T.tokenize(col(textCol))).as("token")).distinct()
    val (ranked, _) = RowId.withRowIndexCounted(toks.orderBy(col("token")), "__rank0")
    ranked.select(col("token"), (col("__rank0") + 1L).as("token_id"))
  }

  /** Materialize `seqLen`-token training sequences with provenance.
    *
    * Output: one row per sequence —
    * `(shard, seq_id, n_real, tokens, provenance)` where `tokens` is
    * exactly `seqLen` long (vocabulary ids, 0-padded tail), `n_real`
    * counts the non-pad tokens, and `provenance` lists the contributing
    * `(doc_id, doc_offset, seq_offset, span_len)` spans in sequence
    * order. `shard = seq_id mod nShards`: packed sequences are
    * uniform-weight by construction, so round-robin IS the balanced
    * assignment (no rank pass needed, unlike variable-weight JSONL).
    *
    * Deterministic end to end: ascending-id concatenation
    * ([[Packing.packSequences]]), lexicographic vocabulary, and
    * `array_sort` assembly (collect order never matters).
    */
  def packTokens(docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      seqLen: Int, nShards: Int): DataFrame =
    packTokensWithVocab(docs, idCol, textCol,
      vocabulary(docs, textCol), seqLen, nShards)

  /** [[packTokens]] against a FROZEN vocabulary (schema of
    * [[vocabulary]]: token, token_id) — the incremental/streaming form:
    * a trained tokenizer is fixed before export, so token ids stay
    * consistent across epochs/batches that never see each other. Tokens
    * absent from the vocabulary map to token_id = -1 (an explicit OOV
    * sentinel, distinct from the 0 pad id) rather than silently
    * dropping — sequence shapes stay exactly what the span table
    * declares.
    */
  def packTokensWithVocab(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, seqLen: Int, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val spans = Packing.packSequences(docs, idCol, T.tokenCount(col(textCol)), seqLen)
    // (id, pos, token_id) — ints only from here on; AQE broadcasts the
    // vocab side when it is small, shuffles on `token` when it is not
    val tokIds = docs
      .select(col(idCol), posexplode(T.tokenize(col(textCol))).as(Seq("pos", "token")))
      .join(vocab, Seq("token"), "left")
      .select(col(idCol), col("pos").cast(LongType).as("pos"),
        coalesce(col("token_id"), lit(-1L)).as("token_id"))
    // span × token equi-join on id, range-filtered to the span's slice;
    // re-key every token by its global (seq_id, seq_pos)
    val seqToks = spans
      .join(tokIds, Seq(idCol))
      .where(col("pos") >= col("doc_offset") && col("pos") < col("doc_offset") + col("span_len"))
      .select(col("seq_id"),
        (col("seq_offset") + col("pos") - col("doc_offset")).as("seq_pos"),
        col("token_id"))
    val seqs = seqToks
      .groupBy(col("seq_id"))
      .agg(array_sort(collect_list(struct(col("seq_pos"), col("token_id")))).as("__st"))
      .select(col("seq_id"),
        expr("transform(__st, x -> x.token_id)").as("__toks"))
      .select(col("seq_id"),
        size(col("__toks")).cast(LongType).as("n_real"),
        concat(col("__toks"),
          array_repeat(lit(0L), (lit(seqLen) - size(col("__toks"))).cast(IntegerType))).as("tokens"))
    val prov = spans
      .groupBy(col("seq_id"))
      .agg(array_sort(collect_list(struct(col("seq_offset"), col(idCol).as("doc_id"),
        col("doc_offset"), col("span_len")))).as("__sp"))
      .select(col("seq_id"),
        expr("transform(__sp, x -> struct(x.doc_id as doc_id, x.doc_offset as doc_offset, " +
          "x.seq_offset as seq_offset, x.span_len as span_len))").as("provenance"))
    seqs.join(prov, Seq("seq_id"))
      .select(pmod(col("seq_id"), lit(nShards.toLong)).cast(IntegerType).as("shard"),
        col("seq_id"), col("n_real"), col("tokens"), col("provenance"))
  }

  /** Span-corruption masking over packed sequences — the denoising-
    * objective (T5/UL2-style) export form: deterministic BLOCK masking,
    * where block `b` of sequence `s` is masked iff
    * `pmod(splitmix64(s·131071 + b), maskDen) < maskNum` (expected mask
    * rate maskNum/maskDen). Per sequence the real token stream (pad tail
    * excluded) is re-emitted as
    *
    *  - `input_tokens`: each masked block replaced by ONE sentinel id
    *    (`sentinelBase + k` for the sequence's k-th masked block),
    *    unmasked blocks verbatim;
    *  - `target_tokens`: for each masked block in order, its sentinel
    *    followed by the original block tokens.
    *
    * No RNG anywhere: the mask is a pure function of (seq_id, block), so
    * re-exports are reproducible and the DuckDB oracle replays every
    * masked position exactly. Scan-local per row (array expressions over
    * the already-packed tokens — no exchange at all); block masking is
    * the parallel-friendly form of span corruption (content-independent
    * boundaries, mean span = blockLen).
    */
  def maskSpans(packed: DataFrame, blockLen: Int, maskNum: Int, maskDen: Int,
      sentinelBase: Long): DataFrame = {
    require(blockLen >= 1, s"maskSpans: blockLen $blockLen < 1")
    require(maskDen >= 1 && maskNum >= 0 && maskNum <= maskDen,
      s"maskSpans: mask rate $maskNum/$maskDen out of [0, 1]")
    import graft.functions.{HashFunctions => H}
    val bl = lit(blockLen.toLong)
    val real = slice(col("tokens"), lit(1), col("n_real").cast(IntegerType))
    val nBlocks = ((col("n_real") + (blockLen - 1)) / blockLen).cast(LongType)
    val blockSeq = sequence(lit(0L), nBlocks - 1)
    val maskedArr = filter(blockSeq, b =>
      pmod(H.splitmixKey(col("seq_id"), b), lit(maskDen.toLong)) < lit(maskNum.toLong))
    def blockSlice(toks: Column, b: Column) =
      slice(toks, (b * bl + 1).cast(IntegerType),
        least(bl, col("n_real") - b * bl).cast(IntegerType))
    packed
      .withColumn("__real", real)
      .withColumn("__masked", maskedArr)
      .withColumn("input_tokens",
        flatten(transform(blockSeq, b =>
          when(array_contains(col("__masked"), b),
            array(lit(sentinelBase) + (array_position(col("__masked"), b) - 1)))
            .otherwise(blockSlice(col("__real"), b)))))
      .withColumn("target_tokens",
        // sequence(0, -1) would run DESCENDING — an empty mask set needs
        // an explicit empty array
        when(size(col("__masked")) === 0, array().cast("array<bigint>"))
          .otherwise(flatten(transform(
            sequence(lit(0L), size(col("__masked")).cast(LongType) - 1), k =>
              concat(
                array(lit(sentinelBase) + k),
                blockSlice(col("__real"), element_at(col("__masked"), (k + 1).cast(IntegerType))))))))
      .select(col("shard"), col("seq_id"), col("n_real"),
        col("input_tokens"), col("target_tokens"))
  }

  /** Per-shard manifest over a [[Packing.packSequences]] span table —
    * computed WITHOUT materializing tokens (span rows are ~32 B/doc·seq):
    * `(shard, n_sequences, n_tokens, pad_tokens, n_docs, min_doc_id,
    * max_doc_id, min_seq_id, max_seq_id)`. `pad_tokens` counts the
    * zero-filled tail of each shard's sequences (only the corpus's last
    * sequence is ever short, but the manifest derives it per shard rather
    * than assuming it).
    */
  def packedManifest(spans: DataFrame, idCol: String, seqLen: Int, nShards: Int): DataFrame =
    spans
      .groupBy(pmod(col("seq_id"), lit(nShards.toLong)).cast(IntegerType).as("shard"))
      .agg(
        countDistinct(col("seq_id")).as("n_sequences"),
        sum(col("span_len")).as("n_tokens"),
        (countDistinct(col("seq_id")) * seqLen - sum(col("span_len"))).as("pad_tokens"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("min_doc_id"),
        max(col(idCol)).as("max_doc_id"),
        min(col("seq_id")).as("min_seq_id"),
        max(col("seq_id")).as("max_seq_id"))

  /** Per-(shard, source) token mix — the manifest lane that makes a
    * shard's mixture auditable (and an epoch's mixture re-weightable
    * without re-reading data files). Token counts attribute each span to
    * its document's source.
    */
  def sourceMix(spans: DataFrame, docs: DataFrame, idCol: String, sourceCol: String,
      nShards: Int): DataFrame =
    spans
      .join(docs.select(col(idCol), col(sourceCol)), Seq(idCol))
      .groupBy(pmod(col("seq_id"), lit(nShards.toLong)).cast(IntegerType).as("shard"),
        col(sourceCol))
      .agg(
        sum(col("span_len")).as("n_tokens"),
        countDistinct(col(idCol)).as("n_docs"))

  /** Write packed sequences as one parquet directory per shard
    * (`shard=K/`) plus a `_manifest.jsonl` sidecar at the root: one JSON
    * line per shard joining [[packedManifest]] with its [[sourceMix]]
    * (sources nested as a sorted array). The sidecar is written through
    * the Hadoop FS (works on HDFS/S3, not just local disk) AFTER the data
    * commit, so a manifest's presence certifies its shards are complete —
    * the same commit-ordering contract as the reference's footer write
    * (metadata last, reference ArrowReaderWriterUtils.java:229).
    */
  def writePackedShards(packed: DataFrame, spans: DataFrame, docs: DataFrame,
      idCol: String, sourceCol: String, seqLen: Int, nShards: Int, outDir: String): Unit = {
    // static pin: a re-export with fewer shards must not keep stale ones
    graft.table.WriteModes.staticPartitionOverwrite(packed, outDir, "shard")
    val lines = manifestDf(spans, docs, idCol, sourceCol, seqLen, nShards)
      .toJSON.collect() // nShards lines — driver-bounded
    val path = new org.apache.hadoop.fs.Path(outDir, "_manifest.jsonl")
    val fs = path.getFileSystem(packed.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The per-shard manifest rows a packed write certifies:
    * [[packedManifest]] joined with its [[sourceMix]] (sources nested as
    * a sorted array), ordered by shard.
    */
  private def manifestDf(spans: DataFrame, docs: DataFrame, idCol: String,
      sourceCol: String, seqLen: Int, nShards: Int): DataFrame = {
    val mix = sourceMix(spans, docs, idCol, sourceCol, nShards)
      .groupBy(col("shard"))
      .agg(array_sort(collect_list(struct(col(sourceCol).as("source"), col("n_tokens"),
        col("n_docs")))).as("sources"))
    packedManifest(spans, idCol, seqLen, nShards)
      .join(mix, Seq("shard"))
      .withColumn("seq_len", lit(seqLen))
      .orderBy(col("shard"))
  }

  // readTree is thread-safe; one mapper for all manifest parsing
  private lazy val manifestMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The top-level integer `epoch` field of one manifest JSON line — a
    * real JSON parse, not a regex: a STRING VALUE containing the text
    * `"epoch": 9` must not be mistaken for the field. None for non-JSON
    * lines or a missing / non-integral epoch (such lines are foreign to
    * the epoch layout and get dropped on merge, per the scaladoc below).
    */
  private def epochField(line: String): Option[Int] =
    try {
      val node = manifestMapper.readTree(line)
      val e = if (node != null && node.isObject) node.get("epoch") else null
      if (e != null && e.isIntegralNumber && e.canConvertToInt) Some(e.intValue)
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Incremental export: write ONE epoch of packed shards under
    * `outDir/epoch=<epoch>/shard=K/` and merge the root
    * `_manifest.jsonl` — the reference's append-batches-then-rewrite-
    * the-footer lifecycle (reference ArrowReaderWriterUtils.java:229)
    * applied across export runs:
    *
    *  - '''data first''': the epoch directory is overwritten whole, so
    *    re-exporting a failed epoch is idempotent (a partial previous
    *    attempt leaves no trace);
    *  - '''manifest last''': the merged manifest — every OTHER epoch's
    *    surviving lines plus this epoch's, sorted by epoch — is written
    *    to a temp file and renamed over the old one. A crash anywhere
    *    before the rename leaves the previous manifest intact, so the
    *    manifest can UNDER-certify (an epoch's data present but not yet
    *    listed — rerun the epoch) but never over-certify: a listed
    *    epoch's shards are always complete on disk.
    *
    * Lines without an epoch field (a flat [[writePackedShards]] manifest
    * from a different layout) are dropped rather than merged — the epoch
    * layout owns its manifest.
    */
  def writePackedShardsEpoch(packed: DataFrame, spans: DataFrame, docs: DataFrame,
      idCol: String, sourceCol: String, seqLen: Int, nShards: Int, outDir: String,
      epoch: Int): Unit = {
    require(epoch >= 0, s"writePackedShardsEpoch: epoch $epoch < 0")
    val spark = packed.sparkSession
    packed.write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/epoch=$epoch")
    val newLines = manifestDf(spans, docs, idCol, sourceCol, seqLen, nShards)
      .withColumn("epoch", lit(epoch))
      .toJSON.collect()
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val path = new org.apache.hadoop.fs.Path(outDir, "_manifest.jsonl")
    val kept: Seq[String] =
      if (!fs.exists(path)) Seq.empty
      else {
        val in = fs.open(path)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        text.split('\n').toSeq.filter(_.nonEmpty).filter { line =>
          epochField(line).exists(_ != epoch)
        }
      }
    def epochOf(line: String): Int = epochField(line).getOrElse(Int.MaxValue)
    val merged = (kept ++ newLines).sortBy(epochOf) // stable: shard order survives
    val tmp = new org.apache.hadoop.fs.Path(outDir, "_manifest.jsonl.tmp")
    val out = fs.create(tmp, true)
    try out.write((merged.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // rename is the commit point; the delete-to-rename window shows
    // readers a MISSING manifest (nothing certified), never a wrong one
    if (fs.exists(path)) fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"manifest commit failed: $tmp -> $path")
  }

  /** Read a [[writePackedShards]] directory back (shard column restored
    * from the partition path).
    */
  def readPackedShards(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  // every lane a manifest line of either layout or of the JSONL export
  // carries, integers as BIGINT; a lane a line lacks reads as null
  private val manifestSchema = StructType.fromDDL(
    "epoch BIGINT, max_doc_id BIGINT, max_seq_id BIGINT, min_doc_id BIGINT, " +
      "min_seq_id BIGINT, n_docs BIGINT, n_sequences BIGINT, n_tokens BIGINT, " +
      "pad_tokens BIGINT, seq_len BIGINT, shard BIGINT, " +
      "sources ARRAY<STRUCT<n_docs: BIGINT, n_tokens: BIGINT, source: STRING>>")

  /** Read the `_manifest.jsonl` sidecar of a packed-shard directory.
    * The `_` prefix keeps the sidecar out of Spark's data-file listing
    * (Hadoop treats `_`-prefixed files as metadata), so it is read
    * directly through the FS — one line per shard, driver-bounded — with
    * the declared manifest schema: no inference job, and a manifest with
    * no lines (an empty export) still has its columns.
    */
  def readManifest(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.jsonl")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    import spark.implicits._
    spark.read.schema(manifestSchema).json(text.split('\n').toSeq.filter(_.nonEmpty).toDS())
  }

  /** Audit a packed-shard export root (flat [[writePackedShards]] or
    * epoch [[writePackedShardsEpoch]] layout) against its own
    * `_manifest.jsonl` — the certification CONSUMER: per (epoch, shard),
    * certified sequence/token counts vs what the data files actually
    * hold, with a status verdict:
    *
    *  - `ok` — certified and data agree;
    *  - `mismatch` — both present, counts differ (data corruption or a
    *    foreign write — never this layer's own crash, which the
    *    manifest-last protocol keeps off this branch);
    *  - `missing_data` — certified but no data on disk (someone deleted
    *    shards after commit);
    *  - `uncertified_data` — data on disk with no manifest line (a crash
    *    between data write and manifest rename — rerun that epoch).
    *
    * Flat-layout rows report `epoch = -1`. Scale shape: the data side
    * reads ONLY `n_real` + partition columns (column pruning keeps the
    * token arrays unread) and reduces to one row per (epoch, shard); the
    * manifest side is the driver-bounded sidecar.
    */
  def auditPackedShards(spark: SparkSession, dir: String): DataFrame = {
    val m = readManifest(spark, dir).select(
      coalesce(col("epoch"), lit(-1L)).as("epoch"),
      col("shard"),
      col("n_sequences").as("cert_sequences"),
      col("n_tokens").as("cert_tokens"))
    // declared columns, not inference: an empty export has no data file to
    // infer from, and the flat layout has no epoch directory (null here)
    val d = spark.read.schema("n_real BIGINT, shard BIGINT, epoch BIGINT").parquet(dir)
      .select(coalesce(col("epoch"), lit(-1L)).as("epoch"), col("shard"), col("n_real"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("actual_sequences"),
        sum(col("n_real")).cast(LongType).as("actual_tokens"))
    m.join(d, Seq("epoch", "shard"), "full_outer")
      .select(col("epoch"), col("shard"),
        col("cert_sequences"), col("actual_sequences"),
        col("cert_tokens"), col("actual_tokens"),
        when(col("cert_sequences").isNull, lit("uncertified_data"))
          .when(col("actual_sequences").isNull, lit("missing_data"))
          .when(col("cert_sequences") === col("actual_sequences") &&
            col("cert_tokens") === col("actual_tokens"), lit("ok"))
          .otherwise(lit("mismatch")).as("status"))
      .orderBy(col("epoch"), col("shard"))
  }

  /** Per-shard JSONL manifest: weight-balanced shard assignment
    * ([[Sharding.assignShards]] on token count) joined back to the corpus
    * — `(shard, n_docs, n_tokens, min_doc_id, max_doc_id)`.
    */
  def jsonlManifest(docs: DataFrame, idCol: String, textCol: String, nShards: Int): DataFrame = {
    val assigned = Sharding.assignShards(docs, idCol, T.tokenCount(col(textCol)).cast(LongType), nShards)
    assigned
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("weight")).as("n_tokens"),
        min(col(idCol)).as("min_doc_id"),
        max(col(idCol)).as("max_doc_id"))
  }

  /** Write the corpus as weight-balanced JSONL shards (`shard=K/` text
    * directories, one JSON object per line) plus the [[jsonlManifest]]
    * sidecar. The write shuffles each doc once — by its shard, the
    * unavoidable placement exchange.
    */
  def writeJsonlShards(docs: DataFrame, idCol: String, textCol: String,
      nShards: Int, outDir: String): Unit = {
    val spark = docs.sparkSession
    val assigned = Sharding.assignShards(docs, idCol, T.tokenCount(col(textCol)).cast(LongType), nShards)
    graft.table.WriteModes.staticPartitionOverwriteJson(
      docs.join(assigned.select(col(idCol), col("shard")), Seq(idCol))
        .repartition(col("shard")), outDir, "shard")
    val lines = jsonlManifest(docs, idCol, textCol, nShards).orderBy(col("shard")).toJSON.collect()
    val path = new org.apache.hadoop.fs.Path(outDir, "_manifest.jsonl")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }
}
