package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * The end-to-end clean-corpus pipeline as ONE continuous stream:
 * quality filter → exact dedup → near-dup filter, each batch checked
 * against persisted, partition-pruned indexes of everything seen
 * before. This is the streaming composition of the batch capstone
 * (`pipeline_clean_corpus`): the pieces existed separately
 * (`quality_filter_stream`, [[NearDupStream]]) — composing them in one
 * foreachBatch is where state interactions hide, which is exactly what
 * the `pipeline_clean_corpus_stream` oracle row pins down.
 *
 * Stages, per batch:
 *  1. QUALITY (stateless, per-row): `n_tokens ≥ minTokens` and
 *     `mean_word_len ∈ [minWordLen, maxWordLen]` — the
 *     [[TextOps.withQualityScore]] signals, the batch capstone's rule.
 *  2. EXACT dedup (first-arrival wins): a doc is dropped iff an
 *     EARLIER-ARRIVING quality-surviving doc (earlier epoch, or smaller
 *     id in the same batch) has the same `md5(text)` — the
 *     [[TextOps.exactDedup]] identity, made streaming against a
 *     persisted `<index>/hashes` level partitioned by
 *     (epoch, hb = xxhash64(text) mod hashBuckets). Only exact KEEPERS
 *     are indexed: hash identity is transitive, so a later copy matches
 *     the keeper regardless.
 *  3. NEAR-DUP (all-seen over exact survivors): the [[NearDupStream]]
 *     MinHash-LSH candidates + exact shingle-Jaccard verify, against
 *     the same two-level `<index>/{bands,shingles}` layout — a doc is
 *     dropped iff some earlier-arriving exact-SURVIVOR (kept or
 *     near-dup-dropped) has Jaccard ≥ `threshold`. Quality casualties
 *     and exact duplicates never enter this stage — the batch
 *     capstone's composition order.
 *
 * ORDER-EQUIVALENCE CONTRACT: when arrival order preserves id order
 * (range-sliced catch-up input, or an id-monotone producer), every
 * stage's arrival-ordered rule coincides with the batch operators'
 * id-ordered rule, so the stream's kept set EQUALS the batch
 * composition `quality → TextOps.exactDedup → all-seen
 * shingle-Jaccard` on the same corpus (spec-asserted; the oracle row
 * brute-forces the id-ordered truth in SQL). Under out-of-order
 * arrival the rules stay well-defined (arrival replaces id order) but
 * the kept SET can legitimately differ — same contract as
 * [[NearDupStream]].
 *
 * Exactly-once, crash recovery, compaction, and the 100 TB read-prune
 * story are [[NearDupStream]]'s, unchanged: every write targets an
 * explicit `epoch=<id>` directory (replay rewrites itself), candidate
 * reads filter `epoch < current` plus, on bucketed roots, the batch's
 * own hash/band/id buckets (plan-gated; a level under one input split
 * is written flat and read whole — [[IndexIO]] layouts), and
 * scheduled folds ride the crash-safe
 * [[IndexIO.compact]] swap on all THREE index levels ([[IndexedEpoch]]).
 * All index bookkeeping rides [[graft.log.PathIO]] (Hadoop FileSystem).
 */
object CleanCorpusStream {

  /** Exact-hash partition fanout (file-per-bucket write vs read-prune
    * trade, same sizing rule as [[NearDupStream.BandBuckets]]). */
  val HashBuckets = 32

  /** (doc_id, h = md5(text), xh = xxhash64(text), hb = xh mod buckets)
    * for a batch — the exact-identity stage's index schema. `xh` is
    * stored (not just folded into hb) so [[NearDupStream.rebucket]]
    * can recompute hb under a new fanout without the original text. */
  private[graft] def hashed(docs: DataFrame, idCol: String,
                            textCol: String, hashBuckets: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.Md5Fast.md5_fast(col(textCol)).as("h"),
        xxhash64(col(textCol)).as("xh"))
      .withColumn("hb", pmod(col("xh"), lit(hashBuckets.toLong)))

  /** Exact-duplicate DROP verdicts for one batch against the persisted
    * hash index: read pruned to `epoch < epoch` AND, on bucketed roots,
    * the batch's hb buckets ([[IndexIO.readBefore]] — exposed for the
    * plan gate), then an equi-join on the full 128-bit md5. Equal texts
    * share both hashes, so the hb prune drops no row that could match. */
  private[graft] def indexExactDropped(spark: SparkSession, hashesDir: String,
                                       batchH: DataFrame, epoch: Long): DataFrame = {
    val idx = IndexIO.readBefore(spark, hashesDir, batchH, epoch, "hb",
      batchH.select("hb"))
    idx.select(col("h"))
      .join(batchH.select(col("doc_id").as("id_b"), col("h"))
        .hint("shuffle_hash"), Seq("h"))
      .select(col("id_b").as("dropped_id")).distinct()
  }

  /**
   * Run the pipeline over a streaming `docs` source (columns `idCol`,
   * `textCol`, plus anything else — kept rows pass through whole).
   * Clean documents land under `outDir` (parquet, epoch-partitioned);
   * the three index levels persist under `indexDir` across batches and
   * restarts. Returns the running query.
   */
  def run(docs: DataFrame, indexDir: String, outDir: String,
          checkpointDir: String, threshold: Double = 0.8,
          minTokens: Int = 10, minWordLen: Double = 2.0,
          maxWordLen: Double = 12.0,
          idCol: String = "doc_id", textCol: String = "text",
          shingleN: Int = 3, numHashes: Int = 32, bands: Int = 16,
          bandBuckets: Int = NearDupStream.BandBuckets,
          idBuckets: Int = NearDupStream.IdBuckets,
          hashBuckets: Int = HashBuckets,
          compactEvery: Option[Int] = None): StreamingQuery = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val hashesDir = s"$indexDir/hashes"
    IndexedEpoch.start(docs, checkpointDir, "cc",
        (hashesDir -> "hb") +: NearDupStream.levels(indexDir),
        compactEvery) { (e, batch) =>
      // 1. QUALITY — stateless; casualties vanish here (never indexed).
      // Only the two signals the rule consumes are computed, with
      // TextOps.withQualityScore's exact formulas — the full scorer
      // also runs stopword/digit/punct regex passes over every byte
      // of text that this filter would just discard.
      val toks = TextOps.tokens(col(textCol))
      val nTok = size(toks)
      val meanWordLen =
        (length(col(textCol)) - (nTok - 1)).cast("double") / nTok
      val quality = e.pin(batch
        .filter(nTok >= minTokens &&
          meanWordLen.between(minWordLen, maxWordLen)))
      // 2. EXACT — vs the hash index, then within-batch first-wins
      val bh = e.pin(hashed(quality, idCol, textCol, hashBuckets))
      val idxExact = indexExactDropped(e.spark, hashesDir, bh, e.id)
      val batchRank = Window.partitionBy("h").orderBy(col("doc_id"))
      val selfExact = bh
        .withColumn("_rn", row_number().over(batchRank))
        .filter(col("_rn") > 1)
        .select(col("doc_id").as("dropped_id")).distinct()
      val exactDropped = idxExact.unionByName(selfExact).distinct()
      e.mark("exact-plan")
      val exactKept = e.pin(quality
        .join(exactDropped, col(idCol) === col("dropped_id"), "left_anti"))
      // 3. NEAR-DUP over exact survivors — the NearDupStream stage
      // (quality guarantees n_tokens ≥ minTokens ≥ shingleN, so the
      // short-doc bypass never triggers here)
      val (nearDropped, nearWrites) = NearDupStream.nearDupStage(e,
        exactKept, indexDir, threshold, idCol, textCol, shingleN, numHashes,
        bands, bandBuckets, idBuckets)
      // FOUR independent writes (clean output; hashes = exact keepers
      // only, identity is transitive; bands/shingles = ALL exact
      // survivors — near-dup all-seen) run as CONCURRENT Spark jobs:
      // sequential writes stacked four per-file floors per batch
      // (measured ~4 s of the ~6 s batch wall)
      IndexedEpoch.parallelWrites(e.spark, Seq(
        () => e.write(exactKept
          .join(nearDropped, col(idCol) === col("dropped_id"), "left_anti"),
          None, outDir),
        () => e.write(bh
          .join(exactDropped, col("doc_id") === col("dropped_id"), "left_anti"),
          Some("hb"), hashesDir)) ++ nearWrites: _*)
      e.mark("writes(par)")
    }
  }
}
