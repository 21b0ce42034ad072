package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming MinHash-LSH near-duplicate filter against a PERSISTED
 * signature index — the continuous-ingestion form of
 * [[MinHash.lshVerifiedPairs]]/[[MinHash.lshDedup]] (which are batch:
 * every round of this engine's near-dup tier so far compared a corpus
 * against itself). A production training-data pipeline ingests
 * forever; each new slice must be deduplicated against EVERYTHING seen
 * before without rescanning it. This operator does that with a
 * two-level on-disk index, both levels partition-PRUNED to the
 * batch's footprint once the index outgrows one input split:
 *
 *  - `<index>/bands`    — (doc_id, band_hash, bp = band_hash mod
 *    bandBuckets), partitioned by (epoch, bp). A batch reads ONLY the
 *    bp partitions its own band hashes fall in: candidate lookup cost
 *    tracks the BATCH size, never the corpus.
 *  - `<index>/shingles` — (doc_id, sh = distinct shingle-hash set,
 *    sb = doc_id mod idBuckets), partitioned by (epoch, sb). Exact
 *    verification fetches only the candidate ids' buckets.
 *
 * While batch plus index is under one split, an epoch writes each
 * level as one flat file per epoch instead (bp/sb kept as data
 * columns) and the read takes those roots whole: a small batch hits
 * nearly every bucket, so the prune saved nothing and the per-bucket
 * files cost every write and read ([[IndexIO]] layouts). Both bucket
 * columns derive from the join keys (band_hash; the verified doc id),
 * so pruned or whole, the verdicts are the same.
 *
 * Semantics ("all-seen", reference-free): a document is dropped iff
 * some document with EARLIER ARRIVAL (an earlier epoch, or a smaller
 * id within the same batch) has exact shingle-set Jaccard ≥
 * `threshold` with it — whether or not that earlier document was
 * itself dropped. This makes the kept set ORDER-DETERMINED but not
 * chain-recursive (no kept-set recurrence), so it is exactly
 * SQL-expressible and the DuckDB oracle brute-forces it
 * (`stream_near_dup`). Candidate recall: bands=16/rows=2 over 32
 * hashes, the [[MinHash.lshVerifiedPairs]] setting — 1-(1-s²)^16,
 * effectively exhaustive at threshold 0.8 (same precedent as the
 * `minhash_lsh` oracle row). Docs shorter than the shingle width can
 * never be near-dups: they bypass candidates AND the index (their
 * sentinel signatures would otherwise collide in every band) and are
 * always kept.
 *
 * Exactly-once: every write — kept output, band index, shingle index —
 * targets an explicit `epoch=<id>` subdirectory with a plain
 * overwrite (epoch is constant within a batch), so a replayed batch
 * REWRITES exactly its own epoch directory instead of appending
 * duplicates — the same guarantee as dynamic partition overwrite
 * without its staging/per-partition-move commit protocol (measured
 * 5-6 s per batch on the bands index). Candidate reads filter
 * `epoch < current` (a replayed batch must not see its own
 * half-written entries or it would drop every replayed doc as a
 * duplicate of itself).
 *
 * Scale: per batch — one signature pass over the batch; a
 * ShuffledHashJoin against the bp-pruned index slice (pair work is
 * quadratic per bucket, invisible to byte-based planning — same
 * rationale as [[MinHash.lshCandidates]]); shingle fetches pruned to
 * candidate id buckets; exact verify ships each candidate's shingle
 * set once. The two `collect()`s are the distinct partition-bucket
 * lists — bounded by [[BandBuckets]] and [[IdBuckets]] regardless of
 * data volume, and run only when the level has a bucketed root. Index
 * reads plan only pruned partition directories, so a year-old
 * petabyte index costs a batch only its own buckets.
 */
object NearDupStream {
  /** Default band-hash partition fanout of the bands index. SIZING:
    * a bucketed epoch write costs ~one parquet file per bucket
    * (measured ~15 ms/file — 256 buckets cost ~4 s/epoch, 64 ~1 s),
    * while read pruning only bites when a batch's 16·|batch| band
    * hashes hit a FRACTION of the buckets — buckets ≈ 16·|batch|/f to
    * read fraction f of the index. Small batches saturate any bucket
    * count, which is why an epoch under one input split writes its
    * levels flat and pays no per-bucket file at all; the fanout sizes
    * the bucketed epochs and folds past that point, where a 100 TB
    * deployment with million-doc batches raises it (the layout choice
    * must be stable for an index's lifetime — [[rebucket]] changes it). */
  val BandBuckets = 64
  /** Default doc-id partition fanout of the shingle store (same
    * file-per-bucket write/prune trade as [[BandBuckets]]). */
  val IdBuckets = 32

  private def bandStruct(numHashes: Int, bands: Int) = {
    val rows = numHashes / bands
    explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(col("minhash"), b * rows + 1, rows))
          .as("band_hash"))
    }: _*)).as("bh")
  }

  /** (doc_id, band_hash, bp) for every eligible batch doc — the same
    * signature/banding construction as [[MinHash.lshCandidates]]. The
    * band INDEX is folded into band_hash (xxhash64 salted with it), so
    * the index stores and joins one long per (doc, band): a cross-band
    * hash collision could only ADD a candidate, which exact verify
    * kills. */
  private[graft] def bandedSigs(docs: DataFrame, idCol: String, textCol: String,
                                shingleN: Int, numHashes: Int,
                                bands: Int, bandBuckets: Int): DataFrame =
    docs.withColumn("minhash", graft.functions.Sketch.minhash_sig(
        graft.functions.Sketch.shingle_hashes(col(textCol), shingleN, distinct = true),
        numHashes))
      .select(col(idCol).as("doc_id"), bandStruct(numHashes, bands))
      .select(col("doc_id"), col("bh.band_hash").as("band_hash"))
      .withColumn("bp", pmod(col("band_hash"), lit(bandBuckets.toLong)))

  /** (doc_id, sh, sb) shingle-hash sets for the exact-verify stage. */
  private[graft] def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int, idBuckets: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.Sketch.shingle_hashes(col(textCol), shingleN, distinct = true)
          .as("sh"))
      .withColumn("sb", pmod(col("doc_id"), lit(idBuckets.toLong)))

  /** Candidate (id_a = indexed earlier doc, id_b = batch doc) pairs for
    * one batch against the persisted bands index: the read is pruned to
    * `epoch < epoch` AND, on bucketed roots, the batch's own bp buckets
    * ([[IndexIO.readBefore]] — exposed as a method so the spec can gate
    * the PartitionFilters). */
  private[graft] def indexCandidates(spark: SparkSession, bandsDir: String,
                                     batchBands: DataFrame,
                                     epoch: Long): DataFrame = {
    val idx = IndexIO.readBefore(spark, bandsDir, batchBands, epoch, "bp",
      batchBands.select("bp"))
    // SHUFFLE_HASH: per-bucket pair work is quadratic in matches —
    // never broadcast the banded side (MinHash.lshCandidates rationale)
    idx.select(col("doc_id").as("id_a"), col("band_hash"))
      .join(batchBands.select(col("doc_id").as("id_b"), col("band_hash"))
        .hint("shuffle_hash"), Seq("band_hash"))
      .select("id_a", "id_b").distinct()
  }

  /**
   * Bucket-fanout migration of one index level (the re-bucketing admin
   * op a deployment needs when its batch size outgrows the fanout the
   * index was created with — [[BandBuckets]] sizing is an index-LIFETIME
   * choice, so growing it otherwise means a full rebuild): fold EVERY
   * committed entry into one consolidated fold whose bucket column is
   * recomputed as `pmod(srcCol, newBuckets)`.
   *
   * `srcCol` is the stored column the bucket derives from — the index
   * schemas store it precisely so this op can recompute: `band_hash`
   * for a bands level (bp), `doc_id` for a shingles level (sb),
   * `cluster` for a [[SemanticDedupStream]] vecs level (cb), `xh` for
   * a [[CleanCorpusStream]] hashes level (hb).
   *
   * OFFLINE op: run with the stream STOPPED (single-writer, like the
   * resize it implements). Crash-safe via the [[IndexIO]] pointer
   * commit — a crash before the pointer leaves the sources intact
   * (the fold data is unreferenced garbage [[IndexIO.resume]]
   * sweeps), a crash after it is finished by the same resume, which
   * BOTH a retried rebucket and the next stream batch run first.
   * After the swap, restart the stream passing the NEW fanout — the
   * old value would prune reads against the wrong layout.
   */
  def rebucket(spark: SparkSession, levelDir: String, bucketCol: String,
               srcCol: String, newBuckets: Int): Unit =
    IndexIO.rebucket(spark, levelDir, bucketCol, srcCol, newBuckets)

  /** The two index levels under `indexDir`, as (dir, bucket column). */
  private[ext] def levels(indexDir: String): Seq[(String, String)] =
    Seq(s"$indexDir/bands" -> "bp", s"$indexDir/shingles" -> "sb")

  /** The near-dup stage of one epoch, shared by [[run]] and
    * [[CleanCorpusStream]]: MinHash-LSH candidates of `docs` against the
    * persisted bands index (bp- and epoch-pruned) and within the batch,
    * then ONE exact shingle-Jaccard verify. Returns the dropped ids
    * (column `dropped_id`) and the two index writes — ALL of `docs`,
    * kept or dropped (all-seen). */
  private[ext] def nearDupStage(e: IndexedEpoch.Epoch, docs: DataFrame,
                                indexDir: String, threshold: Double,
                                idCol: String, textCol: String,
                                shingleN: Int, numHashes: Int, bands: Int,
                                bandBuckets: Int, idBuckets: Int)
      : (DataFrame, Seq[() => Unit]) = {
    val Seq((bandsDir, _), (shDir, _)) = levels(indexDir)
    val bb = e.pin(bandedSigs(docs, idCol, textCol, shingleN, numHashes,
      bands, bandBuckets))
    val sh = e.pin(shingleSets(docs, idCol, textCol, shingleN, idBuckets))
    // 1. candidates vs the persisted index (bp- and epoch-pruned);
    // pinned: the sb-collect below and the verify join both consume it —
    // without the pin the pruned index read + band join would run twice
    val candIdx = e.pin(indexCandidates(e.spark, bandsDir, bb, e.id))
    e.mark("bands+cands")
    // fetch earlier docs' shingles — pruned to candidate id buckets
    val idxSh = IndexIO.readBefore(e.spark, shDir, sh, e.id, "sb",
      candIdx.select(pmod(col("id_a"), lit(idBuckets.toLong))))
      .select(col("doc_id").as("id"), col("sh"))
    e.mark("sbs-collect")
    val shBatch = sh.select(col("doc_id").as("id"), col("sh"))
    // 2. candidates within the batch (arrival tie-break: id order)
    val a = bb.toDF("id_a", "band_hash", "bp")
    val b = bb.toDF("id_b", "band_hash", "bp")
    val candSelf = a.join(b.hint("shuffle_hash"), Seq("band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // ONE verify serves both candidate sources — the pair schema is
    // shared and one lookup table covers every id: index-pair id_a's
    // come from idxSh, self-pair ids and every id_b from shBatch; ids
    // are unique across the union (the epoch < current filter excludes
    // a replayed batch's own index entries, and a doc is indexed in
    // exactly one epoch)
    val dropped = TextOps.verifyExactJaccard(
        candIdx.unionByName(candSelf),
        idxSh.unionByName(shBatch), threshold)
      .select(col("id_b").as("dropped_id")).distinct()
    e.mark("plan-dropped")
    (dropped, Seq(
      () => e.write(bb, Some("bp"), bandsDir),
      () => e.write(sh, Some("sb"), shDir)))
  }

  /**
   * Run the filter over a streaming `docs` source. Kept documents land
   * under `outDir` (parquet, epoch-partitioned); the index persists
   * under `indexDir` across batches and restarts; `checkpointDir` is
   * the Structured Streaming checkpoint. `compactEvery = Some(n)`
   * folds all index epochs below the current batch into one directory
   * every n batches ([[IndexIO.compact]] via [[IndexedEpoch]] — bounds
   * index metadata for long-running streams). Returns the running
   * query — callers drain with `processAllAvailable`.
   */
  def run(docs: DataFrame, indexDir: String, outDir: String,
          checkpointDir: String, threshold: Double = 0.8,
          idCol: String = "doc_id", textCol: String = "text",
          shingleN: Int = 3, numHashes: Int = 32,
          bands: Int = 16, bandBuckets: Int = BandBuckets,
          idBuckets: Int = IdBuckets,
          compactEvery: Option[Int] = None): StreamingQuery = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    IndexedEpoch.start(docs, checkpointDir, "nd", levels(indexDir),
        compactEvery) { (e, batch) =>
      val cached = e.pin(batch)
      // sub-shingle-width docs: never near-dups, never indexed
      val eligible = cached.filter(size(split(col(textCol), " ")) >= shingleN)
      val (dropped, indexWrites) = nearDupStage(e, eligible, indexDir,
        threshold, idCol, textCol, shingleN, numHashes, bands, bandBuckets,
        idBuckets)
      // kept output (short docs bypass candidates → always kept) — NOT
      // bucket-repartitioned: epoch is its only key, so that would
      // serialize the write
      IndexedEpoch.parallelWrites(e.spark,
        (() => e.write(cached
          .join(dropped, col(idCol) === col("dropped_id"), "left_anti"),
          None, outDir)) +: indexWrites: _*)
      e.mark("writes(par)")
    }
  }
}
