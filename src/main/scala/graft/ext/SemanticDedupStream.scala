package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming SEMANTIC (embedding-cosine) near-duplicate filter against a
 * persisted, cluster-pruned vector index — the continuous-ingestion
 * form of [[VectorOps.semanticDedup]] (SemDeDup, Abbas et al. 2023,
 * arXiv:2303.09540), exactly as [[NearDupStream]] is the streaming form
 * of the lexical MinHash tier. A production embedding pipeline ingests
 * forever; each new slice must be deduplicated against every vector
 * seen before without rescanning the corpus.
 *
 * Index: `<indexDir>/vecs` — rows (vec_id, cluster, v), partitioned by
 * (epoch, cb = cluster mod clusterBuckets). SemDeDup's approximation is
 * the candidate rule: only SAME-CLUSTER vectors are compared (cluster =
 * low `clusterBits` bits of the 32-bit sign-LSH signature — the
 * deterministic quantizer shared with [[VectorOps.clusterScored]], no
 * stored model, replayable in the DuckDB oracle). A batch therefore
 * reads ONLY the cb partitions its own clusters fall in: candidate
 * lookup cost tracks the BATCH, never the corpus. While batch plus
 * index is under one input split, epochs and folds write the level as
 * one flat file each (cb kept as data, [[IndexIO]] layouts), read
 * whole: the cb prune drops only other clusters, never a match.
 *
 * Semantics ("all-seen", arrival-ordered — the same SQL-expressible
 * rule as [[NearDupStream]]): a vector is dropped iff some vector with
 * EARLIER ARRIVAL (an earlier epoch, or a smaller id within the same
 * batch) shares its cluster and has round(cosine, 6) ≥ `threshold` —
 * whether or not that earlier vector was itself dropped. Kept set is
 * order-determined, not chain-recursive, so DuckDB brute-forces it
 * (`stream_semantic_dedup`). Rounding to 6 decimals BEFORE the
 * threshold comparison keeps a last-ulp cross-engine difference from
 * flipping a verdict (the [[VectorOps.semanticDedup]] rule).
 *
 * `clusterBits` and `clusterBuckets` are INDEX-LIFETIME constants
 * (like [[NearDupStream.BandBuckets]]): the cluster definition decides
 * which historical vectors a new one is compared against, so changing
 * it mid-index would silently shrink the comparison set. Size bits ≈
 * log2(total-corpus / 64) for ~64-vector clusters (the
 * [[VectorOps.autoClusterBits]] rule, applied to the EXPECTED corpus,
 * not the first batch).
 *
 * Exactly-once: every write — kept output and index — targets an
 * explicit `epoch=<id>` subdirectory with a plain overwrite; candidate
 * reads filter `epoch < current`, so a replayed batch rewrites its own
 * epoch and never sees its own half-written entries (the
 * [[IndexedEpoch]] protocol, same crash analysis). Scheduled index
 * compaction is [[IndexIO.compact]] — one level, bucket column `cb`.
 *
 * Scale, per batch: one quantize pass over the batch; a SHUFFLE_HASH
 * join against the (epoch, cb)-pruned index slice keyed on `cluster`
 * (per-cluster pair work is quadratic — never broadcast the clustered
 * side); one self-join within the batch; two epoch-dir writes. The one
 * `collect()` is the distinct cb list — bounded by `clusterBuckets`.
 * All index bookkeeping rides [[graft.log.PathIO]], so the index may
 * live on `hdfs://` like the rest of the control plane.
 */
object SemanticDedupStream {

  /** Default cluster-bucket partition fanout of the vector index (same
    * file-per-bucket write/prune trade as [[NearDupStream.BandBuckets]]:
    * per-epoch write cost ~one parquet file per touched bucket; read
    * pruning bites when a batch's clusters hit a fraction of the
    * buckets). */
  val ClusterBuckets = 64

  /** (vec_id, cluster, v, cb) for a batch — the quantizer stage.
    * Cluster = low `clusterBits` bits of the 32-bit sign-LSH signature
    * ([[VectorOps.clusterScored]]'s rule, minus the centroid scoring —
    * the arrival-ordered keep rule needs no centroid). */
  private[graft] def quantized(vecs: DataFrame, idCol: String, vecCol: String,
                               clusterBits: Int, clusterBuckets: Int): DataFrame =
    vecs.select(col(idCol).as("vec_id"),
        graft.functions.Sketch.sign_lsh(col(vecCol), 32)
          .bitwiseAND((1L << clusterBits) - 1).as("cluster"),
        col(vecCol).as("v"))
      .withColumn("cb", pmod(col("cluster"), lit(clusterBuckets.toLong)))

  /** Earlier-arrival (id_a = indexed vec, id_b = batch vec) DROP
    * verdicts for one batch against the persisted index: the read is
    * pruned to `epoch < epoch` AND, on bucketed roots, the batch's own
    * cb buckets ([[IndexIO.readBefore]] — exposed so the spec can gate
    * the PartitionFilters), then same-cluster exact cosine ≥ threshold. */
  private[graft] def indexDropped(spark: SparkSession, vecsDir: String,
                                  batchQ: DataFrame, epoch: Long,
                                  threshold: Double): DataFrame = {
    val idx = IndexIO.readBefore(spark, vecsDir, batchQ, epoch, "cb",
      batchQ.select("cb"))
    // SHUFFLE_HASH keyed on cluster: per-cluster pair work is quadratic
    // in members — invisible to byte-based planning (semanticDedup
    // rationale); never broadcast the clustered side
    idx.select(col("cluster"), col("v").as("va"))
      .join(batchQ.select(col("vec_id").as("id_b"), col("cluster"),
          col("v").as("vb"))
        .hint("shuffle_hash"), Seq("cluster"))
      .filter(round(VectorOps.cosine(col("va"), col("vb")), 6) >= threshold)
      .select(col("id_b").as("dropped_id")).distinct()
  }

  /**
   * Run the filter over a streaming `vecs` source (columns `idCol`,
   * `vecCol`). Kept vectors land under `outDir` (parquet,
   * epoch-partitioned); the index persists under `indexDir/vecs`
   * across batches and restarts; `checkpointDir` is the Structured
   * Streaming checkpoint. `compactEvery = Some(n)` folds all index
   * epochs below the current batch into one directory every n batches
   * (crash-safe [[IndexIO.compact]] swap — bounds index
   * metadata for long-running streams). Returns the running query —
   * callers drain with `processAllAvailable`.
   */
  def run(vecs: DataFrame, indexDir: String, outDir: String,
          checkpointDir: String, threshold: Double,
          clusterBits: Int = 12,
          clusterBuckets: Int = ClusterBuckets,
          idCol: String = "vec_id", vecCol: String = "embedding",
          compactEvery: Option[Int] = None): StreamingQuery = {
    require(clusterBits >= 1 && clusterBits <= 32,
      s"clusterBits $clusterBits not in [1,32]")
    val vecsDir = s"$indexDir/vecs"
    IndexedEpoch.start(vecs, checkpointDir, "sd", Seq(vecsDir -> "cb"),
        compactEvery) { (e, batch) =>
      val cached = e.pin(batch)
      val q = e.pin(quantized(cached, idCol, vecCol, clusterBits,
        clusterBuckets))
      // 1. drops vs the persisted index ((epoch, cb)-pruned)
      val idxDropped = indexDropped(e.spark, vecsDir, q, e.id, threshold)
      e.mark("quantize+idx")
      // 2. drops within the batch (arrival tie-break: id order)
      val a = q.select(col("vec_id").as("id_a"), col("cluster"),
        col("v").as("va"))
      val b = q.select(col("vec_id").as("id_b"), col("cluster"),
        col("v").as("vb"))
      val selfDropped = a.join(b.hint("shuffle_hash"), Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(VectorOps.cosine(col("va"), col("vb")), 6) >= threshold)
        .select(col("id_b").as("dropped_id")).distinct()
      val dropped = idxDropped.unionByName(selfDropped).distinct()
      // index append: ALL batch vecs, kept or dropped (all-seen)
      IndexedEpoch.parallelWrites(e.spark,
        () => e.write(cached
          .join(dropped, col(idCol) === col("dropped_id"), "left_anti"),
          None, outDir),
        () => e.write(q, Some("cb"), vecsDir))
      e.mark("writes(par)")
    }
  }
}
