package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Scale-adaptive shuffle sizing for the derived batch jobs inside a
 * `foreachBatch` body (optimization guide §2: derive partitioning from
 * the input size instead of a constant tuned for either local mode or
 * the cluster).
 *
 * Structured Streaming runs every microbatch on a CLONED session, and
 * the joins/aggregates/repartitions a foreachBatch body issues start
 * from that session's `spark.sql.shuffle.partitions` — a
 * cluster-sized constant — however small the batch is. AQE is off
 * only for the stream's own incremental plan: the body's queries are
 * planned as `AdaptiveSparkPlan` (seen with a `QueryExecutionListener`
 * on a [[CleanCorpusStream]] epoch: `AQEShuffleRead coalesced`, local
 * shuffle reads), so AQE may coalesce below the width set here: the
 * width is the ceiling of the batch's shuffles, and that ceiling is
 * what a tiny batch must not inherit from the cluster. Measured on
 * `pipeline_clean_corpus_stream` (sf0.1, local[32], 32 shuffle
 * partitions): ~130 s of task-time for a
 * 15 s wall, with thread dumps showing the executors in shuffle-file
 * `FileOutputStream.open0` and the shuffle-commit lock — pure
 * tiny-task/file churn, not compute (the same query at local[8] ran
 * FASTER: 10.3 s wall / 19 s task-time).
 *
 * The fix is the guide's: size the batch's shuffles from the batch
 * itself. The signal is the LEAF FILE-SOURCE STATS of the batch plan
 * (file stream sources hand foreachBatch a relation over exactly the
 * batch's files) — never `.rdd`, which materializes the plan to count
 * partitions AND, when the stream plan ends in a shuffle (aggregation/
 * watermark upstream of foreachBatch), returns the CURRENT
 * `spark.sql.shuffle.partitions`, making the adapt self-referential.
 * A batch plan with no file leaf keeps the session width (no-op).
 *
 * `indexBytes` covers the jobs in the body that shuffle the
 * ACCUMULATED index rather than the batch (IndexIO folds, the index
 * side of candidate joins): the index grows across epochs independent
 * of batch size, so a small trickle batch against a large index must
 * not fold/join the whole index through 2 reducers. The width is the
 * MAX of the batch-derived and index-derived values, clamped to the
 * session's configured width — on a 100 TB deployment a batch spans
 * thousands of input splits and this helper is an identity.
 *
 * Results are partitioning-independent by engine-wide design (every
 * operator's output is pinned by deterministic keys/hashes, never by
 * task layout), so the width only moves cost — asserted by the
 * unchanged oracle rows.
 */
private[graft] object BatchTune {
  /** Session-conf stash of the ORIGINAL cluster-sized width: the first
    * adapt() overwrites `spark.sql.shuffle.partitions` on the stream's
    * cloned session, so the clamp ceiling must be captured before. */
  private val Stash = "spark.graft.stream.sessionShufflePartitions"

  /** Set this batch's shuffle width from its source bytes (plus the
    * persisted index's bytes, when the body joins/folds one).
    * Idempotent, costs no Spark job. Call FIRST in a foreachBatch body,
    * before any derived plan is built. */
  def adapt(batch: DataFrame, indexBytes: Long = 0L): Unit = {
    val spark = batch.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val ceiling = spark.conf.getOption(Stash) match {
      case Some(v) => v.toInt
      case None =>
        val d = spark.conf.get(key).toInt
        spark.conf.set(Stash, d.toString)
        d
    }
    // leaf stats carry exact file bytes for file-source batches; a plan
    // with no file leaf (rate/memory source, or stats unavailable)
    // keeps the session width — widths must never be guessed smaller
    val fileBytes = leafSizes(batch).filter(_ < Unknown).sum
    if (fileBytes <= 0 && indexBytes <= 0) {
      spark.conf.set(key, ceiling.toString); return
    }
    val maxSplit = splitBytes(spark)
    // ~4 reducers per input split (the measured r17 ratio: enough fan-in
    // for the band/cluster joins, no 32-way file churn for a one-split
    // batch); the index side mirrors EntryShared.adaptiveStreamWidth's
    // 16 MB/partition state sizing
    val batchWidth =
      if (fileBytes <= 0) 0L
      else 4L * ((fileBytes.toLong + maxSplit - 1) / maxSplit)
    val indexWidth =
      if (indexBytes <= 0) 0L else indexBytes / (16L << 20) + 2
    val width = math.min(ceiling.toLong,
      math.max(2L, math.max(batchWidth, indexWidth))).toInt
    spark.conf.set(key, width.toString)
  }

  /** Whether the batch plus `indexBytes` of persisted index is smaller
    * than one input split (`spark.sql.files.maxPartitionBytes`). A leaf
    * of unknown size never counts as small. Costs no Spark job. */
  private[graft] def underOneSplit(batch: DataFrame, indexBytes: Long): Boolean = {
    val sizes = leafSizes(batch)
    sizes.forall(_ < Unknown) &&
      sizes.sum + indexBytes < splitBytes(batch.sparkSession)
  }

  /** `defaultSizeInBytes`: the stats of a leaf of unknown size. */
  private val Unknown = BigInt(Long.MaxValue)

  private def leafSizes(batch: DataFrame): Seq[BigInt] =
    batch.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes)

  /** `spark.sql.files.maxPartitionBytes`: one input split. */
  private[graft] def splitBytes(spark: SparkSession): Long =
    org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
}
