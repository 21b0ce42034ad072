package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * The per-epoch protocol every indexed stream ([[NearDupStream]],
 * [[CleanCorpusStream]], [[SemanticDedupStream]], [[DecontamStream]])
 * runs inside `foreachBatch` — the idempotent-epoch-write design of
 * Structured Streaming, plus a scheduled fold of the persisted index.
 * One copy, so every operator gets the same exit-path guarantees.
 *
 * Per batch, in order:
 *  1. [[BatchTune.adapt]] with the summed committed bytes of the levels;
 *     and, when the batch plus those bytes is under one input split
 *     ([[BatchTune.underOneSplit]]), whole-stage codegen off on the
 *     batch's session until the step returns (see below);
 *  2. [[IndexIO.resume]] on each level — finish (or discard) any
 *     crash-interrupted fold BEFORE the body reads the index;
 *  3. on schedule (`epoch > 0 && epoch % compactEvery == 0`) start one
 *     [[IndexIO.compact]] per level up to `epoch − 1`. Every folded
 *     epoch is committed (this batch is the only possibly-uncommitted
 *     one, so no replay can target a folded epoch), and the fold keeps
 *     the MAX folded id, so the `epoch < current` read filter sees the
 *     same data before and after. The folds run CONCURRENTLY with the
 *     body (guide §2.6) with `gcNow = false`: the subsumed-dir deletes
 *     wait for the next batch's resume, so the body's index reads —
 *     planned against either the pre- or post-fold view, both
 *     content-identical — never lose files mid-job;
 *  4. the body, inside a `try` that starts on the line after the fold
 *     starts; its `finally` unpersists everything the body pinned, THEN
 *     awaits the fold. So no fold outlives the batch that scheduled it
 *     on any exit path — an un-awaited fold could race a replayed
 *     batch's resume or overwrite.
 *
 * Exactly-once: every [[Epoch.write]] targets an explicit `epoch=<id>`
 * subdirectory with a plain overwrite. Epoch is constant within a
 * batch, so this is replay-idempotent exactly like dynamic partition
 * overwrite (the replayed epoch rewrites only its own directory) but
 * without the dynamic commit protocol, whose staging + per-partition
 * moves measured 5-6 s per batch on the bands index. `key=value`
 * naming keeps readers' partition discovery and the epoch prune.
 *
 * Codegen: one fold cycle of an indexed stream touches more distinct
 * generated classes (~120 for [[CleanCorpusStream]]) than Spark's
 * JVM-wide codegen cache holds (`spark.sql.codegen.cache.maxEntries`,
 * a static conf, default 100), so the LRU cache missed on nearly every
 * lookup and each small epoch compiled 68-112 classes with Janino. A
 * batch under one input split never pays back a whole-stage compile
 * (compile only where the work repays it — Kohn, Leis and Neumann,
 * ICDE 2018), so such an epoch, and the folds it starts on the same
 * session, plan without whole-stage codegen. Fewer classes are left
 * (52 per fold cycle for [[NearDupStream]], 82 for
 * [[CleanCorpusStream]]), so a steady-state epoch compiles none or a
 * few: the cache's 4 segments of 25 can still overflow unevenly
 * (`EpochCodegenSpec`). The rule only ever turns codegen off: a batch
 * of one split or more keeps the session's value, and the value the
 * session had is put back on every exit, after the fold is awaited
 * (fold futures plan asynchronously).
 */
private[graft] object IndexedEpoch {

  /** One batch's handle: its session and epoch id, the debug phase
    * timer, the pin list released at epoch end, and the epoch write. */
  final class Epoch private[IndexedEpoch] (val spark: SparkSession,
                                           val id: Long, tag: String) {
    private val dbg = sys.env.contains("SPARK_GRAFT_ND_DEBUG")
    private var tPrev = System.nanoTime()
    private val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Print the wall since the previous mark (`SPARK_GRAFT_ND_DEBUG`). */
    def mark(phase: String): Unit = if (dbg) {
      val t = System.nanoTime()
      println(f"[$tag-debug] epoch=$id $phase%-14s ${(t - tPrev) / 1e9}%6.2fs")
      tPrev = t
    }

    /** Persist `df` until the end of the epoch. */
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist()
      pins += p
      p
    }

    /** Overwrite `path/epoch=<id>`, partitioned by `bucket` if given. */
    def write(df: DataFrame, bucket: Option[String], path: String): Unit = {
      val w = df.write.mode("overwrite")
      bucket.fold(w)(b => w.partitionBy(b)).parquet(s"$path/epoch=$id")
    }

    private[IndexedEpoch] def release(): Unit =
      pins.reverseIterator.foreach(_.unpersist())
  }

  /** Run `body` once per batch of `src` under the protocol above.
    * `levels` are the index levels as (dir, bucket column). */
  def start(src: DataFrame, checkpointDir: String, tag: String,
            levels: Seq[(String, String)], compactEvery: Option[Int])
           (body: (Epoch, DataFrame) => Unit): StreamingQuery = {
    require(compactEvery.forall(_ >= 2), "compactEvery must be >= 2")
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        step(batch, epochId, tag, levels, compactEvery)(body)
      }
      .start()
  }

  /** One batch of [[start]]. */
  private[graft] def step(batch: DataFrame, epochId: Long, tag: String,
                          levels: Seq[(String, String)],
                          compactEvery: Option[Int])
                         (body: (Epoch, DataFrame) => Unit): Unit = {
    val spark = batch.sparkSession
    val indexBytes = levels.map(l => IndexIO.committedBytes(l._1)).sum
    BatchTune.adapt(batch, indexBytes)
    val wholeStage = spark.conf.get(WholeStage)
    if (BatchTune.underOneSplit(batch, indexBytes))
      spark.conf.set(WholeStage, "false")
    try {
      val e = new Epoch(spark, epochId, tag)
      levels.foreach(l => IndexIO.resume(l._1))
      val pendingFold = compactEvery.collect {
        case n if epochId > 0 && epochId % n == 0 =>
          startJobs(spark, levels.map { case (dir, bucketCol) => () =>
            IndexIO.compact(spark, dir, bucketCol, epochId - 1, gcNow = false)
          }: _*)
      }
      try {
        e.mark("compaction")
        body(e, batch)
      } finally {
        try e.release()
        finally pendingFold.foreach(_.await())
        e.mark("fold-await")
      }
    } finally spark.conf.set(WholeStage, wholeStage) // after the fold await
  }

  private val WholeStage = "spark.sql.codegen.wholeStage"

  /** Run independent per-epoch writes as concurrent Spark jobs (they
    * target distinct directories and read only persisted inputs).
    * Each write's cost is dominated by per-file fixed overhead
    * (~15 ms/file), so sequential writes stacked those floors
    * (measured ~2× on a batch's write phase). EVERY write is awaited
    * before this returns — success or failure — so no epoch-dir write
    * can outlive the batch that issued it: the previous fail-fast
    * version left sibling jobs running, and a replayed batch's
    * mode("overwrite") could race a zombie write to the same epoch dir.
    * A crash mid-phase leaves partial epoch dirs the replayed batch
    * overwrites one by one. */
  def parallelWrites(spark: SparkSession, writes: (() => Unit)*): Unit =
    startJobs(spark, writes: _*).await()

  /** Handle to a group of in-flight [[startJobs]] jobs: [[await]] blocks
    * until every one finishes and rethrows the first failure. MUST be
    * awaited before the launching batch returns — an un-awaited job
    * could outlive the batch and race a replayed batch's overwrite. */
  final class PendingJobs private[IndexedEpoch] (
      sc: org.apache.spark.SparkContext, group: String,
      futures: Seq[scala.concurrent.Future[Unit]]) {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    def await(): Unit = {
      val outcomes =
        try futures.map(f => Try(Await.result(f, Duration.Inf)))
        catch {
          case t: Throwable => // interrupted await: kill the in-flight jobs
            sc.cancelJobGroup(group)
            futures.foreach(f =>
              Try(Await.result(f, Duration(60, "s"))): Unit)
            throw t
        }
      outcomes.collectFirst { case Failure(e) =>
        sc.cancelJobGroup(group) // defensive: all futures already completed
        throw e
      }: Unit
    }
  }

  /** Job-group prefix of every [[startJobs]] call. */
  private[graft] val GroupPrefix = "graft-epoch-writes-"

  /** Launch independent jobs as concurrent Spark jobs (guide §2.6 —
    * overlap independent work so one job's stragglers back-fill with the
    * next job's tasks), tagged with a per-call job group so an
    * interrupted await cancels them. Callers must [[PendingJobs.await]]
    * within the same batch. */
  def startJobs(spark: SparkSession, works: (() => Unit)*): PendingJobs = {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = spark.sparkContext
    val group = s"$GroupPrefix${java.util.UUID.randomUUID}"
    val futures = works.map { w =>
      Future {
        sc.setJobGroup(group, "graft parallel epoch writes",
          interruptOnCancel = true)
        try w() finally sc.clearJobGroup()
      }
    }
    new PendingJobs(sc, group, futures)
  }
}
