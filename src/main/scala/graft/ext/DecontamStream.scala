package graft.ext

import graft.log.PathIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming eval-set decontamination against a GROWING eval index —
 * the continuous form of [[TextOps.decontaminate]]. The batch operator
 * assumes a fixed eval set; in production both sides move: benchmark
 * suites gain test sets over time, and every corpus batch must be
 * screened against every eval document RECEIVED SO FAR. One mixed
 * stream carries both kinds (rows flagged by `evalFlagCol` — eval-set
 * updates ride the same ingest as data, so their relative order is
 * well-defined), and the eval n-gram postings persist in an
 * epoch-partitioned index like the other streaming-dedup levels.
 *
 * Semantics (arrival-ordered, SQL-expressible): a corpus document is
 * dropped iff it shares ≥ `minShared` distinct n-gram shingles with
 * the union of eval documents of its OWN batch or any earlier batch
 * (eval-first within a batch: an eval doc and a corpus doc arriving
 * together DO contaminate — the conservative reading). Later eval
 * arrivals do NOT retroactively drop already-kept output — retroactive
 * screening is a batch re-run of [[TextOps.decontaminate]] over the
 * kept output, by design (an exactly-once sink cannot unwrite).
 *
 * Scale design — deliberately DIFFERENT from the other streaming
 * indexes: eval sets are KBs-to-MBs against a TB corpus, so the whole
 * `epoch < current` index slice is read and BROADCAST (the batch
 * operator's posture: the corpus is never shuffled; the contamination
 * join is map-side, and only hits reach the per-doc aggregation).
 * That contract is GUARDED, not assumed: every batch counts the
 * posting slice (one cheap job over the index it reads anyway — the
 * same pass also answers "did this batch carry eval rows", replacing
 * the former per-batch `limit(1).count()`), and past
 * `evalBroadcastCap` rows the join falls back to a shuffle-hash join
 * (eval still the build side) instead of forcing a broadcast the
 * driver can't hold. The (epoch, eb) partitioning (flat, one file per
 * epoch, while an epoch is under one input split — [[IndexIO]]
 * layouts) exists to bound per-epoch file counts and to reuse
 * [[IndexIO.compact]]/[[NearDupStream.rebucket]]
 * verbatim — not for read pruning, which a broadcast-small side does
 * not need. The index stores DISTINCT shingle hashes only (8 bytes
 * each, no eval ids): existence is what contamination needs, and
 * cross-epoch duplicates collapse in the per-batch distinct.
 *
 * Exactly-once: kept output and index writes target explicit
 * `epoch=<id>` dirs with plain overwrite; reads filter
 * `epoch < current` (a replayed batch re-derives its own eval
 * postings from the batch itself) — the [[IndexedEpoch]] protocol.
 */
object DecontamStream {

  /** Eval-postings partition fanout — bounds per-epoch file count
    * (eval batches are small; 16 × ~15 ms/file per epoch). */
  val EvalBuckets = 16

  /** Distinct (shingle_h, eb) postings of an eval slice. */
  private[graft] def evalPostings(evals: DataFrame, textCol: String,
                                  n: Int, evalBuckets: Int): DataFrame =
    evals.select(explode(graft.functions.Sketch.shingle_hashes(
        col(textCol), n, distinct = true)).as("shingle_h"))
      .distinct()
      .withColumn("eb", pmod(col("shingle_h"), lit(evalBuckets.toLong)))

  /** Default [[run]] `evalBroadcastCap`: 10M distinct 8-byte shingle
    * hashes ≈ 80 MB raw, a few hundred MB as a broadcast hash relation —
    * comfortably inside executor memory, far above any real eval suite
    * (which is the contract; the cap exists so outgrowing it degrades
    * to a shuffle join instead of an opaque broadcast OOM). */
  val DefaultEvalBroadcastCap = 10_000_000L

  /** Contaminated corpus ids for one batch: corpus postings joined
    * against the union of the persisted eval index (`epoch < epoch`)
    * and the batch's own eval postings — BROADCAST while the posting
    * count (pre-counted by the caller) is within `broadcastOk`, else a
    * shuffle-hash join with eval still the build side. Exposed for the
    * plan gates (broadcast + epoch prune; fallback = shuffle shape). */
  private[graft] def contaminatedIds(spark: SparkSession, ngramsDir: String,
                                     corpus: DataFrame, newEval: DataFrame,
                                     epoch: Long, n: Int, minShared: Long,
                                     idCol: String, textCol: String,
                                     broadcastOk: Boolean = true): DataFrame = {
    val idx = IndexIO.read(spark, ngramsDir, newEval)
      .filter(col("epoch") < epoch).select("shingle_h")
    val evalAll = idx.unionByName(newEval.select("shingle_h")).distinct()
    val evalSide = if (broadcastOk) broadcast(evalAll)
      else evalAll.hint("shuffle_hash")
    corpus.select(col(idCol).as("doc_id"),
        explode(graft.functions.Sketch.shingle_hashes(col(textCol), n,
          distinct = true)).as("shingle_h"))
      .join(evalSide, Seq("shingle_h"))
      .groupBy("doc_id")
      .agg(countDistinct("shingle_h").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id").as("dropped_id"))
  }

  /** One pre-pass over the (tiny by contract) eval side: the persisted
    * slice's row count and the batch's own posting count — feeds the
    * broadcast guard AND the "did this batch carry eval rows" decision,
    * so no separate emptiness job runs per batch. */
  private def evalCounts(spark: SparkSession, ngramsDir: String,
                         newEval: DataFrame, epoch: Long): (Long, Long) = {
    val idxCount = IndexIO.read(spark, ngramsDir, newEval)
      .filter(col("epoch") < epoch).count()
    (idxCount, newEval.count())
  }

  /**
   * RETROACTIVE decontamination — the batch re-run the no-retroaction
   * contract points at, as a real verb: re-screen a stream's KEPT
   * output (epoch-partitioned dirs under `outDir`) against the FULL
   * persisted eval index (every epoch — no arrival cutoff) and, with
   * `apply = true`, rewrite each contaminated epoch dir without its
   * newly-contaminated documents. Returns the tombstone list
   * `(doc_id, epoch)` either way.
   *
   * Run OFFLINE (stream stopped — single-writer, like rebucket).
   * Crash-safety is idempotence of the whole verb, not atomicity of
   * any write — and, since round 16, the rewrite is RENAME-FREE: the
   * filtered content is appended DIRECTLY into the live epoch dir
   * under job-unique final names (never colliding with the old files,
   * which are pinned by an explicit list before the write), then the
   * old files are deleted. The previous protocol staged under
   * `outDir/_retro/epoch=<e>` and swapped with deleteTree+move — on an
   * object store that move is a per-object COPY+DELETE of the entire
   * rewritten epoch plus a reader-visible absence window between the
   * delete and the move (verdict r15); here no byte is ever written
   * twice and the dir is never empty. Commit record per epoch, both
   * [[graft.log.PathIO.atomicCreate]]'d at the `outDir` root:
   *  - `_retro_old-<e>` — the pre-rewrite file list (the intent);
   *  - `_retro_done-<e>` — published after the append commits: the old
   *    files are now condemned.
   * [[resumeRetro]] (run at entry) converges every crash window:
   * intent without done = mid-write, delete the partial new files (all
   * old files still present); done = finish deleting the old files,
   * then the markers (done before intent, so an intent-only state with
   * ALL old files absent is the final cleanup tail). A re-run
   * re-derives the same tombstones from whatever content survives.
   * OFFLINE caveat: between a mid-apply crash and the next
   * retroScreen/resume, a rewritten epoch dir can hold old files PLUS
   * committed new files — a reader in that window would double-count
   * the kept subset. That window exists only inside the offline verb's
   * crash state (the pre-r16 staged-dir swap instead had a reader-
   * visible ABSENCE window); resume any crashed retro before handing
   * the output back to consumers.
   * Legacy `_retro/epoch=<e>` stagings from the pre-r16 protocol are
   * still healed on entry with the old move-based finish.
   */
  def retroScreen(spark: SparkSession, outDir: String, indexDir: String,
                  n: Int = 5, minShared: Long = 1L,
                  idCol: String = "doc_id", textCol: String = "text",
                  apply: Boolean = true,
                  evalBroadcastCap: Long = DefaultEvalBroadcastCap): DataFrame = {
    val ngramsDir = s"$indexDir/ngrams"
    resumeRetro(outDir)
    import spark.implicits._
    val out = PathIO.path(outDir)
    val epochs =
      if (!PathIO.exists(out)) Seq.empty
      else PathIO.listDir(out).map(_.getName).filter(_.startsWith("epoch="))
        .map(_.stripPrefix("epoch=").toLong).sorted
    if (epochs.isEmpty) return Seq.empty[(Long, Long)].toDF("doc_id", "epoch")
    val like = Seq.empty[(Long, Long)].toDF("shingle_h", "eb")
    val idx = IndexIO.read(spark, ngramsDir, like).select("shingle_h")
    val broadcastOk = idx.count() <= evalBroadcastCap
    val evalSide = {
      val distinctIdx = idx.distinct()
      if (broadcastOk) broadcast(distinctIdx)
      else distinctIdx.hint("shuffle_hash")
    }
    // tombstones are MATERIALIZED before any rewrite (the screen reads
    // the very dirs apply replaces) — a driver list is fine here:
    // casualties are the eval-overlapping sliver of the kept corpus,
    // the same size class as the eval suites themselves
    val tombRows = TextOps.ensureParallelism(spark.read.parquet(outDir))
      .select(col(idCol).as("doc_id"), col("epoch"),
        explode(graft.functions.Sketch.shingle_hashes(col(textCol), n,
          distinct = true)).as("shingle_h"))
      .join(evalSide, Seq("shingle_h"))
      .groupBy("doc_id", "epoch")
      .agg(countDistinct("shingle_h").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id").as[Long], col("epoch").as[Long])
      .collect().toSeq.sorted
    val tombDf = tombRows.toDF("doc_id", "epoch")
    if (apply && tombRows.nonEmpty) {
      // per-epoch rewrites are independent (each reads its own pinned
      // old-file list, appends into its own dir): run them as
      // CONCURRENT awaited Spark jobs — a broadly-contaminating eval
      // set over a long-lived corpus hits O(epochs) dirs, and a serial
      // loop pays O(epochs) job-latency floors. Same helper (job-group
      // tagged, every write awaited) as the other streaming indexes.
      val idsByEpoch = tombRows.groupBy(_._2)
      val hit = idsByEpoch.keys.toSeq.sorted
      IndexedEpoch.parallelWrites(spark, hit.map { e => () =>
        rewriteEpoch(spark, outDir, e,
          idsByEpoch(e).map(_._1), idCol)
      }: _*)
    }
    tombDf
  }

  private def retroOldMarker(outDir: String, e: Long) =
    PathIO.path(outDir, s"_retro_old-$e")
  private def retroDoneMarker(outDir: String, e: Long) =
    PathIO.path(outDir, s"_retro_done-$e")

  /** Non-underscore (data) file names directly under one epoch dir. */
  private def dataFileNames(dir: org.apache.hadoop.fs.Path): Seq[String] =
    PathIO.listStatusSeq(dir).filter(!_.isDirectory).map(_.getPath.getName)
      .filter(!_.startsWith("_")).sorted

  /** The rename-free per-epoch rewrite (class doc protocol): pin the
    * old file list in the intent marker, append the filtered content
    * into the SAME dir (job-unique names — on object stores via the
    * direct committer, so nothing stages or renames anywhere), publish
    * the done marker, delete the old files, then the markers. */
  private def rewriteEpoch(spark: SparkSession, outDir: String, e: Long,
                           tombIds: Seq[Long], idCol: String): Unit = {
    import spark.implicits._
    val dir = PathIO.path(outDir, s"epoch=$e")
    val old = dataFileNames(dir)
    require(old.nonEmpty, s"retro rewrite of $dir found no data files")
    if (!PathIO.atomicCreate(retroOldMarker(outDir, e),
        old.mkString("\n").getBytes("UTF-8")))
      sys.error(s"retro intent marker already exists for epoch=$e — " +
        "concurrent retroScreen writers detected (run it offline, once)")
    val ids = tombIds.toDF("_tomb_id")
    // the read pins the OLD files explicitly: the append lands new
    // files in the same dir mid-job, and a directory-based read would
    // race its own output
    spark.read.parquet(old.map(n => PathIO.child(dir, n).toString): _*)
      .join(broadcast(ids), col(idCol) === col("_tomb_id"), "left_anti")
      .write.mode("append").parquet(dir.toString)
    if (!PathIO.atomicCreate(retroDoneMarker(outDir, e), Array.emptyByteArray))
      sys.error(s"retro done marker already exists for epoch=$e")
    old.foreach(n => PathIO.deleteIfExists(PathIO.child(dir, n)): Unit)
    PathIO.deleteIfExists(retroDoneMarker(outDir, e)): Unit
    PathIO.deleteIfExists(retroOldMarker(outDir, e)): Unit
  }

  /** Converge a crash-interrupted [[retroScreen]] rewrite (class doc
    * crash windows), plus the legacy staged-dir protocol's leftovers. */
  private def resumeRetro(outDir: String): Unit = {
    val root = PathIO.path(outDir)
    if (!PathIO.exists(root)) return
    val names = PathIO.listDir(root).map(_.getName)
    names.filter(_.startsWith("_retro_old-")).foreach { n =>
      val e = n.stripPrefix("_retro_old-").toLong
      val dir = PathIO.path(outDir, s"epoch=$e")
      val old = PathIO.readLines(retroOldMarker(outDir, e)).filter(_.nonEmpty)
      val present = old.filter(n0 => PathIO.exists(PathIO.child(dir, n0)))
      if (names.contains(s"_retro_done-$e") || present.isEmpty) {
        // append committed (or cleanup tail): condemn the old files
        present.foreach(n0 => PathIO.deleteIfExists(PathIO.child(dir, n0)): Unit)
        PathIO.deleteIfExists(retroDoneMarker(outDir, e)): Unit
        PathIO.deleteIfExists(retroOldMarker(outDir, e)): Unit
      } else if (present.size == old.size) {
        // mid-write crash: the old content is whole; new files are the
        // uncommitted strays — discard them and the intent
        dataFileNames(dir).filterNot(old.contains(_))
          .foreach(n0 => PathIO.deleteIfExists(PathIO.child(dir, n0)): Unit)
        PathIO.deleteIfExists(retroOldMarker(outDir, e)): Unit
      } else sys.error(
        s"retro epoch=$e has a partially-deleted old file set with no " +
          "done marker — unreachable under the single-writer protocol")
    }
    // a done marker can never outlive its intent (deleted first); one
    // STILL PRESENT without its intent is a foreign artifact — refuse
    // loudly rather than guess (the exists() re-checks skip pairs the
    // heal above just consumed, whose names linger in this listing)
    names.filter(_.startsWith("_retro_done-")).foreach { n =>
      val e = n.stripPrefix("_retro_done-").toLong
      if (PathIO.exists(retroDoneMarker(outDir, e)) &&
          !PathIO.exists(retroOldMarker(outDir, e)))
        sys.error(s"orphan retro done marker $n in $outDir")
    }
    // legacy staged-dir protocol (pre-r16): heal exactly as before
    val retroRoot = PathIO.path(outDir, "_retro")
    if (!PathIO.exists(retroRoot)) return
    PathIO.listDir(retroRoot).filter(_.getName.startsWith("epoch=")).foreach { d =>
      if (PathIO.exists(PathIO.child(d, "_SUCCESS"))) {
        val live = PathIO.path(outDir,
          s"epoch=${d.getName.stripPrefix("epoch=")}")
        PathIO.deleteTree(live): Unit
        PathIO.move(d, live)
      } else PathIO.deleteTree(d): Unit
    }
    PathIO.deleteIfExists(retroRoot): Unit // empty once all swaps settle
  }

  /**
   * Run the filter over a mixed stream (`evalFlagCol` boolean column
   * separates eval-set updates from corpus rows; everything else
   * passes through on kept corpus rows). Clean corpus rows land under
   * `outDir` (parquet, epoch-partitioned); the eval n-gram index
   * persists under `indexDir/ngrams`. Returns the running query.
   */
  def run(mixed: DataFrame, indexDir: String, outDir: String,
          checkpointDir: String, n: Int = 5, minShared: Long = 1L,
          idCol: String = "doc_id", textCol: String = "text",
          evalFlagCol: String = "is_eval",
          evalBuckets: Int = EvalBuckets,
          compactEvery: Option[Int] = None,
          evalBroadcastCap: Long = DefaultEvalBroadcastCap): StreamingQuery = {
    require(evalBroadcastCap >= 1, "evalBroadcastCap must be >= 1")
    val ngramsDir = s"$indexDir/ngrams"
    IndexedEpoch.start(mixed, checkpointDir, "dc", Seq(ngramsDir -> "eb"),
        compactEvery) { (e, batch) =>
      val cached = e.pin(batch)
      val corpusB = cached.filter(!col(evalFlagCol)).drop(evalFlagCol)
      val newEval = e.pin(evalPostings(cached.filter(col(evalFlagCol)),
        textCol, n, evalBuckets))
      // one pre-pass over the eval side: broadcast-guard counts AND the
      // has-eval decision (no separate emptiness job)
      val (idxCount, newCount) = evalCounts(e.spark, ngramsDir, newEval, e.id)
      val dropped = contaminatedIds(e.spark, ngramsDir, corpusB, newEval,
        e.id, n, minShared, idCol, textCol,
        broadcastOk = idxCount + newCount <= evalBroadcastCap)
      // eval-less batches (the common case — eval updates are rare) skip
      // the index write entirely: an epoch dir holding only _SUCCESS
      // would poison the index read's schema inference once every dir is
      // empty, and writing nothing is replay-identical (the replayed
      // batch re-derives the same empty posting set)
      IndexedEpoch.parallelWrites(e.spark,
        (Seq(() => e.write(corpusB
          .join(dropped, col(idCol) === col("dropped_id"), "left_anti"),
          None, outDir)) ++
          (if (newCount > 0)
            Seq(() => e.write(newEval, Some("eb"), ngramsDir))
          else Seq.empty)): _*)
    }
  }
}
