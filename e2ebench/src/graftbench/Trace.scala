package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, as seen from the benchmark: wall-clock
  * interval (ms, comparable with listener event times), monotonic
  * duration, the enclosing span, the net files it left on disk, and
  * the time the benchmark's own directory walks took inside the
  * interval (the walks of the spans below it). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Long, endMs: Long, durNs: Long,
                      filesCreated: Long, walkNs: Long) {
  /** Wall time of the interval without the benchmark's walks. */
  def wallMs: Double = (durNs - walkNs) / 1e6
}

/** Spans around the benchmark's own calls into each layer. Kept in
  * memory, written out when the run ends. When disabled, `span` is a
  * plain call. Each span walks the data directory before and after its
  * interval to count files; that walk time is charged to the enclosing
  * span's `walkNs`, so no span counts the benchmark's walks as its own. */
final class Tracer(val runId: String, fileCount: () => Long) {
  @volatile var enabled = false
  val spans = ArrayBuffer[Span]()
  /** open spans, innermost first: id and walk time inside it so far */
  private var stack = List.empty[(Int, Array[Long])]
  private var nextId = 0

  private def timedCount(): (Long, Long) = {
    val t = System.nanoTime()
    val n = fileCount()
    (n, System.nanoTime() - t)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val (f0, walk0) = timedCount()
      val walk = Array(0L)
      stack = (id, walk) :: stack
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try f
      finally {
        val ns1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        stack = stack.tail
        val (f1, walk1) = timedCount()
        stack.headOption.foreach(_._2(0) += walk(0) + walk0 + walk1)
        spans += Span(id, name, parent, runId, ms0, ms1, ns1 - ns0, f1 - f0, walk(0))
      }
    }
}

/** Counts from Spark's own listener channels: jobs with their
  * intervals, per-job task totals, streaming progress, and files read by
  * each file scan. Every event of the run is kept, with the time it
  * happened rather than the time the listener bus delivered it. After
  * the run jobs and scans are attributed to spans by that time and
  * streaming progress by batch id, so listener-bus delay does not
  * matter. */
final class Ledger(spark: SparkSession) {
  final class JobRec(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val tasks = new AtomicLong
    val taskMs = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val bytesWritten = new AtomicLong
  }
  final case class Scan(timeMs: Long, roots: Seq[String], filesRead: Long,
                        filesTotal: Long)

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val progress = new ConcurrentHashMap[Long, Map[String, Long]]()
  val scans = new java.util.concurrent.ConcurrentLinkedQueue[Scan]()
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new JobRec(e.jobId, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
      lastEventMs.set(System.currentTimeMillis())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      lastEventMs.set(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        j.tasks.incrementAndGet()
        j.taskMs.addAndGet(m.executorRunTime)
        j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        j.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        lastEventMs.set(System.currentTimeMillis())
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        progress.put(e.progress.batchId, d.toMap + ("inputRows" -> e.progress.numInputRows))
      }
  }

  private val execListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    /** A scan is timed by the end of its query's last planning phase,
      * which the action that runs it triggers. */
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.values.map(_.endTimeMs).maxOption.foreach { at =>
        try collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
          .foreach { s =>
            val read = s.metrics.get("numFiles").map(_.value).getOrElse(-1L)
            val total = s.relation.location.inputFiles.length.toLong
            scans.add(Scan(at, s.relation.location.rootPaths.map(_.toString), read, total))
          }
        catch { case _: Exception => () }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)
  spark.listenerManager.register(execListener)

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment (at most `maxMs`). */
  def drain(maxMs: Long = 15000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def busy = jobs.values.asScala.exists(_.endMs < 0) ||
      System.currentTimeMillis() - lastEventMs.get < 500
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.startMs)

  /** Milliseconds of [from, to] covered by at least one job. */
  def coveredMs(from: Long, to: Long): Long = {
    val iv = allJobs.map(j => (math.max(j.startMs, from),
      math.min(if (j.endMs < 0) to else j.endMs, to))).filter(x => x._1 < x._2)
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Per-span totals once the run is over: each job goes to the
  * innermost span open when it started. */
final class Attribution(spans: Seq[Span], ledger: Ledger) {
  final case class Totals(jobs: Long, tasks: Long, taskMs: Long,
                          shuffleBytes: Long, spillBytes: Long,
                          bytesWritten: Long, driverMs: Long)

  private val byStart = spans.sortBy(s => (s.startMs, s.id))
  private val owner: Map[Int, Seq[ledger.JobRec]] = ledger.allJobs.flatMap { j =>
    byStart.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      .lastOption.map(_.id -> j)
  }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  /** Jobs of the span and all spans below it. */
  private def jobsUnder(s: Span): Seq[ledger.JobRec] =
    owner.getOrElse(s.id, Nil) ++ children.getOrElse(s.id, Nil).flatMap(jobsUnder)

  def totals(s: Span): Totals = {
    val js = jobsUnder(s)
    Totals(js.size.toLong, js.map(_.tasks.get).sum, js.map(_.taskMs.get).sum,
      js.map(_.shuffleWrite.get).sum, js.map(_.spill.get).sum,
      js.map(_.bytesWritten.get).sum,
      math.round(s.endMs - s.startMs - s.walkNs / 1e6) -
        ledger.coveredMs(s.startMs, s.endMs))
  }

  /** Files read over files present, summed over the scans under any of
    * `spans` whose root lies below `dir`. */
  def filesReadRatio(of: Seq[Span], dir: String): Option[Double] = {
    val sc = ledger.scans.asScala.toSeq.filter(x =>
      x.roots.exists(_.contains(dir)) && x.filesRead >= 0 &&
        of.exists(s => s.startMs <= x.timeMs && x.timeMs <= s.endMs))
    val total = sc.map(_.filesTotal).sum
    if (total == 0) None else Some(sc.map(_.filesRead).sum.toDouble / total)
  }
}
