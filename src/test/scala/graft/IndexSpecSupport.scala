package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Helpers shared by the persisted-index specs: choosing the index
  * layout a stream writes, reading an executed plan's index scans, and
  * counting the Spark jobs a piece of planning runs. */
object IndexSpecSupport {

  private val SplitKey = "spark.sql.files.maxPartitionBytes"

  /** Runs `f` with a 256-byte input split, so every epoch and fold an
    * indexed stream started inside `f` writes (and every fold `f` runs
    * itself) is over one split and BUCKETED: no parquet file of a test
    * batch is that small. A stream takes the session's conf when it
    * starts. */
  def bucketed[T](spark: SparkSession)(f: => T): T = {
    spark.conf.set(SplitKey, "256")
    try f finally spark.conf.unset(SplitKey)
  }

  /** Whether the index root `dir` is bucketed (has `<bucket>=<v>`
    * subdirectories) rather than flat. */
  def isBucketed(dir: Path): Boolean = {
    val l = Files.list(dir)
    try l.iterator().asScala.exists(_.getFileName.toString.contains("="))
    finally l.close()
  }

  /** The executed-plan lines of the FileScans over index roots (a
    * live fold's `_fold-` subtree or plain `epoch=` dirs). */
  def indexScans(plan: String): Seq[String] =
    plan.split('\n').toSeq.filter(l =>
      l.contains("FileScan") && (l.contains("_fold-") || l.contains("epoch=")))

  private val PartitionFiltersRe = """PartitionFilters: \[(.*?)(?:\]|\.\.\.)""".r

  /** The `PartitionFilters: [...]` list of one FileScan line (cut
    * where Spark abbreviates it), empty when it has none. */
  private def partitionFilters(scan: String): String =
    PartitionFiltersRe.findFirstMatchIn(scan).map(_.group(1)).getOrElse("")

  /** Whether a FileScan line prunes on `epoch <` and, when given, on
    * the bucket column — both inside its PartitionFilters list. */
  def prunes(scan: String, bucket: Option[String]): Boolean = {
    val pf = partitionFilters(scan)
    pf.contains("isnotnull(epoch") && pf.contains("(epoch") &&
      bucket.forall(b => pf.contains(s"$b#"))
  }

  /** Spark jobs started while `f` ran. Listener delivery is
    * asynchronous, so a sentinel job runs after `f` and the count waits
    * for its start event: one listener sees events in posting order,
    * so by then every job `f` started has been delivered. */
  def jobsOf[T](spark: SparkSession)(f: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val sentinel = "index-spec-sentinel"
    def description(e: SparkListenerJobStart): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e): Unit
    }
    sc.addSparkListener(listener)
    try {
      val result = f
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.exists(description(_).contains(sentinel)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      val jobs = seen.asScala.toSeq.takeWhile(!description(_).contains(sentinel))
      assert(jobs.size < seen.size, "the sentinel job's start event never arrived")
      (result, jobs)
    } finally sc.removeSparkListener(listener)
  }
}
