package graft

import graft.ext.IndexIO
import graft.log.DirectCommitProtocol

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/**
 * How [[IndexIO]] plans a persisted-index read on a stock-committed
 * (local) level: from the committed file set it already knows, with no
 * Spark job at planning — no parallel-listing job, no footer
 * schema-inference job — and with exactly the rows Spark's own
 * discovery returns for the same roots.
 */
class IndexReadPlanSpec extends SparkSpec {
  import spark.implicits._

  private val like = Seq((0L, 0L, 0L)).toDF("doc_id", "band_hash", "bp")

  private def writeEpoch(root: String, e: Int, rows: Long = 12L): Unit =
    (0L until rows).map(i => (100L * e + i, i * 7L, i % 4))
      .toDF("doc_id", "band_hash", "bp")
      .repartition(col("bp"))
      .write.partitionBy("bp").mode("overwrite").parquet(s"$root/epoch=$e")

  /** A committed fold over epochs 0-1, plain epochs 2 and 3, stock
    * `_SUCCESS` markers, and a leftover `_temporary/` inside epoch 3
    * holding a file no parquet reader accepts. */
  private def level(): String = {
    val root = Files.createTempDirectory("idx-plan").toString
    (0 to 1).foreach(writeEpoch(root, _))
    IndexIO.compact(spark, root, "bp", upToEpoch = 1L)
    (2 to 3).foreach(writeEpoch(root, _))
    val tmp = Path.of(root, "epoch=3", "_temporary", "0", "bp=1")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("part-00000-partial.snappy.parquet"), Array[Byte](1, 2, 3))
    assert(IndexIO.committedEpochs(root) === Seq(1L, 2L, 3L))
    Seq(s"$root/_fold-1-0/epoch=1", s"$root/epoch=2", s"$root/epoch=3").foreach { r =>
      assert(DirectCommitProtocol.readManifest(r).isEmpty, s"$r is not stock-committed")
    }
    root
  }

  /** Spark jobs started while `f` ran. Listener delivery is
    * asynchronous, so a sentinel job runs after `f` and the count waits
    * for its start event: one listener sees events in posting order,
    * so by then every job `f` started has been delivered. */
  private def jobsOf[T](f: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val sentinel = "index-read-plan-sentinel"
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

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select(col("doc_id"), col("band_hash"), col("epoch").cast("long"), col("bp").cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted

  test("building and planning IndexIO.read launches no Spark job") {
    val root = level()
    val (plan, jobs) = jobsOf {
      IndexIO.read(spark, root, like)
        .filter(col("epoch") < 3L && col("bp").isin(1L, 2L))
        .queryExecution.executedPlan.toString()
    }
    assert(jobs.isEmpty, s"planning the read ran ${jobs.size} Spark job(s)")
    assert(plan.contains("PartitionFilters: [isnotnull(epoch"), plan)
  }

  test("the read returns exactly what Spark's discovery reads from the same roots") {
    val root = level()
    val got = IndexIO.read(spark, root, like)
    assert(got.schema("epoch").nullable && got.schema("bp").nullable)
    val want = spark.read.option("basePath", root)
      .parquet(s"$root/epoch=2", s"$root/epoch=3")
      .unionByName(spark.read.option("basePath", s"$root/_fold-1-0")
        .parquet(s"$root/_fold-1-0/epoch=1"))
    assert(rows(got).size == 48)
    assert(rows(got) === rows(want))
    assert(rows(IndexIO.readLevel(spark, root)) === rows(want))
  }

  test("IndexIO.compact launches only its write job") {
    val root = level()
    val before = rows(IndexIO.read(spark, root, like)).map(r => (r._1, r._2, r._4))
    val (_, jobs) = jobsOf(IndexIO.compact(spark, root, "bp", upToEpoch = 3L))
    // every job the fold ran belongs to ONE SQL execution, the write's —
    // a listing or schema-inference job runs outside any execution
    val execs = jobs.map(j => Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    assert(jobs.nonEmpty && execs.forall(_.isDefined) && execs.distinct.size == 1,
      s"fold jobs outside the write's execution: $execs")
    assert(IndexIO.committedEpochs(root) === Seq(3L))
    val after = rows(IndexIO.read(spark, root, like))
    assert(after.forall(_._3 == 3L))
    assert(after.map(r => (r._1, r._2, r._4)) === before)
  }

  test("data-less epochs read empty and fold into an empty commit") {
    val root = Files.createTempDirectory("idx-empty").toString
    (0 to 1).foreach(writeEpoch(root, _, rows = 0L))
    assert(IndexIO.read(spark, root, like).count() == 0L)
    assert(IndexIO.readLevel(spark, root).count() == 0L)
    IndexIO.compact(spark, root, "bp", upToEpoch = 1L)
    assert(IndexIO.committedEpochs(root) === Seq(1L))
    assert(IndexIO.read(spark, root, like).count() == 0L)
    // a data epoch folded together with the empty fold keeps its rows
    writeEpoch(root, 2)
    IndexIO.compact(spark, root, "bp", upToEpoch = 2L)
    assert(IndexIO.committedEpochs(root) === Seq(2L))
    assert(rows(IndexIO.read(spark, root, like)) ===
      (0L until 12L).map(i => (200L + i, i * 7L, 2L, i % 4)).sorted)
  }
}
