package graft

import graft.ext.{IndexIO, IndexedEpoch}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/**
 * The shared epoch skeleton ([[IndexedEpoch.step]]) under fault
 * injection: a fold scheduled on two committed epochs must be awaited
 * on every exit path of the body, and every DataFrame the body pinned
 * must be released at epoch end.
 */
class IndexedEpochSpec extends SparkSpec {
  import spark.implicits._

  private def level(): String =
    java.nio.file.Files.createTempDirectory("indexed-epoch").toString

  private def writeEpoch(root: String, e: Long, rows: Seq[(Long, Long)]): Unit =
    rows.toDF("doc_id", "band_hash")
      .withColumn("bp", pmod(col("band_hash"), lit(4L)))
      .repartition(1)
      .write.partitionBy("bp").parquet(s"$root/epoch=$e")

  /** A committed two-epoch level, so epoch 2 with `compactEvery = 2`
    * schedules a fold of epochs 0 and 1. */
  private def twoEpochLevel(): String = {
    val root = level()
    writeEpoch(root, 0L, Seq((1L, 10L), (2L, 21L)))
    writeEpoch(root, 1L, Seq((3L, 32L), (4L, 43L)))
    assert(IndexIO.committedEpochs(root) === Seq(0L, 1L))
    root
  }

  /** A fresh session per step, so the batch width BatchTune sets never
    * reaches the shared test session. */
  private def batch(): DataFrame = spark.newSession().range(4).toDF("x")

  test("a body that throws at once: the error propagates and the fold is awaited") {
    val root = twoEpochLevel()
    // (submission ms, completion ms) of every startJobs-group job
    val started = new ConcurrentHashMap[Int, Long]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith(IndexedEpoch.GroupPrefix)))
          started.put(e.jobId, e.time): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e.time): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val calledAt = System.currentTimeMillis()
      val err = intercept[IllegalStateException] {
        IndexedEpoch.step(batch(), 2L, "spec", Seq(root -> "bp"), Some(2)) {
          (_, _) => throw new IllegalStateException("body failed")
        }
      }
      val returnedAt = System.currentTimeMillis()
      assert(err.getMessage === "body failed")
      assert(IndexIO.committedEpochs(root) === Seq(1L),
        "the fold's pointer must be committed when the step returns")
      // listener delivery is asynchronous: wait for every end event,
      // then compare each fold job's completion time with the return
      val deadline = System.currentTimeMillis() + 30000
      def foldJobs = started.asScala.filter(_._2 >= calledAt).keySet
      while ((foldJobs.isEmpty || !foldJobs.forall(ended.containsKey)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(foldJobs.nonEmpty, "the scheduled fold ran no Spark job")
      val late = foldJobs.filter(id => ended.get(id) > returnedAt)
      assert(late.isEmpty, s"fold jobs $late were still active after the step returned")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a body that succeeds: every pinned DataFrame is unpersisted, the fold committed") {
    val root = twoEpochLevel()
    val out = level()
    var pinned = Seq.empty[DataFrame]
    IndexedEpoch.step(batch(), 2L, "spec", Seq(root -> "bp"), Some(2)) { (e, b) =>
      val cached = e.pin(b)
      val doubled = e.pin(cached.withColumn("y", col("x") * 2))
      assert(doubled.count() === 4L)
      pinned = Seq(cached, doubled)
      assert(pinned.forall(_.storageLevel != StorageLevel.NONE))
      e.write(doubled, None, out)
    }
    assert(pinned.size === 2)
    assert(pinned.forall(_.storageLevel == StorageLevel.NONE),
      "a pinned DataFrame outlived its epoch")
    assert(IndexIO.committedEpochs(root) === Seq(1L))
    assert(spark.read.parquet(s"$out/epoch=2").count() === 4L)
  }
}
