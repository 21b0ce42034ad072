package graft

import graft.ext.{IndexIO, IndexedEpoch}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/**
 * The shared epoch skeleton ([[IndexedEpoch.step]]) under fault
 * injection: a fold scheduled on two committed epochs must be awaited
 * on every exit path of the body, and every DataFrame the body pinned
 * must be released at epoch end. An epoch under one input split plans
 * without whole-stage codegen, and the caller's session gets its own
 * value back on every exit.
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

  private val WholeStage = "spark.sql.codegen.wholeStage"

  /** (the session's whole-stage setting, whether a filter-project over
    * the batch plans a whole-stage codegen stage), seen inside `step`. */
  private def codegenInStep(b: DataFrame,
                            levels: Seq[(String, String)] = Nil): (String, Boolean) = {
    var seen: (String, Boolean) = null
    IndexedEpoch.step(b, 2L, "spec", levels, None) { (e, batch) =>
      val plan = batch.filter(col("x") > 1).select(col("x") * 2)
        .queryExecution.executedPlan
      seen = (e.spark.conf.get(WholeStage),
        plan.exists(_.isInstanceOf[WholeStageCodegenExec]))
    }
    seen
  }

  test("a small epoch plans without whole-stage codegen; the session's value is back after") {
    val b = batch()
    assert(b.sparkSession.conf.get(WholeStage) === "true")
    assert(codegenInStep(b) === ("false", false))
    assert(b.sparkSession.conf.get(WholeStage) === "true")
  }

  test("an epoch of one input split or more keeps the session's whole-stage codegen") {
    // range(4): a 32-byte batch over a 16-byte split
    val b = batch()
    b.sparkSession.conf.set("spark.sql.files.maxPartitionBytes", "16")
    assert(codegenInStep(b) === ("true", true))
    // the batch alone is under one split; the level's committed bytes
    // push the epoch's input to it
    val root = twoEpochLevel()
    val b2 = batch()
    b2.sparkSession.conf.set("spark.sql.files.maxPartitionBytes",
      IndexIO.committedBytes(root).toString)
    assert(codegenInStep(b2, Seq(root -> "bp")) === ("true", true))
    assert(b2.sparkSession.conf.get(WholeStage) === "true")
  }

  test("a caller session with whole-stage codegen off keeps it off") {
    val small = batch()
    small.sparkSession.conf.set(WholeStage, "false")
    assert(codegenInStep(small) === ("false", false))
    val large = batch()
    large.sparkSession.conf.set(WholeStage, "false")
    large.sparkSession.conf.set("spark.sql.files.maxPartitionBytes", "16")
    assert(codegenInStep(large) === ("false", false))
    assert(Seq(small, large).forall(_.sparkSession.conf.get(WholeStage) == "false"))
  }

  test("step gives the caller's whole-stage setting back when the body succeeds and when it throws") {
    for (value <- Seq("true", "false")) {
      val ok = batch()
      ok.sparkSession.conf.set(WholeStage, value)
      IndexedEpoch.step(ok, 2L, "spec", Seq(twoEpochLevel() -> "bp"), Some(2)) {
        (_, b) => assert(b.count() === 4L)
      }
      assert(ok.sparkSession.conf.get(WholeStage) === value)
      val failing = batch()
      failing.sparkSession.conf.set(WholeStage, value)
      intercept[IllegalStateException] {
        IndexedEpoch.step(failing, 2L, "spec", Seq(twoEpochLevel() -> "bp"), Some(2)) {
          (_, _) => throw new IllegalStateException("body failed")
        }
      }
      assert(failing.sparkSession.conf.get(WholeStage) === value)
    }
    assert(spark.conf.get(WholeStage) === "true")
  }

  /** The executed plan of every write `step` runs for a fold scheduled
    * on a committed two-epoch level, with an empty body. */
  private def foldWritePlans(b: DataFrame): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    b.sparkSession.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    IndexedEpoch.step(b, 2L, "spec", Seq(twoEpochLevel() -> "bp"), Some(2)) {
      (_, _) => ()
    }
    // listener delivery is asynchronous
    def writes = plans.asScala.filter(_.contains("InsertIntoHadoopFsRelationCommand")).toSeq
    val deadline = System.currentTimeMillis() + 30000
    while (writes.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(writes.nonEmpty, "the scheduled fold wrote nothing")
    writes
  }

  test("the fold a small epoch starts plans without whole-stage codegen") {
    // whole-stage stages print as `*(<id>) <operator>`
    assert(!foldWritePlans(batch()).exists(_.contains("*(")))
    val large = batch()
    large.sparkSession.conf.set("spark.sql.files.maxPartitionBytes", "16")
    assert(foldWritePlans(large).exists(_.contains("*(")))
  }
}
