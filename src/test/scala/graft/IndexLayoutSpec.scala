package graft

import graft.IndexSpecSupport.{bucketed, indexScans, isBucketed, jobsOf, prunes}
import graft.ext.IndexIO
import graft.log.PathIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/**
 * The two root layouts of an [[IndexIO]] level — FLAT (one file under
 * `epoch=<id>`, the bucket a data column) and BUCKETED (one file per
 * `<bucket>=<v>` dir) — side by side in one level: reads and folds see
 * the same rows as per-root reads, `readBefore` prunes buckets only
 * where a root is bucketed, and an in-flight fold-pointer publish is
 * never read as a commit.
 */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val like = Seq((0L, 0L, 0L)).toDF("doc_id", "band_hash", "bp")

  private def rowsOf(e: Int): DataFrame =
    (0L until 6L).map(i => (100L * e + i, i * 7L + e, (i * 7L + e) % 4))
      .toDF("doc_id", "band_hash", "bp")

  private def writeFlat(root: String, e: Int): Unit =
    rowsOf(e).coalesce(1).write.parquet(s"$root/epoch=$e")

  private def writeBucketed(root: String, e: Int, bucket: String = "bp"): Unit =
    rowsOf(e).withColumnRenamed("bp", bucket).repartition(col(bucket))
      .write.partitionBy(bucket).parquet(s"$root/epoch=$e")

  private def rows(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("doc_id"), col("band_hash"), col("bp").cast("long"),
        col("epoch").cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet

  /** Flat plain epochs 0-1 folded flat (epoch 1), a bucketed plain
    * epoch 2 and a flat plain epoch 3. */
  private def mixedLevel(): Path = {
    val root = Files.createTempDirectory("idx-layout")
    (0 to 1).foreach(writeFlat(root.toString, _))
    IndexIO.compact(spark, root.toString, "bp", upToEpoch = 1L)
    writeBucketed(root.toString, 2)
    writeFlat(root.toString, 3)
    assert(IndexIO.committedEpochs(root.toString) === Seq(1L, 2L, 3L))
    assert(!isBucketed(root.resolve("_fold-1-0/epoch=1")))
    assert(isBucketed(root.resolve("epoch=2")) && !isBucketed(root.resolve("epoch=3")))
    root
  }

  /** Each committed root read alone by Spark's own discovery. */
  private def perRoot(root: Path): Set[(Long, Long, Long, Long)] =
    Seq(s"$root/_fold-1-0" -> "epoch=1", s"$root" -> "epoch=2", s"$root" -> "epoch=3")
      .map { case (base, dir) => rows(spark.read.option("basePath", base).parquet(s"$base/$dir")) }
      .reduce(_ ++ _)

  test("a level of flat plain roots, a bucketed plain root and a flat fold reads what each root holds") {
    val root = mixedLevel()
    val want = perRoot(root)
    assert(want.size === 24)
    assert(rows(IndexIO.read(spark, root.toString, like)) === want)
    assert(rows(IndexIO.readLevel(spark, root.toString)) === want)
    assert(IndexIO.read(spark, root.toString, like).count() === 24L)
  }

  test("a fold of a mixed level commits the same rows, written flat or bucketed") {
    for (asBucketed <- Seq(false, true)) {
      val root = mixedLevel()
      val want = perRoot(root).map { case (id, h, b, _) => (id, h, b, 3L) }
      if (asBucketed) bucketed(spark)(IndexIO.compact(spark, root.toString, "bp", 3L))
      else IndexIO.compact(spark, root.toString, "bp", 3L)
      assert(IndexIO.committedEpochs(root.toString) === Seq(3L))
      assert(isBucketed(root.resolve("_fold-3-1/epoch=3")) === asBucketed)
      assert(rows(IndexIO.readLevel(spark, root.toString)) === want)
      assert(IndexIO.readLevel(spark, root.toString).count() === 24L)
    }
  }

  test("bucketed roots of two bucket columns in one level are refused") {
    val root = Files.createTempDirectory("idx-layout-mix").toString
    writeBucketed(root, 0)
    writeBucketed(root, 1, bucket = "sb")
    val err = intercept[IllegalArgumentException](IndexIO.read(spark, root, like))
    assert(err.getMessage.contains("mix partition layouts"))
  }

  /** `readBefore(epoch 3)` of the mixed level with bucket list `bps`:
    * (rows, index FileScan lines, jobs run while planning). */
  private def readBefore(root: Path, bps: Seq[Long]) = {
    val buckets = spark.range(bps.size).select(
      element_at(typedLit(bps), (col("id") + 1).cast("int")).as("bp"))
    val (df, jobs) = jobsOf(spark) {
      val df = IndexIO.readBefore(spark, root.toString, like, 3L, "bp", buckets)
      df.queryExecution.executedPlan
      df
    }
    (rows(df), indexScans(df.queryExecution.executedPlan.toString()), jobs)
  }

  test("readBefore prunes buckets on bucketed roots only and collects the bucket list only for them") {
    val root = mixedLevel()
    val all = perRoot(root)
    val (got, scans, jobs) = readBefore(root, Seq(1L, 2L))
    // flat roots read whole, the bucketed root only its listed buckets
    assert(got === all.filter(r => r._4 < 3L && (r._4 != 2L || Set(1L, 2L)(r._3))))
    // one scan per (basePath, layout) group: flat plain, bucketed plain, fold
    assert(scans.size === 3, scans)
    assert(scans.count(prunes(_, Some("bp"))) === 1 && scans.forall(prunes(_, None)), scans)
    assert(jobs.nonEmpty, "the bucket list of a bucketed root was not collected")
    // an empty list reads nothing from bucketed roots, flat roots whole
    val (none, _, _) = readBefore(root, Nil)
    assert(none === all.filter(r => r._4 == 1L))
    // a flat-only level plans without collecting the list
    val flat = Files.createTempDirectory("idx-flat")
    (0 to 1).foreach(writeFlat(flat.toString, _))
    val (flatRows, flatScans, flatJobs) = readBefore(flat, Seq(1L))
    assert(flatRows.map(_._4) === Set(0L, 1L) && flatRows.size === 12)
    assert(flatScans.nonEmpty && !flatScans.exists(prunes(_, Some("bp"))), flatScans)
    assert(flatJobs.isEmpty, s"a flat-only level ran ${flatJobs.size} job(s)")
  }

  test("a fold-pointer publish tmp is not a commit: reads see the committed view, resume sweeps it") {
    for (committed <- Seq(false, true)) {
      val root = Files.createTempDirectory("idx-ptr-tmp")
      (0 to 1).foreach(writeFlat(root.toString, _))
      if (committed) IndexIO.compact(spark, root.toString, "bp", upToEpoch = 1L)
      val before = rows(IndexIO.read(spark, root.toString, like))
      // what PathIO.atomicCreate leaves between its tmp write and its
      // publish — or after a crash there
      val tmp = root.resolve(s"_live-1-${if (committed) 1 else 0}.tmp.${java.util.UUID.randomUUID}")
      Files.write(tmp, "_fold-x".getBytes("UTF-8"))
      assert(IndexIO.committedEpochs(root.toString) ===
        (if (committed) Seq(1L) else Seq(0L, 1L)))
      assert(rows(IndexIO.read(spark, root.toString, like)) === before)
      assert(IndexIO.committedBytes(root.toString) > 0L)
      IndexIO.resume(root.toString)
      assert(!Files.exists(tmp), s"resume left $tmp")
      val names = {
        val l = Files.list(root)
        try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
      }
      assert(names.count(_.startsWith("_live-")) === (if (committed) 1 else 0), names)
      assert(rows(IndexIO.read(spark, root.toString, like)) === before)
    }
    // the publish itself still leaves no tmp behind
    val root = Files.createTempDirectory("idx-ptr-publish")
    assert(PathIO.atomicCreate(PathIO.path(root.toString, "_live-1-0"), "_fold-1-0".getBytes))
    val l = Files.list(root)
    try assert(l.iterator().asScala.map(_.getFileName.toString).toSeq === Seq("_live-1-0"))
    finally l.close()
  }
}
