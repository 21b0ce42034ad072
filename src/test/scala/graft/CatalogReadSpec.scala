package graft

import graft.ext.IndexIO
import graft.log.{DirectCommitProtocol, PathIO}

import org.apache.spark.sql.functions._

import java.nio.file.Files

/**
 * The manifest-catalog read branch of [[IndexIO.read]]
 * ([[graft.ext.CatalogFileIndex]]): on object-store levels whose epoch
 * dirs carry direct-commit manifests, reads plan from the recorded
 * file sets — ZERO directory LISTs beyond the level-dir view, full
 * partition pruning — and return exactly what listing discovery
 * returns. A stock-committed (local/HDFS) root has no manifest and is
 * walked on the driver; a mixed level plans from both.
 */
class CatalogReadSpec extends SparkSpec {
  MockS3FileSystem.register(SparkSpec.session.sparkContext.hadoopConfiguration)
  import spark.implicits._
  private val Ops = MockS3FileSystem.Ops

  private def mkLevel(root: String, epochs: Int): Unit =
    (0 until epochs).foreach { e =>
      (0L until 16L).map(i => (100L * e + i, i * 7L, i % 4))
        .toDF("doc_id", "band_hash", "bp")
        .repartition(col("bp"))
        .write.partitionBy("bp").mode("overwrite").parquet(s"$root/epoch=$e")
    }

  private val like = Seq((0L, 0L, 0L)).toDF("doc_id", "band_hash", "bp")

  test("catalog read equals listing read, with LIST flat at one per view") {
    val root = s"${MockS3FileSystem.Scheme}:" +
      Files.createTempDirectory("cat-eq")
    mkLevel(root.toString, 3)
    // every epoch dir carries a direct-commit manifest
    (0 until 3).foreach { e =>
      assert(DirectCommitProtocol.readManifest(s"$root/epoch=$e").exists(_.nonEmpty))
    }
    Ops.reset()
    val got = IndexIO.read(spark, root.toString, like)
      .select("doc_id", "epoch", "bp").as[(Long, Long, Long)].collect().toSet
    val d = Ops.snapshot()
    assert(d("list") <= 2L,
      s"catalog read must not LIST per epoch/bucket: ${Ops.render(d)}")
    val want = (0 until 3).flatMap(e =>
      (0L until 16L).map(i => (100L * e + i, e.toLong, i % 4))).toSet
    assert(got === want)
  }

  test("partition pruning: epoch< and bucket-isin land as PartitionFilters and shrink the scanned file set") {
    val root = s"${MockS3FileSystem.Scheme}:" +
      Files.createTempDirectory("cat-prune")
    mkLevel(root.toString, 3)
    val df = IndexIO.read(spark, root.toString, like)
      .filter(col("epoch") < 2 && col("bp").isin(1L, 2L))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: ["), s"no partition filters in:\n$plan")
    assert(df.select("doc_id").as[Long].collect().toSet ===
      (0 until 2).flatMap(e => (0L until 16L).filter(i => i % 4 == 1 || i % 4 == 2)
        .map(100L * e + _)).toSet)
    val scanned: Seq[String] =
      df.queryExecution.executedPlan.collectLeaves().flatMap {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
            .flatMap(_.files.map(_.getPath.toString))
        case _ => Nil
      }
    assert(scanned.nonEmpty &&
      scanned.forall(p => (p.contains("epoch=0") || p.contains("epoch=1")) &&
        (p.contains("bp=1") || p.contains("bp=2"))),
      s"scan touched unpruned files: $scanned")
  }

  test("fold (pointer commit) keeps the catalog branch; read equals pre-fold") {
    val root = s"${MockS3FileSystem.Scheme}:" +
      Files.createTempDirectory("cat-fold")
    mkLevel(root.toString, 3)
    val before = IndexIO.read(spark, root.toString, like)
      .select("doc_id", "epoch", "bp").as[(Long, Long, Long)].collect()
      .map { case (id, _, b) => (id, b) }.toSet // fold rewrites epoch to the max
    IndexIO.compact(spark, root.toString, "bp", upToEpoch = 2L)
    Ops.reset()
    val after = IndexIO.read(spark, root.toString, like)
      .select("doc_id", "epoch", "bp").as[(Long, Long, Long)].collect()
    val d = Ops.snapshot()
    assert(d("list") <= 2L, s"post-fold read must stay catalog-planned: ${Ops.render(d)}")
    assert(after.map { case (id, _, b) => (id, b) }.toSet === before)
    assert(after.forall(_._2 == 2L), "folded entries carry the fold-point epoch")
  }

  test("a stock-committed root (no manifest) is walked on the driver: same rows") {
    val root = s"${MockS3FileSystem.Scheme}:" +
      Files.createTempDirectory("cat-mixed")
    mkLevel(root.toString, 2)
    // erase one root's manifest body (a stock committer's empty marker)
    PathIO.write(PathIO.path(s"$root/epoch=1", "_SUCCESS"), Array.emptyByteArray)
    val got = IndexIO.read(spark, root.toString, like)
      .select("doc_id", "epoch", "bp").as[(Long, Long, Long)].collect().toSet
    val want = (0 until 2).flatMap(e =>
      (0L until 16L).map(i => (100L * e + i, e.toLong, i % 4))).toSet
    assert(got === want)
  }
}
