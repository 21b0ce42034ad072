package graft

import graft.IndexSpecSupport.{bucketed, indexScans, isBucketed, jobsOf, prunes}
import graft.ext.SemanticDedupStream
import org.apache.spark.sql.functions._

/** Contracts of the streaming semantic (embedding-cosine) dedup filter
  * the DuckDB oracle can't reach: crash-replay idempotence of the
  * epoch-partitioned writes, the (epoch, cb)-pruned index read, and
  * compaction content-preservation. The value-level truth (which vecs
  * drop under arrival order at the threshold) is the
  * `stream_semantic_dedup` oracle row. */
class SemanticDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  // deterministic corpus: one-hot embeddings — exact copies are
  // cosine 1 (and share the sign-LSH cluster by construction), distinct
  // one-hots are cosine 0. Arrival = (vec_id % 3, vec_id):
  //   0 arrives batch 0; its copy 1 in batch 1  -> 1 dropped cross-batch
  //   2 and its copy 5 both arrive in batch 2   -> 5 dropped within-batch
  //   3, 4, 6 unique                            -> kept
  private def oneHot(i: Int): Array[Float] =
    Array.tabulate(8)(j => if (j == i % 8) 1.0f else 0.0f)
  private val corpus: Seq[(Long, Array[Float])] = Seq(
    0L -> oneHot(0), 1L -> oneHot(0),
    2L -> oneHot(2), 5L -> oneHot(2),
    3L -> oneHot(3), 4L -> oneHot(4), 6L -> oneHot(6))

  private def mkSlices(root: java.nio.file.Path): Unit = {
    val vecs = corpus.toDF("vec_id", "embedding")
    val base = System.currentTimeMillis() - 10000L
    (0 until 3).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("sd-slice")
      vecs.filter(col("vec_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
        finally l.close()
      }
      val dst = root.resolve(f"slice_$i%02d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L)): Unit
    }
  }

  private def runStream(root: java.nio.file.Path, idx: java.nio.file.Path,
                        out: java.nio.file.Path, ckpt: java.nio.file.Path,
                        compactEvery: Option[Int] = None): Unit = {
    val schema = corpus.toDF("vec_id", "embedding").schema
    val q = SemanticDedupStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(root.toString),
      idx.toString, out.toString, ckpt.toString, threshold = 0.8,
      clusterBits = 4, compactEvery = compactEvery)
    try q.processAllAvailable() finally q.stop()
  }

  private def keptIds(out: java.nio.file.Path): Set[Long] =
    spark.read.parquet(out.toString).select("vec_id").as[Long].collect().toSet

  private def dirs(): (java.nio.file.Path, java.nio.file.Path,
      java.nio.file.Path, java.nio.file.Path) =
    (java.nio.file.Files.createTempDirectory("sd-root"),
      java.nio.file.Files.createTempDirectory("sd-idx"),
      java.nio.file.Files.createTempDirectory("sd-out"),
      java.nio.file.Files.createTempDirectory("sd-ckpt"))

  test("cross-batch + within-batch semantic dedup; first arrival wins; all-seen indexing") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    assert(keptIds(out) === Set(0L, 2L, 3L, 4L, 6L))
    // ALL vecs indexed, kept or dropped (the all-seen contract), once each
    val indexed = graft.ext.IndexIO.readLevel(spark, s"$idx/vecs")
      .groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(indexed.keySet === corpus.map(_._1).toSet)
    assert(indexed.values.forall(_ == 1L))
  }

  test("crash replay: deleting the last commit and restarting changes nothing") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    val before = keptIds(out)
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve("2"))
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".2.crc"))
    runStream(root, idx, out, ckpt)
    assert(keptIds(out) === before)
    val dupIndexed = graft.ext.IndexIO.readLevel(spark, s"$idx/vecs")
      .groupBy("vec_id").count().filter(col("count") =!= 1).count()
    assert(dupIndexed === 0)
  }

  /** The executed plan of vec 1's index drop read against epoch 0. */
  private def dropReadPlan(idx: java.nio.file.Path): String = {
    val batch = corpus.toDF("vec_id", "embedding").filter(col("vec_id") === 1L)
    val q = SemanticDedupStream.quantized(batch, "vec_id", "embedding", 4,
      SemanticDedupStream.ClusterBuckets)
    SemanticDedupStream.indexDropped(spark, s"$idx/vecs", q, 1L, 0.8)
      .queryExecution.executedPlan.toString()
  }

  test("plan: the index drop read is partition-pruned to epoch < e and the batch's cb buckets") {
    val (root, idx, out, ckpt) = dirs()
    val plan = bucketed(spark) {
      mkSlices(root); runStream(root, idx, out, ckpt)
      dropReadPlan(idx)
    }
    assert(isBucketed(idx.resolve("vecs/epoch=0")))
    val scans = indexScans(plan)
    assert(scans.nonEmpty && scans.forall(prunes(_, Some("cb"))),
      s"(epoch, cb) prune missing in:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"cluster join must not broadcast:\n$plan")
  }

  test("plan: a flat index drop read keeps the epoch prune and runs no bucket-list job") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    assert(!isBucketed(idx.resolve("vecs/epoch=0")))
    val (plan, jobs) = jobsOf(spark)(dropReadPlan(idx))
    assert(jobs.isEmpty, s"planning the flat read ran ${jobs.size} job(s)")
    val scans = indexScans(plan)
    assert(scans.nonEmpty && scans.forall(prunes(_, None)) &&
      !scans.exists(prunes(_, Some("cb"))), s"flat read filters in:\n$plan")
  }

  test("scheduled compaction folds epoch dirs; results and replay unchanged") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt, compactEvery = Some(2))
    assert(keptIds(out) === Set(0L, 2L, 3L, 4L, 6L))
    // batch 2 folded epochs 0-1: one fold entry + the batch's own
    assert(graft.ext.IndexIO.committedEpochs(idx.resolve("vecs").toString)
      === Seq(1L, 2L))
    // replay of the last batch lands on the FOLDED layout unchanged
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve("2"))
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".2.crc"))
    runStream(root, idx, out, ckpt, compactEvery = Some(2))
    assert(keptIds(out) === Set(0L, 2L, 3L, 4L, 6L))
  }
}
