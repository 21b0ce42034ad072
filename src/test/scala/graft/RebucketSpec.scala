package graft

import graft.ext.NearDupStream
import org.apache.spark.sql.functions._

/** The index bucket-fanout migration op ([[NearDupStream.rebucket]]):
  * a deployment whose batch size outgrows its index's bucket count
  * folds the index into a new fanout instead of rebuilding it. Gates:
  * content preservation, verdict preservation when the stream resumes
  * with the NEW fanout, and both crash windows of the swap. */
class RebucketSpec extends SparkSpec {
  import spark.implicits._

  private val text0 = "the quick brown fox jumps over the lazy dog tonight"
  private val corpus = Seq(
    (0L, text0),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "completely different content about spark shuffles and parquet files"),
    (3L, "yet another unrelated document mentioning broadcast joins and codegen"))
  // the post-rebucket slice: 4 duplicates 0 (must drop against the
  // REBUCKETED index), 5 is fresh
  private val lateSlice = Seq(
    (4L, text0),
    (5L, "novel words that match nothing seen before in any earlier slice"))

  private def writeSlice(root: java.nio.file.Path, name: String,
                         rows: Seq[(Long, String)], mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("rb-slice")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val part = {
      val l = java.nio.file.Files.list(tmp)
      try l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally l.close()
    }
    val dst = root.resolve(name)
    java.nio.file.Files.move(part, dst)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtime)): Unit
  }

  private def runStream(root: java.nio.file.Path, idx: java.nio.file.Path,
                        out: java.nio.file.Path, ckpt: java.nio.file.Path,
                        bandBuckets: Int, idBuckets: Int): Unit = {
    val schema = corpus.toDF("doc_id", "text").schema
    val q = NearDupStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(root.toString),
      idx.toString, out.toString, ckpt.toString, threshold = 0.8,
      bandBuckets = bandBuckets, idBuckets = idBuckets)
    try q.processAllAvailable() finally q.stop()
  }

  test("64->256 rebucket preserves content and verdicts; stream resumes on the new fanout") {
    val root = java.nio.file.Files.createTempDirectory("rb-root")
    val idx = java.nio.file.Files.createTempDirectory("rb-idx")
    val out = java.nio.file.Files.createTempDirectory("rb-out")
    val ckpt = java.nio.file.Files.createTempDirectory("rb-ckpt")
    val base = System.currentTimeMillis() - 20000L
    // phase 1: two batches at the default fanout (64/32)
    writeSlice(root, "slice_00.parquet", corpus.take(2), base)
    writeSlice(root, "slice_01.parquet", corpus.drop(2), base + 2000L)
    runStream(root, idx, out, ckpt, 64, 32)
    val keptBefore = spark.read.parquet(out.toString)
      .select("doc_id").as[Long].collect().toSet
    assert(keptBefore === Set(0L, 1L, 2L, 3L))
    val bandsBefore = graft.ext.IndexIO.readLevel(spark, s"$idx/bands")
      .select("doc_id", "band_hash").collect().toSet
    // migrate both levels: bands 64->256, shingles 32->128
    NearDupStream.rebucket(spark, s"$idx/bands", "bp", "band_hash", 256)
    NearDupStream.rebucket(spark, s"$idx/shingles", "sb", "doc_id", 128)
    // content identical, single folded entry, buckets under the new rule
    val bands = graft.ext.IndexIO.readLevel(spark, s"$idx/bands")
    assert(bands.select("doc_id", "band_hash").collect().toSet === bandsBefore)
    assert(graft.ext.IndexIO.committedEpochs(s"$idx/bands") === Seq(1L))
    assert(bands.filter(col("bp") =!= pmod(col("band_hash"), lit(256L)))
      .count() === 0)
    assert(graft.ext.IndexIO.readLevel(spark, s"$idx/shingles")
      .filter(col("sb") =!= pmod(col("doc_id"), lit(128L))).count() === 0)
    // phase 2: the stream continues with the NEW fanout — a duplicate
    // of a pre-migration doc must still drop (the prune now targets the
    // rebucketed layout; a stale-fanout prune would miss its bucket)
    writeSlice(root, "slice_02.parquet", lateSlice, base + 4000L)
    runStream(root, idx, out, ckpt, 256, 128)
    val keptAfter = spark.read.parquet(out.toString)
      .select("doc_id").as[Long].collect().toSet
    assert(keptAfter === Set(0L, 1L, 2L, 3L, 5L),
      s"doc 4 must drop against the rebucketed index, got $keptAfter")
  }

  test("semantic vecs level rebuckets on its stored cluster column") {
    // the vecs index stores `cluster` precisely so cb is recomputable;
    // one migration on a real SemanticDedupStream index proves the
    // machinery is level-agnostic (srcCol is the only difference)
    val root = java.nio.file.Files.createTempDirectory("rb-sd-root")
    val idx = java.nio.file.Files.createTempDirectory("rb-sd-idx")
    val out = java.nio.file.Files.createTempDirectory("rb-sd-out")
    val ckpt = java.nio.file.Files.createTempDirectory("rb-sd-ckpt")
    def oneHot(i: Int): Array[Float] =
      Array.tabulate(8)(j => if (j == i % 8) 1.0f else 0.0f)
    val vecs = Seq(0L -> oneHot(0), 1L -> oneHot(1), 2L -> oneHot(2))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("rb-sd-slice")
    vecs.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val part = {
      val l = java.nio.file.Files.list(tmp)
      try l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally l.close()
    }
    java.nio.file.Files.move(part, root.resolve("s0.parquet"))
    val q = graft.ext.SemanticDedupStream.run(
      spark.readStream.schema(vecs.schema).parquet(root.toString),
      idx.toString, out.toString, ckpt.toString, threshold = 0.8,
      clusterBits = 4, clusterBuckets = 8)
    try q.processAllAvailable() finally q.stop()
    val before = graft.ext.IndexIO.readLevel(spark, s"$idx/vecs")
      .select("vec_id", "cluster").collect().toSet
    NearDupStream.rebucket(spark, s"$idx/vecs", "cb", "cluster", 16)
    val after = graft.ext.IndexIO.readLevel(spark, s"$idx/vecs")
    assert(after.select("vec_id", "cluster").collect().toSet === before)
    assert(after.filter(col("cb") =!= pmod(col("cluster"), lit(16L)))
      .count() === 0)
  }

  test("rebucket crash windows: committed pointer heals, uncommitted fold discards (olds intact)") {
    val root = java.nio.file.Files.createTempDirectory("rb-root")
    val idx = java.nio.file.Files.createTempDirectory("rb-idx")
    val out = java.nio.file.Files.createTempDirectory("rb-out")
    val ckpt = java.nio.file.Files.createTempDirectory("rb-ckpt")
    val base = System.currentTimeMillis() - 20000L
    writeSlice(root, "slice_00.parquet", corpus.take(2), base)
    writeSlice(root, "slice_01.parquet", corpus.drop(2), base + 2000L)
    runStream(root, idx, out, ckpt, 64, 32)
    val bands = idx.resolve("bands")
    import graft.ext.IndexIO
    import graft.log.PathIO
    def level = IndexIO.readLevel(spark, bands.toString)
    val before = level.select("doc_id", "band_hash").collect().toSet
    // window A: fold data fully written under the NEW fanout, pointer
    // committed, cleanup not yet run — reads exclude the subsumed plain
    // epochs (no double count); resume finishes the sweep
    val olds = spark.read.option("basePath", bands.toString)
      .parquet(s"$bands/epoch=0", s"$bands/epoch=1")
      .drop("epoch").drop("bp")
      .withColumn("bp", pmod(col("band_hash"), lit(256L)))
    olds.repartition(col("bp")).write.partitionBy("bp")
      .parquet(s"$bands/_fold-1-0/epoch=1")
    assert(PathIO.atomicCreate(
      PathIO.path(bands.toString, "_live-1-0"), "_fold-1-0".getBytes))
    assert(IndexIO.committedEpochs(bands.toString) === Seq(1L))
    assert(level.select("doc_id", "band_hash").collect().toSet === before)
    IndexIO.resume(bands.toString)
    assert(!java.nio.file.Files.exists(bands.resolve("epoch=0")))
    assert(!java.nio.file.Files.exists(bands.resolve("epoch=1")))
    assert(level.select("doc_id", "band_hash").collect().toSet === before)
    assert(level.filter(col("bp") =!= pmod(col("band_hash"), lit(256L)))
      .count() === 0)
    // window B: fold data WITHOUT a pointer discards untouched
    Seq((99L, 99L, 3L)).toDF("doc_id", "band_hash", "bp")
      .write.partitionBy("bp").parquet(s"$bands/_fold-1-1/epoch=1")
    IndexIO.resume(bands.toString)
    assert(!java.nio.file.Files.exists(bands.resolve("_fold-1-1")))
    assert(level.select("doc_id", "band_hash").collect().toSet === before)
  }
}
