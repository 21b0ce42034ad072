package graft

import graft.ext.{CleanCorpusStream, NearDupStream, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Contracts of the composed streaming clean-corpus pipeline the
  * DuckDB oracle can't reach: the order-equivalence claim (id-ordered
  * arrival ⇒ stream kept set == the batch composition), stage
  * interactions (quality casualties never indexed; exact dups never
  * reach near-dup), crash-replay idempotence, and the hash-index plan
  * gate. The value-level truth is the `pipeline_clean_corpus_stream`
  * oracle row. */
class CleanCorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  // controlled corpus (ids are arrival order via range slices 0-3/4-7/8-11):
  //   0  long unique                         -> kept
  //   1  exact copy of 0 (same batch)        -> exact-dropped
  //   2  too short (3 tokens)                -> quality-dropped
  //   3  near-dup of 0 (one word changed)    -> near-dup-dropped
  //   4  exact copy of 0 (later batch)       -> exact-dropped (via index)
  //   5  long unique                         -> kept
  //   6  near-dup of 5, later batch          -> near-dup-dropped (via index)
  //   8  mean_word_len > 12                  -> quality-dropped
  //   9  exact copy of 3 (a near-dup CASUALTY) -> exact-dropped: hashes
  //      index keeps exact KEEPERS regardless of near-dup fate
  private val base0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val near0 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
  private val base5 = "one two three four five six seven eight nine ten eleven twelve"
  private val near5 = "one two three four five six seven eight nine ten eleven thirteen"
  private val corpus = Seq(
    (0L, base0, "en"), (1L, base0, "en"), (2L, "too short doc", "en"),
    (3L, near0, "en"), (4L, base0, "en"), (5L, base5, "de"),
    (6L, near5, "de"), (8L, "aaaaaaaaaaaaaaa bbbbbbbbbbbbbbb ccccccccccccccc ddddddddddddddd eeeeeeeeeeeeeee fffffffffffffff ggggggggggggggg hhhhhhhhhhhhhhh iiiiiiiiiiiiiii jjjjjjjjjjjjjjj", "en"),
    (9L, near0, "en"))

  private def docsDf = corpus.toDF("doc_id", "text", "lang")

  private def mkSlices(root: java.nio.file.Path): Unit = {
    val base = System.currentTimeMillis() - 10000L
    val slices = Seq(col("doc_id") <= 3, col("doc_id").between(4, 7),
      col("doc_id") >= 8)
    slices.zipWithIndex.foreach { case (cond, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("cc-slice")
      docsDf.filter(cond).coalesce(1)
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
    val q = CleanCorpusStream.run(
      spark.readStream.schema(docsDf.schema).option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(root.toString),
      idx.toString, out.toString, ckpt.toString, threshold = 0.8,
      compactEvery = compactEvery)
    try q.processAllAvailable() finally q.stop()
  }

  private def keptIds(out: java.nio.file.Path): Set[Long] =
    spark.read.parquet(out.toString).select("doc_id").as[Long].collect().toSet

  private def dirs() =
    (java.nio.file.Files.createTempDirectory("cc-root"),
      java.nio.file.Files.createTempDirectory("cc-idx"),
      java.nio.file.Files.createTempDirectory("cc-out"),
      java.nio.file.Files.createTempDirectory("cc-ckpt"))

  /** The batch composition the stream must equal on id-ordered arrival:
    * quality → TextOps.exactDedup (min id per md5) → all-seen 3-shingle
    * exact Jaccard ≥ 0.8 by id order. */
  private def batchTruth(docs: DataFrame): Set[Long] = {
    val quality = TextOps.withQualityScore(docs)
      .filter(col("n_tokens") >= 10 && col("mean_word_len").between(2.0, 12.0))
      .select("doc_id", "text", "lang")
    val exactKept = TextOps.exactDedup(quality)
    val sh = exactKept.select(col("doc_id"),
      graft.functions.Sketch.shingle_hashes(col("text"), 3, distinct = true).as("sh"))
    val a = sh.toDF("id_a", "sh_a")
    val b = sh.toDF("id_b", "sh_b")
    val dropped = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni",
        size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .filter(col("uni") > 0 &&
        col("inter").cast("double") / col("uni") >= 0.8)
      .select(col("id_b").as("doc_id")).distinct()
    exactKept.join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
  }

  test("stage composition: quality, exact (same-batch + cross-batch), near-dup (same + cross)") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    assert(keptIds(out) === Set(0L, 5L))
    // quality casualties never entered ANY index
    val hashed = spark.read.parquet(s"$idx/hashes")
      .select("doc_id").as[Long].collect().toSet
    assert(!hashed.contains(2L) && !hashed.contains(8L))
    // hashes level holds exact KEEPERS only (0, 3, 5, 6 — not copies 1/4/9)
    assert(hashed === Set(0L, 3L, 5L, 6L))
    // bands/shingles hold ALL exact survivors incl. near-dup casualties
    val banded = spark.read.parquet(s"$idx/shingles")
      .select("doc_id").as[Long].collect().toSet
    assert(banded === Set(0L, 3L, 5L, 6L))
  }

  test("order-equivalence: stream kept set == batch composition on id-ordered arrival") {
    orderEquivalence()
  }

  /** The order-equivalence claim on the controlled corpus, then on a
    * larger, messier one streamed with `compactEvery = Some(2)`. */
  private def orderEquivalence(): Unit = {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    assert(keptIds(out) === batchTruth(docsDf))
    // and on a larger, messier corpus: 60 docs, dup families + noise
    val big = (0L until 60L).map { i =>
      val fam = i % 7
      val text =
        if (fam <= 2) s"family $fam shared words " +
          (0 until 10).map(j => s"tok${fam}_$j").mkString(" ") +
          (if (i % 3 == 0) " tail" else "")
        else (0 until 12).map(j => s"uniq${i}_$j").mkString(" ")
      (i, text, if (i % 2 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")
    val (root2, idx2, out2, ckpt2) = dirs()
    val base = System.currentTimeMillis() - 10000L
    (0 until 3).foreach { k =>
      val tmp = java.nio.file.Files.createTempDirectory("cc-slice")
      big.filter(col("doc_id") >= k * 20 && col("doc_id") < (k + 1) * 20)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = {
        val l = java.nio.file.Files.list(tmp)
        try l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
        finally l.close()
      }
      val dst = root2.resolve(f"slice_$k%02d.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + k * 2000L)): Unit
    }
    val q = CleanCorpusStream.run(
      spark.readStream.schema(big.schema).option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(root2.toString),
      idx2.toString, out2.toString, ckpt2.toString, threshold = 0.8,
      compactEvery = Some(2))
    try q.processAllAvailable() finally q.stop()
    assert(keptIds(out2) === batchTruth(big))
  }

  test("order-equivalence with every epoch at one input split or more: whole-stage codegen kept") {
    // the stream's session is cloned from this one when it starts, and
    // keeps its listeners and confs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try orderEquivalence()
    finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.listenerManager.unregister(listener)
    }
    // an epoch's index and output writes, with a whole-stage stage `*(<id>)`;
    // listener delivery is asynchronous
    import scala.jdk.CollectionConverters._
    def epochWrites = plans.asScala.filter(p =>
      p.contains("InsertIntoHadoopFsRelationCommand") &&
        (p.contains("cc-idx") || p.contains("cc-out")))
    val deadline = System.currentTimeMillis() + 30000
    while (!epochWrites.exists(_.contains("*(")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(epochWrites.exists(_.contains("*(")),
      s"no epoch write planned a whole-stage stage among ${epochWrites.size}")
  }

  test("crash replay: deleting the last commit and restarting changes nothing") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    val before = keptIds(out)
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve("2"))
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".2.crc"))
    runStream(root, idx, out, ckpt)
    assert(keptIds(out) === before)
    val dupHashed = spark.read.parquet(s"$idx/hashes")
      .groupBy("doc_id").count().filter(col("count") =!= 1).count()
    assert(dupHashed === 0)
  }

  test("plan: the exact-hash index read is partition-pruned to epoch < e and the batch's hb buckets") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    val bh = CleanCorpusStream.hashed(
      docsDf.filter(col("doc_id") === 4L), "doc_id", "text",
      CleanCorpusStream.HashBuckets)
    val plan = CleanCorpusStream.indexExactDropped(spark, s"$idx/hashes", bh, 1L)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(epoch"),
      s"epoch prune missing in:\n$plan")
    assert(plan.contains("hb#") && plan.contains("(epoch"),
      s"hb prune missing in:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"hash join must not broadcast the index side:\n$plan")
  }
}
