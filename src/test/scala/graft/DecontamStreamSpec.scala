package graft

import graft.ext.DecontamStream
import org.apache.spark.sql.functions._

/** Contracts of the streaming decontamination filter the DuckDB oracle
  * can't reach: the GROWING-eval semantics (no retroaction; same-batch
  * eval counts), crash-replay idempotence, eval-less-batch index
  * hygiene, and the broadcast/epoch-prune plan shape. The value-level
  * truth is the `stream_decontam` oracle row. */
class DecontamStreamSpec extends SparkSpec {
  import spark.implicits._

  // arrival = (id % 3, id). Eval doc 4 (batch 1) carries the 5-gram
  // "alpha beta gamma delta epsilon".
  //  0 corpus b0 shares it  -> KEPT (eval arrives LATER; no retroaction)
  //  1 corpus b1 shares it  -> dropped (same-batch eval counts)
  //  8 corpus b2 shares it  -> dropped (cross-batch via the index)
  //  2 corpus b2 unrelated  -> kept
  //  3 corpus b0 short (3 tokens, no 5-grams) -> kept
  private val gram = "alpha beta gamma delta epsilon"
  private val corpus = Seq(
    (0L, s"$gram zero tail words here", false),
    (1L, s"$gram one other suffix words", false),
    (2L, "completely unrelated content about spark plans and shuffles", false),
    (3L, "too short doc", false),
    (4L, s"$gram eval holdout sentence", true),
    (8L, s"$gram eight trailing content words", false))

  private def mixedDf = corpus.toDF("doc_id", "text", "is_eval")

  private def mkSlices(root: java.nio.file.Path): Unit = {
    val base = System.currentTimeMillis() - 10000L
    (0 until 3).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("dc-slice")
      mixedDf.filter(col("doc_id") % 3 === i).coalesce(1)
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
                        out: java.nio.file.Path, ckpt: java.nio.file.Path): Unit = {
    val q = DecontamStream.run(
      spark.readStream.schema(mixedDf.schema).option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(root.toString),
      idx.toString, out.toString, ckpt.toString, n = 5)
    try q.processAllAvailable() finally q.stop()
  }

  private def keptIds(out: java.nio.file.Path): Set[Long] =
    spark.read.parquet(out.toString).select("doc_id").as[Long].collect().toSet

  private def dirs() =
    (java.nio.file.Files.createTempDirectory("dc-root"),
      java.nio.file.Files.createTempDirectory("dc-idx"),
      java.nio.file.Files.createTempDirectory("dc-out"),
      java.nio.file.Files.createTempDirectory("dc-ckpt"))

  test("growing eval set: same-batch and later corpus drop, earlier output stands") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    assert(keptIds(out) === Set(0L, 2L, 3L))
    // eval rows never appear in the kept output
    assert(!spark.read.parquet(out.toString).columns.contains("is_eval"))
    // the index holds the eval doc's postings exactly once
    val postings = graft.ext.IndexIO.readLevel(spark, s"$idx/ngrams")
    assert(postings.count() === postings.select("shingle_h").distinct().count())
    // batches 0 and 2 had no eval rows: no empty epoch dirs poison the read
    import scala.jdk.CollectionConverters._
    val epochs = {
      val l = java.nio.file.Files.list(idx.resolve("ngrams"))
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("epoch=")).toSet
      finally l.close()
    }
    assert(epochs === Set("epoch=1"))
  }

  test("crash replay: deleting the last commit and restarting changes nothing") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    val before = keptIds(out)
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve("2"))
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".2.crc"))
    runStream(root, idx, out, ckpt)
    assert(keptIds(out) === before)
  }

  test("plan: eval side broadcasts (corpus never shuffles into the join); index read epoch-pruned") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    val corpusB = mixedDf.filter(col("doc_id") === 8L).drop("is_eval")
    val newEval = DecontamStream.evalPostings(
      mixedDf.filter(lit(false)), "text", 5, DecontamStream.EvalBuckets)
    val plan = DecontamStream.contaminatedIds(spark, s"$idx/ngrams",
        corpusB, newEval, 2L, 5, 1L, "doc_id", "text")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"eval postings must broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not sort-merge into the contamination join:\n$plan")
    assert(plan.contains("PartitionFilters: [isnotnull(epoch") &&
      plan.contains("(epoch"), s"epoch prune missing in:\n$plan")
  }

  test("broadcast cap: past the bound the contamination join degrades to shuffle-hash, results identical") {
    // behavioral: a cap the eval postings definitely exceed — the whole
    // stream runs on the fallback join and keeps the same verdicts
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root)
    val q = DecontamStream.run(
      spark.readStream.schema(mixedDf.schema).option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(root.toString),
      idx.toString, out.toString, ckpt.toString, n = 5,
      evalBroadcastCap = 1L)
    try q.processAllAvailable() finally q.stop()
    assert(keptIds(out) === Set(0L, 2L, 3L))
    // plan: the fallback is the SHUFFLE shape with eval still the build
    // side — not a forced broadcast of a side that outgrew the driver
    val corpusB = mixedDf.filter(col("doc_id") === 8L).drop("is_eval")
    val newEval = DecontamStream.evalPostings(
      mixedDf.filter(lit(false)), "text", 5, DecontamStream.EvalBuckets)
    val plan = DecontamStream.contaminatedIds(spark, s"$idx/ngrams",
        corpusB, newEval, 2L, 5, 1L, "doc_id", "text",
        broadcastOk = false)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("ShuffledHashJoin"),
      s"fallback must be a shuffle-hash join in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"fallback must not force a broadcast in:\n$plan")
  }

  test("retroScreen drops late-contaminated output in place; idempotent; crash windows heal") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    // the stream's no-retroaction rule kept doc 0 (eval 4 arrived later)
    assert(keptIds(out) === Set(0L, 2L, 3L))
    // retro re-screen against the FULL index: doc 0 now drops, its
    // epoch dir is rewritten, everything else stands
    val tombs = graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5)
      .as[(Long, Long)].collect().toSet
    assert(tombs === Set((0L, 0L)), s"tombstones: $tombs")
    assert(keptIds(out) === Set(2L, 3L))
    assert(!java.nio.file.Files.exists(out.resolve("_retro")))
    // the retro'd kept set equals batch decontamination with the full
    // eval set (order erased)
    val full = graft.ext.TextOps.decontaminate(
      mixedDf.filter(!col("is_eval")).drop("is_eval"),
      mixedDf.filter(col("is_eval")).drop("is_eval"), n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(full === keptIds(out))
    // idempotent: a second screen finds nothing, output unchanged
    assert(graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5).count() === 0)
    assert(keptIds(out) === Set(2L, 3L))
    // crash window: a completed staging (_SUCCESS) replaces the live
    // epoch on resume — simulate by staging epoch 2 without doc 2
    spark.read.parquet(s"$out/epoch=2").filter(col("doc_id") =!= 2L)
      .write.parquet(s"$out/_retro/epoch=2")
    graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5): Unit
    assert(keptIds(out) === Set(3L), "completed staging must swap in")
    // crash window: a staging WITHOUT _SUCCESS discards, live intact
    java.nio.file.Files.createDirectories(out.resolve("_retro").resolve("epoch=0"))
    java.nio.file.Files.write(
      out.resolve("_retro").resolve("epoch=0").resolve("part-x.parquet"),
      Array[Byte](1, 2, 3))
    graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5): Unit
    assert(keptIds(out) === Set(3L))
    assert(!java.nio.file.Files.exists(out.resolve("_retro")))
  }

  test("two epochs contaminated at once: concurrent rewrites both swap in") {
    // eval arrives LAST (batch 2): docs 0 (epoch 0) and 1 (epoch 1)
    // both kept by the no-retroaction stream, both dropped by the
    // retro screen — the apply path stages and swaps TWO epoch dirs in
    // one call (the concurrent-rewrite path, not a single-epoch apply)
    val gram2 = "zeta eta theta iota kappa"
    val rows = Seq(
      (0L, s"$gram2 zero tail words here", false),
      (3L, "too short doc", false),
      (1L, s"$gram2 one other suffix words", false),
      (4L, "unrelated corpus content about joins and shuffles", false),
      (2L, "another unrelated kept document entirely", false),
      (5L, s"$gram2 late eval holdout", true))
    val root = java.nio.file.Files.createTempDirectory("dc2-root")
    val idx = java.nio.file.Files.createTempDirectory("dc2-idx")
    val out = java.nio.file.Files.createTempDirectory("dc2-out")
    val ckpt = java.nio.file.Files.createTempDirectory("dc2-ckpt")
    val base = System.currentTimeMillis() - 10000L
    val df = rows.toDF("doc_id", "text", "is_eval")
    (0 until 3).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("dc2-slice")
      df.filter(col("doc_id") % 3 === i).coalesce(1)
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
    val q = DecontamStream.run(
      spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(root.toString),
      idx.toString, out.toString, ckpt.toString, n = 5)
    try q.processAllAvailable() finally q.stop()
    assert(keptIds(out) === Set(0L, 1L, 2L, 3L, 4L)) // no retroaction
    val tombs = graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5)
      .as[(Long, Long)].collect().toSet
    assert(tombs === Set((0L, 0L), (1L, 1L)), s"tombstones: $tombs")
    assert(keptIds(out) === Set(2L, 3L, 4L))
    assert(!java.nio.file.Files.exists(out.resolve("_retro")))
    // the untouched epoch 2 dir was never rewritten
    assert(spark.read.parquet(s"$out/epoch=2").select("doc_id")
      .as[Long].collect().toSet === Set(2L))
  }

  private def epochFiles(dir: java.nio.file.Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    val l = java.nio.file.Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
    finally l.close()
  }

  test("rename-free rewrite crash windows: mid-write strays discard; done condemns old; tail cleans; orphan done is loud") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    val e0 = out.resolve("epoch=0")
    val old0 = epochFiles(e0)
    // window 1 — mid-write crash: intent marker + a stray new file,
    // old content whole → resume discards the stray and the intent
    java.nio.file.Files.write(out.resolve("_retro_old-0"),
      old0.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(e0.resolve("part-stray-torso.parquet"),
      Array[Byte](9, 9, 9))
    graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5, apply = false): Unit
    assert(epochFiles(e0) === old0, "mid-write stray must be discarded")
    assert(!java.nio.file.Files.exists(out.resolve("_retro_old-0")))
    assert(keptIds(out) === Set(0L, 2L, 3L), "mid-write heal keeps old content")
    // now the real apply: doc 0 drops via the rename-free rewrite
    graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5): Unit
    assert(keptIds(out) === Set(2L, 3L))
    assert((epochFiles(e0) & old0) === Set.empty, "old files must be deleted")
    // window 2 — crash AFTER the done marker: the appended rewrite is
    // committed; resume must delete exactly the old files and markers.
    // epoch=2 currently holds doc 2; simulate a committed rewrite of it
    // without doc 2 (the protocol's own append form).
    val e2 = out.resolve("epoch=2")
    val old2 = epochFiles(e2)
    spark.read.parquet(old2.toSeq.map(n => s"$e2/$n"): _*)
      .filter(col("doc_id") =!= 2L)
      .write.mode("append").parquet(e2.toString)
    java.nio.file.Files.write(out.resolve("_retro_old-2"),
      old2.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(out.resolve("_retro_done-2"), Array.emptyByteArray)
    graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5): Unit
    assert((epochFiles(e2) & old2) === Set.empty,
      "done marker must condemn every old file")
    assert(keptIds(out) === Set(3L))
    assert(!java.nio.file.Files.exists(out.resolve("_retro_old-2")) &&
      !java.nio.file.Files.exists(out.resolve("_retro_done-2")))
    // window 3 — cleanup tail: intent alone with ALL old files already
    // gone is the post-done final step → marker removed, content kept
    java.nio.file.Files.write(out.resolve("_retro_old-2"),
      old2.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    val keepNow = epochFiles(e2)
    graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5): Unit
    assert(epochFiles(e2) === keepNow)
    assert(!java.nio.file.Files.exists(out.resolve("_retro_old-2")))
    // orphan done marker (no intent): foreign state — refuse loudly
    java.nio.file.Files.write(out.resolve("_retro_done-1"), Array.emptyByteArray)
    intercept[RuntimeException] {
      graft.ext.DecontamStream.retroScreen(
        spark, out.toString, idx.toString, n = 5)
    }
    java.nio.file.Files.deleteIfExists(out.resolve("_retro_done-1")): Unit
  }

  test("retro apply on a mocks3 output: ZERO copy, ZERO rename, no absence window dirs") {
    MockS3FileSystem.register(spark.sparkContext.hadoopConfiguration)
    val (root, idx, _, ckpt) = dirs()
    val outLocal = java.nio.file.Files.createTempDirectory("dc-s3out")
    val outUri = s"${MockS3FileSystem.Scheme}:$outLocal"
    mkSlices(root)
    val q = DecontamStream.run(
      spark.readStream.schema(mixedDf.schema).option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(root.toString),
      idx.toString, outUri, ckpt.toString, n = 5)
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(outUri).select("doc_id")
      .as[Long].collect().toSet === Set(0L, 2L, 3L))
    val Ops = MockS3FileSystem.Ops
    Ops.reset()
    val tombs = graft.ext.DecontamStream.retroScreen(
      spark, outUri, idx.toString, n = 5).as[(Long, Long)].collect().toSet
    val d = Ops.snapshot()
    assert(tombs === Set((0L, 0L)))
    assert(spark.read.parquet(outUri).select("doc_id")
      .as[Long].collect().toSet === Set(2L, 3L))
    assert(d("copy") == 0L, s"retro apply copied objects: ${Ops.render(d)}")
    assert(d("rename") == 0L, s"retro apply renamed: ${Ops.render(d)}")
  }

  test("crash with TWO concurrently staged epochs (one complete, one mid-write) heals per-epoch") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5): Unit
    assert(keptIds(out) === Set(2L, 3L)) // doc 2 in epoch 2, doc 3 in epoch 0
    // simulate a crash mid-apply with two epochs staged at once: the
    // epoch=2 staging completed (_SUCCESS — parquet write commits it),
    // the epoch=0 staging is a mid-write torso without _SUCCESS
    spark.read.parquet(s"$out/epoch=2").filter(col("doc_id") =!= 2L)
      .write.parquet(s"$out/_retro/epoch=2")
    java.nio.file.Files.createDirectories(out.resolve("_retro").resolve("epoch=0"))
    java.nio.file.Files.write(
      out.resolve("_retro").resolve("epoch=0").resolve("part-y.parquet"),
      Array[Byte](9, 9, 9))
    // resume (entry of any retroScreen call): the completed staging
    // swaps in, the torso discards with its live dir intact
    graft.ext.DecontamStream.retroScreen(
      spark, out.toString, idx.toString, n = 5): Unit
    assert(keptIds(out) === Set(3L),
      "completed staging must swap, torso must discard")
    assert(!java.nio.file.Files.exists(out.resolve("_retro")))
  }
}
