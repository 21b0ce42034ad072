package graft

import graft.IndexSpecSupport.{bucketed, indexScans, isBucketed, jobsOf, prunes}
import graft.ext.{IndexIO, NearDupStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Contracts of the streaming near-dup filter the DuckDB oracle can't
  * reach: crash-replay idempotence of the epoch-partitioned writes (also
  * across an index layout flip), the partition-pruned index read on a
  * bucketed index and the whole read of a flat one, the short-doc
  * bypass, and unpersist discipline. The value-level truth (which docs drop at 0.8 under
  * arrival order) is the `stream_near_dup` oracle row. */
class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  // tiny controlled corpus: 0/1 exact-dup pair split across slices,
  // 2/5 a near-dup pair within one slice, 3 short (sub-shingle), rest unique
  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog tonight"),
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3L, "too short"),
    (4L, "completely different content about spark shuffles and parquet files"),
    (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (6L, "yet another unrelated document mentioning broadcast joins and codegen"))

  private def mkSlices(root: java.nio.file.Path): Unit =
    writeSlices(root, (0 until 3).map(i => corpus.filter(_._1 % 3 == i)))

  /** One parquet file per slice, mtimes in slice order (one batch each
    * under maxFilesPerTrigger = 1). */
  private def writeSlices(root: java.nio.file.Path,
                          slices: Seq[Seq[(Long, String)]]): Unit = {
    val base = System.currentTimeMillis() - 10000L
    slices.indices.foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("nd-slice")
      slices(i).toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
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
    val schema = corpus.toDF("doc_id", "text").schema
    val q = NearDupStream.run(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(root.toString),
      idx.toString, out.toString, ckpt.toString, threshold = 0.8)
    try q.processAllAvailable() finally q.stop()
  }

  private def keptIds(out: java.nio.file.Path): Set[Long] =
    spark.read.parquet(out.toString).select("doc_id").as[Long].collect().toSet

  private def shingleIds(idx: java.nio.file.Path): Seq[Long] =
    IndexIO.readLevel(spark, s"$idx/shingles").select("doc_id").as[Long].collect().toSeq

  private def dirs() =
    (java.nio.file.Files.createTempDirectory("nd-root"),
      java.nio.file.Files.createTempDirectory("nd-idx"),
      java.nio.file.Files.createTempDirectory("nd-out"),
      java.nio.file.Files.createTempDirectory("nd-ckpt"))

  /** A one-doc batch (doc 1) banded as the stream bands it. */
  private def batchBands =
    NearDupStream.bandedSigs(corpus.toDF("doc_id", "text").filter(col("doc_id") === 1L),
      "doc_id", "text", 3, 32, 16, NearDupStream.BandBuckets)

  test("cross-batch + within-batch dedup; short docs bypass; first arrival wins") {
    val root = java.nio.file.Files.createTempDirectory("nd-root")
    val idx = java.nio.file.Files.createTempDirectory("nd-idx")
    val out = java.nio.file.Files.createTempDirectory("nd-out")
    val ckpt = java.nio.file.Files.createTempDirectory("nd-ckpt")
    mkSlices(root); runStream(root, idx, out, ckpt)
    // arrival = (id % 3, id): 0 arrives in batch 0, its dup 1 in batch 1
    // -> 1 dropped (cross-batch via the index); 2 and 5 both arrive in
    // batch 2 -> 5 dropped (within-batch, id order); 3 short -> kept
    assert(keptIds(out) === Set(0L, 2L, 3L, 4L, 6L))
    // the short doc must NOT be in the shingle index
    val indexed = shingleIds(idx).toSet
    assert(!indexed.contains(3L))
    assert(indexed === Set(0L, 1L, 2L, 4L, 5L, 6L))
  }

  /** The file names of each index level's `epoch=0` root after a first
    * batch of only sub-shingle docs and a second of the whole corpus. */
  private def subShingleFirst(bucketedIndex: Boolean): Seq[Seq[String]] = {
    val (root, idx, out, ckpt) = dirs()
    writeSlices(root, Seq(Seq((10L, "too short"), (11L, "tiny")), corpus))
    if (bucketedIndex) bucketed(spark)(runStream(root, idx, out, ckpt))
    else runStream(root, idx, out, ckpt)
    assert(isBucketed(idx.resolve("bands/epoch=1")) === bucketedIndex)
    // batch 1 = the whole corpus: 1 and 5 drop within the batch
    assert(keptIds(out) === Set(0L, 2L, 3L, 4L, 6L, 10L, 11L))
    Seq("bands", "shingles").map { level =>
      assert(IndexIO.readLevel(spark, s"$idx/$level")
        .filter(col("epoch") === 0L).count() === 0L)
      val names = java.nio.file.Files.list(idx.resolve(level).resolve("epoch=0"))
      try names.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq.sorted
      finally names.close()
    }
  }

  test("a first batch of only sub-shingle docs indexes nothing; the next batch still reads the index") {
    // a bucketed zero-row epoch commits `_SUCCESS` only
    assert(subShingleFirst(bucketedIndex = true).forall(_ === Seq("_SUCCESS")))
  }

  test("a zero-row flat epoch holds one schema-only file and reads as zero rows") {
    subShingleFirst(bucketedIndex = false).foreach { names =>
      assert(names.size === 2 && names.head === "_SUCCESS" &&
        names(1).endsWith(".parquet"), names)
    }
  }

  test("crash replay: deleting the last commit and restarting changes nothing") {
    val root = java.nio.file.Files.createTempDirectory("nd-root")
    val idx = java.nio.file.Files.createTempDirectory("nd-idx")
    val out = java.nio.file.Files.createTempDirectory("nd-out")
    val ckpt = java.nio.file.Files.createTempDirectory("nd-ckpt")
    mkSlices(root); runStream(root, idx, out, ckpt)
    val before = keptIds(out)
    // lose the last checkpoint commit (and its checksum twin) — Spark
    // replays epoch 2; dynamic epoch-partition overwrite + the
    // epoch < current read filter must make the replay a no-op
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve("2"))
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".2.crc"))
    runStream(root, idx, out, ckpt)
    assert(keptIds(out) === before)
    // no duplicated index entries: each doc indexed exactly once
    val ids = shingleIds(idx)
    assert(ids.distinct.size === ids.size)
  }

  /** Every row of both index levels, epoch and bucket included. */
  private def indexRows(idx: java.nio.file.Path): Seq[Set[Seq[Long]]] =
    Seq("bands" -> Seq("doc_id", "band_hash", "bp", "epoch"),
      "shingles" -> Seq("doc_id", "sb", "epoch")).map { case (level, cols) =>
      IndexIO.readLevel(spark, s"$idx/$level").select(cols.map(col): _*)
        .collect().map(r => cols.indices.map(r.getLong)).toSet
    }

  test("crash replay across a layout flip: a bucketed epoch replays flat, a flat one bucketed") {
    for (firstBucketed <- Seq(true, false)) {
      def run(bucketedIndex: Boolean, dirs: (java.nio.file.Path, java.nio.file.Path,
          java.nio.file.Path, java.nio.file.Path)): Unit = {
        val (root, idx, out, ckpt) = dirs
        if (bucketedIndex) bucketed(spark)(runStream(root, idx, out, ckpt))
        else runStream(root, idx, out, ckpt)
      }
      // the no-crash run, in the first layout throughout
      val ref = dirs()
      mkSlices(ref._1); run(firstBucketed, ref)
      // the same run, its last commit lost and epoch 2 replayed in the
      // other layout over epochs 0-1 of the first
      val crash = dirs()
      val (root, idx, out, ckpt) = crash
      mkSlices(root); run(firstBucketed, crash)
      assert(isBucketed(idx.resolve("bands/epoch=2")) === firstBucketed)
      java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve("2"))
      java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".2.crc"))
      run(!firstBucketed, crash)
      Seq("bands", "shingles").foreach { level =>
        assert(isBucketed(idx.resolve(s"$level/epoch=2")) === !firstBucketed)
        assert(isBucketed(idx.resolve(s"$level/epoch=1")) === firstBucketed)
      }
      assert(keptIds(out) === keptIds(ref._3))
      assert(indexRows(idx) === indexRows(ref._2))
    }
  }

  test("plan: the index candidate read is partition-pruned to epoch < e and the batch's bp buckets") {
    val (root, idx, out, ckpt) = dirs()
    val plan = bucketed(spark) {
      mkSlices(root); runStream(root, idx, out, ckpt)
      NearDupStream.indexCandidates(spark, s"$idx/bands", batchBands, 1L)
        .queryExecution.executedPlan.toString()
    }
    assert(isBucketed(idx.resolve("bands/epoch=0")))
    val scans = indexScans(plan)
    assert(scans.nonEmpty && scans.forall(prunes(_, Some("bp"))),
      s"(epoch, bp) prune missing in:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"band join must not broadcast:\n$plan")
  }

  test("plan: a flat index candidate read keeps the epoch prune and runs no bucket-list job") {
    val (root, idx, out, ckpt) = dirs()
    mkSlices(root); runStream(root, idx, out, ckpt)
    assert(!isBucketed(idx.resolve("bands/epoch=0")))
    val (plan, jobs) = jobsOf(spark) {
      NearDupStream.indexCandidates(spark, s"$idx/bands", batchBands, 1L)
        .queryExecution.executedPlan.toString()
    }
    assert(jobs.isEmpty, s"planning the flat read ran ${jobs.size} job(s)")
    val scans = indexScans(plan)
    assert(scans.nonEmpty && scans.forall(prunes(_, None)) &&
      !scans.exists(prunes(_, Some("bp"))), s"flat read filters in:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"band join must not broadcast:\n$plan")
  }

  test("plan: with a committed fold, BOTH read branches keep the (epoch, bp) PartitionFilters") {
    val (root, idx, out, ckpt) = dirs()
    val plan = bucketed(spark) {
      mkSlices(root); runStream(root, idx, out, ckpt)
      // fold epochs <= 1 by pointer commit; epoch=2 stays plain — the
      // committed view now reads TWO roots (fold subtree + plain dir)
      IndexIO.compact(spark, s"$idx/bands", "bp", 1L)
      assert(IndexIO.committedEpochs(s"$idx/bands") === Seq(1L, 2L))
      NearDupStream.indexCandidates(spark, s"$idx/bands", batchBands, 3L)
        .queryExecution.executedPlan.toString()
    }
    assert(isBucketed(idx.resolve("bands/_fold-1-0/epoch=1")))
    val scans = indexScans(plan)
    assert(scans.length == 2, s"expected 2 index scans in:\n$plan")
    scans.foreach(l => assert(prunes(l, Some("bp")), s"a branch lost its partition prune: $l"))
  }

  test("compaction folds epoch dirs without changing results; replay after compaction safe") {
    val root = java.nio.file.Files.createTempDirectory("nd-root")
    val idx = java.nio.file.Files.createTempDirectory("nd-idx")
    val out = java.nio.file.Files.createTempDirectory("nd-out")
    val ckpt = java.nio.file.Files.createTempDirectory("nd-ckpt")
    mkSlices(root)
    val schema = corpus.toDF("doc_id", "text").schema
    def go(): Unit = {
      val q = NearDupStream.run(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .option("pathGlobFilter", "*.parquet").parquet(root.toString),
        idx.toString, out.toString, ckpt.toString, threshold = 0.8,
        compactEvery = Some(2))
      try q.processAllAvailable() finally q.stop()
    }
    go()
    // same kept set as the uncompacted runs in the tests above
    assert(keptIds(out) === Set(0L, 2L, 3L, 4L, 6L))
    // batch 2 folded epochs 0,1 -> committed entries {1 (fold), 2}
    assert(graft.ext.IndexIO.committedEpochs(s"$idx/bands") === Seq(1L, 2L))
    assert(graft.ext.IndexIO.committedEpochs(s"$idx/shingles") === Seq(1L, 2L))
    // index content identical: every eligible doc present exactly once
    def shingleLevel = graft.ext.IndexIO.readLevel(spark, s"$idx/shingles")
    assert(shingleLevel
      .groupBy("doc_id").count().filter(col("count") =!= 1).count() === 0)
    // replay the last batch over the compacted layout — still a no-op
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve("2"))
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".2.crc"))
    go()
    assert(keptIds(out) === Set(0L, 2L, 3L, 4L, 6L))
    assert(shingleLevel
      .groupBy("doc_id").count().filter(col("count") =!= 1).count() === 0)
  }

  test("fold crash windows: uncommitted fold data discards; committed pointer heals cleanup") {
    val root = java.nio.file.Files.createTempDirectory("nd-root")
    val idx = java.nio.file.Files.createTempDirectory("nd-idx")
    val out = java.nio.file.Files.createTempDirectory("nd-out")
    val ckpt = java.nio.file.Files.createTempDirectory("nd-ckpt")
    mkSlices(root); runStream(root, idx, out, ckpt)
    val bands = idx.resolve("bands")
    import graft.ext.IndexIO
    import graft.log.PathIO
    def bandLevel = IndexIO.readLevel(spark, bands.toString)
    val before = bandLevel.select("doc_id", "band_hash").collect().toSet
    // crash window A: fold data fully written (_SUCCESS present) but
    // the pointer NOT committed — resume discards the data; the source
    // epochs are intact and the read unchanged
    val olds = spark.read.option("basePath", bands.toString)
      .parquet(s"$bands/epoch=0", s"$bands/epoch=1").drop("epoch")
    olds.repartition(col("bp")).write.partitionBy("bp")
      .parquet(s"$bands/_fold-1-0/epoch=1")
    IndexIO.resume(bands.toString)
    assert(!java.nio.file.Files.exists(bands.resolve("_fold-1-0")))
    assert(IndexIO.committedEpochs(bands.toString) === Seq(0L, 1L, 2L))
    assert(bandLevel.select("doc_id", "band_hash").collect().toSet === before)
    // crash window B: fold data AND pointer committed, cleanup not yet
    // run — the subsumed plain epochs must be excluded from reads (no
    // double count) and swept by resume
    olds.repartition(col("bp")).write.partitionBy("bp")
      .parquet(s"$bands/_fold-1-0/epoch=1")
    assert(PathIO.atomicCreate(
      PathIO.path(bands.toString, "_live-1-0"), "_fold-1-0".getBytes))
    assert(IndexIO.committedEpochs(bands.toString) === Seq(1L, 2L))
    assert(bandLevel.select("doc_id", "band_hash").collect().toSet === before,
      "subsumed plain epochs must not double-count")
    IndexIO.resume(bands.toString)
    assert(!java.nio.file.Files.exists(bands.resolve("epoch=0")))
    assert(bandLevel.select("doc_id", "band_hash").collect().toSet === before)
    assert(bandLevel.groupBy("doc_id", "band_hash").count()
      .filter(col("count") =!= 1).count() === 0)
    // crash window C: partial fold data (no _SUCCESS) is discarded
    java.nio.file.Files.createDirectories(bands.resolve("_fold-2-1"))
    java.nio.file.Files.write(
      bands.resolve("_fold-2-1").resolve("part-stale.parquet"),
      Array[Byte](1, 2, 3))
    IndexIO.resume(bands.toString)
    assert(!java.nio.file.Files.exists(bands.resolve("_fold-2-1")))
    assert(IndexIO.committedEpochs(bands.toString) === Seq(1L, 2L))
    // a legacy rename-swap tmp dir fails LOUDLY (never misparsed)
    java.nio.file.Files.createDirectories(bands.resolve("_compact_tmp-1"))
    intercept[RuntimeException] {
      IndexIO.resume(bands.toString)
    }
    java.nio.file.Files.delete(bands.resolve("_compact_tmp-1"))
  }

  test("property: stream equals the batch arrival-order truth on random corpora and slicings") {
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val nSlices = 2 + rnd.nextInt(3) // 2..4
      // ~1/3 of docs clone an earlier doc verbatim (exact dup), the rest
      // are random 8-12-token texts (cross-pair jaccard far below 0.8)
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until 60).foreach { i =>
        texts += (if (i > 0 && rnd.nextInt(3) == 0) texts(rnd.nextInt(i))
        else Seq.fill(8 + rnd.nextInt(5))(pool(rnd.nextInt(pool.size)))
          .mkString(" "))
      }
      val slices = texts.indices.map(_ => rnd.nextInt(nSlices))
      val docs = texts.indices.map(i => (i.toLong, texts(i), slices(i)))
        .toDF("doc_id", "text", "slice")

      // batch truth: dropped iff an earlier-arriving doc verifies >= 0.8
      val sh = docs.select(col("doc_id").as("id"),
        graft.functions.Sketch.shingle_hashes(col("text"), 3, distinct = true)
          .as("sh"))
      val arr = docs.select(col("doc_id"), col("slice"))
      val allPairs = arr.toDF("id_a", "slice_a")
        .crossJoin(arr.toDF("id_b", "slice_b"))
        .filter(col("slice_a") < col("slice_b") ||
          (col("slice_a") === col("slice_b") && col("id_a") < col("id_b")))
        .select("id_a", "id_b")
      val expectedDropped = graft.ext.TextOps.verifyExactJaccard(
        allPairs, sh, 0.8).select("id_b").as[Long].collect().toSet
      val expectedKept = texts.indices.map(_.toLong).toSet -- expectedDropped

      // stream the same corpus in slice order
      val root = java.nio.file.Files.createTempDirectory(s"nd-prop-$seed")
      val idx = java.nio.file.Files.createTempDirectory("nd-prop-idx")
      val out = java.nio.file.Files.createTempDirectory("nd-prop-out")
      val ckpt = java.nio.file.Files.createTempDirectory("nd-prop-ckpt")
      val base = System.currentTimeMillis() - 60000L
      (0 until nSlices).foreach { i =>
        val tmp = java.nio.file.Files.createTempDirectory("nd-prop-slice")
        docs.filter(col("slice") === i).select("doc_id", "text").coalesce(1)
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
      val schema = docs.select("doc_id", "text").schema
      val q = NearDupStream.run(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .option("pathGlobFilter", "*.parquet").parquet(root.toString),
        idx.toString, out.toString, ckpt.toString, threshold = 0.8,
        compactEvery = Some(2))
      try q.processAllAvailable() finally q.stop()
      assert(keptIds(out) === expectedKept,
        s"seed=$seed slices=$nSlices: stream diverged from batch truth")
    }
  }

  test("unpersist discipline: no NEW pinned blocks after the stream completes") {
    val root = java.nio.file.Files.createTempDirectory("nd-root")
    val idx = java.nio.file.Files.createTempDirectory("nd-idx")
    val out = java.nio.file.Files.createTempDirectory("nd-out")
    val ckpt = java.nio.file.Files.createTempDirectory("nd-ckpt")
    // delta, not isEmpty: the session is shared across suites and other
    // operators legitimately hold registered caches (Round12Spec rule)
    val base = spark.sparkContext.getPersistentRDDs.size
    mkSlices(root); runStream(root, idx, out, ckpt)
    assert(spark.sparkContext.getPersistentRDDs.size === base,
      "stream left pinned storage blocks after completing")
  }
}
