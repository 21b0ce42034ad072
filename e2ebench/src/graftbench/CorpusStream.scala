package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Clean-corpus ingest through `CleanCorpusStream.run`, closed loop:
  * epoch k+1's file is released only after epoch k has committed.
  * A cycle is one whole fold cycle: the epoch that starts the index
  * fold, then `CompactEvery - 1` plain epochs (the first of which runs
  * the deferred GC of the fold). Epoch 0, in the warm-up, folds
  * nothing. The stream runs with the index defaults and the
  * `compactEvery` of the program's own clean-corpus entry; an epoch is
  * one of its three arrival slices of the sf0.01 documents table. */
object CorpusStream {
  /** Spark runs at local[min(Cores, nproc)]: an epoch's tasks keep
    * about 40% of four cores busy. */
  val Cores = 4
  val EpochDocs = 167
  val CompactEvery = 2
}

final class CorpusStream(ctx: Ctx, tag: String) extends Workload {
  import CorpusStream._
  import ctx.spark

  private val epochs = (Main.WarmCycles + ctx.timedCycles) * CompactEvery

  private val docs: Seq[Doc] = {
    val c = new Corpus(ctx.seed)
    c.next(epochs * EpochDocs)
  }
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("kind", StringType)))

  private var q: StreamingQuery = _
  private var root: String = _
  private var released = 0
  private val plainEpochs = mutable.ArrayBuffer[Int]()
  private val foldEpochs = mutable.ArrayBuffer[Int]()
  private val epochSpans = mutable.HashMap[Int, Span]()
  private var indexStart: (Long, Long, Long) = _
  private var indexEnd: (Long, Long, Long) = _
  private var timedFrom = Int.MaxValue
  private var keptTotal = 0L

  private def indexDir = s"$root/index"
  private def outDir = s"$root/out"

  /** Writes every epoch's documents as one parquet file each under
    * `staged/` and starts the stream. */
  def setup(): Unit = {
    root = ctx.dir(tag)
    val rows = docs.map(d => org.apache.spark.sql.Row(d.id, d.text, d.kind))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), schema)
      .withColumn("e", (col("doc_id") / EpochDocs).cast("int"))
      .repartition(col("e"))
      .write.partitionBy("e").parquet(s"$root/gen")
    Files.createDirectories(Paths.get(s"$root/staged"))
    Files.createDirectories(Paths.get(s"$root/src"))
    (0 until epochs).foreach { e =>
      val part = Files.list(Paths.get(s"$root/gen/e=$e")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(f"$root/staged/e$e%05d.parquet"))
    }
    released = 0
    q = graft.ext.CleanCorpusStream.run(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet").parquet(s"$root/src"),
      indexDir, outDir, s"$root/ckpt", threshold = Corpus.Threshold,
      compactEvery = Some(CompactEvery))
  }

  /** Releases the next epoch's file and waits for its commit; returns
    * the latency in ms. */
  private def release(): Double = {
    val e = released
    val t0 = System.nanoTime()
    Files.move(Paths.get(f"$root/staged/e$e%05d.parquet"),
      Paths.get(f"$root/src/e$e%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
    released += 1
    (System.nanoTime() - t0) / 1e6
  }

  def cycle(k: Int, rec: Rec): Unit = {
    (0 until CompactEvery).foreach { _ =>
      val e = released
      val fold = e % CompactEvery == 0
      val ms = ctx.span(if (fold) "stream.fold_epoch" else "stream.epoch")(release())
      if (ctx.tracer.enabled) epochSpans(e) = ctx.tracer.spans.last
      if (fold) { rec.fold += ms; foldEpochs += e } else { rec.samples += ms; plainEpochs += e }
      rec.items += EpochDocs
      rec.busyNs += (ms * 1e6).toLong
    }
  }

  override def windowStart(): Unit = {
    timedFrom = released
    indexStart = Main.treeStats(indexDir)
  }

  /** The kept set of every released epoch equals the reference model
    * (the order-equivalence contract); one check per timed epoch. */
  def verify(rec: Rec): Unit = {
    indexEnd = Main.treeStats(indexDir)
    val model = new CleanModel
    val expected = docs.take(released * EpochDocs)
      .filter(model.offer).groupBy(d => (d.id / EpochDocs).toInt)
      .map { case (e, ds) => e -> ds.map(_.id).toSet }
    val got = spark.read.parquet(outDir).select(col("doc_id"), col("epoch"))
      .collect().groupBy(_.getAs[Number](1).intValue)
      .map { case (e, rs) => e -> rs.map(_.getLong(0)).toSet }
    (timedFrom until released).foreach { e =>
      val want = expected.getOrElse(e, Set.empty[Long])
      val have = got.getOrElse(e, Set.empty[Long])
      rec.check(want == have, s"epoch $e kept ${have.size} docs, model ${want.size}" +
        s" (missing ${(want -- have).take(5)}, extra ${(have -- want).take(5)})")
    }
    keptTotal = (timedFrom until released).map(e => got.getOrElse(e, Set.empty).size.toLong).sum
  }

  def layers(attr: Attribution, cycles: Seq[Span]): Map[String, Double] = {
    val plain = plainEpochs.flatMap(epochSpans.get).toSeq
    val fold = foldEpochs.flatMap(epochSpans.get).toSeq
    val prog = ctx.ledger.get.progress.asScala
    // progress events are keyed by batch id: epoch e is batch e
    def progP50(key: String) = Stats.median(plainEpochs.filter(epochSpans.contains).flatMap(e =>
      prog.get(e.toLong).flatMap(_.get(key))).map(_.toDouble).toSeq)
    val timedEpochs = released - timedFrom
    Layers.call(attr, plain, "ext.stream.epoch",
      Seq("jobs", "tasks", "task_ms", "driver_ms", "shuffle_bytes", "files_created")) ++
    Layers.call(attr, fold, "ext.stream.fold_epoch", Seq("jobs", "driver_ms")) ++
    Map(
      "ext.stream.progress.addbatch_ms_p50" -> progP50("addBatch"),
      "ext.stream.progress.planning_ms_p50" -> progP50("queryPlanning"),
      "ext.stream.progress.walcommit_ms_p50" -> progP50("walCommit"),
      "ext.stream.progress.latestoffset_ms_p50" -> progP50("latestOffset"),
      "ext.stream.kept" -> keptTotal.toDouble / math.max(1, timedEpochs),
      "ext.index.bytes_start" -> indexStart._1.toDouble,
      "ext.index.files_start" -> indexStart._2.toDouble,
      "ext.index.dirs_start" -> indexStart._3.toDouble,
      "ext.index.bytes_end" -> indexEnd._1.toDouble,
      "ext.index.files_end" -> indexEnd._2.toDouble,
      "ext.index.dirs_end" -> indexEnd._3.toDouble,
      "ext.index.files_read_ratio" ->
        attr.filesReadRatio(plain, indexDir).getOrElse(Double.NaN))
  }

  override def details: Map[String, Any] = Map(
    "loop" -> "closed: one epoch in flight",
    "epoch_docs" -> EpochDocs, "compact_every" -> CompactEvery,
    "epochs_released" -> released, "timed_from_epoch" -> timedFrom,
    "mix" -> Corpus.Mix.toMap,
    "index_at_window_start" -> Option(indexStart).map(_.productIterator.toSeq))

  def close(): Unit = if (q != null) q.stop()
}
