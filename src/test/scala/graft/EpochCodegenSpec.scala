package graft

import graft.ext.{CleanCorpusStream, NearDupStream}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/**
 * A steady-state indexed-stream epoch compiles no generated class:
 * every class a small epoch (and the fold it starts) needs already
 * sits in Spark's JVM-wide codegen cache from the previous fold cycle
 * (for CleanCorpusStream, a bound; see its case). Compiles are counted
 * with `CodegenMetrics.METRIC_COMPILATION_TIME`, which records one sample
 * per Janino compile. Each epoch's file is released only after the
 * previous epoch committed, and nothing else runs a query while the
 * stream is up, so each count is one epoch's own.
 */
class EpochCodegenSpec extends SparkSpec {
  import spark.implicits._

  /** With `compactEvery = 2` epochs 2, 4 and 6 fold. Epoch 4's fold is
    * the first over an earlier fold, so epoch 6 is the first fold epoch
    * that repeats a shape, and epoch 7 repeats plain epoch 5. */
  private val Epochs = 8
  private val EpochDocs = 20

  private def words(tag: String, n: Int): String =
    (0 until n).map(j => s"$tag$j").mkString(" ")

  /** Per epoch: unique 12-word docs, exact copies (same epoch and the
    * previous one), one-word-changed near copies, and too-short docs. */
  private def text(e: Int, i: Int): String = i match {
    case 12 => words(s"u${e}_0_", 12)
    case 13 => words(s"u${math.max(e - 1, 0)}_1_", 12)
    case 14 | 15 => words(s"u${e}_${i - 12}_", 11) + " changed"
    case 16 | 17 => words(s"s${e}_${i}_", 3)
    case _ => words(s"u${e}_${i}_", 12)
  }

  private lazy val docs: DataFrame =
    (for (e <- 0 until Epochs; i <- 0 until EpochDocs)
      yield ((e * EpochDocs + i).toLong, text(e, i), if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")

  /** Runs `start` over a source directory fed one staged parquet file
    * per epoch; returns the compiles of each epoch. */
  private def compilesPerEpoch(columns: Seq[String])
                              (start: (DataFrame, Path) => StreamingQuery): Seq[Long] = {
    val root = Files.createTempDirectory("epoch-codegen")
    val src = Files.createDirectories(root.resolve("src"))
    val input = docs.select(columns.map(col): _*)
    input.withColumn("e", (col("doc_id") / EpochDocs).cast("int"))
      .repartition(col("e"))
      .write.partitionBy("e").parquet(root.resolve("gen").toString)
    val staged = (0 until Epochs).map { e =>
      val l = Files.list(root.resolve(s"gen/e=$e"))
      try l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally l.close()
    }
    val q = start(spark.readStream.schema(input.schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.parquet").parquet(src.toString), root)
    try staged.zipWithIndex.map { case (file, e) =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Files.move(file, src.resolve(f"e$e%02d.parquet"))
      q.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    } finally q.stop()
  }

  /** Compiles of (the last fold epoch, the last plain epoch). */
  private def steady(compiles: Seq[Long]): (Long, Long) = {
    info(s"compiles per epoch: $compiles")
    assert(compiles.size === Epochs)
    (compiles(Epochs - 2), compiles(Epochs - 1))
  }

  test("NearDupStream: the last plain epoch and the last fold epoch compile nothing") {
    val compiles = compilesPerEpoch(Seq("doc_id", "text")) { (src, root) =>
      NearDupStream.run(src, s"$root/index", s"$root/out",
        s"$root/ckpt", compactEvery = Some(2))
    }
    assert(steady(compiles) === ((0L, 0L)), s"compiles per epoch: $compiles")
  }

  /** Spark's codegen cache is a Guava cache of 4 segments × 25 entries,
    * the segment picked by a hash of the generated source and of the
    * task class loader, whose identity hash changes per JVM. A fold
    * cycle of this stream touches 82 distinct classes (76 in a plain
    * epoch), so in about half of all JVMs one or two segments get more
    * than 25 of them and recompile them every cycle: measured steady
    * (fold, plain) compiles were (0, 0) in 3 runs of 8 and (10, 1),
    * (11, 10), (14, 0), (15, 13), (23, 4) in the others. Without the
    * codegen rule the same epochs compiled (83, 65) and (92, 56). The
    * bound sits between the two. */
  test("CleanCorpusStream: the last plain epoch and the last fold epoch compile fewer than 50 classes") {
    val compiles = compilesPerEpoch(Seq("doc_id", "text", "lang")) { (src, root) =>
      CleanCorpusStream.run(src, s"$root/index", s"$root/out",
        s"$root/ckpt", compactEvery = Some(2))
    }
    val (fold, plain) = steady(compiles)
    assert(fold < 50L && plain < 50L, s"compiles per epoch: $compiles")
  }
}
