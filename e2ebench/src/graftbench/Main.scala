package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one stretch of cycles measured. `samples` is the workload's
  * main latency in the order measured; `busyNs` the time the counted
  * items took (whole cycles only, without the heap probes between
  * cycles). */
final class Rec {
  val samples = ArrayBuffer[Double]()
  val fold = ArrayBuffer[Double]()
  val cycleMs = ArrayBuffer[Double]()
  var items = 0L
  var busyNs = 0L
  var attempted = 0L
  var failed = 0L
  var gcMs = 0L
  val notes = scala.collection.mutable.LinkedHashMap[String, Any]()

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (notes.size < 40) notes(s"failed_${notes.size}") = what
    }
  }
}

/** Context every workload gets. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val timedCycles: Int, val cores: Int, val tracer: Tracer,
                val ledger: Option[Ledger]) {
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

trait Workload {
  /** Builds the workload's starting state (inputs, topics, indexes) and
    * starts what must run. */
  def setup(): Unit
  def cycle(k: Int, rec: Rec): Unit
  /** Called once, right before the first timed cycle. */
  def windowStart(): Unit = ()
  /** Output checks that need the whole run (added to `rec`). */
  def verify(rec: Rec): Unit
  /** Per-layer metrics over the traced cycles. */
  def layers(attr: Attribution, cycles: Seq[Span]): Map[String, Double]
  def details: Map[String, Any] = Map.empty
  def close(): Unit
}

object Main {
  /** Set-ups per run, each in a fresh directory; set-up time is their
    * median and the last one is measured. */
  val SetupReps = 3
  /** One timed cycle per `CycleSeconds` of `--seconds`. A cycle takes
    * about 15 s (`corpus_stream`) or 10 s (`topic_pubsub`) on a 4-core
    * host; the rest of a run's budget goes to set-up and the warm-up. */
  val CycleSeconds = 15.0
  /** Whole cycles of the workload's own mix run before the window. */
  val WarmCycles = 1

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val result = Paths.get(args("result"))
    val maxCores = workload match {
      case "corpus_stream" => CorpusStream.Cores
      case "topic_pubsub" => TopicPubsub.Cores
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cores = math.min(maxCores, Runtime.getRuntime.availableProcessors())

    val host = new Host.Record
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config(graft.log.DirectCommitProtocol.Key, graft.log.DirectCommitProtocol.Value)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val data = work.resolve("data")
    Files.createDirectories(data)
    val tracer = new Tracer(s"$workload-$seed-${System.currentTimeMillis()}",
      () => if (trace) treeStats(data.toString)._2 else 0L)
    val ledger = if (trace) Some(new Ledger(spark)) else None
    // a traced run needs an odd count: its traced cycles sit between
    // untraced ones, which the tracing overhead is measured against
    val cycles = math.max(1, math.round(seconds / CycleSeconds).toInt) match {
      case n if trace && n % 2 == 0 => n + 1
      case n => n
    }
    val ctx = new Ctx(spark, data, seed, cycles, cores, tracer, ledger)
    def make(tag: String): Workload = workload match {
      case "corpus_stream" => new CorpusStream(ctx, tag)
      case _ => new TopicPubsub(ctx, tag)
    }
    val instances = (0 until SetupReps).map(r => make(s"i$r"))
    val setupS = instances.map { w =>
      val s = System.nanoTime()
      w.setup()
      (System.nanoTime() - s) / 1e9
    }
    // the discarded instances leave nothing behind for the window
    instances.init.zipWithIndex.foreach { case (w, r) =>
      w.close()
      deleteTree(data.resolve(s"i$r"))
    }
    val wl = instances.last
    val warm = new Rec
    val warmStart = System.nanoTime()
    (0 until WarmCycles).foreach(k => runCycle(wl, k, warm))
    heapProbe()
    val warmS = (System.nanoTime() - warmStart) / 1e9
    wl.windowStart()

    val timed = new Rec
    val untraced = new Rec
    var heapPeak = 0.0
    val cycleSpans = ArrayBuffer[Span]()
    // a traced run alternates untraced and traced cycles, for the overhead
    (0 until cycles).foreach { i =>
      val k = WarmCycles + i
      val on = trace && i % 2 == 1
      tracer.enabled = on
      tracer.span("cycle")(runCycle(wl, k, if (!trace || on) timed else untraced))
      if (on) cycleSpans += tracer.spans.last
      tracer.enabled = false
      heapPeak = math.max(heapPeak, heapProbe())
    }
    wl.verify(timed)
    wl.close()
    // The batch operators (TextOps, MinHash, VectorOps) are measured in
    // traced runs of the corpus workload: one untraced and one traced
    // round of the batch probe after the window.
    val probe = if (trace && workload == "corpus_stream") {
      val b = new CorpusBatch(ctx, "probe")
      val rec = new Rec
      b.setup()
      b.round(rec)
      tracer.enabled = true
      b.round(rec)
      tracer.enabled = false
      b.verify(rec)
      timed.attempted += rec.attempted
      timed.failed += rec.failed
      timed.notes ++= rec.notes.map { case (k, v) => s"probe_$k" -> v }
      Some(b)
    } else None
    val attr = ledger.map { l => l.drain(); new Attribution(tracer.spans.toSeq, l) }
    val layers = attr.map(a => wl.layers(a, cycleSpans.toSeq) ++
      probe.map(_.layers(a)).getOrElse(Map.empty) ++
      Layers.common(a, cycleSpans.toSeq, ctx, timed.gcMs)).getOrElse(Map.empty)

    def e2e(r: Rec): Map[String, Double] = Map(
      "setup_s" -> (sessionS + Stats.median(setupS)),
      "items_per_s" -> r.items / (r.busyNs / 1e9),
      "latency_ms_p50" -> Stats.median(r.samples.toSeq),
      "latency_ms_p90" -> Stats.quantile(r.samples.toSeq, 0.9),
      "fold_latency_ms_p50" -> Stats.median(r.fold.toSeq),
      "heap_live_peak_mb" -> heapPeak)
    val main = e2e(timed)
    val overhead: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val u = e2e(untraced)
        Map("trace.overhead.latency_ms_p50_pct" ->
          100.0 * (main("latency_ms_p50") / u("latency_ms_p50") - 1),
          "trace.overhead.items_per_s_pct" ->
          100.0 * (main("items_per_s") / u("items_per_s") - 1))
      }
    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores, "cycles" -> cycles,
      "warm_cycles" -> WarmCycles,
      "end_to_end" -> main,
      "per_layer" -> (layers ++ overhead),
      "untraced_end_to_end" -> (if (trace) Some(e2e(untraced)) else None),
      "attempted" -> (timed.attempted + untraced.attempted),
      "failed" -> (timed.failed + untraced.failed),
      "failed_ratio" -> (timed.failed + untraced.failed).toDouble /
        math.max(1L, timed.attempted + untraced.attempted),
      "samples" -> timed.samples.size,
      "fold_samples" -> timed.fold.size,
      "items" -> timed.items,
      "drift" -> Stats.drift(timed.samples.toSeq),
      "fold_drift" -> Stats.drift(timed.fold.toSeq),
      "session_s" -> sessionS,
      "setup_reps_s" -> setupS,
      "warmup_s" -> warmS,
      "warmup_samples" -> warm.samples,
      "warmup_fold" -> warm.fold,
      "warmup_cycle_ms" -> warm.cycleMs,
      "timed_samples" -> timed.samples,
      "timed_fold" -> timed.fold,
      "timed_cycle_ms" -> timed.cycleMs,
      "gc_ms" -> timed.gcMs,
      "checks" -> (warm.notes ++ timed.notes ++ untraced.notes),
      "workload_details" -> wl.details,
      "probe_details" -> probe.map(_.details),
      "spans" -> (if (trace) tracer.spans.map(s => Map("id" -> s.id,
        "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.durNs / 1e6, "walk_ms" -> s.walkNs / 1e6,
        "files_created" -> s.filesCreated)) else Nil),
      "host" -> host.finish())
    Files.write(result, Json.write(out).getBytes("UTF-8"))
    spark.stop()
  }

  private def gcTimeMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def runCycle(wl: Workload, k: Int, rec: Rec): Unit = {
    val g0 = gcTimeMs()
    val s = System.nanoTime()
    wl.cycle(k, rec)
    rec.cycleMs += (System.nanoTime() - s) / 1e6
    System.err.println(f"[graftbench] cycle $k ${rec.cycleMs.last}%.0f ms, " +
      s"samples ${rec.samples.takeRight(4).map(x => math.round(x)).mkString(" ")}, " +
      s"fold ${rec.fold.takeRight(1).map(x => math.round(x)).mkString}")
    rec.gcMs += gcTimeMs() - g0
  }

  /** Live heap after a full collection, in MB. */
  private def heapProbe(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  def treeStats(root: String): (Long, Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var files = 0L; var dirs = 0L; var bytes = 0L
        s.iterator().asScala.foreach { f =>
          if (Files.isDirectory(f)) dirs += 1
          else { files += 1; bytes += Files.size(f) }
        }
        (bytes, files, dirs)
      } finally s.close()
    }
  }
}
