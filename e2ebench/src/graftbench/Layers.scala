package graftbench

/** Per-layer metric families shared by the workloads. */
object Layers {

  /** Per-call figures over `spans` (calls into one layer): `ms_p50` is
    * the median call wall time, the others are means per call. */
  def call(attr: Attribution, spans: Seq[Span], prefix: String,
           keys: Seq[String]): Map[String, Double] = {
    val ts = spans.map(attr.totals)
    def mean(f: attr.Totals => Long): Double =
      if (ts.isEmpty) Double.NaN else ts.map(f).sum.toDouble / ts.size
    keys.map { k =>
      s"$prefix.$k" -> (k match {
        case "ms_p50" => Stats.median(spans.map(_.wallMs))
        case "jobs" => mean(_.jobs)
        case "tasks" => mean(_.tasks)
        case "task_ms" => mean(_.taskMs)
        case "driver_ms" => mean(_.driverMs)
        case "shuffle_bytes" => mean(_.shuffleBytes)
        case "files_created" =>
          if (spans.isEmpty) Double.NaN else spans.map(_.filesCreated).sum.toDouble / spans.size
        case other => throw new IllegalArgumentException(other)
      })
    }.toMap
  }

  /** The call spans named `name` inside the traced cycles. */
  def named(ctx: Ctx, name: String): Seq[Span] =
    ctx.tracer.spans.toSeq.filter(_.name == name)

  /** Spark runtime and file-system totals over the traced cycles. */
  def common(attr: Attribution, cycles: Seq[Span], ctx: Ctx,
             gcMs: Long): Map[String, Double] = {
    val ts = cycles.map(attr.totals)
    val wallMs = cycles.map(_.wallMs).sum
    val taskMs = ts.map(_.taskMs).sum.toDouble
    Map(
      "spark.jobs" -> ts.map(_.jobs).sum.toDouble,
      "spark.tasks" -> ts.map(_.tasks).sum.toDouble,
      "spark.task_ms" -> taskMs,
      "spark.driver_ms" -> ts.map(_.driverMs).sum.toDouble,
      "spark.core_busy_ratio" -> taskMs / (wallMs * ctx.cores),
      "spark.gc_ms" -> gcMs.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "fs.files_created" -> cycles.map(_.filesCreated).sum.toDouble,
      "fs.bytes_written" -> ts.map(_.bytesWritten).sum.toDouble)
  }
}
