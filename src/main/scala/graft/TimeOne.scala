package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: time one registered query N times (default 3) on one SF
  * dir — the per-query feedback loop for plan iteration that Bench (all
  * queries, one shot) is too coarse for. Not part of the driver contract. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.log.DirectCommitProtocol.Key, graft.log.DirectCommitProtocol.Value)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // task-time accounting: wall alone cannot separate "superlinear
    // kernel" from "linear kernel behind a fixed driver/setup floor" —
    // executorRunTime sums the actual compute, so (wall, taskTime)
    // pairs across scales attribute growth to the right bucket
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    // SPARK_GRAFT_STAGE_DEBUG: per-stage executorRunTime attribution —
    // which stages own a suspicious task-time total (prints stages over
    // 200 ms, with name + task count)
    val stageDbg = sys.env.contains("SPARK_GRAFT_STAGE_DEBUG")
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            taskMs.addAndGet(e.taskMetrics.executorRunTime): Unit
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (stageDbg && e.stageInfo.taskMetrics != null) {
            val run = e.stageInfo.taskMetrics.executorRunTime
            if (run > 200)
              println(f"[stage] id=${e.stageInfo.stageId}%5d run=${run / 1000.0}%7.2fs " +
                f"tasks=${e.stageInfo.numTasks}%4d ${e.stageInfo.name.take(90)}")
          }
      })
    // comma-separated names run as a SEQUENCE within each rep — the
    // bench-context reproducer for interaction effects (shared persist
    // caches, AQE reuse) a single-query loop can't see
    val names = name.split(",").toSeq
    val fns = names.map(n => n -> SparkEntry.queries(n))
    for (i <- 1 to reps) {
      fns.foreach { case (n, fn) =>
        taskMs.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener delivery is async — settle before reading the counter
        Thread.sleep(200)
        println(f"[timeone] $n run $i: $wall%.2f s  " +
          f"(task-time ${taskMs.get() / 1000.0}%.1f s, " +
          f"ratio ${taskMs.get() / 1000.0 / wall}%.1f)")
      }
    }
    spark.stop()
  }
}
