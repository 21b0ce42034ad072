package graft

import org.apache.spark.sql.SparkSession

/**
 * Driver-run benchmark: every SparkEntry query materialized fully via the
 * noop sink (`.count()` would let Catalyst prune aggregates/sorts and
 * under-report), one JSON line to stdout.
 *
 * Each query runs `SPARK_GRAFT_BENCH_REPS` times (default 3) and reports
 * the per-query MEDIAN: identical code measured 0.12×–3.36× across two
 * single-shot rounds (GC, codegen-cache, page-cache noise), so a
 * single-shot bench cannot attribute regressions. Reps interleave by
 * round (q1..qN, q1..qN, ...) rather than back-to-back so one rep's
 * cache residue doesn't define the next measurement of the same query.
 *
 * Environment attribution fields (VERDICT r7 #2 — round 7's bench drifted
 * 1.5× on a loaded machine against regenerated fixtures and the JSON
 * carried no evidence either way):
 *   - `loadavg`: 1-min system load sampled at start, after each rep
 *     round, and at end — machine contention becomes visible in the
 *     artifact instead of needing a forensic rerun;
 *   - `rep_walls`: every per-rep wall per query, not just the median —
 *     a noisy rep (GC pause, competing process) shows as one outlier
 *     instead of silently shifting the median;
 *   - `fixtures`: per-table mtime + Spark schema of the input parquet —
 *     a driver-side fixture regeneration (round 7's root confound) is
 *     diffable across BENCH_r{N}.json artifacts.
 */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.log.DirectCommitProtocol.Key, graft.log.DirectCommitProtocol.Value)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadStart = loadavg()
    // fixture fingerprint BEFORE warm-up so an unreadable fixture is
    // attributed to the fixture, not to the first query touching it
    val fixtures = FixtureGuard.observe(spark, sfDir)
    FixtureGuard.check(fixtures) match {
      case Seq() => ()
      case drift =>
        // warn, don't abort: the bench should still produce numbers on a
        // drifted fixture — the JSON carries the evidence for the reader
        drift.foreach(m => System.err.println(s"[bench][fixture-drift] $m"))
    }
    // Warm-up: one-time session costs out of the timings — parquet file
    // index, whole-stage codegen, the envelope decode path, and Spark ML
    // class-loading (a 4-point KMeans fit; the first ML fit of a JVM
    // otherwise pays ~3 s of initialization that would be misattributed
    // to whichever query runs first).
    // each step in its own try: one missing fixture must not silently
    // skip the remaining warm-ups (which would misattribute their
    // one-time cost to the first query that needs them)
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    try {
      import org.apache.spark.ml.functions.array_to_vector
      import org.apache.spark.sql.functions.{array, col, lit}
      new org.apache.spark.ml.clustering.KMeans().setK(2).setMaxIter(1)
        .setFeaturesCol("fv")
        .fit(spark.range(4).select(array_to_vector(
          array(col("id").cast("double"), lit(0.0))).as("fv"))): Unit
    } catch { case _: Throwable => }
    // Fixture pre-warm (VERDICT r8 #7): the Fixtures.dir-backed queries
    // build a one-time on-disk fixture (topic log, txn/ack roots, file
    // sink output, due-bucket index) on FIRST touch — without this pass
    // rep 1 of each carries multi-second build cost that the median then
    // reports as query time (r8: ack_compaction 8.3 s rep1 vs 0.9 s
    // warm). Build them all once here and report the cost as its own
    // field so the artifact attributes it instead of hiding it.
    val fixtureBacked = Seq("topic_log_roundtrip", "txn_ack",
      "ack_compaction", "coalesce_roundtrip", "file_sink_roundtrip",
      "delayed_due", "shadow_read", "offload_read", "retention_trim",
      "partition_update", "read_compacted",
      // the rate twins' one-time costs (q-log fixture + the cached
      // fixture-size count behind rateForScale) must land in prewarm,
      // not in rep 1's timed region
      "dispatch_rate_stream", "dispatch_rate_debt_stream",
      // round 12: ordered-replay range-bucket fixture + the AMO slice
      // fixture build once here, not in rep 1
      "function_pipeline_replay", "function_pipeline_amo")
    val prewarmT0 = System.nanoTime()
    fixtureBacked.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] prewarm $name failed: ${e.getMessage}")
        }
      }
    }
    val prewarmSec = (System.nanoTime() - prewarmT0) / 1e9
    // Ambient-host calibration (VERDICT r11 #7): a FIXED CPU+shuffle
    // microquery — independent of sf dir and of the code under test —
    // timed 3× after warm-up. Cross-round bench comparisons divide by
    // this instead of arguing from loadavg: the same repo measured on a
    // busier/slower host shows a proportionally larger calibration wall.
    import org.apache.spark.sql.functions.{col, count, hash, lit, pmod, sum}
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(16000000L)
        .withColumn("k", pmod(hash(col("id")), lit(4096)))
        .groupBy("k").agg(count(lit(1)), sum("id"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate(): Unit // codegen/plan warm-up, untimed
    val calWalls = Seq.fill(3)(calibrate())
    // Second calibration leg (round 12): storage + memory bandwidth.
    // Measured need: a cross-boot host change slowed the median query
    // 1.30× while the CPU+shuffle probe above moved only 1.05× (see
    // SNAPSHOTS.md "cross-boot host factor") — the hash-agg probe's
    // working set is cache-resident and its shuffle is tiny, so it is
    // blind to the disk/bandwidth dimension most real queries lean on.
    // This leg writes an incompressible ~250 MB parquet table to the
    // host's temp storage and aggregates it back.
    def calibrateIo(): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft-cal-io")
      try {
        val t0 = System.nanoTime()
        spark.range(32000000L)
          .withColumn("v", org.apache.spark.sql.functions.xxhash64(col("id")))
          .write.mode("overwrite").parquet(dir.toString)
        // max, not sum: summing 32M uniform longs overflows under ANSI
        spark.read.parquet(dir.toString)
          .agg(org.apache.spark.sql.functions.max(col("v"))).collect(): Unit
        (System.nanoTime() - t0) / 1e9
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    calibrateIo(): Unit // warm-up, untimed
    val calIoWalls = Seq.fill(3)(calibrateIo())
    // Boot-floor SENTINELS (round 15, prospective form of the round-14
    // forensic method): warm walls of the DESIGNATED floor-bound rows —
    // short queries with task-time well under their wall, untouched by
    // agreement across rounds (BASELINE.md lists them) — measured AT
    // THE CUT. A cross-boot driver/JVM-floor shift moves these rows
    // whole while the cpu probe stays flat (r14: url_dedup 0.52 s vs
    // 0.28 s, same code, probe ±2%); recording them in the artifact
    // lets compare.py tag all-cuts regressions that sit inside the
    // sentinel-measured floor band without a forensic rerun.
    // Measured AFTER the rep loop (round 16): the r15 form ran the four
    // sentinel queries warm BEFORE rep 1, which pre-built their
    // session-cached fixtures and biased those rows' rep-1 walls low vs
    // pre-sentinel base artifacts (ADVICE r15). After the reps, every
    // query is equally warm and the sentinel medians measure exactly
    // the driver/JVM floor they exist for.
    val sentinelNames =
      Seq("url_dedup", "char_entropy", "q_distinct", "sample_hash")
    def measureSentinels(): Seq[(String, Double)] = sentinelNames.flatMap { n =>
      SparkEntry.queries.get(n).flatMap { fn =>
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
          val walls = Seq.fill(3) {
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          Some(n -> median(walls))
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] sentinel $n failed: ${e.getMessage}")
          None
        }
      }
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val repLoads = new scala.collection.mutable.ArrayBuffer[Double]
    // a failed rep is no sample: the wall of a query that threw is the
    // time to the exception, not the query's cost
    val samples = (1 to reps).flatMap { _ =>
      val round = ordered.flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      repLoads += loadavg()
      round
    }
    val sentinels = measureSentinels()
    val byName = samples.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // a query that failed every rep is listed apart, out of queries/total
    val (timed, failedAll) = ordered.map(_._1).partition(byName.contains)
    val results = timed.map(name => name -> median(byName(name)))
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val failedJson = failedAll.map(jstr).mkString("[", ",", "]")
    val walls = timed.map { name =>
      jstr(name) + ":" + byName(name).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fixturesJson = fixtures.toSeq.sortBy(_._1).map { case (t, (mtime, schema)) =>
      jstr(t) + s""":{"mtime_ms":$mtime,"schema":${jstr(schema)}}"""
    }.mkString("{", ",", "}")
    val loads = s"""{"start":$loadStart,"per_rep":${repLoads.mkString("[", ",", "]")},"end":${loadavg()}}"""
    val total = results.map(_._2).sum
    // cpus comes from an env string ("32" but also "*" for local[*]) —
    // emit a bare number only when it IS one, else a JSON string, so a
    // non-numeric setting can't corrupt the artifact
    val cpusJson =
      if (cpus.forall(_.isDigit) && cpus.nonEmpty) cpus else jstr(cpus)
    val calibration =
      s"""{"walls":${calWalls.mkString("[", ",", "]")},"median":${median(calWalls)},""" +
        s""""io_walls":${calIoWalls.mkString("[", ",", "]")},"io_median":${median(calIoWalls)}}"""
    val sentinelsJson = sentinels
      .map { case (n, v) => jstr(n) + ":" + v }.mkString("{", ",", "}")
    // rep_walls + fixtures go to a SIDE file (path in the metric line):
    // they are ~80% of the line's bytes, and the driver's finite tail
    // window truncated round 16's (contract-conformant) metric line into
    // `parsed: null`, killing the round-over-round table. The contract
    // fields (metric/value/unit/queries/sf) stay on the one line.
    // a unique default: back-to-back runs must not overwrite each other
    val detailsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAILS",
      java.nio.file.Files.createTempFile("graft_bench_details", ".json").toString)
    val detailsJson =
      s"""{"rep_walls":$walls,"fixtures":$fixturesJson,"loadavg":$loads}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailsPath),
      detailsJson.getBytes("UTF-8")): Unit
    catch { case e: Throwable =>
      System.err.println(s"[bench] details write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":${jstr(sfDir)},"reps":$reps,"cpus":$cpusJson,"fixture_prewarm_sec":$prewarmSec,"calibration":$calibration,"sentinels":$sentinelsJson,"loadavg":$loads,"details_file":${jstr(detailsPath)}}""")
    spark.stop()
  }
}
