package graftbench

import java.nio.file.{Files, Paths}

/** What the host was doing around a run. Recorded in the details file
  * only: it never drops or rescales a run. */
object Host {

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  private def cpuJiffies(): Option[(Long, Long)] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
    } catch { case _: Exception => None }

  def loadavg(): Option[Double] =
    try Some(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble)
    catch { case _: Exception => None }

  /** Fixed single-thread CPU work: xorshift mixing over a 4 MiB array
    * (compute plus cache traffic). Returns milliseconds; the same number
    * on an idle host of one machine type. */
  def calibrationMs(): Double = {
    val a = new Array[Long](1 << 19)
    var x = 88172645463325252L
    val t0 = System.nanoTime()
    var round = 0
    while (round < 40) {
      var i = 0
      while (i < a.length) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        a((x & (a.length - 1)).toInt) += x
        i += 1
      }
      round += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (a(0) == 42L) println("") // keep the loop observable
    ms
  }

  final class Record {
    private val cpu0 = cpuJiffies()
    private val load0 = loadavg()
    private val calib0 = { calibrationMs(); calibrationMs() } // second run: compiled

    def finish(): Map[String, Any] = {
      val cpu1 = cpuJiffies()
      val steal = for ((s0, t0) <- cpu0; (s1, t1) <- cpu1 if t1 > t0)
        yield (s1 - s0).toDouble / (t1 - t0)
      Map(
        "cpu_steal_share" -> steal,
        "loadavg_start" -> load0,
        "loadavg_end" -> loadavg(),
        "calibration_ms_start" -> calib0,
        "calibration_ms_end" -> calibrationMs(),
        "nproc" -> Runtime.getRuntime.availableProcessors())
    }
  }
}
