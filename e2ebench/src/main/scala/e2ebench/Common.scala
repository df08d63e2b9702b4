package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options shared by the benchmark's JVM modes: `--key value`
  * pairs, every value a string. */
final class Opts(args: Array[String]) {
  private val m: Map[String, String] = args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap
  def str(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def str(k: String, d: String): String = m.getOrElse(k, d)
  def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
  def dbl(k: String, d: Double): Double = m.get(k).map(_.toDouble).getOrElse(d)
  def list(k: String): Seq[String] = str(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  def flag(k: String): Boolean = str(k, "0") == "1"
}

object Clock {
  /** Wall-clock milliseconds with sub-millisecond resolution; every
    * timestamp in a run record is on this clock so the client process's
    * `time.time()` readings line up with it. */
  private val base = System.currentTimeMillis() * 1e6 - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + base) / 1e6
  /** When the JVM started (the benchmark's main, for set-up time). */
  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
}

/** Host CPU meters from `/proc/stat`, to tell how much of the machine
  * something outside the benchmark took during a measured window. */
object ProcMeters {
  final case class Snap(wallMs: Double, busy: Long, iowait: Long, steal: Long, own: Long)

  private def ticksOf(pid: String): Long =
    try {
      val s = new String(Files.readAllBytes(Paths.get(s"/proc/$pid/stat")))
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      // utime, stime, cutime, cstime are fields 14..17 (1-based), i.e. 11..14 here
      f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong
    } catch { case _: Exception => 0L }

  def snap(): Snap = {
    val line = try {
      scala.io.Source.fromFile("/proc/stat").getLines().next()
    } catch { case _: Exception => "cpu 0 0 0 0 0 0 0 0" }
    val v = line.split("\\s+").drop(1).map(_.toLong)
    def at(i: Int) = if (i < v.length) v(i) else 0L
    // user nice system idle iowait irq softirq steal
    val busy = at(0) + at(1) + at(2) + at(5) + at(6)
    val self = ProcessHandle.current()
    val own = ticksOf(self.pid().toString) +
      self.parent().map[Long](p => ticksOf(p.pid().toString)).orElse(0L)
    Snap(Clock.nowMs, busy, at(4), at(7), own)
  }

  /** Cores-equivalent used outside this JVM and its client, plus iowait
    * and steal, between two snapshots (USER_HZ = 100). */
  def between(a: Snap, b: Snap): Map[String, Double] = {
    val secs = math.max(1e-3, (b.wallMs - a.wallMs) / 1000.0)
    def cores(t: Long) = t / 100.0 / secs
    Map(
      "external_cores" -> math.max(0.0, cores((b.busy - a.busy) - (b.own - a.own))),
      "iowait_cores" -> cores(b.iowait - a.iowait),
      "steal_cores" -> cores(b.steal - a.steal))
  }
}

object Common {
  /** The engine's own session factory plus its function registry. */
  def session(cores: Int): SparkSession = {
    val spark = graft.core.GraftSession.local(cores)
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Effective SQL configuration of the session, for the run record. */
  def sqlConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") }

  def writeRecord(path: String, rec: Any): Unit =
    Files.write(Paths.get(path), Json.render(rec).getBytes("UTF-8"))

  def ordered(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kv: _*)
}
