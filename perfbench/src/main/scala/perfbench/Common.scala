package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one run. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cpus: Int = 4) {
  /** Per-seed input cache, kept between runs (input generation is not timed). */
  val dataRoot: File = new File("perfbench/.data")
  /** Scratch outputs of this run, deleted when it ends. */
  val runDir: File = new File(s"perfbench/.out/run-${ProcessHandle.current.pid}")
}

/** One metric of the final report. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back to [[Main]]. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric],
                         notes: Seq[String] = Nil, traceJson: Option[String] = None)

/** Output checks: each failure is recorded and counted. */
final class Checks {
  private val failures = mutable.ArrayBuffer[String]()
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
  def failed: Seq[String] = failures.toSeq
}

object Common {

  /** Build the session the engine's mains use, at local[cpus]. */
  def session(cpus: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    graft.GraftSession.local(cpus.toString)
  }

  /** Set up once, cold: build the session the engine's mains use, then run
    * `prepare` (suite load and compile plus one warm pass). Timed from JVM
    * start, so class loading, the first JIT and Spark's first code
    * generation count, less the `excludedS` seconds of input generation
    * that ran before it. Returns the session and the set-up seconds. */
  def setUp(cpus: Int, excludedS: Double)(prepare: SparkSession => Unit): (SparkSession, Double) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val spark = session(cpus)
    val built = (System.nanoTime() - t0) / 1e9
    prepare(spark)
    val setupS = (System.nanoTime() - t0) / 1e9 - excludedS
    System.err.println(f"[perfbench] set-up: session at $built%.2f s, done at $setupS%.2f s " +
      f"(input generation $excludedS%.2f s excluded)")
    (spark, setupS)
  }

  /** Heap occupancy right after a full GC, in MB. A second GC follows a
    * short pause, so that what Spark's cleaner released after the first
    * one is gone too. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** CPU seconds this JVM has used so far, all threads. CPU time is what
    * a run costs; unlike wall time it does not grow when the host steals
    * the processor. */
  def cpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Repeat `body` until `seconds` have passed (at least `min` times). */
  def repeatFor[A](seconds: Int, min: Int = 1)(body: Int => A): Seq[A] = {
    val end = System.nanoTime() + seconds * 1000000000L
    val out = mutable.ArrayBuffer[A]()
    while (out.size < min || System.nanoTime() < end) out += body(out.size)
    out.toSeq
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  /** Cached per-seed input: `make` fills `dir` once; a marker file makes
    * the cache safe against an interrupted generation. */
  def cached[A](dir: File)(make: File => A)(load: File => A): A = {
    val marker = new File(dir, "_COMPLETE")
    if (marker.exists) load(dir)
    else {
      deleteTree(dir)
      dir.mkdirs()
      val a = make(dir)
      marker.createNewFile()
      a
    }
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
