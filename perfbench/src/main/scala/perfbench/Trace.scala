package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/**
 * Span recorder for traced runs. A span has a name, a start, an end and a
 * parent; spans live in memory and are written out as JSON when the run
 * ends. While a span is open its id rides on the SparkContext as a local
 * property, so the [[Counters]] listener can charge every job, stage and
 * task to the span whose code submitted it.
 */
final case class Span(id: Int, name: String, parent: Option[Int], startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Spans {
  val Property = "perfbench.span"

  /** Self time of every span: its duration minus its children's. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).collect {
      case (Some(p), kids) => p -> kids.map(_.seconds).sum
    }
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Ids of a span and all of its descendants. */
  def subtree(spans: Seq[Span], root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      kids.getOrElse(Some(id), Nil).map(k => go(k.id)).foldLeft(Set(id))(_ ++ _)
    go(root)
  }

  def toJson(spans: Seq[Span], t0: Long): String =
    spans.map { s =>
      val parent = s.parent.fold("null")(_.toString)
      f"""{"id":${s.id},"name":"${s.name}","parent":$parent,"start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  val t0: Long = System.nanoTime()

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1)
    val outer = sc.getLocalProperty(Spans.Property)
    stack = (id, name, System.nanoTime()) :: stack
    sc.setLocalProperty(Spans.Property, id.toString)
    try body
    finally {
      val (_, _, start) = stack.head
      stack = stack.tail
      done += Span(id, name, parent, start, System.nanoTime())
      sc.setLocalProperty(Spans.Property, outer)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)
}

/** Task-level counters for one span (or a set of spans). */
final case class Tally(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                       cpuNs: Long = 0, gcMs: Long = 0, spillBytes: Long = 0,
                       shuffleWriteBytes: Long = 0, inputBytes: Long = 0,
                       maxTaskMs: Long = 0) {
  def +(o: Tally): Tally = Tally(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuNs + o.cpuNs, gcMs + o.gcMs, spillBytes + o.spillBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, inputBytes + o.inputBytes,
    math.max(maxTaskMs, o.maxTaskMs))
}

/**
 * SparkListener that sums task metrics per span. Jobs outside any span (and
 * streaming jobs) land under span -1; [[total]] covers everything.
 */
final class Counters extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tallies = mutable.Map[Int, Tally]().withDefaultValue(Tally())

  private def add(span: Int, t: Tally): Unit = synchronized { tallies(span) = tallies(span) + t }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Property)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    add(span, Tally(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageSpan.getOrDefault(e.stageInfo.stageId, -1), Tally(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) add(stageSpan.getOrDefault(e.stageId, -1), Tally(
      tasks = 1, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      inputBytes = m.inputMetrics.bytesRead,
      maxTaskMs = e.taskInfo.duration))
  }

  def of(spans: Set[Int]): Tally = synchronized {
    spans.toSeq.map(tallies(_)).foldLeft(Tally())(_ + _)
  }
  def total: Tally = synchronized { tallies.values.foldLeft(Tally())(_ + _) }
  def reset(): Unit = synchronized { tallies.clear() }
}

object Codegen {
  /** Summed janino compile time, in seconds, from Spark's CodegenMetrics
    * histogram (a sampling reservoir, so exact until ~1000 compiles). */
  def compileSeconds(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getValues.sum / 1e3
  }
}
