package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.aggregate.FileAggregates
import graft.config.SuiteLoader
import graft.pipeline.ValidationPipeline
import graft.sinks.{BulkCapture, CloudWatchSink, ElasticsearchSink, HttpCapture}
import graft.streaming.StreamingPipeline

/**
 * `stream_arrivals`: an open loop. One generator thread lands small odejson
 * objects by atomic rename into the watched directory at a fixed rate; the
 * engine's file stream (processing-time trigger) validates them and its
 * extra sinks post ES metadata docs and idempotent CloudWatch datums. A
 * file's latency runs from its scheduled landing time (not the actual one,
 * so a late generator cannot hide queueing) until the totals hook sees it.
 */
object Stream {
  /** Files offered per round of arrivals; a round is one micro-batch. */
  val FileCount = 8
  /** Measured rounds per run. The first micro-batches after the warm-up
    * still run slow while the JIT compiles; two rounds halve its effect. */
  val Rounds = 2
  /** Gap between two landings: the files land within 0.35 s. */
  val GapMs = 50L
  /** The last file lands this long before the trigger boundary. */
  val MarginMs = 250L
  /** Per-file latency limit behind `streaming.late_frac`. */
  val LatencyLimitS = 10.0
  /** Processing-time trigger interval. Spark fires it on multiples of the
    * interval since the epoch; the arrivals end just before one such
    * boundary, so every run hands the same files to one micro-batch, and a
    * file's latency is at most 0.6 s of waiting plus that batch's time. */
  val TriggerMs = 2000L
  private val Bundles = 100 // ~600 records per object

  private def files(n: Int, prefix: String): Seq[Gen.OdeFile] = (0 until n).map { i =>
    Gen.OdeFile(f"$prefix-$i%04d.json" + (if (i % 3 == 2) ".gz" else ""), bundles = Bundles,
      gzip = i % 3 == 2, serialGaps = 1 + i % 2, duplicates = i % 2, reorders = 2,
      tmc = if (i % 4 == 0) 1 else 0,
      skipFlag = if (i % 5 == 3) Some("rxMsg") else if (i % 7 == 4) Some("sanitized") else None,
      ruleDefects = 2 + i % 4, blankLines = 1)
  }

  /** Progress of one micro-batch, from the benchmark's own listener. */
  final case class Progress(rows: Long, durations: Map[String, Long])

  final class ProgressListener extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches.add(Progress(e.progress.numInputRows,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      ()
    }
  }

  /** Sinks and observations of one streaming query. */
  final class Harness(root: File, runDir: File) {
    val es = new BulkCapture
    val cw = new HttpCapture
    /** file name → (sightings, totals, first sighting in ns) */
    val seen = new ConcurrentHashMap[String, (Int, Seq[Long], Long)]()
    val batchFiles = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    private val batchNo = new AtomicLong()
    private def meta(r: ValidationPipeline.Result) = Pipeline.metadata(r, root.getAbsolutePath)

    val sinks: Seq[ValidationPipeline.Result => Unit] = Seq(
      r => ElasticsearchSink.writeBulk(meta(r), es.endpoint, "metadata", "cv", "key"),
      r => CloudWatchSink.putMetricDataIdempotent(FileAggregates.metricDatums(meta(r)),
        s"b${batchNo.incrementAndGet()}", cw.endpoint, new File(runDir, "cw-ledger").getPath),
      r => {
        val rows = r.fileTotals.select(regexp_extract(col("file"), "[^/]+$", 0),
          col("num_messages_total"), col("num_validations"), col("num_errors"),
          col("num_error_messages"), col("num_valid")).collect()
        val now = System.nanoTime()
        batchFiles.add(rows.length)
        rows.foreach { row =>
          seen.merge(row.getString(0), (1, (1 to 5).map(row.getLong), now),
            (a, b) => (a._1 + b._1, a._2, a._3))
        }
      })

    def stop(): Unit = { es.stop(); cw.stop() }
  }

  def totalsOf(e: Gen.Expect): Seq[Long] = Seq(e.numMessagesTotal, e.numValidations,
    e.numErrors, e.numErrorMessages, e.numMessagesTotal - e.numErrorMessages)

  /** Each offered file emitted exactly once with the wanted totals, one ES
    * doc per file and CloudWatch sums that match the file count. */
  def checkEmitted(h: Harness, want: Map[String, Seq[Long]], checks: Checks): Unit = {
    want.foreach { case (name, totals) =>
      Option(h.seen.get(name)) match {
        case None => checks.check(false, s"$name: never emitted")
        case Some((n, got, _)) =>
          checks.check(n == 1, s"$name: emitted $n times")
          checks.check(got == totals, s"$name: stream totals $got != expected $totals")
      }
    }
    checks.check(h.seen.size == want.size, s"${h.seen.size} files emitted, ${want.size} offered")
    checks.check(h.es.docs.size == want.size, s"ES holds ${h.es.docs.size} docs for ${want.size} files")
    Pipeline.checkDatums(h.cw.effectiveBodies, want.size, checks)
  }

  /** The stream's totals must equal the batch path's over the same files. */
  def checkAgainstBatch(spark: SparkSession, h: Harness, landing: File, checks: Checks): Unit = {
    val batch = ValidationPipeline.runJsonShared(spark, landing.getPath,
      SuiteLoader.fromFile(Pipeline.OdeSuitePath))
      .fileTotals.select(regexp_extract(col("file"), "[^/]+$", 0), col("num_messages_total"),
        col("num_validations"), col("num_errors"), col("num_error_messages"), col("num_valid"))
      .collect().map(r => r.getString(0) -> (1 to 5).map(r.getLong)).toMap
    spark.catalog.clearCache()
    checks.check(batch.keySet == h.seen.keySet.asScala, s"batch saw ${batch.size} files, stream ${h.seen.size}")
    h.seen.asScala.foreach { case (name, (_, got, _)) =>
      checks.check(batch.get(name).contains(got), s"$name: stream totals $got != batch ${batch.get(name)}")
    }
  }

  /** Land `offered` into `landing` at the schedule and return the lag of each
    * rename behind its scheduled time, in seconds. */
  private def land(src: File, landing: File, offered: Seq[Gen.Expect], sched: Int => Long): Seq[Double] =
    offered.zipWithIndex.map { case (e, i) =>
      val tmp = new File(landing, s".${e.name}.tmp")
      Files.copy(new File(src, e.name).toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
      val wait = sched(i) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      Files.move(tmp.toPath, new File(landing, e.name).toPath, StandardCopyOption.ATOMIC_MOVE)
      (System.nanoTime() - sched(i)) / 1e9
    }

  def run(o: Opts): Outcome = {
    val suite = SuiteLoader.fromFile(Pipeline.OdeSuitePath)
    // the cache directory is keyed by seed and by the file specs
    val specs = files(1, "pre") ++ files(Rounds * FileCount, "obj")
    val src = new File(o.dataRoot, s"stream_arrivals-${o.seed}-${specs.hashCode.toHexString}")
    val (expect, genS) = Common.time(Gen.cached(src)(specs.map(Gen.writeOde(src, _, o.seed))))
    val checks = new Checks
    // the warm pass is the golden anchor: the batch path (the validation,
    // sequential and aggregation code a micro-batch runs) over the
    // committed odejson fixture, checked once set-up is timed
    var golden: (Set[Seq[String]], Set[Seq[String]]) = null
    val (spark, setupS) = Common.setUp(o.cpus, genS)(s => golden = Pipeline.goldenRun(s))
    Pipeline.checkGolden(golden, checks)

    val listener = new ProgressListener
    spark.streams.addListener(listener)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val root = new File(o.runDir, "bucket")
    val landing = new File(root, Pipeline.Prefix)
    landing.mkdirs()
    val h = new Harness(root, o.runDir)
    // a one-file warm-up batch pays the stream's one-off costs (query
    // start, first JIT of the streaming path) and is not measured; the file
    // is in place before the query starts, so its first batch takes it
    val (warmup, offered) = expect.splitAt(1)
    land(src, landing, warmup, _ => System.nanoTime())
    val q = StreamingPipeline.start(spark, landing.getPath, suite, new File(o.runDir, "out").getPath,
      new File(o.runDir, "ckpt").getPath, trigger = Trigger.ProcessingTime(TriggerMs), extraSinks = h.sinks)
    while (h.seen.size < 1 && q.isActive) Thread.sleep(20)
    if (q.isActive) q.processAllAvailable()
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val warmBatches = listener.batches.size
    val warmBatchFiles = h.batchFiles.size
    counters.reset()

    // each round's arrivals end MarginMs before the first trigger boundary
    // at least a second away; the next round starts once the stream has
    // drained and committed this one
    def round(files: Seq[Gen.Expect]): (Seq[Double], Seq[Double], Double) = {
      val nowMs = System.currentTimeMillis()
      val boundaryMs = ((nowMs + 1000) / TriggerMs + 1) * TriggerMs
      val t0 = System.nanoTime() +
        (boundaryMs - nowMs - MarginMs - (FileCount - 1) * GapMs) * 1000000L
      val sched = files.indices.map(i => t0 + i * GapMs * 1000000L)
      val cpu0 = Common.cpuS()
      val lags = land(src, landing, files, sched)
      // wait for every file of the round, at most three latency limits
      val deadline = sched.last + (3 * LatencyLimitS * 1e9).toLong
      while (!files.forall(e => h.seen.containsKey(e.name)) && System.nanoTime() < deadline &&
        q.isActive) Thread.sleep(20)
      if (q.isActive) q.processAllAvailable()
      val latencies = files.zip(sched).flatMap { case (e, t) =>
        Option(h.seen.get(e.name)).map(s => (s._3 - t) / 1e9)
      }
      (lags, latencies, Common.cpuS() - cpu0)
    }
    val rounds = offered.grouped(FileCount).toSeq.map(round)
    q.stop()
    val heapMb = Common.liveHeapMb()
    PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.streams.removeListener(listener)
    checkEmitted(h, expect.map(e => e.name -> totalsOf(e)).toMap, checks)
    checkAgainstBatch(spark, h, landing, checks)
    h.stop()

    val lags = rounds.flatMap(_._1)
    val latencies = rounds.flatMap(_._2)
    val cpuS = Stats.median(rounds.map(_._3))
    val late = offered.size - latencies.count(_ <= LatencyLimitS)
    val busy = listener.batches.asScala.toSeq.drop(warmBatches).filter(_.rows > 0)
    def med(key: String) = if (busy.isEmpty) 0.0 else Stats.median(busy.map(_.durations.getOrElse(key, 0L).toDouble))
    val triggerS = busy.map(_.durations.getOrElse("triggerExecution", 0L) / 1e3)
    val rows = busy.map(_.rows).sum
    val p50 = if (latencies.isEmpty) Double.NaN else Stats.median(latencies)
    val tail = Stats.tail(latencies)
    val fpb = h.batchFiles.asScala.toSeq.drop(warmBatchFiles).map(_.toDouble)
    val streaming = Seq(
      "streaming.batches" -> busy.size.toDouble,
      "streaming.files_per_batch" -> (if (fpb.isEmpty) 0.0 else fpb.sum / fpb.size),
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.get_batch_ms" -> med("getBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.gen_lag_s" -> (if (lags.isEmpty) 0.0 else lags.max),
      "streaming.latency_tail_s" -> tail.fold(0.0)(_._2),
      "streaming.latency_tail_pct" -> tail.fold(0.0)(_._1),
      "streaming.late_frac" -> late.toDouble / offered.size) ++ Layers.engine(counters.total)
    val notes = Seq(
      f"input generation $genS%.2f s; after a one-file warm-up batch, offered ${offered.size} files in " +
        f"${rounds.size} measured rounds, ${GapMs} ms apart, each round's last ${MarginMs} ms before a trigger " +
        f"boundary; latency limit $LatencyLimitS%.1f s",
      f"late_frac = ${late.toDouble / offered.size}%.4f ($late of ${offered.size} files)",
      f"records_per_s = ${rows / triggerS.sum}%.1f, measured micro-batches ${triggerS.sum}%.3f s",
      "micro-batches (rows/ms): " + busy.map(b =>
        s"${b.rows}/${b.durations.getOrElse("triggerExecution", 0L)}").mkString(" "),
      tail.fold(s"latency tail: fewer than 20 samples (${latencies.size})") { case (p, v) =>
        f"latency_tail_s = $v%.4f s at p$p%.1f over ${latencies.size} files" })
    val (metrics, traceNotes, traceJson) =
      if (!o.trace) (Seq(
        Metric("setup_s", setupS, "s"),
        Metric("latency_p50_s", p50, "s"),
        Metric("cpu_s", cpuS, "s"),
        Metric("peak_live_heap_mb", heapMb, "MB")), Nil, None)
      else {
        // layer split of the same files through the batch path
        val bytes = landing.listFiles.filter(_.isFile).map(_.length).sum
        val in = Input(root.getAbsoluteFile, new File(landing, "*").getAbsolutePath, expect, bytes)
        var k = 0
        val t = TracedPipeline.run(spark, Pipeline.odeShape, in, counters,
          () => { k += 1; new File(o.runDir, s"traced-$k") }, checks)
        (Layers.complete(t.measured.filterNot(_._1.startsWith("spark.")) ++ streaming),
          t.notes, Some(t.json))
      }
    spark.stop()
    checks.failed.foreach(f => System.err.println(s"[check] $f"))
    Outcome(expect.size.toLong + Pipeline.golden("ode_file_totals").size, checks.failed.size.toLong, metrics,
      notes ++ traceNotes ++ checks.failed.map("check failed: " + _), traceJson)
  }
}
