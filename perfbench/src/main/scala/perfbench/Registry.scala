package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/**
 * `registry_hot`: a closed loop over registry queries of the ext.Dedup,
 * ext.Similarity, ext.Geo and functions.HashAggregates families, back to
 * back on seeded tables shaped like the engine's test data (written by the
 * launcher). Each query is timed by the engine's own `BenchHarness`, the way
 * `graft.Bench` times it: a noop-sink full evaluation followed by a cache
 * clear and a GC, all inside its timer. The outputs are written once, after
 * the timed passes, for the launcher's DuckDB oracle check.
 */
object Registry {
  /** One query per family, trimmed from the full hot list to fit a run:
    * product quantisation (ext.Similarity), MinHash with md5 slot hashes
    * (ext.Dedup, functions.HashAggregates) and sliced co-location
    * (ext.Geo). */
  val Queries: Seq[String] = Seq("q_pq_topk_md5", "q_minhash_pairs_md5", "q_colocation_sliced")

  /** The table each query reads (its rows per pass feed `records_per_s`). */
  private val reads: Map[String, String] = Map(
    "q_pq_topk_md5" -> "embeddings", "q_minhash_pairs_md5" -> "documents",
    "q_colocation_sliced" -> "events")

  /** One query through the engine's harness; returns (construct seconds,
    * total seconds, whether it ran without error). */
  private def timed(spark: SparkSession, q: String, dir: String): (Double, Double, Boolean) = {
    val t0 = System.nanoTime()
    var construct = 0.0
    val ok = graft.PerfbenchHarness.run(spark, dir)(q, { (s, d) =>
      val df = graft.SparkEntry.queries(q)(s, d)
      construct = (System.nanoTime() - t0) / 1e9
      df
    })
    (construct, (System.nanoTime() - t0) / 1e9, ok)
  }

  def run(o: Opts): Outcome = {
    val dir = new File(o.dataRoot, s"registry_hot-${o.seed}")
    val outputs = new File(s"perfbench/.out/registry-${o.seed}-${if (o.trace) 1 else 0}")
    val checks = new Checks
    require(new File(dir, "_COMPLETE").exists, s"registry tables missing under ${o.dataRoot}")
    val path = dir.getPath
    var runs = 0L
    def checked(s: SparkSession, q: String, d: String): (Double, Double) = {
      runs += 1
      val (construct, total, ok) = timed(s, q, d)
      checks.check(ok, s"$q failed on $d")
      (construct, total)
    }
    // the warm pass runs the query list once over the measured tables
    val (spark, setupS) = Common.setUp(o.cpus, 0.0)(s => Queries.foreach(checked(s, _, path)))
    val rows = Queries.map(q => spark.read.parquet(s"$path/${reads(q)}.parquet").count()).sum
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val sc = spark.sparkContext
    val notes = scala.collection.mutable.ArrayBuffer[String]()

    // one pass before measuring writes each query's output for the oracle
    // check; it also lets the JIT finish what the warm pass started (the
    // first pass after a single warm pass runs up to a third slower)
    Common.deleteTree(outputs)
    val counts = Queries.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, path)
      df.write.mode("overwrite").parquet(new File(outputs, q).getPath)
      spark.catalog.clearCache()
      q -> spark.read.parquet(new File(outputs, q).getPath).count()
    }
    System.gc()
    counts.foreach { case (q, c) => checks.check(c > 0, s"$q returned no rows") }
    val oracles = Queries.map(q => s"${Main.quote(q)}:${Main.quote(graft.SparkEntry.oracleSql(q))}")
    Files.write(new File(outputs, "check.json").toPath,
      ("{\"tables\":" + Main.quote(dir.getAbsolutePath) + ",\"oracles\":" +
        oracles.mkString("{", ",", "}") + "}").getBytes(UTF_8))
    val metrics = if (!o.trace) {
      val passes = Common.repeatFor(o.seconds, min = 2) { _ =>
        val cpu0 = Common.cpuS()
        (Queries.map(checked(spark, _, path)._2).sum, Common.cpuS() - cpu0, Common.liveHeapMb())
      }
      // a pass is the whole query list: its median time is wall_s
      val wall = Stats.median(passes.map(_._1))
      notes += f"passes=${passes.size} wall_s=$wall%.3f records_per_s=${rows / wall}%.1f " +
        "pass times " + passes.map(p => f"${p._1}%.3f").mkString(",")
      Seq(Metric("setup_s", setupS, "s"),
        Metric("latency_p50_s", wall, "s"),
        Metric("cpu_s", Stats.median(passes.map(_._2)), "s"),
        Metric("peak_live_heap_mb", passes.map(_._3).max, "MB"))
    } else {
      val tracer = new Tracer(sc)
      PerfbenchBridge.drainListeners(sc)
      counters.reset()
      val m = Queries.flatMap { q =>
        val (construct, total) = tracer.span(q)(checked(spark, q, path))
        PerfbenchBridge.drainListeners(sc)
        val t = counters.of(Set(tracer.named(q).head.id))
        Seq(s"registry.$q.construct_s" -> construct, s"registry.$q.action_s" -> (total - construct),
          s"registry.$q.jobs" -> t.jobs.toDouble, s"registry.$q.shuffle_bytes" -> t.shuffleWriteBytes.toDouble)
      }
      Layers.complete(m ++ Layers.engine(counters.total))
    }

    spark.stop()
    Outcome(runs + Queries.size, checks.failed.size.toLong, metrics,
      Seq(s"input rows per pass $rows; rows per query " +
        counts.map { case (q, c) => s"$q=$c" }.mkString(" ")) ++ notes ++
        checks.failed.map("check failed: " + _))
  }
}
