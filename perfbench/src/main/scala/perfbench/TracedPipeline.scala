package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.aggregate.FileAggregates
import graft.ingest.Readers
import graft.pipeline.ValidationPipeline
import graft.sinks.{BulkCapture, CloudWatchSink, ElasticsearchSink, HttpCapture}

/**
 * Traced run of a batch workload: the same pipeline, materialised at each
 * layer boundary (lines, parsed records, validated frame, sequential
 * verdicts, totals and histogram, then each sink), one span per layer. The
 * layer spans are the only children of the pass span, so their self times
 * add up to the traced wall time; the gaps between them are reported as
 * `trace.unattributed_s`.
 */
object TracedPipeline {

  /** Every plan node, looking through adaptive and cached subplans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L) else f.length

  /** Measured per-layer values, report lines and the span trace. */
  final case class Traced(measured: Seq[(String, Double)], notes: Seq[String], json: String)

  def run(spark: SparkSession, shape: Pipeline.Shape, in: Input, counters: Counters,
          nextOut: () => File, checks: Checks): Traced = {
    // an untraced pass first: the tracing overhead is traced against it
    val plain = Pipeline.pass(spark, shape, in, nextOut())
    Pipeline.checkPass(spark, in, plain, checks)
    val sc = spark.sparkContext
    PerfbenchBridge.drainListeners(sc)
    counters.reset()
    val tracer = new Tracer(sc)
    val es = new BulkCapture
    val cw = new HttpCapture
    val out = nextOut()
    def persisted(df: DataFrame) = df.persist(StorageLevel.MEMORY_AND_DISK)
    val m = mutable.LinkedHashMap[String, Double]()
    var codegenS = 0.0

    tracer.span("pass") {
      val lines = tracer.span("ingest.read") {
        val l = persisted(Readers.lines(spark, in.glob))
        l.count()
        l
      }
      val parsed = tracer.span("ingest.parse") {
        val p = persisted(Readers.parseNdjsonLines(lines, shape.schema))
        val r = p.agg(count(lit(1)), sum(col("_corrupt_record").isNotNull.cast("long"))).head()
        m("ingest.records") = r.getLong(0).toDouble
        m("ingest.corrupt_records") = r.getLong(1).toDouble
        p
      }
      val validated = tracer.span("rules") {
        val c0 = Codegen.compileSeconds()
        val v = persisted(ValidationPipeline.validateRecords(parsed, shape.suite))
        val r = v.agg(sum(size(col("validations"))), sum(FileAggregates.failedCount)).head()
        codegenS = Codegen.compileSeconds() - c0
        m("rules.validations") = r.getLong(0).toDouble
        m("rules.failed_validations") = r.getLong(1).toDouble
        m("rules.fenced_nodes") = nodes(v.queryExecution.executedPlan)
          .count(_.nodeName.contains("FencedProject")).toDouble
        v
      }
      val result = tracer.span("sequential") {
        val chunk = if (shape.suite.sequential) ValidationPipeline.autoChunkSerials(spark, in.glob)
                    else None
        val r = ValidationPipeline.run(validated, shape.suite, chunk)
        m("sequential.errors") = if (r.hasSequential)
          persisted(r.sequential).filter(!col("valid")).count().toDouble else 0.0
        r
      }
      tracer.span("aggregate") {
        persisted(result.fileTotals).count()
        m("aggregate.histogram_rows") = persisted(result.errorHistogram).count().toDouble
      }
      tracer.span("sinks.parquet") {
        result.fileTotals.write.mode("overwrite").parquet(s"$out/file_totals")
        result.errorHistogram.write.mode("overwrite").parquet(s"$out/error_histogram")
        if (result.hasSequential)
          result.sequential.write.mode("overwrite").parquet(s"$out/sequential")
      }
      tracer.span("sinks.metadata") {
        Pipeline.metadata(result, in.root.getPath).write.mode("overwrite").parquet(s"$out/metadata")
      }
      val meta = spark.read.parquet(s"$out/metadata")
      tracer.span("sinks.es") {
        ElasticsearchSink.writeBulk(meta, es.endpoint, "metadata", "cv", "key")
      }
      tracer.span("sinks.cw") {
        CloudWatchSink.putMetricData(FileAggregates.metricDatums(meta), cw.endpoint)
      }
    }
    PerfbenchBridge.drainListeners(sc)
    spark.catalog.clearCache()
    Pipeline.checkPass(spark, in, Pipeline.PassOut(0.0, out, es, cw), checks)

    val spans = tracer.spans
    val self = Spans.selfSeconds(spans)
    def one(name: String): Span = tracer.named(name).head
    def selfOf(name: String): Double = self(one(name).id)
    def tally(names: String*): Tally = counters.of(names.map(n => one(n).id).toSet)
    val pass = one("pass")
    val layers = spans.filter(_.parent.contains(pass.id))
    val layerSum = layers.map(s => self(s.id)).sum
    val all = counters.of(Spans.subtree(spans, pass.id))

    m("ingest.read_s") = selfOf("ingest.read")
    m("ingest.parse_s") = selfOf("ingest.parse")
    m("ingest.bytes") = in.bytes.toDouble
    m("ingest.tasks") = tally("ingest.read", "ingest.parse").tasks.toDouble
    m("rules.self_s") = selfOf("rules")
    m("rules.cpu_s") = tally("rules").cpuNs / 1e9
    m("rules.codegen_compile_s") = codegenS
    m("sequential.self_s") = selfOf("sequential")
    m("sequential.max_task_s") = tally("sequential").maxTaskMs / 1e3
    m("sequential.shuffle_bytes") = tally("sequential").shuffleWriteBytes.toDouble
    m("sequential.spill_bytes") = tally("sequential").spillBytes.toDouble
    m("aggregate.self_s") = selfOf("aggregate")
    m("aggregate.shuffle_bytes") = tally("aggregate").shuffleWriteBytes.toDouble
    m("sinks.parquet_s") = selfOf("sinks.parquet")
    m("sinks.parquet_bytes") = (dirBytes(out) - dirBytes(new File(out, "metadata"))).toDouble
    m("sinks.metadata_s") = selfOf("sinks.metadata")
    m("sinks.es_s") = selfOf("sinks.es")
    m("sinks.es_requests") = es.requests.toDouble
    m("sinks.es_docs") = es.docs.size.toDouble
    m("sinks.cw_s") = selfOf("sinks.cw")
    m("sinks.cw_requests") = cw.bodies.size.toDouble
    m("sinks.cw_datums") = cw.bodies.map(_.split("\"MetricName\"").length - 1).sum.toDouble
    Layers.engine(all).foreach { case (k, v) => m(k) = v }
    m("trace.wall_s") = pass.seconds
    m("trace.layer_sum_s") = layerSum
    m("trace.unattributed_s") = pass.seconds - layerSum
    m("trace.records_per_s") = in.records / pass.seconds
    m("trace.untraced_records_per_s") = in.records / plain.wall
    m("trace.overhead_ratio") = pass.seconds / plain.wall
    es.stop(); cw.stop(); plain.es.stop(); plain.cw.stop()

    Traced(m.toSeq, Seq(f"traced wall ${pass.seconds}%.3f s, layer self-time sum $layerSum%.3f s, " +
        f"untraced wall ${plain.wall}%.3f s"), Spans.toJson(spans, tracer.t0))
  }
}
