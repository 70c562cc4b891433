package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.aggregate.FileAggregates
import graft.config.SuiteLoader
import graft.ingest.Metadata
import graft.model.ValidationSuite
import graft.pipeline.{OdeSchema, ValidationPipeline}
import graft.sinks.{BulkCapture, CloudWatchSink, ElasticsearchSink, HttpCapture}

/** A generated batch input: the bucket root, the read glob and what every
  * file must total. */
final case class Input(root: File, glob: String, expect: Seq[Gen.Expect], bytes: Long) {
  def records: Long = expect.map(_.records).sum
  def key(e: Gen.Expect): String = s"${Pipeline.Prefix}/${e.name}"
}

/** The batch workload `backlog_bsm`, and the batch path the other
  * workloads share (golden anchor, output checks). */
object Pipeline {
  val Prefix = "cv/thea/BSM/2024/01"
  val OdeSuitePath = "fixtures/odejson/suite.ini"
  private val mapper = new ObjectMapper()

  /** A rule suite with the record schema it reads. */
  final case class Shape(suite: ValidationSuite, schema: StructType)

  /** The generated wide suite over `config2Record`. */
  lazy val backlog: Shape = {
    val suite = SuiteLoader.fromString(Gen.wideSuite)
    Shape(suite, OdeSchema.withRulePaths(OdeSchema.config2Record, suite.referencedPaths))
  }

  /** ~19k BSM records in 24 objects (six per core), a third of them gzip.
    * The sizes do not depend on the seed, so that seeds differ in content,
    * not in the amount of work. */
  def backlogFiles(seed: Long): Seq[Gen.BsmFile] = {
    val rnd = new java.util.SplittableRandom(seed)
    (0 until 24).map { i =>
      Gen.BsmFile(f"bsm-$i%03d.json" + (if (i % 3 == 2) ".gz" else ""),
        records = 600 + 400 * i / 24, gzip = i % 3 == 2,
        ruleDefects = 5 + rnd.nextInt(10), corruptLines = 1 + rnd.nextInt(3),
        blankLines = rnd.nextInt(4))
    }
  }

  /** Write `files` (cached in `dir`) and describe them as an input. */
  def generate(dir: File, files: Seq[Gen.BsmFile], seed: Long): Input = {
    val data = new File(dir, Prefix)
    val expect = Gen.cached(dir)(files.map(Gen.writeBsm(data, _, seed)))
    val bytes = data.listFiles.filter(_.isFile).map(_.length).sum
    Input(dir.getAbsoluteFile, new File(data, "*").getAbsolutePath, expect, bytes)
  }

  /** The metadata doc of each file with its totals, as `writeAll` builds it
    * when given a bucket root. */
  def metadata(r: ValidationPipeline.Result, root: String): DataFrame =
    Metadata.fileMetadata(r.validated, root, "bench")
      .join(r.fileTotals.select(Metadata.keyColumn(col("file"), root).as("key"),
        col("num_valid"), col("num_error_messages")), Seq("key"), "left")

  final case class PassOut(wall: Double, out: File, es: BulkCapture, cw: HttpCapture,
                           cpu: Double = 0.0)

  /** The measured unit: ingest → rules → sequential → totals/histogram →
    * parquet + metadata doc, then the per-file ES docs and the CloudWatch
    * datums. Timed from the first read until the last sink returns. */
  def pass(spark: SparkSession, shape: Shape, in: Input, out: File): PassOut = {
    val es = new BulkCapture
    val cw = new HttpCapture
    val t0 = System.nanoTime()
    val res = ValidationPipeline.runJsonShared(spark, in.glob, shape.suite, shape.schema)
    ValidationPipeline.writeAll(res, out.getPath, bucketRoot = Some(in.root.getPath),
      environment = "bench")
    val meta = spark.read.parquet(s"$out/metadata")
    ElasticsearchSink.writeBulk(meta, es.endpoint, "metadata", "cv", "key")
    CloudWatchSink.putMetricData(FileAggregates.metricDatums(meta), cw.endpoint)
    val wall = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    PassOut(wall, out, es, cw)
  }

  /** Check one pass's outputs against the generator's expected counts. */
  def checkPass(spark: SparkSession, in: Input, p: PassOut, checks: Checks): Unit = {
    try {
      val totals = spark.read.parquet(s"${p.out}/file_totals")
        .select(regexp_extract(col("file"), "[^/]+$", 0), col("num_messages_total"),
          col("num_validations"), col("num_errors"), col("num_error_messages"), col("num_valid"))
        .collect().map(r => r.getString(0) -> (1 to 5).map(r.getLong)).toMap
      checks.check(totals.size == in.expect.size,
        s"file_totals has ${totals.size} files, expected ${in.expect.size}")
      in.expect.foreach { e =>
        val want = Seq(e.numMessagesTotal, e.numValidations, e.numErrors,
          e.numErrorMessages, e.numMessagesTotal - e.numErrorMessages)
        checks.check(totals.get(e.name).contains(want),
          s"${e.name}: totals ${totals.get(e.name).map(_.mkString(",")).orNull} != expected ${want.mkString(",")}")
      }
      val docs = p.es.docs
      checks.check(docs.keySet == in.expect.map(in.key).toSet,
        s"ES holds ${docs.size} docs for ${in.expect.size} files")
      in.expect.foreach { e =>
        docs.get(in.key(e)).foreach { d =>
          val n = mapper.readTree(d)
          checks.check(n.get("MessageCount").asLong == e.records &&
            n.get("num_error_messages").asLong == e.numErrorMessages,
            s"${e.name}: ES doc counts differ: $d")
        }
      }
      checkDatums(p.cw.bodies, in.expect.size, checks)
    } catch {
      case scala.util.control.NonFatal(ex) => checks.check(false, s"pass outputs unreadable: $ex")
    }
  }

  /** CloudWatch datum sums against the file count: every object is one
    * curated submission and adds the cv family's fixed value of 10. */
  def checkDatums(bodies: Seq[String], files: Int, checks: Checks): Unit = {
    val byNs = bodies.flatMap { b =>
      val n = mapper.readTree(b)
      n.get("MetricData").elements.asScala.map(d => n.get("Namespace").asText -> d.get("Value").asDouble)
    }.groupMapReduce(_._1)(_._2)(_ + _)
    checks.check(byNs.get("dot-sdc-cv-submissions-bucket-metric").contains(10.0 * files) &&
      byNs.get("dot-sdc-waze-curated-bucket-metric").contains(files.toDouble),
      s"CloudWatch datum sums $byNs do not match $files files")
  }

  /** One golden file of `fixtures/golden`, as a set of rows. */
  def golden(name: String): Set[Seq[String]] =
    mapper.readTree(new File(s"fixtures/golden/$name.json")).elements.asScala
      .map(_.elements.asScala.map(v => if (v.isNull) "null" else v.asText).toSeq).toSet

  def rows(df: DataFrame): Set[Seq[String]] =
    df.collect().map(_.toSeq.map(v => String.valueOf(v))).toSet

  lazy val odeShape: Shape = Shape(SuiteLoader.fromFile(OdeSuitePath), OdeSchema.record)

  /** Golden anchor, first half: the batch path over the committed odejson
    * fixture, as (per-file totals, sequential verdicts) rows. */
  def goldenRun(spark: SparkSession): (Set[Seq[String]], Set[Seq[String]]) = {
    val res = ValidationPipeline.runJsonShared(spark, "fixtures/odejson/data/*.json*", odeShape.suite)
    val base = regexp_extract(col("file"), "[^/]+$", 0)
    val out = (rows(res.fileTotals.select(base, col("num_messages_total"), col("num_validations"),
        col("num_errors"), col("num_error_messages"), col("num_valid"))),
      rows(res.sequential.select(base, col("field_path"), col("valid"), col("details"),
        col("serial_number"))))
    spark.catalog.clearCache()
    out
  }

  /** Golden anchor, second half: the rows must equal the reference goldens. */
  def checkGolden(got: (Set[Seq[String]], Set[Seq[String]]), checks: Checks): Unit = {
    checks.check(got._1 == golden("ode_file_totals"), s"golden ode_file_totals differs: ${got._1}")
    checks.check(got._2 == golden("ode_sequential"), s"golden ode_sequential differs: ${got._2}")
  }

  def run(o: Opts): Outcome = {
    val shape = backlog
    val files = backlogFiles(o.seed)
    val (in, genS) = Common.time(
      generate(new File(o.dataRoot, s"backlog_bsm-${o.seed}-${files.hashCode.toHexString}"), files, o.seed))
    val checks = new Checks
    var n = 0
    def nextOut(): File = { n += 1; new File(o.runDir, s"pass-$n") }
    def unmeasuredPass(s: SparkSession): Unit = {
      val p = pass(s, shape, in, nextOut())
      checkPass(s, in, p, checks)
      p.es.stop(); p.cw.stop()
    }
    // the warm pass runs over the measured input itself
    val (spark, setupS) = Common.setUp(o.cpus, genS)(unmeasuredPass)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)

    val outcome = if (!o.trace) {
      // one more pass before measuring: after a single warm pass the JIT is
      // still compiling, and the next pass runs up to a third slower
      unmeasuredPass(spark)
      // the median of at least three passes: one pass in a run can be a
      // quarter off the others when the shared host is busy
      val passes = Common.repeatFor(o.seconds, min = 3) { _ =>
        val cpu0 = Common.cpuS()
        val p = pass(spark, shape, in, nextOut())
        (p.copy(cpu = Common.cpuS() - cpu0), Common.liveHeapMb())
      }
      passes.foreach { case (p, _) =>
        checkPass(spark, in, p, checks)
        p.es.stop(); p.cw.stop()
      }
      val walls = passes.map(_._1.wall)
      val wall = Stats.median(walls)
      Outcome((passes.size + 1L) * in.expect.size, 0L, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("latency_p50_s", wall, "s"),
        Metric("cpu_s", Stats.median(passes.map(_._1.cpu)), "s"),
        Metric("peak_live_heap_mb", passes.map(_._2).max, "MB")),
        notes = Seq(f"wall_s=$wall%.3f records_per_s=${in.records / wall}%.1f passes=${walls.size} " +
          f"records=${in.records} files=${in.expect.size} " +
          f"bytes=${in.bytes} walls=${walls.map(w => f"$w%.3f").mkString(",")}"))
    } else {
      val t = TracedPipeline.run(spark, shape, in, counters, () => nextOut(), checks)
      Outcome(2L * in.expect.size, 0L, Layers.complete(t.measured), t.notes, Some(t.json))
    }
    spark.stop()
    val failed = checks.failed
    failed.foreach(f => System.err.println(s"[check] $f"))
    outcome.copy(attempted = outcome.attempted + in.expect.size, failed = failed.size.toLong,
      notes = (f"input generation $genS%.2f s" +: outcome.notes) ++
        failed.map("check failed: " + _))
  }
}
