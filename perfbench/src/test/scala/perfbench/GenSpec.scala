package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.config.SuiteLoader
import graft.pipeline.{OdeSchema, ValidationPipeline}

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = Files.createTempDirectory("perfbench-gen").toFile
  private lazy val spark = Common.session(2)

  override def afterAll(): Unit = {
    spark.stop()
    Common.deleteTree(tmp)
  }

  private val odeFiles = Seq(
    Gen.OdeFile("o1.json", bundles = 40, gzip = false, serialGaps = 2, duplicates = 1,
      reorders = 3, tmc = 1, ruleDefects = 3, blankLines = 2),
    Gen.OdeFile("o2.json.gz", bundles = 30, gzip = true, serialGaps = 1, duplicates = 1,
      skipFlag = Some("rxMsg"), ruleDefects = 2),
    Gen.OdeFile("o3.json", bundles = 30, gzip = false, serialGaps = 1,
      skipFlag = Some("sanitized"), ruleDefects = 1),
    Gen.OdeFile("o4.json", bundles = 30, gzip = false, duplicates = 2, reorders = 1))
  private val bsmFiles = Seq(
    Gen.BsmFile("b1.json", records = 200, gzip = false, ruleDefects = 9, corruptLines = 2, blankLines = 3),
    Gen.BsmFile("b2.json.gz", records = 150, gzip = true, ruleDefects = 4, corruptLines = 1, blankLines = 0))

  private def write(dir: File, seed: Long): (Seq[Gen.Expect], Seq[Gen.Expect]) =
    (odeFiles.map(f => Gen.writeOde(new File(dir, "ode"), f, seed)),
      bsmFiles.map(f => Gen.writeBsm(new File(dir, "bsm"), f, seed)))

  private def bytes(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles.toSeq.flatMap { d =>
      d.listFiles.toSeq.map(f => s"${d.getName}/${f.getName}" -> Files.readAllBytes(f.toPath).toSeq)
    }.toMap

  test("the same seed writes byte-identical files; another seed does not") {
    val a = new File(tmp, "a"); val b = new File(tmp, "b"); val c = new File(tmp, "c")
    assert(write(a, 7L) == write(b, 7L))
    write(c, 8L)
    assert(bytes(a) == bytes(b))
    assert(bytes(a) != bytes(c))
  }

  test("the wide suite is config_2-sized and non-sequential") {
    val suite = SuiteLoader.fromString(Gen.wideSuite)
    assert(!suite.sequential)
    assert(suite.rules.size == Gen.WideRuleCount && Gen.WideRuleCount >= 43)
    assert(suite.rules.exists(_.values.size == 400))
    assert(suite.rules.count(_.conditions.nonEmpty) >= 4)
  }

  private def totals(glob: String, suite: graft.model.ValidationSuite,
                     schema: org.apache.spark.sql.types.StructType): Map[String, Seq[Long]] =
    ValidationPipeline.runJsonShared(spark, glob, suite, schema).fileTotals
      .select(regexp_extract(col("file"), "[^/]+$", 0), col("num_messages_total"),
        col("num_validations"), col("num_errors"), col("num_error_messages"), col("num_valid"))
      .collect().map(r => r.getString(0) -> (1 to 5).map(r.getLong)).toMap

  private def want(e: Gen.Expect): Seq[Long] = Seq(e.numMessagesTotal, e.numValidations,
    e.numErrors, e.numErrorMessages, e.numMessagesTotal - e.numErrorMessages)

  test("expected counts match a pipeline run: odejson suite, sequential defects and gating") {
    val dir = new File(tmp, "run")
    val (ode, _) = write(dir, 11L)
    val got = totals(new File(dir, "ode/*").getPath,
      SuiteLoader.fromFile("../fixtures/odejson/suite.ini"), OdeSchema.record)
    ode.foreach(e => assert(got(e.name) == want(e), e.name))
    // the gated files plant serial defects that must not surface
    assert(ode.find(_.name == "o2.json.gz").get.seqErrors.contains(0L))
    assert(ode.find(_.name == "o4.json").get.seqErrors.contains(6L))
  }

  test("expected counts match a pipeline run: wide suite, corrupt and blank lines") {
    val dir = new File(tmp, "run")
    val (_, bsm) = write(dir, 11L)
    val suite = SuiteLoader.fromString(Gen.wideSuite)
    val got = totals(new File(dir, "bsm/*").getPath, suite,
      OdeSchema.withRulePaths(OdeSchema.config2Record, suite.referencedPaths))
    bsm.foreach(e => assert(got(e.name) == want(e), e.name))
  }
}
