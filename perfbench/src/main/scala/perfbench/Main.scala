package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/**
 * Entry point of one benchmark run:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --result <file>
 *
 * writes the run's result as one JSON object to `--result` (the launcher,
 * run.py, prints it as its last line) and the span trace of a traced run
 * next to it. Exit code 0 means every output check passed.
 */
object Main {
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultJson(o: Outcome): String = {
    val metrics = o.metrics.map(m => s"${quote(m.name)}:{\"value\":${num(m.value)},\"unit\":${quote(m.unit)}}")
      .mkString("{", ",", "}")
    val notes = o.notes.map(quote).mkString("[", ",", "]")
    s"""{"correct":${o.failed == 0},"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""failed_frac":${num(o.failed.toDouble / o.attempted)},"metrics":$metrics,"notes":$notes}"""
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val o = Opts(workload, kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1")
    val result = new File(kv("result"))
    o.runDir.mkdirs()
    val outcome = try workload match {
      case "backlog_bsm" => Pipeline.run(o)
      case "stream_arrivals" => Stream.run(o)
      case "registry_hot" => Registry.run(o)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } finally Common.deleteTree(o.runDir)
    result.getParentFile.mkdirs()
    outcome.traceJson.foreach { t =>
      Files.write(new File(result.getParentFile, s"trace-$workload-${o.seed}.json").toPath,
        t.getBytes(UTF_8))
    }
    val upS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Files.write(result.toPath, (resultJson(outcome.copy(notes =
      outcome.notes :+ f"JVM time $upS%.1f s")) + "\n").getBytes(UTF_8))
    sys.exit(if (outcome.failed == 0) 0 else 1)
  }
}
