package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's own per-query timing harness, for the benchmark's
  * `registry_hot` workload: it times a query exactly as `graft.Bench` does. */
object PerfbenchHarness {
  def run(spark: SparkSession, dir: String)(name: String, fn: (SparkSession, String) => DataFrame): Boolean =
    BenchHarness.run(spark, dir, "perfbench")(name, fn)
}
