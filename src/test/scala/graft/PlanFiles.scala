package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes `.explain("formatted")` output for named SparkEntry queries to
  * plans/<dir>/<query>_<suffix>.txt — the plan evidence files the
  * optimization-round deliverables require. Usage:
  *
  *   java -cp classes:test-classes:jars graft.PlanFiles <dir> <suffix> q1 q2 ...
  *
  * Plans are resolved at sf0.001 (plan SHAPE is scale-independent; the
  * bench's sf0.1 values differ only in stats). Drain-style queries whose
  * cost is in per-batch actions rather than one plan still get their
  * final serve plan dumped — the action-count evidence lives in
  * OPTIMIZATION_r16.md and the perfbench trace instead. */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanFiles <plansSubdir> <suffix> <q>...")
    val (sub, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(s"plans/$sub"))
    names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"plans/$sub/${q}_$suffix.txt"), txt)
      println(s"wrote plans/$sub/${q}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
