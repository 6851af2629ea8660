package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for named queries into per-query files —
  * the optimization-round evidence trail (`plans/r19/<q>_<tag>.txt`).
  * Usage: `SPARK_GRAFT_ONLY=q1,q2 sbt "runMain graft.PlanDump <tag> <outDir>"`
  * (query names match by substring; unset dumps every query).
  * Runs on Bench's session and sf so plan choices (broadcast vs SMJ,
  * AQE thresholds) match what the bench times; sfDir from
  * SPARK_GRAFT_SF_DIR (default sf0.1), cores from SPARK_GRAFT_CPUS. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val outDir = args.lift(1).getOrElse("plans/r19")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for ((name, build) <- SparkEntry.selected.sortBy(_._1)) {
      val plan = build(spark, sfDir).queryExecution.explainString(FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
