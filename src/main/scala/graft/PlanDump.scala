package graft

/** Dump `.explain("formatted")` for declared queries to files.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [q01,q64,...]
  *
  * The optional third arg is a comma-separated prefix list (the
  * SPARK_GRAFT_BENCH_ONLY convention). NOTE: for streaming queries the
  * registered builder RUNS the stream and returns the converged frame,
  * so the dumped plan is the post-stream fold — the per-batch costs are
  * on Bench's layers line (`SPARK_GRAFT_BENCH_ONLY=<query> graft.Bench`).
  * For batch queries the dump is the exact plan the bench's noop write
  * executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_plans"
    val only = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    else None
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.select(only).foreach { q =>
      val name = q.name
      try {
        val df = q.build(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/$name.txt")
        try w.write(txt) finally w.close()
        println(s"[plandump] $name OK")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
