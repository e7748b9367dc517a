package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: run only these queries (local iteration aid;
    // the driver always calls with exactly (sfDir, outDir)). A name that
    // matches nothing is an ERROR, not a silent no-op run; oracle_sql.json
    // stays complete so incremental dumps into one dir remain comparable.
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — " +
        s"valid names: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      // pre-delete the target so a query that now fails can never be
      // silently "verified" against a stale dump from a previous run
      Fs.rmTree(s"$outDir/$name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Write the oracle map only on FULL runs (or when absent): the
    // trained-artifact oracles (q49/q77/q79) exist only after their
    // queries ran in this JVM, so a filtered run would silently REWRITE
    // the file without them, downgrading still-valid dumps from a prior
    // full run to rows-only checks. A filtered run is a local iteration
    // aid; its oracle file is the last full run's (delete it or run
    // full Verify after changing an oracle).
    val oraclePath = Paths.get(s"$outDir/oracle_sql.json")
    if (only.isEmpty || !Files.exists(oraclePath)) {
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
      Files.writeString(oraclePath, json)
    }
    spark.stop()
  }
}
