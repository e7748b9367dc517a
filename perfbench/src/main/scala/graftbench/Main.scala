package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run (see perfbench/run.py). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, out: String)

/** A failure during set-up: the run stops and reports its cause instead
  * of timing around it.
  */
final class SetupFailure(what: String, cause: Throwable)
  extends RuntimeException(s"set-up failed in $what: $cause", cause)

/** What a workload hands back: end-to-end metrics with sample counts,
  * per-layer metrics (traced runs), operation counts and the errors seen.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, Int]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: $e"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Benchmark entry point: one JVM runs one workload for one seed. */
object Main {
  val Master = "local[4]"
  /** set-ups per run; `setup_s` is their median */
  val Setups = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("out"))
  }

  /** A fresh session through the program's own builder. Warehouse and
    * scratch directories live under the run's output directory.
    */
  def newSession(a: Args, tracer: Option[Tracer]): SparkSession = {
    val s = graft.Sessions.builder(Master, 4)
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .config("spark.local.dir", s"${a.out}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.foreach(_.attach(s))
    s
  }

  /** Progress line on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - Jvm.startMs) / 1000.0}%.1fs] $msg")

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = if (a.trace) Some(new Tracer) else None
    val code =
      try {
        val r = a.workload match {
          case "batch_mix" => new QueryLoop(a, tracer, Workloads.batchMix).run()
          case "denorm_live" => new Live(a, tracer).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        tracer.foreach(t => Files.write(Paths.get(s"${a.out}/spans.jsonl"),
          (t.spans.toArray.mkString("\n") + "\n").getBytes("UTF-8")))
        write(a, r)
        0
      } catch {
        case e: SetupFailure =>
          System.err.println(s"[perfbench] ${e.getMessage}")
          e.getCause.printStackTrace()
          3
      }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    sys.exit(code)
  }

  private def write(a: Args, r: Result): Unit = {
    def nums(m: collection.Map[String, Double]) = Json.obj(m.map { case (k, v) => k -> Json.num(v) })
    val json = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "errors" -> r.errors.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> nums(r.metrics),
      "samples" -> Json.obj(r.samples.map { case (k, v) => k -> v.toString }),
      "layers" -> nums(r.layers),
      "info" -> Json.obj(r.info.map { case (k, v) => k -> Json.str(v) })))
    Files.write(Paths.get(s"${a.out}/result.json"), json.getBytes("UTF-8"))
  }
}
