package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSpec extends SparkSpec {
  import SparkEntry.{Artifact, Query}

  test("a query whose prestage failed records -1 and never runs; stream starters get a third attempt") {
    @volatile var blockedBuilt = false
    val broken = Artifact("broken", (_, _) => throw new IllegalStateException("no topic"))
    def q(name: String, reads: Artifact*)(build: SparkSession => DataFrame) =
      Query(name, (s, _) => build(s), new SparkEntry.Eager("SELECT 1"), reads)
    val selected = Seq(
      q("q901_blocked", broken) { s => blockedBuilt = true; s.range(1).toDF() },
      q("q902_batch")(_.range(10).toDF()),
      q("q903_stream") { s =>
        val sq = s.readStream.format("rate").load()
          .writeStream.format("noop").start()
        sq.stop()
        s.range(10).toDF()
      })
    val failures = SparkEntry.prestage(spark, "unused", selected, Seq(broken))
    val lines = Bench.run(spark, "unused", selected, failures)

    assert(!blockedBuilt)
    assert(lines.head.startsWith("""{"metric":"prestage_failed","artifact":"broken",""""))
    assert(lines.head.endsWith(""""queries":["q901_blocked"]}"""))
    assert(lines.head.contains("no topic"))
    assert(lines.last.startsWith("""{"metric":"total","""))
    assert(lines.last.contains(""""q901_blocked":-1.0"""))
    val windows = lines.find(_.startsWith("""{"metric":"windows"""")).get
    def attempts(name: String) =
      s""""$name":\\[(\\[[^\\]]*\\],?)*\\]""".r.findFirstIn(windows)
        .map(_.count(_ == '[') - 1).getOrElse(0)
    assert(attempts("q901_blocked") == 0)
    assert(attempts("q902_batch") == 2)
    assert(attempts("q903_stream") == 3)
  }
}
