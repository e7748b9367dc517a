package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

class BenchSpec extends SparkSpec {
  import SparkEntry.{Artifact, Query}

  test("a query whose prestage failed records -1 and never runs; stream starters get a third attempt") {
    @volatile var blockedBuilt = false
    val broken = Artifact("broken", (_, _) => throw new IllegalStateException("no topic"))
    def q(name: String, reads: Artifact*)(build: SparkSession => DataFrame) =
      Query(name, (s, _) => build(s), new SparkEntry.Eager("SELECT 1"), reads)
    // a fresh key per run: the store outlives this test in the shared JVM
    val storeKey = java.util.UUID.randomUUID()
    // q904_store runs first: the warm-up must not build its store entry
    // before the first attempt does
    val selected = Seq(
      q("q901_blocked", broken) { s => blockedBuilt = true; s.range(1).toDF() },
      q("q904_store") { s =>
        ArtifactCache.session("BenchSpec.store", storeKey, s)(s.range(5).toDF())
      },
      q("q902_batch")(_.range(10).toDF()),
      q("q903_stream") { s =>
        val sq = s.readStream.format("rate").load()
          .writeStream.format("noop").start()
        sq.stop()
        s.range(10).toDF()
      })
    // every job start the bus delivers, with its attempt tag (null if none)
    val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[String])]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStarts.add((e.time, Option(e.properties).flatMap(p => Option(p.getProperty(Telemetry.Tag)))))
    }
    spark.sparkContext.addSparkListener(jobListener)
    val prestaged = SparkEntry.prestage(spark, "unused", selected, Seq(broken))
    val lines = try Bench.run(spark, "unused", selected, prestaged)
      finally spark.sparkContext.removeSparkListener(jobListener)

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

    // the diagnostic lines never look like the contract line; the
    // prestage_failed lines keep their "queries" key
    assert(lines.init.forall(!_.contains(""""metric":"total"""")))
    assert(lines.init.filterNot(_.contains(""""metric":"prestage_failed""""))
      .forall(!_.contains(""""queries"""")))
    val json = new ObjectMapper()
    val prestage = json.readTree(lines.find(_.startsWith("""{"metric":"prestage",""")).get)
    assert(prestage.get("seconds").get("broken").asDouble() >= 0)

    // one layers line per selected query, in order, before the contract line
    val layers = lines.init.filter(_.startsWith("""{"metric":"layers","""")).map(json.readTree)
    assert(layers.map(_.get("query").asText()) == selected.map(_.name))
    def tries(name: String): Seq[JsonNode] =
      layers.find(_.get("query").asText() == name).get.get("attempts").elements().asScala.toSeq
    assert(tries("q901_blocked").isEmpty)
    assert(tries("q902_batch").size == 2)
    tries("q902_batch").foreach { a =>
      assert(a.get("jobs").asLong() >= 1, a)
      assert(a.get("build_ms").asDouble() <= a.get("s").asDouble() * 1000, a)
    }
    assert(tries("q903_stream").map(_.get("streams").asLong()) == Seq(1L, 1L, 1L))
    val store = tries("q904_store")
    assert(store.size == 2)
    assert(store(0).get("builds").path("BenchSpec.store").asLong() == 1, store(0))
    assert(store(1).get("hits").path("BenchSpec.store").asLong() >= 1, store(1))
    assert(store(1).get("builds").path("BenchSpec.store").asLong() == 0, store(1))

    // inside every attempt window, every job start carries an attempt tag
    val spans = """\[(\d+),(\d+),[^\]]*\]""".r.findAllMatchIn(windows)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    assert(spans.size == 7)
    val untagged = jobStarts.asScala.toSeq.collect {
      case (t, None) if spans.exists { case (w0, w1) => t >= w0 && t <= w1 } => t
    }
    assert(untagged.isEmpty, s"untagged job starts inside attempt windows at $untagged")
  }

  test("the sketch-maintenance streams replay prestaged topics: no attempt stages a copy") {
    val dir = "/root/testdata/sf0.001"
    // one consumer per topic (events, documents, customer, embeddings,
    // the q268 documents reader) plus q241's in-stream filter
    val selected = SparkEntry.select(Some(Seq("q94_", "q162_", "q169_", "q137_", "q241_", "q268_")))
    assert(selected.size == 6)
    val prestaged = SparkEntry.prestage(spark, dir, selected)
    assert(prestaged.failures.isEmpty, prestaged.failures)
    val json = new ObjectMapper()
    val layers = Bench.run(spark, dir, selected, prestaged)
      .filter(_.startsWith("""{"metric":"layers","""")).map(json.readTree)
    assert(layers.map(_.get("query").asText()) == selected.map(_.name))
    val attempts = layers.flatMap(l => l.get("attempts").elements().asScala.map(l.get("query").asText() -> _))
    assert(attempts.size == 18, "every query is a stream: three attempts each")
    attempts.foreach { case (q, a) => assert(a.get("s").asDouble() >= 0, s"$q failed: $a") }
    val staged = attempts.collect {
      case (q, a) if a.get("builds").path("SparkEntry.staged").asLong() > 0 => q
    }
    assert(staged.isEmpty, s"attempts that built SparkEntry.staged: $staged")
  }
}
