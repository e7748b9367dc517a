package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Fault behaviour of the one artifact store, plus a source scan that
  * keeps hand-rolled once-per-key caches from growing back beside it.
  * Every test uses its own artifact names, so no test sees another's
  * entries.
  */
class ArtifactCacheSpec extends SparkSpec {

  test("a builder that throws leaves nothing to serve, and the next call rebuilds") {
    val name = "ArtifactCacheSpec.failing"
    var dir: String = null
    intercept[IllegalStateException] {
      ArtifactCache.staged(name, 1, "graft_spec_fail") { p =>
        dir = p
        java.nio.file.Files.write(java.nio.file.Paths.get(p, "part"), Array[Byte](1))
        throw new IllegalStateException("write failed")
      }
    }
    assert(dir != null && !new java.io.File(dir).exists(), s"failed build left $dir behind")
    assert(ArtifactCache.built[Any](name).isEmpty)
    val p = ArtifactCache.staged(name, 1, "graft_spec_fail")(_ => ())
    assert(p != dir && new java.io.File(p).isDirectory)
    assert(ArtifactCache.built[(String, Unit)](name).keySet == Set(1))

    val builds = new AtomicInteger()
    intercept[ArithmeticException] {
      ArtifactCache.value[Int]("ArtifactCacheSpec.failingValue", 1) {
        builds.incrementAndGet(); throw new ArithmeticException("train failed")
      }
    }
    assert(ArtifactCache.value("ArtifactCacheSpec.failingValue", 1) {
      builds.incrementAndGet(); 7
    } == 7)
    assert(builds.get == 2)
  }

  test("a value owned by a foreign session is never served") {
    val name = "ArtifactCacheSpec.owned"
    val other = spark.newSession()
    assert(ArtifactCache.session(name, 1, other)("foreign") == "foreign")
    assert(ArtifactCache.session(name, 1, spark)("mine") == "mine")
    assert(ArtifactCache.session(name, 1, spark)("rebuilt") == "mine")
    // the foreign entry was replaced, not kept beside the new one
    assert(ArtifactCache.built[String](name) == Map(1 -> "mine"))
  }

  test("a value owned by a stopped context is never served") {
    // stopping a SparkContext would end the shared test session, so the
    // check runs in a child JVM with its own local session
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("-D") || a.endsWith("=ALL-UNNAMED"))
    val cmd = Seq(javaBin, "-Xmx512m") ++ jvmFlags ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.StoppedOwnerCheck")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0, s"child JVM failed:\n$out")
    assert(out.toString.contains("served=rebuilt"), out.toString)
  }

  test("a builder that reads another key of the store completes") {
    val done = Future {
      ArtifactCache.value("ArtifactCacheSpec.outer", 1) {
        ArtifactCache.value("ArtifactCacheSpec.inner", 1)(2) + 1
      }
    }
    assert(Await.result(done, 30.seconds) == 3)
    // reading its OWN key is a cycle: it fails instead of waiting forever
    val cycle = Future {
      ArtifactCache.value("ArtifactCacheSpec.cycle", 1) {
        ArtifactCache.value("ArtifactCacheSpec.cycle", 1)(0)
      }
    }
    intercept[IllegalStateException](Await.result(cycle, 30.seconds))
  }

  test("read-back by artifact name returns only completed builds") {
    val name = "ArtifactCacheSpec.readBack"
    val release = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    val builds = new AtomicInteger()
    def slow(): Int = ArtifactCache.value(name, "slow") {
      builds.incrementAndGet(); started.countDown(); release.await(30, TimeUnit.SECONDS); 5
    }
    val first = Future(slow())
    assert(started.await(30, TimeUnit.SECONDS))
    val second = Future(slow()) // waits for the one pending build
    intercept[RuntimeException] {
      ArtifactCache.value[Int](name, "failed")(throw new RuntimeException("boom"))
    }
    ArtifactCache.value("ArtifactCacheSpec.otherName", "slow")(9)
    assert(ArtifactCache.built[Int](name).isEmpty, "a pending or failed build was read back")
    release.countDown()
    assert(Await.result(first, 30.seconds) == 5 && Await.result(second, 30.seconds) == 5)
    assert(builds.get == 1, "concurrent callers of one key built it twice")
    assert(ArtifactCache.built[Int](name) == Map("slow" -> 5))
  }

  test("no hand-rolled concurrent map outside the store and the named non-memo sites") {
    // file -> vals allowed to hold a ConcurrentHashMap: the store itself,
    // and state that is not a once-per-key memo (per-invocation pools,
    // catalog tables, sink names, oracle dir sets, telemetry maps)
    val allowed = Map(
      "ArtifactCache.scala" -> Set("store"),
      "Fs.scala" -> Set("lastRun", "dirs"),
      "Similarity.scala" -> Set("livedelPool"),
      "PipelineOps.scala" -> Set("bucketedCache", "bucketedDirs"),
      "SparkEntry.scala" -> Set("joinKeyDirs"),
      "Streams.scala" -> Set("sinkRegistry"),
      "Telemetry.scala" -> Set("attempts", "stages", "jobs", "runs", "hits", "builds"))
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    val files = {
      val w = java.nio.file.Files.walk(root.toPath)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val site = ("""new\s+(?:java\.util\.concurrent\.)?ConcurrentHashMap\b""" +
      """|(?:java\.util\.concurrent\.)?ConcurrentHashMap\.newKeySet""").r
    val declared = """(?s).*\bval\s+(\w+)\s*(?::[^=]*)?=\s*$""".r
    val offending = for {
      f <- files
      text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      m <- site.findAllMatchIn(text)
      name = text.substring(0, m.start) match {
        case declared(n) => Some(n)
        case _ => None
      }
      if !name.exists(n => allowed.getOrElse(f.getFileName.toString, Set.empty[String])(n))
    } yield s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}"
    assert(files.nonEmpty)
    assert(offending.isEmpty,
      s"once-per-key state belongs in graft.ArtifactCache; found:\n${offending.mkString("\n")}")
  }
}

/** Child-JVM body of the stopped-context test: a value owned by a
  * session whose context has stopped must be rebuilt, never served.
  */
object StoppedOwnerCheck {
  def main(args: Array[String]): Unit = {
    val ok = try {
      val s = Sessions.builder("local[1]", 1).appName("graft-stopped-owner").getOrCreate()
      ArtifactCache.session("StoppedOwnerCheck.v", 1, s)("stale")
      s.stop()
      println(s"served=${ArtifactCache.session("StoppedOwnerCheck.v", 1, s)("rebuilt")}")
      ArtifactCache.built[String]("StoppedOwnerCheck.v") == Map(1 -> "rebuilt")
    } catch { case t: Throwable => t.printStackTrace(System.out); false }
    sys.exit(if (ok) 0 else 1)
  }
}
