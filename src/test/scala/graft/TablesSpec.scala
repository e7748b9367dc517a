package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The one parquet reader: [[Tables.parquet]] gives the schema, rows and
  * errors of `spark.read.parquet` without its schema job, and a source
  * scan keeps every parquet read in `src/main` going through it.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def sameSchema(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.schema == b.schema, s"$what: ${a.schema.treeString} vs ${b.schema.treeString}")
    assert(a.schema.json == b.schema.json, s"$what: field metadata differs")
  }

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.toJSON.collect().sorted.sameElements(b.toJSON.collect().sorted), s"$what: rows differ")

  /** Jobs started while `body` runs, seen by a listener; a marker job
    * run after `body` flushes the listener bus up to that point.
    */
  private def jobsDuring(body: => Unit): Int = {
    val tag = "graft.spec.TablesSpec"
    val jobs = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("body") => jobs.incrementAndGet()
          case Some("marker") => marker.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "marker")
      spark.range(1).collect()
      assert(marker.await(60, TimeUnit.SECONDS), "listener bus did not deliver the marker job")
      jobs.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("parquet reads every table's schema as spark.read.parquet does") {
    for (dir <- sfDirs; name <- Tables.names) {
      val p = s"$dir/$name.parquet"
      sameSchema(Tables.parquet(spark, p), spark.read.parquet(p), p)
    }
    // events.ts is TIMESTAMP(NANOS) read as a long under nanosAsLong
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("Spark-written, partitioned and per-batch dirs read the same schema and rows") {
    val base = Fs.tmpDir("graft_spec_tables")
    try {
      val df = spark.range(0, 100).select(col("id"), (col("id") % 4).as("p"),
        concat(lit("v"), col("id").cast("string")).as("s"))
      df.repartition(5).write.parquet(s"$base/parts")
      assert(new java.io.File(s"$base/parts/_SUCCESS").exists())
      df.write.partitionBy("p").parquet(s"$base/by_p")
      df.write.option("parquet.summary.metadata.level", "ALL").parquet(s"$base/summaries")
      assert(new java.io.File(s"$base/summaries/_common_metadata").exists())
      for (b <- 0 until 3)
        df.filter(col("p") === b).write.parquet(s"$base/batches/b$b")
      for (d <- Seq("parts", "by_p", "summaries")) {
        val p = s"$base/$d"
        sameSchema(Tables.parquet(spark, p), spark.read.parquet(p), p)
        sameRows(Tables.parquet(spark, p), spark.read.parquet(p), p)
      }
      val p = s"$base/batches"
      val theirs = spark.read.option("recursiveFileLookup", "true").parquet(p)
      sameSchema(Tables.parquet(spark, p, recursive = true), theirs, p)
      sameRows(Tables.parquet(spark, p, recursive = true), theirs, p)
    } finally Fs.rmTree(base)
  }

  test("a missing path and an empty dir fail as spark.read.parquet does") {
    val empty = Fs.tmpDir("graft_spec_tables_empty")
    try {
      for (p <- Seq(s"$empty/missing.parquet", empty)) {
        val mine = intercept[Exception](Tables.parquet(spark, p))
        val theirs = intercept[Exception](spark.read.parquet(p))
        assert(mine.getClass == theirs.getClass, p)
        (mine, theirs) match {
          case (a: SparkThrowable, b: SparkThrowable) =>
            assert(a.getCondition == b.getCondition, p)
          case _ => fail(s"$p: not a SparkThrowable: $theirs")
        }
        assert(mine.getMessage == theirs.getMessage, p)
      }
    } finally Fs.rmTree(empty)
  }

  test("loading the tables starts no Spark job") {
    val dir = sfDirs.head
    assert(jobsDuring(Tables.names.foreach(Tables.load(spark, dir, _))) == 0)
    // Spark's own inference runs one job per path
    assert(jobsDuring(Tables.names.foreach(n => spark.read.parquet(s"$dir/$n.parquet")))
      == Tables.names.size)
  }

  test("every parquet read in src/main goes through Tables") {
    // q157 reads two versions of one table with Spark's schema merge on
    // purpose: the merge is what it measures
    val allowed = Set(
      ("PipelineOps.scala", """read.option("mergeSchema", "true").parquet("""))
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    val files = {
      val w = java.nio.file.Files.walk(root.toPath)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val read = """\bread\s*(?:\.\s*option\([^)]*\)\s*)*\.\s*parquet\(""".r
    val offending = for {
      f <- files if f.getFileName.toString != "Tables.scala"
      text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      m <- read.findAllMatchIn(text)
      if !allowed((f.getFileName.toString, m.matched))
    } yield s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}"
    assert(files.nonEmpty)
    assert(offending.isEmpty,
      s"read parquet with Tables.load or Tables.parquet; found:\n${offending.mkString("\n")}")
  }
}
