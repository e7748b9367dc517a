package graft

import org.apache.spark.sql.functions._

/** Source-format coverage: the engine's operators are format-agnostic
  * DataFrame transforms, so any Spark-supported format feeds them. These
  * roundtrips pin that ORC, CSV, and JSON-lines inputs produce
  * bit-identical operator results to the parquet originals.
  */
class FormatsSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  private val dir = "/root/testdata/sf0.001"

  private val made = scala.collection.mutable.ArrayBuffer.empty[String]
  private def tmp(tag: String): String = made.synchronized {
    val p = java.nio.file.Files.createTempDirectory(s"graft_fmt_$tag").toString
    made += p
    p
  }
  override def afterAll(): Unit = made.foreach(graft.Fs.rmTree)

  // XOR-fold of row hashes: order-independent and overflow-free (a sum
  // of 64-bit hashes overflows under ANSI arithmetic)
  private def fingerprint(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(bit_xor(xxhash64(col("doc_id"), col("text")))).head().getLong(0)

  test("ORC roundtrip preserves the documents table exactly") {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val out = tmp("orc")
    docs.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.count() == docs.count())
    assert(fingerprint(back) == fingerprint(docs))
  }

  test("Avro file roundtrip preserves the documents table exactly") {
    // the bundled spark-sql Avro kernel's FILE format: the "avro"
    // shortname is gated on the external spark-avro module, but the
    // format class itself ships in spark-sql and loads by explicit
    // name — same offline-binding story as graft's avro_encode/decode
    val fmt = "org.apache.spark.sql.avro.AvroFileFormat"
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val out = tmp("avro")
    docs.write.mode("overwrite").format(fmt).save(out)
    val back = spark.read.format(fmt).load(out)
    assert(back.count() == docs.count())
    assert(fingerprint(back) == fingerprint(docs))
  }

  test("CSV roundtrip with explicit schema feeds the text operators identically") {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val out = tmp("csv")
    docs.write.mode("overwrite").option("header", "true")
      .option("quoteAll", "true").csv(out)
    val back = spark.read.schema(docs.schema).option("header", "true").csv(out)
    val a = operators.TextAnalysis.tokenCounts(docs, col("text"))
      .collect().map(_.toSeq).toSet
    val b = operators.TextAnalysis.tokenCounts(back, col("text"))
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("CSV corrupt-row contract: PERMISSIVE null-fills and counts, FAILFAST throws") {
    // the text-format sibling of the Avro strict-failure pin: a 100 TB
    // ingest must CHOOSE between tolerating and rejecting corrupt rows,
    // and the choice must be explicit and observable — not silent
    import org.apache.spark.sql.types._
    val out = tmp("csv_corrupt")
    val good = "1,alpha,10.5\n2,beta,20.25\n"
    val bad = "3,gamma,not_a_number\n"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "part-0.csv"), good + bad)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("_corrupt", StringType)))
    // PERMISSIVE: the corrupt cell nulls, the raw line lands in the
    // declared corrupt-record column — quarantine-able, never silent
    val perm = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .csv(out).collect().sortBy(_.getLong(0))
    assert(perm.length == 3)
    assert(perm(2).isNullAt(2) && perm(2).getString(3) == bad.trim)
    assert((0 to 1).forall(i => !perm(i).isNullAt(2) && perm(i).isNullAt(3)))
    // FAILFAST: the same file throws instead of null-filling
    val strictSchema = StructType(schema.fields.dropRight(1))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.schema(strictSchema).option("mode", "FAILFAST").csv(out).collect()
    }
    assert(e.getMessage.contains("Malformed") || e.getCause != null)
  }

  test("JSON-lines roundtrip (the Kafka value shape) is lossless for events") {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val out = tmp("json")
    ev.write.mode("overwrite").json(out)
    val back = spark.read.schema(ev.schema).json(out)
    assert(back.count() == ev.count())
    val a = ev.agg(bit_xor(xxhash64(col("event_id"), col("user_id"), col("event_type"))))
      .head().getLong(0)
    val b = back.agg(bit_xor(xxhash64(col("event_id"), col("user_id"), col("event_type"))))
      .head().getLong(0)
    assert(a == b)
  }
}

/** Dynamic partition overwrite: the parquet-level incremental-upsert
  * pattern — reprocessing one partition replaces ONLY that partition,
  * leaving the rest of a (100 TB) table untouched. This is how batch
  * recomputation ships downstream of the streaming core when no
  * transactional table format is available.
  */
class PartitionOverwriteSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import org.apache.spark.sql.functions._

  private val made = scala.collection.mutable.ArrayBuffer.empty[String]
  private def tmp(tag: String): String = made.synchronized {
    val p = java.nio.file.Files.createTempDirectory(s"graft_fmt_$tag").toString
    made += p
    p
  }
  override def afterAll(): Unit = made.foreach(graft.Fs.rmTree)

  test("Tables.events normalizes every ts physical layout to one (ts, ts_ns) contract") {
    import spark.implicits._
    // the driver has shipped events.ts as TIMESTAMP(NANOS) (rounds ≤8,
    // long under nanosAsLong), and as timestamp[us] without UTC
    // adjustment (round 9, reads as TIMESTAMP_NTZ); a proper TIMESTAMP
    // is the third possible layout. One synthetic instant through all
    // three must yield identical (ts, ts_ns) — this is the pin that
    // turns the next physical-type flip into a one-test failure
    // instead of a 21-test cascade.
    val us = 1704067200123456L // 2024-01-01 00:00:00.123456 UTC
    def base(tag: String) = tmp(s"evlayout_$tag")
    // nanos-long layout (what nanosAsLong yields at read time)
    val pNs = base("ns")
    Seq((1L, us * 1000L, 2L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(pNs)
    // NTZ layout: timestamp[us] with isAdjustedToUTC=false
    val pNtz = base("ntz")
    Seq((1L, java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
        ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC), 2L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(pNtz)
    // proper UTC-adjusted TIMESTAMP layout
    val pTz = base("tz")
    Seq((1L, new java.sql.Timestamp(us / 1000L), 2L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts") + expr(s"INTERVAL ${us % 1000L} MICROSECONDS"))
      .write.mode("overwrite").parquet(pTz)
    // stage each layout under <dir>/events.parquet and load through
    // the real entry point
    val normalized = Seq(("ns", pNs), ("ntz", pNtz), ("tz", pTz)).map { case (tag, p) =>
      val d = tmp(s"evroot_$tag")
      val target = java.nio.file.Paths.get(d, "events.parquet")
      graft.Fs.rmTree(target.toString)
      java.nio.file.Files.move(java.nio.file.Paths.get(p), target)
      val ev = Tables.events(spark, d)
      val row = ev.select(col("ts_ns"), unix_micros(col("ts"))).head()
      (tag, row.getLong(0), row.getLong(1))
    }
    normalized.foreach { case (tag, tsNs, tsUs) =>
      assert(tsNs == us * 1000L, s"layout $tag ts_ns")
      assert(tsUs == us, s"layout $tag ts")
    }
  }

  test("overwriting one partition leaves sibling partitions intact") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_dpo").toString
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // per-partition (row count, content fingerprint) — counts alone
    // would miss a rewrite that corrupts values at equal cardinality
    def partitionPrints(): Map[String, (Long, Long)] =
      spark.read.parquet(out).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          bit_xor(xxhash64(col("event_id"), col("value"))).as("fp"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    try {
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      val before = partitionPrints()

      // "reprocess" only the purchase partition: halve its rows
      ev.filter(col("event_type") === "purchase")
        .filter(col("event_id") % 2 === 0)
        .write.mode("overwrite").partitionBy("event_type").parquet(out)

      val after = partitionPrints()
      assert(after("purchase")._1 < before("purchase")._1) // touched partition changed
      for ((t, print) <- before if t != "purchase")        // siblings identical in content
        assert(after(t) == print, t)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      Fs.rmTree(out)
    }
  }
}
