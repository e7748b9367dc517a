package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins q112's CSV null-vs-empty contract: under
  * [[SparkEntry.csvLosslessOptions]] a NULL string, an empty string,
  * and a normal value each survive the write→read round trip
  * DISTINCT — the property the default nullValue/emptyValue options do
  * not give (they conflate null and empty on read-back, so the q112
  * gate would hold only while the fixture strings happen to be
  * non-empty/non-null).
  */
class CsvLosslessSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType, nullable = true)))

  test("null, empty, and backslash-N strings round-trip distinct through the q112 options") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, null), Row(2L, ""), Row(3L, "x"),
        // a DATA value equal to the null token's rendering must not be
        // misread as NULL (quoteAll writes it quoted; the token match
        // applies to the unquoted null marker only... if this ever
        // breaks, the token needs an escape, and this row catches it)
        Row(4L, "y,z")),
      schema)
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv_spec").toString
    try {
      SparkEntry.csvLosslessOptions(df.write.mode("overwrite")).csv(tmp)
      val back = SparkEntry.csvLosslessOptions(spark.read.schema(schema)).csv(tmp)
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
        .toMap
      assert(back(1L) == null, s"null must read back as null: $back")
      assert(back(2L) == "", s"empty must read back as empty, not null: $back")
      assert(back(3L) == "x", back)
      assert(back(4L) == "y,z", back)
    } finally Fs.rmTree(tmp)
  }
}
