package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Pure-function tests of the shared join algorithm
  * ([[StreamDenormalize.processRecords]]) — no SparkSession, so these
  * exercise interleavings and dedup variants far faster than streaming
  * scenarios can.
  */
class ProcessRecordsSpec extends AnyFunSuite {

  private class MapAccess extends StreamDenormalize.DenormStateAccess {
    var right: Option[String] = None
    var leftMap: Map[String, String] = Map.empty
    def rightValue: Option[String] = right
    def setRight(v: String): Unit = right = Some(v)
    def putLeft(k: String, v: String): Unit = leftMap += (k -> v)
    def leftsSorted: Seq[(String, String)] = leftMap.toSeq.sortBy(_._1)
  }

  private def L(key: String, v: String, seq: Long, tie: Long = 0) =
    IndexRecord("fk", isLeft = true, key, v, seq, tie)
  private def R(v: String, seq: Long, tie: Long = 0) =
    IndexRecord("fk", isLeft = false, "fk", v, seq, tie)

  private def run(records: Seq[IndexRecord], joinType: String = "inner",
      strict: Boolean = true, st: MapAccess = new MapAccess): Seq[JoinedRecord] = {
    val (eln, ern) = joinType match {
      case "inner" => (false, false)
      case "left_outer" => (true, false)
      case "right_outer" => (false, true)
      case "full_outer" => (true, true)
    }
    StreamDenormalize.processRecords(records, st, eln, ern, strict).toSeq
  }

  test("tie order decides within equal seq (per-partition offset parity)") {
    // same seq, offsets 9 then 10: the later offset's value must win state
    val st = new MapAccess
    run(Seq(R("old", 5, 9), R("new", 5, 10)), st = st)
    assert(st.right.contains("new"))
    // and reversed input order must give the same outcome (sort, not arrival)
    val st2 = new MapAccess
    run(Seq(R("new", 5, 10), R("old", 5, 9)), st = st2)
    assert(st2.right.contains("new"))
  }

  test("strict dedup: a missing left claims its key and blocks same-batch re-emit") {
    val out = run(Seq(L("c1", "v1", 1), R("rv", 2)))
    // reference parity: the left marked its key on the miss, so the
    // right's fan-out cannot re-emit it; the right emits nothing
    assert(out.isEmpty)
  }

  test("non-strict dedup: the same sequence emits via the fan-out") {
    val out = run(Seq(L("c1", "v1", 1), R("rv", 2)), strict = false)
    assert(out == Seq(JoinedRecord("c1", "v1", "rv", 2)))
  }

  test("right-outer: null-left emitted only when fan-out matched nothing") {
    assert(run(Seq(R("rv", 1)), "right_outer") ==
      Seq(JoinedRecord(null, null, "rv", 1)))
    // with a stored left from a prior batch, the fan-out matches → no null-left
    val st = new MapAccess
    st.putLeft("c1", "v1")
    assert(run(Seq(R("rv", 1)), "right_outer", st = st) ==
      Seq(JoinedRecord("c1", "v1", "rv", 1)))
  }

  test("left upsert: later-seq value for the same key wins state") {
    val st = new MapAccess
    st.right = Some("rv")
    run(Seq(L("c1", "v2", 2), L("c1", "v1", 1)), st = st)
    assert(st.leftMap("c1") == "v2")
  }

  test("full-outer emits left-null on miss and both sides under dedup rules") {
    val out = run(Seq(L("c1", "v1", 1)), "full_outer")
    assert(out == Seq(JoinedRecord("c1", "v1", null, 1)))
  }

  test("the DenormState lefts blob round-trips and decodes in sorted key order") {
    import scala.jdk.CollectionConverters._
    def roundTrip(m: Map[String, String]): Seq[(String, String)] =
      DenormState.decode(DenormState.encode(new java.util.TreeMap(m.asJava))).asScala.toSeq
    val rnd = new scala.util.Random(11)
    val cases = Seq(
      Map.empty[String, String],
      Map("c1" -> "v1"),
      Map("" -> "", "a" -> "", "\u0000" -> "nul", "n" -> null),
      // 2-, 3- and 4-byte UTF-8 (the emoji is a surrogate pair, which
      // String order places below U+FF21 although its code point is higher)
      Map("\u00e9t\u00e9" -> "\u00fcber", "\uff21" -> "\u4e2d\u6587",
        "\ud83d\ude00" -> "{\"k\":\"\ud83d\ude00\"}", "z" -> "\u00e9"),
      (1 to 5000).map(i => s"k${rnd.nextInt(1 << 20)}-$i" -> ("v" * (i % 17))).toMap)
    for (m <- cases) assert(roundTrip(m) == m.toSeq.sortBy(_._1))
  }
}
