package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** One record of the internal index stream — the Spark analog of the
  * reference's compacted index topic (`dsl/StreamDenormalize.java:44-60`):
  * both sides re-keyed by FK and funneled into one keyed stream. `isLeft`
  * plays the role of the zeroed-left-digest marker (`JoinKey.java:55`);
  * `seq` is the arrival order (Kafka offset parity — the reference relies
  * on per-partition offset order, `JoinTransformer.java:138`).
  */
case class IndexRecord(fk: String, isLeft: Boolean, key: String, value: String,
    seq: Long, tie: Long = 0L)

/** One emitted join result. `left`/`right` are JSON payloads (null for
  * the missing side of outer emissions, `JoinTransformer.java:159-166,192-196`);
  * `seq` is the arrival that triggered the emission, so latest-per-key
  * post-processing can recover the final state.
  */
case class JoinedRecord(outKey: String, left: String, right: String, seq: Long)

/** Per-FK join state: the latest right value plus the latest value of
  * every left sharing the FK — exactly what the reference's compacted
  * store holds under one FK-digest prefix (point-get for the right,
  * prefix-scan for the lefts, `JoinKey.java:84-99`).
  *
  * `lefts` is one length-prefixed UTF-8 blob: the entry count, then per
  * entry the key's byte length and bytes and the value's byte length
  * and bytes (-1 for a null value), all lengths 4-byte big-endian, in
  * `String` order of the keys — the order `toSeq.sortBy(_._1)` gives.
  * The state holds no Scala collection on purpose: a collection
  * deserializer gets fresh lambda-variable ids each time the state
  * encoder is bound (once per micro-batch), so its generated class
  * never hits Spark's code cache and every batch compiled one.
  * Changing this shape changes the state schema: a checkpoint written
  * with another shape cannot be resumed.
  */
case class DenormState(
    rightValue: Option[String],
    lefts: Array[Byte])

/** The `DenormState.lefts` blob codec. */
private[streaming] object DenormState {
  import java.nio.ByteBuffer
  import java.nio.charset.StandardCharsets.UTF_8

  def encode(lefts: java.util.TreeMap[String, String]): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.DataOutputStream(bytes)
    def str(s: String): Unit =
      if (s == null) out.writeInt(-1)
      else { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
    out.writeInt(lefts.size)
    lefts.forEach { (k, v) => str(k); str(v) }
    bytes.toByteArray
  }

  def decode(blob: Array[Byte]): java.util.TreeMap[String, String] = {
    val lefts = new java.util.TreeMap[String, String]
    val buf = ByteBuffer.wrap(blob)
    def str(): String = buf.getInt() match {
      case -1 => null
      case n =>
        val s = new String(blob, buf.position(), n, UTF_8)
        buf.position(buf.position() + n)
        s
    }
    for (_ <- 0 until buf.getInt()) {
      val k = str()
      lefts.put(k, str())
    }
    lefts
  }
}

/** Continuously-updating FK denormalization over Structured Streaming —
  * the reference's stateful transformer (`transform/JoinTransformer.java`)
  * re-expressed as `flatMapGroupsWithState`.
  *
  * Semantics reproduced:
  *  - upsert (latest value per key) on both sides — O8
  *  - left arrival: point lookup of the right, emit joined pair (or
  *    left+null under left/full outer) — O9 (`JoinTransformer.java:141-166`)
  *  - right arrival: re-emit EVERY stored left with the new right value
  *    (or null+right under right/full outer when no lefts) — O10
  *    (`JoinTransformer.java:167-198`)
  *  - per-batch dedup: at most one emission per complete join key within
  *    one micro-batch — O14 (`JoinTransformer.java:210-222`; the
  *    reference scopes this by stream-time, Spark's natural analog is
  *    the micro-batch)
  *
  * Scale notes: state is hash-partitioned by FK across executors
  * (Spark's streaming state partitioning — the same data placement the
  * reference builds manually with its FK-only partitioner). Hot FKs
  * fan out O(lefts) emissions per right update, identical to the
  * reference's prefix scan; the per-group batch is sorted in memory and
  * the fan-out list built eagerly, so an extreme hot-FK micro-batch is
  * bounded by executor memory — cap micro-batch size (maxOffsetsPerTrigger)
  * on skewed topics. State is unbounded by design parity (the
  * reference TODOs archival too, `HackerNewsPipeline.java:35-36`); for
  * production use pair with a TTL'd state store (RocksDB provider).
  */
object StreamDenormalize {

  /** Join-type flags, `JoinTransformer.java:72-130` (shared with the
    * transformWithState core so the two backends use one mapping).
    */
  private[streaming] def flags(joinType: String): (Boolean, Boolean) = joinType match {
    case "inner" => (false, false)
    case "left_outer" => (true, false)
    case "right_outer" => (false, true)
    case "full_outer" => (true, true)
    case other => throw new IllegalArgumentException(
      s"joinType must be inner|left_outer|right_outer|full_outer, got $other")
  }

  /** Build the index stream from two (streaming) DataFrames: re-key both
    * sides by FK and union — O3/O4/O7. `leftFk` is the joinOn extraction
    * (`LeftKeyMapper.java:19-22`); the right's FK is its own key
    * (`RightKeyMapper.java:16-18`).
    *
    * Records with a null FK or null primary key are DROPPED before the
    * union — Kafka Streams parity (a repartition after selectKey drops
    * null-key records before any stateful operator reaches them).
    * Without the filter, every missing-joinOn-field record from BOTH
    * sides (schema-on-read JSON yields null for absent fields) would
    * meet under one shared null FK group and emit bogus pairs — and a
    * null primary key crashes the MapState backend at runtime while the
    * fMGWS backend silently accepts it, a backend-divergent behavior.
    */
  def indexStream(
      left: DataFrame, leftKey: Column, leftFk: Column, leftSeq: Column,
      right: DataFrame, rightKey: Column, rightSeq: Column,
      leftTie: Column = lit(0L), rightTie: Column = lit(0L)): Dataset[IndexRecord] = {
    import left.sparkSession.implicits._
    val l = left
      .filter(leftFk.isNotNull && leftKey.isNotNull)
      .select(
        leftFk.cast("string").as("fk"), lit(true).as("isLeft"),
        leftKey.cast("string").as("key"),
        to_json(struct(left.columns.map(col).toSeq: _*)).as("value"),
        leftSeq.cast("long").as("seq"), leftTie.cast("long").as("tie"))
    val r = right
      .filter(rightKey.isNotNull)
      .select(
        rightKey.cast("string").as("fk"), lit(false).as("isLeft"),
        rightKey.cast("string").as("key"),
        to_json(struct(right.columns.map(col).toSeq: _*)).as("value"),
        rightSeq.cast("long").as("seq"), rightTie.cast("long").as("tie"))
    l.unionAll(r).as[IndexRecord]
  }

  /** The stateful join itself. Works on any Dataset[IndexRecord] —
    * streaming (micro-batch state) or batch (single invocation per FK).
    *
    * `strictBatchDedup = true` reproduces the reference exactly: a left
    * arrival claims its batch-dedup key BEFORE the lookup
    * (`JoinTransformer.java:142`), so a left that misses blocks a
    * same-batch right from re-emitting it. That window is one
    * stream-time millisecond in the reference but a whole micro-batch
    * here — set `strictBatchDedup = false` to claim keys only on actual
    * emission, eliminating the drop window while still suppressing
    * duplicate emissions.
    */
  def joined(index: Dataset[IndexRecord], joinType: String,
      strictBatchDedup: Boolean = true): Dataset[JoinedRecord] = {
    val (emitLeftNull, emitRightNull) = flags(joinType)
    import index.sparkSession.implicits._
    index
      .groupBy(col("fk")).as[String, IndexRecord]
      .flatMapGroupsWithState[DenormState, JoinedRecord](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fk: String, records: Iterator[IndexRecord], state: GroupState[DenormState]) =>
          processGroup(fk, records, state, emitLeftNull, emitRightNull, strictBatchDedup)
      }
  }

  /** Abstract view of one FK group's state, so the SAME join algorithm
    * drives both cores: the flatMapGroupsWithState path (immutable
    * snapshot in [[DenormState]]) and the transformWithState path
    * (RocksDB-backed ValueState/MapState, [[TwsDenormalize]]).
    */
  private[streaming] trait DenormStateAccess {
    def rightValue: Option[String]
    def setRight(v: String): Unit
    def putLeft(k: String, v: String): Unit
    def leftsSorted: Seq[(String, String)]
  }

  /** The join algorithm itself (shared by both state backends).
    *
    * O14 per-batch dedup: complete join key = (fk, leftKey); right-only
    * emissions use the zeroed marker, as in JoinKey.java:55.
    * Offset-order processing parity (JoinTransformer.java:138): seq is
    * the cross-source major order (e.g. record timestamp), tie the
    * exact per-partition order (e.g. Kafka offset) — the pair is
    * monotone in offset within a partition, which is what per-key state
    * correctness requires.
    */
  private[streaming] def processRecords(
      records: Seq[IndexRecord], st: DenormStateAccess,
      emitLeftNull: Boolean, emitRightNull: Boolean,
      strictBatchDedup: Boolean): Iterator[JoinedRecord] = {
    val out = Seq.newBuilder[JoinedRecord]
    val emittedInBatch = scala.collection.mutable.HashSet.empty[String]
    for (rec <- records.sortBy(r => (r.seq, r.tie))) {
      if (rec.isLeft) {
        st.putLeft(rec.key, rec.value)
        val claimed =
          if (strictBatchDedup) emittedInBatch.add(rec.key) // marks even on miss
          else !emittedInBatch.contains(rec.key)
        if (claimed) {
          st.rightValue match {
            case Some(rv) =>
              if (!strictBatchDedup) emittedInBatch.add(rec.key)
              out += JoinedRecord(rec.key, rec.value, rv, rec.seq)
            case None if emitLeftNull =>
              if (!strictBatchDedup) emittedInBatch.add(rec.key)
              out += JoinedRecord(rec.key, rec.value, null, rec.seq)
            case None => // inner/right_outer: drop (JoinTransformer.java:163-165)
          }
        }
      } else {
        st.setRight(rec.value)
        // prefix-scan fan-out (JoinTransformer.java:168-186)
        var matched = 0
        for ((lk, lv) <- st.leftsSorted) {
          if (emittedInBatch.add(lk)) {
            out += JoinedRecord(lk, lv, rec.value, rec.seq)
            matched += 1
          }
        }
        // right-outer emission keys off what this call actually
        // EMITTED (reference: matched.isEmpty, JoinTransformer.java:192),
        // not off stored state — lefts may exist yet all be
        // suppressed by the in-batch dedup. Not itself deduped
        // (:192-196 has no ensureJoinUniqueInBatch call).
        if (matched == 0 && emitRightNull)
          out += JoinedRecord(null, null, rec.value, rec.seq)
      }
    }
    out.result().iterator
  }

  private def processGroup(
      fk: String, records: Iterator[IndexRecord], state: GroupState[DenormState],
      emitLeftNull: Boolean, emitRightNull: Boolean,
      strictBatchDedup: Boolean): Iterator[JoinedRecord] = {
    val prev = state.getOption
    var right = prev.flatMap(_.rightValue)
    val lefts = prev.fold(new java.util.TreeMap[String, String])(
      p => DenormState.decode(p.lefts))
    val access = new DenormStateAccess {
      def rightValue: Option[String] = right
      def setRight(v: String): Unit = right = Some(v)
      def putLeft(k: String, v: String): Unit = lefts.put(k, v)
      def leftsSorted: Seq[(String, String)] = lefts.asScala.toSeq
    }
    val out = processRecords(records.toSeq, access,
      emitLeftNull, emitRightNull, strictBatchDedup)
    state.update(DenormState(right, DenormState.encode(lefts)))
    out
  }

  /** Parse the JSON payloads back to typed columns and apply the output
    * key mapping (O12/O13): result columns `out_key`, `left`, `right`.
    */
  def parsed(joinedDs: Dataset[JoinedRecord], leftSchema: StructType,
      rightSchema: StructType): DataFrame =
    joinedDs.select(
      col("outKey").as("out_key"),
      from_json(col("left"), leftSchema).as("left"),
      from_json(col("right"), rightSchema).as("right"),
      col("seq"))
}
