package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The continuously-updating FK join on Spark 4's `transformWithState`
  * API — the modern stateful-processing core, and the 1:1 mapping of the
  * reference's store layout (SURVEY.md §2 O8-O10): a `ValueState` holds
  * the latest right value (the point-get, `JoinTransformer.java:147-158`)
  * and a `MapState` holds the lefts sharing the FK (the prefix scan,
  * `:168-186`) — where the flatMapGroupsWithState core decodes and
  * re-encodes the per-FK `DenormState` lefts blob once per group it
  * touches, this one reads and writes individual state entries, so a
  * hot FK with a million lefts updates one map entry instead of
  * rewriting the group blob.
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass =
  * ...state.RocksDBStateStoreProvider`) — transformWithState's multiple
  * column families are not supported by the default HDFS-backed store.
  * The join algorithm itself is [[StreamDenormalize.processRecords]],
  * shared verbatim with the flatMapGroupsWithState core, so the two
  * backends cannot drift semantically.
  */
class DenormProcessor(joinType: String, strictBatchDedup: Boolean = true,
    ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, IndexRecord, JoinedRecord] {

  private val (emitLeftNull, emitRightNull) = StreamDenormalize.flags(joinType)

  @transient private var rightValue: ValueState[String] = _
  @transient private var lefts: MapState[String, String] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    // the TTL applies to BOTH families: an expired right stops new lefts
    // from joining it (they emit the outer null-side instead), and
    // expired lefts stop re-emitting on right updates. This is the
    // state bounding the reference leaves as an open TODO
    // (HackerNewsPipeline.java:35-36 "compacted topics grow forever");
    // on a compacted-topic-sized dimension keep TTLConfig.NONE.
    rightValue = getHandle.getValueState[String](
      "rightValue", Encoders.STRING, ttl)
    lefts = getHandle.getMapState[String, String](
      "lefts", Encoders.STRING, Encoders.STRING, ttl)
  }

  override def handleInputRows(key: String, rows: Iterator[IndexRecord],
      timerValues: TimerValues): Iterator[JoinedRecord] = {
    val access = new StreamDenormalize.DenormStateAccess {
      // ValueState.get() returns null when absent — one store read per
      // lookup, not an exists()+get() pair on the hot left-arrival path
      def rightValue: Option[String] = Option(DenormProcessor.this.rightValue.get())
      def setRight(v: String): Unit = DenormProcessor.this.rightValue.update(v)
      def putLeft(k: String, v: String): Unit = lefts.updateValue(k, v)
      def leftsSorted: Seq[(String, String)] = lefts.iterator().toSeq.sortBy(_._1)
    }
    StreamDenormalize.processRecords(rows.toSeq, access,
      emitLeftNull, emitRightNull, strictBatchDedup)
  }
}

object TwsDenormalize {

  /** The stateful join over a keyed [[IndexRecord]] stream — same
    * surface as [[StreamDenormalize.joined]], different state backend.
    *
    * `ttl`, when set, bounds BOTH state families by processing-time age
    * (entries older than the duration stop participating and are
    * reclaimed by the store) — the knob a production deployment sets to
    * its join-window SLA so per-FK state can't grow forever. TTL
    * requires processing-time semantics, so the time mode switches with
    * the knob; `None` keeps the exact reference semantics (state lives
    * forever, like the compacted topic it mirrors).
    */
  def joined(index: Dataset[IndexRecord], joinType: String,
      strictBatchDedup: Boolean = true,
      ttl: Option[java.time.Duration] = None): Dataset[JoinedRecord] = {
    import index.sparkSession.implicits._
    val (cfg, timeMode) = ttl match {
      case Some(d) => (TTLConfig(d), TimeMode.ProcessingTime())
      case None => (TTLConfig.NONE, TimeMode.None())
    }
    index
      .groupBy(col("fk")).as[String, IndexRecord]
      .transformWithState(new DenormProcessor(joinType, strictBatchDedup, cfg),
        timeMode, OutputMode.Append())
  }
}
