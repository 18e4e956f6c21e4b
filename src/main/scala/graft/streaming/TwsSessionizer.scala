package graft.streaming

/** Per-user sessionizer on the Spark 4 StatefulProcessor API
  * (transformWithState): the same constant-size state tuple and
  * step() fold as the batch key — never a row list; the only sort is
  * over ONE micro-batch's rows for the key. Lives in main (not the
  * spec) because both StreamingSpec's parity tests and the
  * StreamSoak `tws` shape drive it.
  */
class TwsSessionizer
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), (Long, Int, Long, Long)] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var st: ValueState[StatefulSessionizer.St] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    st = getHandle.getValueState[StatefulSessionizer.St]("sess",
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Int, Long, Long)] = {
    val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
    if (sorted.isEmpty) return Iterator.empty
    var s = if (st.exists()) st.get() else StatefulSessionizer.zero
    sorted.foreach { r => s = StatefulSessionizer.step(s, r._2) }
    st.update(s)
    Iterator.single((key, s._1, s._2, s._5))
  }
}
