package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One enriched CDR row out of the J3/J4 range join, pre-dedup: what the
  * argmax and the sink read of the column flow at EnrichmentApp.java:320-340
  * — the sink columns the partition columns derive from, plus the dimension
  * `_start_time` the argmax keys on. The exploded `ip` and the partition
  * columns stay out of the state row; the caller derives `event_date` and
  * `probe` from the winner. */
case class EnrichedCdr(
    start_time: Timestamp,
    measuring_probe_name: String,
    imsi: Option[Long],
    msisdn: Option[Long],
    ms_ip_address: String,
    unique_cdr_id: Long,
    _start_time: Option[Timestamp])

/** A2 + A1, streaming form: per-`unique_cdr_id` whole-row argmax by dimension
  * `_start_time`, emitted when no new row for the key arrives within the
  * session gap (1000 ms processing time — EnrichmentApp.java:142-156).
  *
  * The reference keys a DataStream by `unique_cdr_id`, opens a
  * processing-time session window with a 1 s gap, and runs
  * `MaxStartTimeAggregate` (EnrichmentApp.java:376-403): the accumulator is
  * the best row so far, replaced only on *strictly later* `_start_time`
  * (`isAfter`, :385 — first seen wins on ties). Spark's `session_window` is
  * event-time-only, so the faithful mapping is
  * `flatMapGroupsWithState(ProcessingTimeTimeout)`: state = best row,
  * timeout = gap; timeout firing ≡ window close (SURVEY §7 hard-part 1).
  *
  * Scale: this is the pipeline's only shuffle (same keyBy as the reference);
  * state per key is ONE row, dropped at emit, so the state store stays
  * bounded by the number of in-flight sessions, not the stream length.
  */
object SessionDedup {

  /** Strictly-after compare; None (no dim match) never beats a real match. */
  private[streaming] def better(cand: EnrichedCdr, best: EnrichedCdr): Boolean =
    (cand._start_time, best._start_time) match {
      case (Some(c), Some(b)) => c.after(b)
      case (Some(_), None)    => true
      case _                  => false
    }

  private def fold(key: Long, rows: Iterator[EnrichedCdr],
                   state: GroupState[EnrichedCdr], gapMs: Long): Iterator[EnrichedCdr] = {
    if (state.hasTimedOut) {
      val out = state.get
      state.remove()
      Iterator.single(out)
    } else {
      var best = state.getOption.orNull
      rows.foreach { r => if (best == null || better(r, best)) best = r }
      if (best != null) {
        state.update(best)
        state.setTimeoutDuration(gapMs)
      }
      Iterator.empty
    }
  }

  /** Apply to the streaming range-join output (must carry [[EnrichedCdr]]'s
    * columns). Output mode of the enclosing query: Append. */
  def apply(joined: DataFrame, gapMs: Long = 1000L): Dataset[EnrichedCdr] = {
    val spark = joined.sparkSession
    import spark.implicits._
    joined.selectExpr(
        "start_time", "measuring_probe_name", "imsi", "msisdn",
        "ms_ip_address", "unique_cdr_id", "_start_time")
      .as[EnrichedCdr]
      .groupByKey(_.unique_cdr_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout)(
        fold(_, _, _, gapMs))
  }
}
