package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of `q_cdc_apply`: materialize an upsert/tombstone
  * changelog into per-key latest state as the log arrives. State per key
  * is the winning (ts, event_id, value) triple plus the tombstone flag —
  * O(1) per key forever, the CDC-materialization norm.
  *
  * Semantics match the batch query exactly (spec-asserted on any prefix):
  * the LATEST row per key by (ts, event_id) wins, a winning tombstone
  * ('error') DELETES the key, and a later upsert resurrects it. Late rows
  * older than the current winner are ignored — which makes the operator
  * insensitive to arrival order ACROSS batches too (unlike
  * `StreamingEwma`, a spec-side twin under `src/test`, whose recursion
  * is order-sensitive by nature): the
  * argmax of a set is arrival-order-free, so this twin is exact under
  * arbitrary reordering. Output mode Update: one refreshed
  * (user_id, last_value, last_ts, deleted) row per touched key per batch —
  * `deleted = true` rows are the retractions a downstream sink applies.
  */
object StreamingCdc {

  private type CdcState = (Long, Long, Double, Boolean) // tsMicros, event_id, value, tombstone

  def run(events: DataFrame): DataFrame = {
    val session = events.sparkSession
    import session.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"),
        col("event_id"), col("value"), (col("event_type") === "error").as("tomb"))
      .as[(Long, Long, Long, Double, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CdcState, (Long, Double, Long, Boolean)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Double, Boolean)],
         state: GroupState[CdcState]) =>
          var cur = state.getOption.getOrElse((Long.MinValue, Long.MinValue, 0.0, true))
          rows.foreach { case (_, tsm, eid, v, tomb) =>
            if ((tsm, eid, v, tomb) != cur &&
                (tsm > cur._1 || (tsm == cur._1 && eid > cur._2)))
              cur = (tsm, eid, v, tomb)
          }
          state.update(cur)
          Iterator.single((uid, cur._3, cur._1, cur._4))
      }
      .toDF("user_id", "last_value", "last_ts_micros", "deleted")
  }
}
