package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Stream-stream EVENT-TIME as-of join — Flink's `FOR SYSTEM_TIME AS OF`
  * temporal join, the one capability of the reference's engine family that
  * Spark has no native operator for (stream-static joins are as-of
  * *processing* time; stream-stream interval joins are symmetric windows,
  * not "latest version at or before").
  *
  * Semantics: for each fact (probe, ip, ts), attach the dimension row with
  * the greatest dim.ts <= fact.ts among updates with the same key — decided
  * at WATERMARK time, not arrival time. That ordering rule is the whole
  * point: a dimension update that arrives late but with an earlier event
  * time than an already-buffered fact still wins if its event time is the
  * closest at-or-before — the naive "enrich with whatever is cached at
  * arrival" (processing-time lookup) gets exactly this wrong under
  * disorder, and the spec pins the difference.
  *
  * Mechanics ([[org.apache.spark.sql.KeyValueGroupedDataset.flatMapGroupsWithState]],
  * Append + EventTimeTimeout):
  *  - both inputs carry watermarks; the tagged union's watermark is their
  *    min, so when it passes a fact's timestamp, every dimension update
  *    at-or-before that instant has arrived — the match is final;
  *  - per key the state holds two buffers: pending facts (ts > watermark)
  *    and dimension versions. Emission drains facts with ts <= watermark;
  *    the dim buffer is then trimmed to the single latest version
  *    at-or-before the watermark (the carry-in) plus everything newer —
  *    state is bounded by disorder (watermark delay), NOT by stream length;
  *  - an event-time timeout re-fires the group when the watermark passes
  *    its oldest pending fact even if no new rows arrive for the key.
  *
  * Facts with no at-or-before dimension emit with NULL enrichment (left
  * semantics, same as the batch [[graft.operators.AsOfJoin]] twin the spec
  * compares against).
  */
object StreamingAsOf {

  /** (dim versions ts-ascending, pending facts) — all timestamps epoch ms.
    * A fact's cdr_id is Option: a NULL unique_cdr_id is payload, not a join
    * key, so the row still enriches (NULL id in, NULL id out) — same as the
    * batch twin, where the id rides along untouched. */
  case class AsOfState(
      dims: List[(Long, Option[Long], Option[Long])], // (ts, imsi, msisdn)
      facts: List[(Long, Option[Long])])              // (ts, cdr_id)

  /** Deterministic per-timestamp tie-break, mirroring the batch twin's
    * pre-reduction (AsOfJoin step 1: one right row per (keys, rightTime),
    * winner = max(struct(payload))): two dim versions sharing an event time
    * collapse to the one with the greatest (imsi, msisdn) — None sorts
    * below Some exactly like SQL's nulls-smallest struct comparison, so the
    * streaming result cannot depend on arrival order. */
  private[graft] def reduceDimTies(
      dims: List[(Long, Option[Long], Option[Long])])
      : List[(Long, Option[Long], Option[Long])] =
    dims.groupBy(_._1).map { case (ts, vs) =>
      (ts, vs.map(v => (v._2, v._3)).max)
    }.toList.sortBy(_._1).map { case (ts, (i, m)) => (ts, i, m) }

  /** `facts` needs (unique_cdr_id, probe, ip, ts); `dims` needs
    * (probe, ip, ts, imsi, msisdn); both `ts` must already carry
    * `withWatermark` — the operator asserts nothing about delay policy. */
  def enrich(facts: DataFrame, dims: DataFrame): DataFrame = {
    val session = facts.sparkSession
    import session.implicits._
    val taggedFacts = facts.select(
      col("probe"), col("ip"), col("ts"),
      lit(1).as("side"), col("unique_cdr_id").as("cdr_id"),
      lit(null).cast("bigint").as("imsi"), lit(null).cast("bigint").as("msisdn"))
    val taggedDims = dims.select(
      col("probe"), col("ip"), col("ts"),
      lit(0).as("side"), lit(null).cast("bigint").as("cdr_id"),
      col("imsi"), col("msisdn"))
    // the watermarked TIMESTAMP column itself must flow into the stateful
    // operator — projecting it away (e.g. to epoch millis) would strip the
    // event-time tag and EventTimeTimeout refuses to plan. The group key is
    // the (probe, ip) PAIR, not a delimited concat: a probe value containing
    // the delimiter must not be able to smear into the ip column on re-parse.
    val union = taggedFacts.unionByName(taggedDims)
      .select(col("probe"), col("ip"), col("ts"),
        col("side"), col("cdr_id"), col("imsi"), col("msisdn"))
      .as[(String, String, java.sql.Timestamp, Int, Option[Long], Option[Long], Option[Long])]

    union.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[AsOfState,
        (String, String, Long, Option[Long], Option[Long], Option[Long], Option[Long])](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state) =>
          val prev = state.getOption.getOrElse(AsOfState(Nil, Nil))
          var dims = prev.dims
          var pend = prev.facts
          rows.foreach {
            case (_, _, ts, 0, _, imsi, msisdn) => dims = (ts.getTime, imsi, msisdn) :: dims
            case (_, _, ts, _, cdrId, _, _)     => pend = (ts.getTime, cdrId) :: pend
          }
          dims = reduceDimTies(dims.distinct)
          val wm = state.getCurrentWatermarkMs()
          // finalize every fact the watermark has passed: all dims <= its
          // ts are in the buffer, so "latest at-or-before" is decided
          val (ready, stillPending) = pend.partition(_._1 <= wm)
          val out = ready.sortBy(f => (f._1, f._2)).map { case (fts, cdrId) =>
            val m = dims.takeWhile(_._1 <= fts).lastOption
            (key._1, key._2, fts, cdrId, m.map(_._1), m.flatMap(_._2), m.flatMap(_._3))
          }
          // trim dims to the carry-in (latest <= wm) + every newer version
          val (past, future) = dims.partition(_._1 <= wm)
          val kept = past.lastOption.toList ::: future
          if (stillPending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsOfState(kept, stillPending))
            // re-fire when the watermark passes the oldest pending fact
            if (stillPending.nonEmpty)
              state.setTimeoutTimestamp(stillPending.map(_._1).min + 1)
          }
          out.iterator
      }
      .toDF("probe", "ip", "ts_ms", "cdr_id", "dim_ts_ms", "imsi", "msisdn")
      .select(
        col("probe"), col("ip"),
        timestamp_millis(col("ts_ms")).as("ts"),
        col("cdr_id").as("unique_cdr_id"),
        col("imsi"), col("msisdn"),
        timestamp_millis(col("dim_ts_ms")).as("dim_ts"))
  }
}
