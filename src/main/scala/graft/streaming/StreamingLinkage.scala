package graft.streaming

import graft.llm.RecordLinkage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming Fellegi–Sunter record linkage: a DIRTY record stream (the
  * second provider's feed, arriving continuously) linked against the
  * static CLEAN dimension — the incremental form of
  * [[graft.llm.RecordLinkage.linkPairs]], with the same pinned integer
  * weights, the same comparator gate, the same class thresholds.
  *
  * Shape: blocked candidate generation per micro-batch is a STREAM-STATIC
  * equi-join on the blocking key — stateless by construction, because a
  * dirty record's candidates depend only on the static clean side, never
  * on other stream rows. So the operator needs no watermark and no state
  * store: Append mode, every emitted pair final the moment its micro-batch
  * commits, and prefix ≡ batch holds trivially (the spec pins it anyway).
  *
  * Scale: the clean side at 100 TB-pipeline size is 10⁶–10⁸ rows —
  * megabytes-to-gigabytes keyed by the blocking key. Broadcast when it
  * fits ([[graft.cdr.CdrPipeline]]'s size-conditional hint convention);
  * when it doesn't, Spark shuffles only the micro-batch side against a
  * pre-partitioned static side, and the per-batch cost is the batch's own
  * Σ|block| candidates — the comparator gate still runs as the join
  * residual, so the non-candidate bulk dies before the projection.
  *
  * Multi-pass blocking (the dirty-blocking-key story) composes the same
  * way: each pass is another stream-static equi-join, unioned before one
  * shared scoring stage; `dropDuplicates` across passes would need a
  * watermark on a synthetic event time, so the streaming form instead
  * keeps the passes' residual-gated outputs disjoint-by-construction
  * (pass 2 filters pairs pass 1 already found — a static predicate on the
  * blocking fields), which is the standard streaming answer to cross-pass
  * dedup without state. The fixture exercises the single-pass form; the
  * multi-pass form is batch-only ([[RecordLinkage.linkPairsMultiPass]]).
  */
object StreamingLinkage {

  /** Broadcast ceiling for the clean dimension — the same size-conditional
    * convention as [[graft.cdr.CdrPipeline]]'s dim hint: force the build
    * side only while Catalyst's own size estimate stays under the bound,
    * so a dimension that outgrows executor memory degrades to a shuffled
    * join instead of OOMing on a forced broadcast. */
  val CleanDimMaxBytes: Long = 256L << 20

  /** `dirtyStream` must carry the dirty-side schema (cust_b, b_name, nk,
    * b_cents, b_mkt); `clean` is the static clean dimension (cust_a,
    * a_name, nk, a_cents, a_mkt). Returns the match/possible pair stream
    * (Append-safe: no aggregation, no state). */
  def link(dirtyStream: DataFrame, clean: DataFrame,
           dimMaxBytes: Long = CleanDimMaxBytes): DataFrame =
    RecordLinkage.scoreCandidates(
      dirtyStream.join(graft.Util.broadcastIfSmall(clean, dimMaxBytes), "nk"))

  /** Per-micro-batch confusion summary (the [[RecordLinkage.linkEval]]
    * cells keyed by batch) via foreachBatch — aggregation over a stream
    * needs either a watermark or batch-scoped finality, and linkage QA
    * wants the latter: each batch's report is complete when the batch is. */
  def evalBatches(dirtyStream: DataFrame, clean: DataFrame)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    link(dirtyStream, clean).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(batch
          .withColumn("is_true", (col("cust_a") === col("cust_b")).cast("long"))
          .groupBy(col("cls"), col("is_true"))
          .agg(count(lit(1)).as("n"),
            min(col("score")).as("min_score"),
            max(col("score")).as("max_score")), id)
      }
      .start()
}
