package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained takedown record for the packed token-shard
  * store: takedown REQUESTS (doc ids) arrive as a stream — a legal/compliance
  * queue is exactly that — and each micro-batch folds into the store's
  * tombstone part ([[graft.llm.TrainingShards.addTombstones]]), so the
  * loss-mask feed ([[graft.llm.TrainingShards.activeSpans]]) reflects every
  * delivered request without a byte of shipped-container rewrite.
  *
  * Exactly-once by the artifact convention ([[StreamingArtifact]]): the
  * tombstone part is `ingest_batch`-partitioned and each batch
  * dynamic-overwrites its own partition, so a crash-replayed batch id
  * rewrites bit-identically. Takedown batch ids are their OWN sequence
  * (independent of corpus ingest batches) — which is exactly why
  * [[graft.llm.TrainingShards.compactTombstones]] watermarks from this part
  * rather than the store's manifest.
  *
  * Batch-id OFFSET (advisor r13): stream batch ids must not collide with
  * AD-HOC takedown batches already on disk — the old `batchId + 1` mapping
  * reserved only partition 0, so a stream attaching to a store with an
  * ad-hoc `addTombstones(…, ingestBatch = 1)` would dynamic-overwrite that
  * partition on its first batch and silently RESURRECT the earlier takedown
  * in the loss-mask feed. At FIRST start the offset is derived as
  * max(existing tombstone partition) + 1 and persisted under the stream's
  * OWN checkpoint dir (`graft-batch-offset`, written before `.start()` so
  * no batch can commit without it); every restart REREADS that file instead
  * of re-deriving — a re-derivation after the stream's own batches landed
  * would shift every replayed batch id onto a different partition and break
  * the exactly-once overwrite. Checkpoint and offset share a lifetime by
  * construction: a fresh checkpoint (fresh batch-id sequence) mints a fresh
  * offset past everything then on disk. */
object StreamingTombstones {

  private[streaming] def offsetFile(checkpoint: String) =
    new Path(checkpoint, "graft-batch-offset")

  /** Read the persisted offset, or derive-and-persist it (first start). */
  private[graft] def offsetFor(spark: org.apache.spark.sql.SparkSession,
                        dir: String, checkpoint: String): Long = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val off = offsetFile(checkpoint)
    val fs = off.getFileSystem(hconf)
    if (fs.exists(off)) {
      val in = fs.open(off)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
    } else {
      // a checkpoint that already COMMITTED batches but has no offset file
      // predates the offset convention: its batches landed under the
      // legacy `batchId + 1` mapping, and deriving a fresh offset now
      // would shift every replayed batch id onto a different partition —
      // the exact hazard this file exists to prevent (review-caught).
      // Pin the legacy offset 1 so replays keep overwriting their own
      // partitions.
      val committed = new Path(checkpoint, "commits")
      val legacy = fs.exists(committed) &&
        fs.listStatus(committed).exists(_.getPath.getName.forall(_.isDigit))
      val derived = if (legacy) 1L else {
        val maxExisting = graft.llm.ArtifactCompaction
          .batchIds(spark, s"$dir/tombstones").foldLeft(-1L)(math.max)
        // min 1: partition 0 stays reserved for ad-hoc pre-stream
        // takedowns even on a store with no tombstones yet
        math.max(1L, maxExisting + 1L)
      }
      fs.mkdirs(new Path(checkpoint))
      // the offset must appear atomically with its payload (the shared
      // marker discipline)
      graft.Util.atomicMarkerWrite(fs, off, derived.toString)
      derived
    }
  }

  /** `requests` must carry `doc_id`. `autoCompactEvery > 0` folds the
    * tombstone part's committed batches into one partition whenever more
    * than that many partition dirs have accumulated
    * ([[graft.llm.TrainingShards.compactTombstones]] — see
    * [[graft.llm.ArtifactCompaction]] for the K-sizing measurement): the
    * compaction watermark is `currentBatch - 1`, i.e. strictly committed
    * batches (Structured Streaming commits batch N-1's checkpoint before
    * invoking batch N), so the in-flight batch's crash-replay overwrite
    * stays untouched. */
  def run(requests: DataFrame, dir: String, checkpoint: String,
          triggerMs: Long = 100L, autoCompactEvery: Int = 0): StreamingQuery = {
    val offset = offsetFor(requests.sparkSession, dir, checkpoint)
    requests.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (autoCompactEvery > 0)
          Maintenance.autoCompact(batch.sparkSession,
            Seq(s"$dir/tombstones"),
            autoCompactEvery, upTo = batchId + offset - 1L)(
            graft.llm.TrainingShards.compactTombstones(
              batch.sparkSession, dir, _))
        if (!batch.isEmpty)
          graft.llm.TrainingShards.addTombstones(
            batch.sparkSession, dir, batch, batchId + offset)
        ()
      }.start()
  }
}
