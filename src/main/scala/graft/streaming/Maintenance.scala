package graft.streaming

import org.apache.spark.sql.SparkSession

/** Auto-compaction policy for the streaming maintainers — the piece that
  * turns [[graft.llm.ArtifactCompaction]] from a manual maintenance call
  * into an unattended one: without it a daily maintainer accumulates one
  * `ingest_batch=` partition per batch forever (365/year per part), the
  * exact small-files growth COMPACT_LOCAL.json measured at ~4× read
  * amplification by 100 batches.
  *
  * Safety inside `foreachBatch`: Structured Streaming commits batch N−1's
  * checkpoint before invoking batch N, so at the TOP of batch N every
  * partition with id ≤ (N−1 mapped to its part's id space) is durably
  * committed and this maintainer is the only writer — precisely
  * [[graft.llm.ArtifactCompaction]]'s offline/committed contract. The only
  * possibly-TORN partition is the current batch's own (a crashed prior
  * attempt of the same id), which the `upTo` watermark excludes by
  * construction; its replay then dynamic-overwrites a partition compaction
  * never touched.
  *
  * Threshold default ([[DefaultCompactEvery]]): COMPACT_LOCAL.json's
  * measurement — the dedup artifact's full-part scan grew 1376 ms vs a
  * 351 ms compacted floor at 100 batches (≈7 extra files and ≈10 ms of
  * open/footer overhead per batch, linear in between), while one compaction
  * pass costs about one full-part rewrite. Compacting every 32 batches
  * keeps read amplification under ~1.3× at the measured slope and amortizes
  * the rewrite to ~3% of batches — past the crossover where accumulated
  * per-read overhead exceeds the rewrite cost for any part that is read at
  * least a few times per batch window. */
object Maintenance {

  val DefaultCompactEvery = 32

  /** Called at the TOP of a micro-batch with `upTo` = the previous
    * batch's partition id. Two jobs with different cadences:
    *
    *  1. RECOVERY runs unconditionally over every part (two exists()
    *     probes each when clean): a compaction that crashed mid-swap
    *     leaves rows that exist only in its `_tmp-compact` copy, and the
    *     batch about to run would read the part with those rows MISSING
    *     if recovery waited for the next thresholded rewrite.
    *  2. The REWRITE (`compact(upTo)`) is thresholded: only when the
    *     FIRST part (the probe — all parts of one artifact gain batches
    *     in lockstep) has accumulated more than `every` partition dirs
    *     (one listStatus; never a data read). */
  private[streaming] def autoCompact(spark: SparkSession, parts: Seq[String],
                                     every: Int, upTo: Long)
                                    (compact: Long => Unit): Unit = {
    parts.foreach(graft.llm.ArtifactCompaction.recoverPart(spark, _))
    if (upTo >= 1 &&
      graft.llm.ArtifactCompaction.batchIds(spark, parts.head).size > every)
      compact(upTo)
  }
}
