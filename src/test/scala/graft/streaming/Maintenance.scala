package graft.streaming

import graft.llm.{ArtifactCompaction, Dedup, Similarity, TrainingShards}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The streaming maintainers of the appendable stores: every micro-batch of
  * new input is folded into a stored artifact that must exist before the
  * stream starts — the dedup artifact, the IVF / IVF-PQ index, the
  * tombstone part of the packed store, the training-shard store and the
  * packed token-shard store. Per-batch cost is bounded by the increment:
  * the stores' appends read stored metadata, never the indexed corpus.
  *
  * Exactly-once without a ledger, by one rule that [[maintain]] alone
  * applies: micro-batch N writes only its own `ingest_batch` partition
  * N + offset, by dynamic partition overwrite (the store side of the rule,
  * [[graft.llm.ArtifactCompaction]]). A crash between the write and the
  * checkpoint commit replays the SAME batch id with the SAME rows
  * (Structured Streaming's replay contract), which rewrites that partition
  * bit-identically and re-derives every base (shard ids, pack ids) from
  * partitions < N + offset. Offset 1 keeps partition 0 for the initial
  * build; the tombstone stream persists its own offset ([[offsetFor]]).
  * Spec-pinned per store: stream-of-batches ≡ batch appends, and a forced
  * replay changes nothing.
  *
  * Auto-compaction (`autoCompactEvery > 0`; every maintainer defaults to 0,
  * off): without it a daily maintainer accumulates one `ingest_batch=`
  * partition per batch forever (365/year per part), the small-files growth
  * COMPACT_LOCAL.json measured at ~4× read amplification by 100 batches.
  * At the TOP of batch N every partition ≤ N − 1 + offset is durably
  * committed (Structured Streaming commits batch N−1's checkpoint before
  * invoking batch N) and this stream is the only writer — precisely
  * [[graft.llm.ArtifactCompaction]]'s offline/committed contract. The only
  * possibly-TORN partition is the current batch's own (a crashed prior
  * attempt of the same id), which the `upTo` watermark excludes by
  * construction; its replay then dynamic-overwrites a partition compaction
  * never touched. COMPACT_LOCAL.json's measurement sizes the threshold:
  * the dedup artifact's full-part scan grew 1376 ms vs a 351 ms compacted
  * floor at 100 batches (≈10 ms of open/footer overhead per batch, linear
  * in between) while one compaction pass costs about one full-part
  * rewrite, so a threshold near 32 keeps read amplification under ~1.3× and
  * amortizes the rewrite to ~3% of batches. */
object Maintenance {

  /** Near-dup artifact ([[graft.llm.Dedup.appendDedupArtifact]]): `docs`
    * carries (doc_id, text); batch N+1's mining sees every document batch N
    * delivered. The artifact may be built from an EMPTY seed corpus (the
    * first append bootstraps the partition dirs). */
  def dedupArtifact(docs: DataFrame, path: String, checkpoint: String,
                    triggerMs: Long = 100L, autoCompactEvery: Int = 0): StreamingQuery =
    maintain(docs, checkpoint, triggerMs, 1L, autoCompactEvery,
      Seq("nodes", "shingles", "bands", "counts").map(p => s"$path/$p"))(
      Dedup.compactDedupArtifact(_, path, _))(
      unlessEmpty(Dedup.appendDedupArtifact(_, path, _)))

  /** Sized IVF (or, with `pq`, IVF-PQ) index
    * ([[graft.llm.Similarity.appendIvfIndex]] / `appendIvfPqIndex`): `vecs`
    * carries (vec_id, embedding), assigned and encoded against the STORED
    * centroid/codebook tables. Appends stay correct at any growth; poll
    * [[graft.llm.Similarity.ivfIndexNeedsRebuild]] between batches for the
    * centroid-drift rebuild signal. */
  def annIndex(vecs: DataFrame, path: String, checkpoint: String,
               pq: Boolean = false, triggerMs: Long = 100L,
               autoCompactEvery: Int = 0): StreamingQuery =
    if (pq)
      maintain(vecs, checkpoint, triggerMs, 1L, autoCompactEvery,
        Seq(s"$path/codes", s"$path/vectors"))(
        Similarity.compactIvfPqIndex(_, path, _))(
        unlessEmpty(Similarity.appendIvfPqIndex(_, path, _)))
    else
      maintain(vecs, checkpoint, triggerMs, 1L, autoCompactEvery,
        Seq(s"$path/cells"))(
        Similarity.compactIvfIndex(_, path, _))(
        unlessEmpty(Similarity.appendIvfIndex(_, path, _)))

  /** Takedown requests (`requests` carries `doc_id`) folded into the packed
    * store's tombstone part ([[graft.llm.TrainingShards.addTombstones]]), so
    * the loss-mask feed reflects every delivered request without a byte of
    * container rewrite. Takedown batch ids are their OWN sequence, placed
    * past every ad-hoc takedown batch by [[offsetFor]]. */
  def tombstones(requests: DataFrame, dir: String, checkpoint: String,
                 triggerMs: Long = 100L, autoCompactEvery: Int = 0): StreamingQuery =
    maintain(requests, checkpoint, triggerMs,
      offsetFor(requests.sparkSession, dir, checkpoint), autoCompactEvery,
      Seq(s"$dir/tombstones"))(
      TrainingShards.compactTombstones(_, dir, _))(
      unlessEmpty((batch, id) =>
        TrainingShards.addTombstones(batch.sparkSession, dir, batch, id)))

  /** Training-shard store: every batch folds in as NEW containers
    * ([[graft.llm.TrainingShards.appendTrainingShards]]); shipped shards are
    * never rewritten, so a training job can consume the store while it
    * grows. `docs` carries (doc_id, text); `nShards <= 0` sizes each batch
    * from its own payload ([[graft.llm.TrainingShards.appendSized]]). The
    * manifest is one coalesced file per batch and has no compaction. */
  def trainingShards(docs: DataFrame, dir: String, nShards: Int,
                     checkpoint: String, triggerMs: Long = 100L): StreamingQuery =
    maintain(docs, checkpoint, triggerMs, 1L, 0, Nil)((_, _) => ())(
      persisted(TrainingShards.appendSized(_, dir, nShards, _)))

  /** Packed token-shard store: every batch folds in as new packs and
    * containers tokenized by the STORE's own tokenizer
    * ([[graft.llm.TrainingShards.appendPackedTokenShards]]: stored merges
    * replayed, vocab extended deterministically). Auto-compaction covers
    * the per-batch metadata parts (spans, vocab); the manifest is
    * deliberately not compactable (`compactPackedMetadata`'s scaladoc). */
  def packedShards(docs: DataFrame, dir: String, nShards: Int,
                   checkpoint: String, triggerMs: Long = 100L,
                   autoCompactEvery: Int = 0): StreamingQuery =
    maintain(docs, checkpoint, triggerMs, 1L, autoCompactEvery,
      Seq(s"$dir/spans", s"$dir/tokenizer/vocab"))(
      TrainingShards.compactPackedMetadata(_, dir, _))(
      // the packed append evaluates the batch several times (word
      // distinct, tokenize explode, prefix-sum bounds, container write)
      persisted { (batch, id) =>
        if (batch.agg(count(lit(1))).head().getLong(0) > 0L)
          TrainingShards.appendPackedTokenShards(batch, dir, nShards, id)
      })

  /** The one maintainer loop: micro-batch `batchId` appends at partition
    * `batchId + offset`. At the top of each batch, with `every > 0`, two
    * jobs with different cadences:
    *
    *  1. RECOVERY runs unconditionally over every part (two exists()
    *     probes each when clean): a compaction that crashed mid-swap
    *     leaves rows that exist only in its `_tmp-compact` copy, and the
    *     batch about to run would read the part with those rows MISSING
    *     if recovery waited for the next thresholded rewrite.
    *  2. The REWRITE (`compact(spark, upTo)`, `upTo` = the previous batch's
    *     partition) is thresholded: only when the FIRST part (the probe —
    *     all parts of one store gain batches in lockstep) has accumulated
    *     more than `every` partition dirs (one listStatus; never a data
    *     read). */
  private def maintain(input: DataFrame, checkpoint: String, triggerMs: Long,
                       offset: Long, every: Int, parts: Seq[String])
                      (compact: (SparkSession, Long) => Unit)
                      (append: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (every > 0) {
          val spark = batch.sparkSession
          val upTo = batchId + offset - 1L
          parts.foreach(ArtifactCompaction.recoverPart(spark, _))
          if (upTo >= 1 && ArtifactCompaction.batchIds(spark, parts.head).size > every)
            compact(spark, upTo)
        }
        append(batch, batchId + offset)
      }.start()

  private def unlessEmpty(append: (DataFrame, Long) => Unit)
                         (batch: DataFrame, id: Long): Unit =
    if (!batch.isEmpty) append(batch, id)

  /** Persist the micro-batch around an append that evaluates it more than
    * once, so the micro-batch source is never re-read per action. */
  private def persisted(append: (DataFrame, Long) => Unit)
                       (batch: DataFrame, id: Long): Unit = {
    batch.persist()
    try append(batch, id) finally batch.unpersist()
  }

  private def offsetFile(checkpoint: String) =
    new Path(checkpoint, "graft-batch-offset")

  /** The tombstone stream's batch-id offset. Stream batch ids must not
    * collide with AD-HOC takedown batches already on disk: a `batchId + 1`
    * mapping reserves only partition 0, so a stream attaching to a store
    * with an ad-hoc `addTombstones(…, ingestBatch = 1)` would
    * dynamic-overwrite that partition on its first batch and silently
    * RESURRECT the earlier takedown in the loss-mask feed. At FIRST start
    * the offset is derived as max(existing tombstone partition) + 1 and
    * persisted under the stream's OWN checkpoint dir (`graft-batch-offset`,
    * written before `.start()` so no batch can commit without it); every
    * restart REREADS that file instead of re-deriving — a re-derivation
    * after the stream's own batches landed would shift every replayed
    * batch id onto a different partition and break the exactly-once
    * overwrite. Checkpoint and offset share a lifetime by construction: a
    * fresh checkpoint (fresh batch-id sequence) mints a fresh offset past
    * everything then on disk.
    *
    * Read the persisted offset, or derive-and-persist it (first start). */
  private[graft] def offsetFor(spark: SparkSession,
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
      // the exact hazard this file exists to prevent.
      // Pin the legacy offset 1 so replays keep overwriting their own
      // partitions.
      val committed = new Path(checkpoint, "commits")
      val legacy = fs.exists(committed) &&
        fs.listStatus(committed).exists(_.getPath.getName.forall(_.isDigit))
      val derived = if (legacy) 1L else {
        val maxExisting = ArtifactCompaction
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
}
