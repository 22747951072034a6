package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `ingest_batch` part protocol of every appendable store, and the
  * compaction of its parts.
  *
  * The protocol: an appendable part (the dedup artifact's per-document
  * parts, the ANN indexes' per-vector parts, the training-shard store's
  * manifest, vocab, spans and tombstones) is a parquet directory
  * partitioned by `ingest_batch`. A build writes batch 0 with a static
  * overwrite (replacing the whole part); an append writes ITS batch with a
  * dynamic overwrite, so a replayed micro-batch rewrites its own partition
  * instead of appending duplicates — the exactly-once replay convention of
  * the corpus-ingest sinks. [[writeBatch]] is that write, [[readOptional]]
  * the read of a part that may not exist yet (never built, or built from
  * zero rows, which leaves no partition dirs), [[nextBatch]] the ad-hoc
  * "fold today's data in" batch id, and [[batchIds]] the partition
  * listing.
  *
  * Compaction is the small-files maintenance every appendable store
  * needs: a streaming maintainer folds one partition per micro-batch into
  * the dedup artifact's per-document parts
  * ([[Dedup.appendDedupArtifact]]) and the ANN indexes' per-vector parts
  * ([[Similarity.appendIvfIndex]], [[Similarity.appendIvfPqIndex]]),
  * which under daily maintenance is
  * 365 small parquet partitions per year per part — read amplification
  * that grows without bound while the DATA stays the same size.
  *
  * `compactPart` rewrites every partition with `ingest_batch <= upTo`
  * into ONE partition dir (`ingest_batch=upTo`), file count sized to the
  * compacted bytes — batches after `upTo` are untouched, so the append /
  * replay convention keeps working verbatim for them (bases and next-id
  * derivations read `max(ingest_batch)`, which compaction never changes).
  *
  * Contract (the LSM-compaction contract, stated honestly): compaction is
  * an OFFLINE maintenance operation over batches that are durably
  * committed — a replay of a batch `<= upTo` after compaction would
  * dynamic-overwrite the merged partition and lose every other compacted
  * batch, exactly like replaying into any LSM level that was merged away.
  * Run it when the maintainer's checkpoint is past `upTo` (for streaming
  * stores: between restarts, or on batch ids the checkpoint has
  * committed), with no concurrent writer.
  *
  * Crash-RECOVERABLE (not atomic): the rewrite is tmp-write → plan-marker
  * → delete-old → rename → plan-delete, and the next `compactPart` call
  * rolls the protocol forward or back from any crash point. The plan
  * marker (`_compact-plan`, holding upTo) is written only after the tmp
  * copy is COMPLETE, so: tmp without plan = incomplete copy → discarded
  * and redone; tmp with plan = complete copy mid-swap → remaining deletes
  * re-run (idempotent) and the rename finished; plan without tmp = crash
  * after the rename → nothing left to do but drop the marker. Readers
  * never see the underscore-prefixed tmp/plan names, and every visible
  * intermediate state is either the old partitions or the merged one.
  *
  * Reads are unaffected by construction: every consumer of these parts
  * either projects its columns explicitly (ingest_batch never reaches an
  * output) or filters `ingest_batch` only against FUTURE batch ids —
  * spec-pinned bit-identical reports/queries before and after, including
  * an append landing after the compaction. */
object ArtifactCompaction {

  /** Write `df` as partition `ingest_batch=batch` of the part at
    * `partPath`. `dynamic = false` (a build) replaces the whole part;
    * `dynamic = true` (an append) overwrites ONLY this batch's partition,
    * leaving every other batch untouched — the replay-idempotent write. */
  private[graft] def writeBatch(df: DataFrame, partPath: String, batch: Long,
                                dynamic: Boolean): Unit =
    df.withColumn("ingest_batch", lit(batch))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .partitionBy("ingest_batch").parquet(partPath)

  /** The parquet at `path`, or None when it does not exist or has no data
    * files (a part built from zero rows, a bare directory) — checked by a
    * listing, because a failed read is a failed query execution that every
    * execution listener hears; the catch covers a part deleted between the
    * listing and the read. Any other
    * AnalysisException (a footer problem surfaced at read planning, a
    * schema conflict) propagates: callers fall back to an empty store,
    * and that must never paper over a damaged one. */
  private[graft] def readOptional(spark: SparkSession,
                                  path: String): Option[DataFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData =
      try hasDataFile(fs, p)
      catch { case _: java.io.FileNotFoundException => false } // missing
    if (!hasData) None
    else try Some(spark.read.parquet(path))
    catch { case e: AnalysisException if missingParquet(e) => None }
  }

  /** Whether a recursive listing under `p` finds a data file. Like Spark's
    * own listing, it skips names starting with `_` or `.` (`_SUCCESS`,
    * `_temporary`, `.crc`, compaction scratch) and everything under them. */
  private def hasDataFile(fs: FileSystem, p: Path): Boolean =
    fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") &&
        (s.isFile || hasDataFile(fs, s.getPath))
    }

  /** The "this parquet doesn't exist / has no schema-bearing files"
    * conditions — one list, so a Spark version renaming either condition
    * is fixed in one place. */
  private def missingParquet(e: AnalysisException): Boolean =
    Option(e.getCondition).exists(c =>
      c.startsWith("PATH_NOT_FOUND") || c.startsWith("UNABLE_TO_INFER_SCHEMA"))

  /** max(ingest_batch)+1 over the stored rows of a part, or `whenEmpty`
    * when the part is missing or holds no rows — the ad-hoc "fold today's
    * data in" batch id (parquet footer metadata makes the max cheap;
    * streaming maintainers pass the batch id explicitly). A data read, not
    * a directory listing: a torn partition with no committed rows must not
    * advance the id. */
  private[graft] def nextBatch(spark: SparkSession, partPath: String,
                               whenEmpty: Long): Long =
    readOptional(spark, partPath)
      .map(_.agg(max(col("ingest_batch").cast("long"))).head())
      .filterNot(_.isNullAt(0))
      .fold(whenEmpty)(_.getLong(0) + 1L)

  /** The `ingest_batch` ids with a partition directory under `partPath`
    * (one listStatus, never a data read); empty when the part does not
    * exist. Underscore-prefixed compaction scratch and plain files are not
    * batches. */
  private[graft] def batchIds(spark: SparkSession, partPath: String): Seq[Long] = {
    val base = new Path(partPath)
    batchIds(base.getFileSystem(spark.sparkContext.hadoopConfiguration), base)
  }

  private def batchIds(fs: FileSystem, base: Path): Seq[Long] =
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("ingest_batch="))
      .map(_.getPath.getName.stripPrefix("ingest_batch=").toLong)

  private def batchDir(base: Path, batch: Long): Path =
    new Path(base, s"ingest_batch=$batch")

  /** Rewrite partitions `ingest_batch <= upTo` of one part into ONE
    * partition. The merge target is SNAPPED to the largest EXISTING
    * partition id <= upTo (mirroring
    * [[TrainingShards.compactPackedMetadata]]'s snap-to-committed):
    * batch-id sequences can have gaps (a maintainer that crashed before
    * its first write, an ad-hoc caller that skipped ids), and merging
    * into a never-committed id would relabel compacted history under a
    * batch that never existed — harmless to column-projecting readers,
    * but it breaks the "merged id is a real committed batch" property
    * callers may rely on (advisor r13). Returns the number of partition
    * dirs merged (0 = nothing to do). */
  private[llm] def compactPart(spark: SparkSession, partPath: String,
                               upTo: Long): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new Path(partPath)
    val fs = base.getFileSystem(hconf)
    val tmp = new Path(base, "_tmp-compact")
    val plan = new Path(base, "_compact-plan")
    recoverPart(spark, partPath)
    val old = batchIds(fs, base).filter(_ <= upTo)
    if (old.length <= 1) return 0
    // snap: the merged partition always reuses a REAL existing batch id
    val target = old.max
    // file count from the bytes being merged — one ~128 MiB file per, the
    // parquet-scan-friendly size; never coalesce(1) (a 100 TB-scale part's
    // compaction must stay distributed)
    val bytes = old.iterator.map(b =>
      fs.getContentSummary(batchDir(base, b)).getLength).sum
    val nFiles = math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20)).toInt
    spark.read.parquet(partPath)
      .filter(col("ingest_batch").cast("long") <= target)
      .drop("ingest_batch")
      .coalesce(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // the plan marker commits the protocol: from here a crash rolls
    // FORWARD (the tmp copy is complete); before it, a crash discards tmp.
    // It records the SNAPPED target — recovery must finish the same swap.
    writePlan(fs, plan, target)
    swap(fs, base, tmp, plan, target)
    old.length
  }

  /** delete-old → rename → plan-delete, every step idempotent under
    * re-execution (the roll-forward body). */
  private def swap(fs: FileSystem, base: Path,
                   tmp: Path, plan: Path, upTo: Long): Unit = {
    // require-checked deletes: FileSystem.delete returns false (rather
    // than throwing) for several failure modes, and proceeding past one
    // would leave the original partition ALONGSIDE its merged copy —
    // every read double-counts, and if the survivor is ingest_batch=upTo
    // itself the rename below would nest the tmp dir INSIDE it
    // (review-caught)
    batchIds(fs, base).filter(_ <= upTo).map(batchDir(base, _))
      .foreach(p => require(fs.delete(p, true),
        s"$base: delete of ${p.getName} failed — aborting before " +
          "the compacted rename (data still complete in _tmp-compact)"))
    require(fs.rename(tmp, batchDir(base, upTo)),
      s"$base: rename of the compacted partition failed")
    require(fs.delete(plan, false), s"$base: plan-marker delete failed")
  }

  /** Plan marker via the shared atomic staging+rename discipline
    * ([[graft.Util.atomicMarkerWrite]]): a crash mid-write must never
    * leave an empty/truncated plan that wedges recovery or rolls forward
    * with the WRONG upTo (review-caught). */
  private def writePlan(fs: FileSystem, plan: Path,
                        upTo: Long): Unit =
    graft.Util.atomicMarkerWrite(fs, plan, upTo.toString)

  private def readPlan(fs: FileSystem, plan: Path): Long = {
    val in = fs.open(plan)
    try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
  }

  /** Roll a crashed compaction of one part forward or back WITHOUT
    * starting a new rewrite — called at the top of every [[compactPart]],
    * so the operation is restartable from any crash point. Streaming
    * maintainers also run it on every micro-batch (two exists() probes
    * when clean): recovery must not wait for the next thresholded
    * compaction, because a mid-swap crash leaves rows that exist ONLY in
    * the `_tmp-compact` copy (their partitions already deleted), and every
    * read between the crash and the roll-forward would silently miss
    * them. A no-op when the part dir doesn't exist yet. */
  private[graft] def recoverPart(spark: SparkSession, partPath: String): Unit = {
    val base = new Path(partPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    val (tmp, plan) = (new Path(base, "_tmp-compact"), new Path(base, "_compact-plan"))
    // a crashed writePlan leaves only the staging name — scrap, never read
    val staging = plan.suffix(".staging")
    if (fs.exists(staging)) require(fs.delete(staging, false),
      s"$base: discard of a stale plan-staging file failed")
    val (t, p) = (fs.exists(tmp), fs.exists(plan))
    if (t && p) swap(fs, base, tmp, plan, readPlan(fs, plan)) // complete copy mid-swap: forward
    else if (t) require(fs.delete(tmp, true), // incomplete copy: discard
      s"$base: discard of an incomplete _tmp-compact failed")
    else if (p) require(fs.delete(plan, false), // crash after rename: done
      s"$base: stale plan-marker delete failed")
  }

  /** Default compaction watermark: max(ingest_batch) present MINUS ONE.
    * The newest on-disk batch is excluded because "present on disk" is
    * not "committed" — a maintainer that crashed after its part writes
    * but before its checkpoint commit leaves a torn newest batch whose
    * crash-REPLAY dynamic-overwrites its own partition; if compaction had
    * merged history into that partition, the replay would silently
    * replace the entire compacted corpus with one increment
    * (review-caught). Callers who know their newest batch is durably
    * committed pass `upTo` explicitly. */
  private[llm] def defaultWatermark(spark: SparkSession,
                                    partPath: String): Long = {
    val ids = batchIds(spark, partPath)
    require(ids.nonEmpty, s"$partPath: no ingest_batch partitions to compact")
    ids.max - 1
  }
}
