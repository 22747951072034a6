package graft.llm

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt
import scala.util.Try

import graft.Util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The pipeline's last mile: materialize the shuffled corpus as REAL
  * training-shard files — WebDataset-style ZIP containers a training job
  * (or [[ShardZip]], its reader twin in this repo) range-reads — instead
  * of stopping at the layout DataFrame. `doc_shuffle_shards` computes the
  * (shard, pos) plan and this writer executes it: one container file per
  * shard, entries in shuffled `pos` order, entry name carrying
  * `(pos, doc_id)` so a reader recovers identity without a side table.
  *
  * Spark-first shape: the layout is a pure projection and the whole
  * container pass is ONE keyed exchange on `shard` (plan-audited); only
  * the byte-level container encode drops to `mapPartitions`, the same
  * boundary every codec in [[Multimodal]] draws. `repartition(shard)`
  * hash-partitions by key, so a shard NEVER spans tasks and each task
  * streams its shards entry-by-entry — per-task memory is one ZIP
  * buffer, not a shard — returning the per-shard manifest stats from
  * the same pass.
  *
  * Idempotent-write convention (the corpus-ingest / dedup-artifact rule):
  * every container is written to a task-attempt-unique `_tmp-` name and
  * renamed over the target (replay/speculation-safe), and the `manifest`
  * parquet — the commit marker readers trust — is written LAST,
  * partitioned by `ingest_batch` exactly like the dedup artifact's
  * per-document parts: a replayed append (same batch id) re-derives the
  * same shard-id base from the manifest rows of EARLIER batches only,
  * overwrites the same container files, and dynamic-partition-overwrites
  * its own manifest partition — exactly-once, no ledger. SAME-JVM
  * assumption on byte-stable replays: "replays rewrite stable bytes"
  * additionally relies on Deflater/zlib emitting identical output and on
  * ZipEntry.setTime(0L)'s pre-1980 handling being identical across JVMs —
  * true for a Structured Streaming replay (same JVM lineage), but a
  * replay from a DIFFERENT JDK/zlib may rename a byte-different though
  * logically-identical container over a shipped file; deployments that
  * hop JVM versions mid-stream should pin the JDK or accept the re-read.
  *
  * 100 TB shape: shards are the unit of training-time I/O, so the writer
  * enforces [[ShardZip]]'s documented non-ZIP64 scope per shard (< 65 536
  * entries, < 4 GiB) — at scale the caller sizes `nShards` so a shard is
  * the usual few hundred MB, and the write is one exchange + one
  * output-sized pass with no driver involvement beyond the (nShards)-row
  * manifest and empty-shard sweep.
  *
  * Reference scope: the Flink app's terminal sink is a partitioned-file
  * writer (`EnrichmentApp.java` filesystem sink); this is the
  * training-data analogue of that terminal artifact, per the
  * beyond-reference pipeline mandate.
  */
object TrainingShards {

  /** ShardZip is a non-ZIP64 reader; the writer is where the bound is
    * enforced (its scaladoc: "bounded well under 4 GiB / 65k entries by
    * the writer"). The REAL container ceiling is Int.MaxValue (~2 GiB),
    * not ZIP's 4 GiB: ShardZip stores sizes/offsets as Int, and the
    * binaryFile read path rejects files over 2 GiB — a cap between the
    * two would commit shards the repo's own reader cannot open
    * (review-caught). 64 MiB of headroom covers entry headers + central
    * directory (≤ 65 535 × ~100 B ≈ 6.5 MiB) and deflate's worst-case
    * expansion on incompressible payloads (~0.03%). */
  val MaxShardEntries = 65535
  val MaxShardPayloadBytes: Long = Int.MaxValue.toLong - (64L << 20)

  def shardFileName(shard: Long): String = f"shard-$shard%05d.zip"
  private def entryName(pos: Long, entryId: Long, ext: String): String =
    f"$pos%08d.$entryId%d.$ext"

  /** Initial build: the full corpus into `nShards` containers + manifest,
    * resetting whatever was at `dir` (static manifest overwrite — the
    * same "build resets, append folds" split as the dedup artifact). */
  def writeTrainingShards(docs: DataFrame, dir: String, nShards: Int): Unit = {
    require(nShards >= 1, s"writeTrainingShards: nShards must be >= 1, got $nShards")
    writeShardFiles(docs, dir, nShards, shardBase = 0L, ingestBatch = 0L,
      dynamic = false)
  }

  /** Fold a corpus increment in as `nShards` NEW containers (ids continue
    * past every earlier batch's) — growth never rewrites shipped shards,
    * so a training job's already-consumed files stay byte-stable. Ad-hoc
    * form derives the batch id from the stored manifest. */
  def appendTrainingShards(newDocs: DataFrame, dir: String, nShards: Int): Unit =
    appendDocShards(newDocs, dir, nShards, ingestBatch = None)

  /** Ad-hoc [[appendSized]]: shard count sized from the increment, batch
    * id from the stored manifest (batch 0 is the build's, so a manifest
    * with no rows starts at 1). */
  def appendTrainingShards(newDocs: DataFrame, dir: String): Unit = {
    // persist: a nondeterministic input (sampled/shuffled upstream) sized
    // against a different materialization than the one written could trip
    // the entries bound or misshape shards
    newDocs.persist()
    try appendSized(newDocs, dir, nShards = 0,
      ArtifactCompaction.nextBatch(newDocs.sparkSession, s"$dir/manifest", 1L))
    finally newDocs.unpersist()
  }

  /** Append `docs` as batch `ingestBatch`, skipping an empty increment.
    * One one-row aggregate is both the empty check and, when
    * `nShards <= 0`, the increment's size for [[shardCountFor]], so a small
    * daily increment mints one right-sized container instead of a fixed
    * count of near-empty ones. The caller persists `docs`: the aggregate
    * and the container write must see one materialization. */
  private[graft] def appendSized(docs: DataFrame, dir: String, nShards: Int,
                                 ingestBatch: Long): Unit = {
    val bytes = if (nShards > 0) lit(0L) else coalesce(sum(octet_length(col("text"))), lit(0L))
    val st = docs.agg(count(lit(1)), bytes).head()
    if (st.getLong(0) > 0L)
      appendTrainingShards(docs, dir,
        if (nShards > 0) nShards else shardCountFor(st.getLong(1), st.getLong(0)),
        ingestBatch)
  }

  /** Containers an increment of `payloadBytes` / `nDocs` entries should
    * mint: sized to the target container bytes (default 256 MiB — the
    * usual WebDataset shard scale, clamped to the non-ZIP64 reader
    * bound), AND to the 65 535-entries-per-shard reader bound the writer
    * hard-enforces — bytes alone would crash a batch of many small
    * documents (70k × 2 KB ≈ 140 MB → 1 shard → the entries require
    * aborts deterministically on every replay; review-caught). Entry
    * target is HALF the cap: shard assignment is a hash of the Lehmer
    * key, so per-shard counts fluctuate around the mean and the headroom
    * absorbs the skew. */
  def shardCountFor(payloadBytes: Long, nDocs: Long,
                    targetBytesPerShard: Long = 256L << 20): Int = {
    require(targetBytesPerShard >= 1 &&
      targetBytesPerShard <= MaxShardPayloadBytes,
      s"targetBytesPerShard out of the reader's scope: $targetBytesPerShard")
    val byBytes = (payloadBytes + targetBytesPerShard - 1) / targetBytesPerShard
    val byEntries = (nDocs + MaxShardEntries / 2 - 1) / (MaxShardEntries / 2)
    math.max(1L, math.max(byBytes, byEntries)).toInt
  }

  /** Explicit-batch append — the streaming maintainer's exactly-once form.
    * The shard-id base is derived from manifest rows of batches STRICTLY
    * BEFORE `ingestBatch`, so a replay of the same batch id lands on the
    * same shard ids and overwrites (never duplicates) its own output. */
  def appendTrainingShards(newDocs: DataFrame, dir: String, nShards: Int,
                           ingestBatch: Long): Unit =
    appendDocShards(newDocs, dir, nShards, Some(ingestBatch))

  private def appendDocShards(newDocs: DataFrame, dir: String, nShards: Int,
                              ingestBatch: Option[Long]): Unit = {
    require(nShards >= 1, s"appendTrainingShards: nShards must be >= 1, got $nShards")
    ingestBatch.foreach(b =>
      require(b >= 1, s"appendTrainingShards: batch 0 is the initial build's"))
    val (batch, shardBase, _) =
      basesOf(manifestBase(newDocs.sparkSession, dir, ingestBatch).head(), ingestBatch)
    writeShardFiles(newDocs, dir, nShards, shardBase, batch, dynamic = true)
  }

  /** What an append folds past, as ONE aggregate over the stored manifest:
    * the last batch, the last shard (-1 when none) and the stored entry
    * count. The explicit forms aggregate rows STRICTLY BEFORE
    * `ingestBatch`, so a replay of a batch id lands on the same shard and
    * pack ids and overwrites its own output; the ad-hoc forms (None)
    * aggregate every row, which makes the next-batch probe and the base
    * the same manifest pass (guide §1.2). */
  private def manifestBase(spark: SparkSession, dir: String,
                           ingestBatch: Option[Long]): DataFrame = {
    val manifest = spark.read.parquet(s"$dir/manifest")
    ingestBatch.fold(manifest)(b =>
      manifest.filter(col("ingest_batch").cast("long") < b))
      .agg(
        max(col("ingest_batch").cast("long")).as("_max_batch"),
        coalesce(max(col("shard").cast("long")), lit(-1L)).as("_max_shard"),
        coalesce(sum(col("n_docs").cast("long")), lit(0L)).as("_n_stored"))
  }

  /** (batch, shard base, pack base) from a row carrying [[manifestBase]]'s
    * columns: the batch is `ingestBatch`, else the stored max + 1 (1 for a
    * manifest with no rows); every container entry of the packed store is
    * one pack, so the stored entry count is its pack base. */
  private def basesOf(row: Row, ingestBatch: Option[Long]): (Long, Long, Long) = {
    val lastBatch = row.fieldIndex("_max_batch")
    (ingestBatch.getOrElse(if (row.isNullAt(lastBatch)) 1L else row.getLong(lastBatch) + 1L),
      row.getLong(row.fieldIndex("_max_shard")) + 1L,
      row.getLong(row.fieldIndex("_n_stored")))
  }

  private def writeShardFiles(docs: DataFrame, dir: String, nShards: Int,
                              shardBase: Long, ingestBatch: Long,
                              dynamic: Boolean): Unit = {
    // NOT localCheckpointed: the plan is corpus-sized, and materializing
    // the full corpus to executor-local storage is exactly the kind of
    // hidden full copy that dies at 100 TB — the write is ONE
    // output-sized pass that also emits the manifest stats.
    def entries = withLayout(docs.select(col("doc_id").as("entry_id"),
      encode(col("text"), "UTF-8").as("payload")), nShards, shardBase)
    writeContainerFiles(docs.sparkSession, () => entries, dir, nShards,
      shardBase, ingestBatch, dynamic, ext = "txt", reset = !dynamic)
  }

  /** The Lehmer layout as a PURE PROJECTION: shard and the in-shard sort
    * key are functions of the entry id alone, so the container pass needs
    * NO window and NO join-back — `pos` is the writer's per-shard counter
    * over the (shard, skey, entry_id) sort, which equals
    * [[TextAnalysis.shuffleShards]]'s row_number by construction (the
    * round-trip oracles and the layout spec pin the equality). Net plan:
    * ONE keyed exchange for the whole container pass (plan-audited) —
    * the windowed+joined form paid four corpus-sized exchanges. */
  private[graft] def withLayout(idPayload: DataFrame, nShards: Int,
                                shardBase: Long): DataFrame =
    idPayload
      .select(expr(TextAnalysis.lehmerKeySql("entry_id")).as("skey"),
        col("entry_id"), col("payload"))
      .select((pmod(col("skey"), lit(nShards.toLong)) + shardBase).as("shard"),
        col("skey"), col("entry_id"), col("payload"))

  /** The single exchange + in-partition sort the writer consumes —
    * exposed for the plan audit. */
  private[graft] def containerWritePlan(entries: DataFrame): DataFrame =
    entries.repartition(col("shard"))
      .sortWithinPartitions("shard", "skey", "entry_id")

  /** The generic container-write protocol over prepared
    * (shard, skey, entry_id, payload: binary) rows — shared by the
    * document-text store and the packed-token store, so the
    * tmp+rename/manifest-last/exactly-once conventions exist once.
    * One output-sized pass: the writer tasks stream the containers AND
    * return the per-shard manifest stats. */
  private def writeContainerFiles(spark: SparkSession,
                                  entries: () => DataFrame, dir: String,
                                  nShards: Int, shardBase: Long,
                                  ingestBatch: Long, dynamic: Boolean,
                                  ext: String, reset: Boolean): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    if (reset) { // build resets the artifact dir like mode=overwrite
      // (the packed store resets EARLIER, before its tokenizer parts land —
      // tokenizer before containers before manifest, so the commit marker
      // is always last)
      val fs = new Path(dir).getFileSystem(hconf)
      fs.delete(new Path(dir), true)
      fs.mkdirs(new Path(dir))
    }
    // Ship the SESSION's Hadoop configuration to the writer tasks — a
    // fresh Configuration() on the executor loads only classpath defaults
    // (no spark.hadoop.* credentials/endpoints), which silently targets
    // the wrong filesystem for any non-default `dir` (review-caught). The
    // conf is flattened to entries because Configuration itself is not
    // Serializable.
    val confEntries: Array[(String, String)] = {
      val b = Array.newBuilder[(String, String)]
      val it = hconf.iterator()
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.result()
    }
    // ONE output-sized pass: each task writes its containers AND returns
    // the per-shard (n_docs, n_bytes) stats rows — a shard never spans
    // tasks, so task-local stats are final. The old form re-ran the whole
    // entries plan (for packed shards: the full tokenize→pack chain) a
    // second time just to aggregate the manifest (review-caught). The
    // collect is nShards-bounded driver state.
    import spark.implicits._
    val stats: Array[(Long, Long, Long)] = containerWritePlan(entries())
      .mapPartitions { (it: Iterator[Row]) =>
        val conf = new org.apache.hadoop.conf.Configuration()
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val basePath = new Path(dir)
        val fs = basePath.getFileSystem(conf)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var cur = Long.MinValue
        var zos: ZipOutputStream = null
        var tmp: Path = null
        var entries = 0
        var payloadBytes = 0L
        // failed attempts must not leak their open `_tmp-` container: the
        // non-ZIP64 `require` below aborts tasks mid-file by design, and
        // append mode never resets the directory — without this listener
        // that debris accumulates forever (the driver-side sweep after the
        // pass catches attempts that died without running listeners)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskFailureListener((_, _) => {
            if (zos != null) { try zos.close() catch { case _: Throwable => () } }
            if (tmp != null) { try fs.delete(tmp, false) catch { case _: Throwable => () } }
            ()
          }))
        def finish(): Unit = if (zos != null) {
          zos.close(); zos = null
          val dst = new Path(basePath, shardFileName(cur))
          fs.delete(dst, false) // rename-over-existing: the replay overwrite
          require(fs.rename(tmp, dst), s"TrainingShards: rename $tmp -> $dst failed")
          out += ((cur, entries.toLong, payloadBytes))
        }
        it.foreach { r =>
          val sh = r.getLong(0)
          if (sh != cur) {
            finish()
            cur = sh; entries = 0; payloadBytes = 0L
            tmp = new Path(basePath, s"_tmp-${shardFileName(sh)}.$attempt")
            zos = new ZipOutputStream(fs.create(tmp, true))
          }
          val payload = r.getAs[Array[Byte]](3)
          entries += 1; payloadBytes += payload.length
          require(entries <= MaxShardEntries && payloadBytes <= MaxShardPayloadBytes,
            s"TrainingShards: shard $cur exceeds the non-ZIP64 reader scope " +
              s"($entries entries / $payloadBytes payload bytes) — raise nShards")
          // pos = the per-shard counter over the (shard, skey, entry_id)
          // sort — shuffleShards' row_number without its window
          val ze = new ZipEntry(entryName(entries.toLong, r.getLong(2), ext))
          ze.setTime(0L) // fixed timestamp: replays rewrite stable bytes
          zos.putNextEntry(ze)
          zos.write(payload)
          zos.closeEntry()
        }
        finish()
        out.iterator
      }.collect()
    // Driver-side passes: (a) every shard of THIS batch's range with no
    // stats row gets a (valid, zero-entry) container UNCONDITIONALLY
    // renamed over whatever is there — the file layout is the contract (a
    // training job maps shard ids to workers before it opens a file), and
    // keying on THIS RUN's stats rows rather than file presence means a
    // diverged replay (a gate chain joining a mutable stored index can
    // keep fewer docs, leaving empty a shard a superseded attempt filled)
    // cannot retain the stale attempt's entries as committed phantom docs
    // under an n_docs=0 manifest row (review-caught); (b) `_tmp-` debris
    // of failed/superseded attempts in this batch's range is swept via ONE
    // listStatus (the task listener catches orderly failures; this catches
    // attempts that died without running it).
    val fs = new Path(dir).getFileSystem(hconf)
    val writtenNow: Set[Long] = stats.map(_._1).toSet
    (0L until nShards.toLong).foreach { s =>
      val sid = s + shardBase
      if (!writtenNow.contains(sid)) {
        val dst = new Path(dir, shardFileName(sid))
        val tmp = new Path(dir, s"_tmp-${shardFileName(sid)}.driver")
        val zos = new ZipOutputStream(fs.create(tmp, true))
        zos.finish(); zos.close()
        fs.delete(dst, false) // rename-over-existing: mirror finish()
        require(fs.rename(tmp, dst), s"TrainingShards: rename $tmp -> $dst failed")
      }
    }
    val present: Set[String] =
      fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
    present.iterator.filter(_.startsWith("_tmp-shard-")).foreach { n =>
      val idStr = n.stripPrefix("_tmp-shard-").takeWhile(_.isDigit)
      val inBatch = idStr.nonEmpty && {
        val id = idStr.toLong
        id >= shardBase && id < shardBase + nShards
      }
      if (inBatch) { // only THIS batch's range: never race a concurrent writer
        try fs.delete(new Path(dir, n), false) catch { case _: Throwable => () }
      }
    }
    // manifest LAST — the commit marker. Every shard of this batch gets a
    // row (zeros for empty shards) so readers learn the full id range
    // without listing files.
    val byShard = stats.map(s => s._1 -> s).toMap
    ArtifactCompaction.writeBatch(
      (0L until nShards.toLong).map(_ + shardBase)
        .map(s => byShard.get(s) match {
          case Some((_, n, b)) => (s, n, b)
          case None => (s, 0L, 0L)
        })
        .toDF("shard", "n_docs", "n_bytes")
        .coalesce(1),
      s"$dir/manifest", ingestBatch, dynamic)
  }

  /** Decode the stored containers back to (shard, pos, doc_id, text) —
    * the training job's read path, and the round-trip oracle's Spark
    * side. One binaryFile row per container (a shard is sized to fit a
    * task by the writer's own bound), entries walked via the
    * central-directory reader. */
  def readTrainingShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    committedContainers(spark, dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val shard = shardOf(path)
        containerEntries(bytes).map { case (_, pos, id, data) =>
          (shard, pos, id, new String(data, UTF_8))
        }
      }.toDF("shard", "pos", "doc_id", "text")
  }

  /** The stored manifest, ingest_batch projected away (the reader
    * convention: partition columns never reach an output). */
  def readManifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/manifest")
      .select(col("shard"), col("n_docs"), col("n_bytes"))

  /** The committed container files, derived from the MANIFEST — never a
    * directory glob: the manifest (written last) is the commit marker, so
    * a crash between the container renames and the manifest write leaves
    * an uncommitted batch whose files a glob reader would happily decode
    * (review-caught). The collect is manifest-row-bounded driver state —
    * the same scale as the manifest itself. */
  private def committedContainers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(
      spark.read.parquet(s"$dir/manifest").select(col("shard"))
        .as[Long].collect().sorted.toSeq
        .map(s => s"$dir/${shardFileName(s)}"): _*)
  }

  /** The shard id of a container file's path. */
  private def shardOf(path: String): Long =
    path.substring(path.lastIndexOf('/') + 1)
      .stripPrefix("shard-").stripSuffix(".zip").toLong

  /** One container's entries in directory order as (name, pos, entry id,
    * payload) — the walk every container reader shares. */
  private def containerEntries(bytes: Array[Byte]): Iterator[(String, Long, Long, Array[Byte])] =
    ShardZip.entries(bytes).iterator.map { e =>
      val d1 = e.name.indexOf('.')
      val d2 = e.name.indexOf('.', d1 + 1)
      val in = ShardZip.entryStream(bytes, e)
      val data = try in.readAllBytes() finally in.close()
      (e.name, e.name.substring(0, d1).toLong, e.name.substring(d1 + 1, d2).toLong, data)
    }

  /** A packed entry's payload as its 4-byte little-endian token ids; an
    * unaligned payload fails loudly. */
  private def tokenIds(name: String, data: Array[Byte]): Array[Int] = {
    require(data.length % 4 == 0, s"packed entry $name: payload not 4-byte aligned")
    val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(data.length / 4)(bb.getInt())
  }

  // ------------------------------------------- packed token-sequence shards

  /** The literal training shape — tokenize → pack → shuffle → write:
    * fixed-budget sequences of BPE token IDs as binary container entries.
    *
    * [[BpeTrainer.bpeTokenIdSeqs]] materializes the per-document token
    * streams (trained ONCE; its distinct-word symbol table is
    * checkpointed, so re-evaluating the plan re-runs only corpus-side
    * work). Packs are `budget`-token windows over each source's
    * concatenated stream — the `packByBpe` concat-and-cut arithmetic, so
    * a document may straddle packs and a pack may span documents, exactly
    * like a real pretraining sequence. Packs get a GLOBAL dense id from
    * per-source bases (a #sources-row window — never a corpus-wide one),
    * are shuffled by the same Lehmer layout as the document store, and
    * land as 4-byte little-endian entries through the shared container
    * protocol (tmp+rename, manifest-last, non-ZIP64 bound). */
  def writePackedTokenShards(docs: DataFrame, dir: String, nShards: Int,
                             k: Int, budget: Int): Unit = {
    require(nShards >= 1 && budget >= 1,
      s"writePackedTokenShards: nShards=$nShards budget=$budget")
    val spark = docs.sparkSession
    import spark.implicits._
    // train ONCE, persist the tokenizer WITH the store: a packed store's
    // token ids must mean the same thing in every batch it will ever hold,
    // so the append path replays these stored merges instead of
    // retraining — the writeBpeMerges "train once, tokenize forever"
    // artifact, made a part of the store itself. Write order: reset →
    // tokenizer parts → containers → manifest LAST (the commit marker).
    val (merges, words) = BpeTrainer.train(docs, k)
    val wordSyms = BpeTrainer.wordSymsOf(words)
    val vocab = BpeTrainer.vocabOf(wordSyms)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(hconf)
    fs.delete(new Path(dir), true)
    fs.mkdirs(new Path(dir))
    BpeTrainer.mergesToDf(spark, merges)
      .write.mode("overwrite").parquet(s"$dir/tokenizer/merges")
    // vocab grows by append (new symbols of later increments get ids past
    // the stored max) — ingest_batch-partitioned like every per-batch part
    ArtifactCompaction.writeBatch(vocab, s"$dir/tokenizer/vocab", 0L,
      dynamic = false)
    // the prefix sum's bucket boundaries are sampled ONCE here and stored
    // with the params — every append/maintained batch reuses them instead
    // of re-running the quantile job over a mostly-stable id distribution
    // (answers are bucket-invariant by construction, so staleness costs
    // only balance; spec-pinned byte-identical under different bounds).
    // Sampled from the CHECKPOINTED counts table, not a fresh corpus scan:
    // the quantile job then reads per-doc narrow rows already pinned to
    // executor storage instead of re-evaluating the whole input chain —
    // one corpus pass fewer per build, and for a gated input (the
    // pipeline-e2e survivors join) one curation-chain evaluation fewer
    // (guide §1.2). Zero-token docs drop out of the sample; boundaries
    // are a balance knob only (bucket-invariance law), so the packs,
    // spans and manifest are unchanged for any sampled id set.
    val counts = BpeTrainer.docTokenCountsFrom(docs, wordSyms)
      .localCheckpoint(eager = true)
    val bounds = graft.operators.PrefixSum.sampleBoundaries(
      counts.select(col("doc_id")),
      graft.operators.PrefixSum.defaultBuckets(docs))
    Seq((k, budget, bounds.toSeq)).toDF("k", "budget", "bounds")
      .write.mode("overwrite").parquet(s"$dir/params")
    val plan = packPlanFromCounts(counts, budget, bounds, countsPinned = true)
    writePackedBatch(BpeTrainer.docTokenArrays(docs, wordSyms, vocab), plan,
      budget, dir, nShards, shardBase = 0L, packBase = 0L, ingestBatch = 0L)
  }

  /** One batch of the packed store: the spans, then containers of the
    * packs assembled from `docArrs` under `plan` — spans before containers
    * before manifest, so the manifest stays the commit marker and readers
    * gate the spans part on committed batches. `packBase` shifts an
    * increment's pack ids past every stored batch's (a uniform shift, so
    * adding it after payload assembly groups the identical pack
    * contents); the build and the rebuild pass 0 and get no shift
    * projection. Batch 0 resets its parts, later batches overwrite only
    * their own partition. */
  private def writePackedBatch(docArrs: DataFrame, plan: PackPlan, budget: Int,
                               dir: String, nShards: Int, shardBase: Long,
                               packBase: Long, ingestBatch: Long): Unit = {
    def shifted(df: DataFrame) =
      if (packBase == 0L) df else df.withColumn("pack_seq", col("pack_seq") + packBase)
    val dynamic = ingestBatch > 0L
    ArtifactCompaction.writeBatch(shifted(plan.spans), s"$dir/spans", ingestBatch, dynamic)
    def entries = withLayout(shifted(packPayloadsFromDocArrays(docArrs, plan, budget))
      .select(col("pack_seq").as("entry_id"), col("payload")),
      nShards, shardBase)
    writeContainerFiles(docArrs.sparkSession, () => entries, dir, nShards, shardBase,
      ingestBatch, dynamic, ext = "bin", reset = false)
  }

  /** Fold a corpus increment into the packed store as NEW containers of
    * NEW packs — token ids from the STORED tokenizer (merges replayed via
    * [[BpeTrainer.replayWordSyms]]; symbols the build never produced get
    * ids past the stored vocab max, in lexicographic order — a
    * deterministic, append-only vocab extension, the hashed-artifact
    * growth rule applied to a symbol table). Pack ids continue past every
    * earlier batch's (base = the manifest's entry total — every entry IS
    * one pack) and shard ids continue past max(shard), so shipped
    * containers stay byte-stable. Each increment packs its OWN stream:
    * the build's final partial pack is never topped up (its container is
    * shipped and immutable) — one ≤budget-token pack per source per batch
    * is the price of immutability, amortized to nothing at real batch
    * sizes. Exactly-once by the document store's convention: bases derive
    * from manifest rows STRICTLY BEFORE `ingestBatch`, and the vocab/
    * manifest partitions of a replayed batch are dynamically overwritten
    * with identical rows. */
  def appendPackedTokenShards(newDocs: DataFrame, dir: String,
                              nShards: Int): Unit =
    // `batch = max(ingest_batch) + 1` makes the strictly-before base filter
    // keep EVERY stored row, so the next-batch probe and the base
    // aggregation are the same manifest pass — appendMeta folds them (plus
    // the params head) into ONE driver action where this path previously
    // paid three (guide §1.2; r14 verdict item 2).
    appendPackedImpl(newDocs, dir, nShards,
      appendMeta(newDocs.sparkSession, dir, ingestBatch = None))

  def appendPackedTokenShards(newDocs: DataFrame, dir: String, nShards: Int,
                              ingestBatch: Long): Unit =
    appendPackedImpl(newDocs, dir, nShards,
      appendMeta(newDocs.sparkSession, dir, Some(ingestBatch)))

  /** Everything the append needs from the store's small metadata parts, in
    * ONE action: budget + stored prefix-sum bounds (params), the batch id
    * (next = stored max + 1 when not explicit), and the shard/pack bases
    * over manifest rows STRICTLY BEFORE the batch — a 1-row × 1-row cross
    * join evaluated by a single head(). */
  private final case class AppendMeta(ingestBatch: Long, shardBase: Long,
                                      packBase: Long, budget: Int,
                                      bounds: Option[Array[Long]])

  private def appendMeta(spark: SparkSession, dir: String,
                         ingestBatch: Option[Long]): AppendMeta = {
    val prm = spark.read.parquet(s"$dir/params")
    // stores written before the bounds column existed fall back to
    // re-sampling (answers are bucket-invariant, so the fallback is a
    // balance difference, never a compatibility break — review-caught:
    // a hard fieldIndex would make every pre-upgrade store unappendable)
    val hasBounds = prm.schema.fieldNames.contains("bounds")
    val row = prm
      .select(col("budget") +:
        (if (hasBounds) Seq(col("bounds")) else Nil): _*)
      .crossJoin(manifestBase(spark, dir, ingestBatch))
      .head()
    val (batch, shardBase, packBase) = basesOf(row, ingestBatch)
    AppendMeta(batch, shardBase, packBase,
      budget = row.getAs[Int]("budget"),
      bounds = if (hasBounds)
        Some(row.getSeq[Long](row.fieldIndex("bounds")).toArray) else None)
  }

  private def appendPackedImpl(newDocs: DataFrame, dir: String, nShards: Int,
                               meta: AppendMeta): Unit = {
    require(nShards >= 1, s"appendPackedTokenShards: nShards=$nShards")
    val ingestBatch = meta.ingestBatch
    require(ingestBatch >= 1, "appendPackedTokenShards: batch 0 is the build's")
    val spark = newDocs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val budget = meta.budget
    val merges = BpeTrainer.loadMerges(spark, s"$dir/tokenizer/merges")
    // empty-seed bootstrap (ArtifactCompaction.readOptional): a store
    // built from zero/wordless docs writes a ZERO-ROW vocab, which leaves
    // no partition dirs to infer a schema from, and its max(token_id) is
    // NULL — the first real increment must start the id space at 0, not
    // crash (review-caught)
    val storedVocab = ArtifactCompaction.readOptional(spark, s"$dir/tokenizer/vocab")
      .getOrElse(spark.range(0).select(col("id").cast("string").as("sym"),
        col("id").as("token_id"), col("id").as("ingest_batch")))
      .filter(col("ingest_batch").cast("long") < ingestBatch)
      .select(col("sym"), col("token_id"))
    // the stored vocab max rides the newSyms job as a broadcast one-row
    // aggregate instead of its own driver round-trip (guide §1.2; r14
    // verdict item 2) — coalesce(-1) keeps the empty-seed bootstrap: a
    // zero-row stored vocab starts the id space at 0
    val maxIdDf = storedVocab
      .agg(coalesce(max(col("token_id")), lit(-1L)).as("_max_id"))
    val wordSyms = BpeTrainer.wordSymSeqsAgainstMerges(newDocs, merges)
      .localCheckpoint(eager = true) // feeds the extension AND the join
    val newSyms = wordSyms.select(col("sym")).distinct()
      .join(storedVocab.select(col("sym")), Seq("sym"), "left_anti")
      .crossJoin(broadcast(maxIdDf))
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("sym"))).cast("long") + col("_max_id"))
      .select(col("sym"), col("token_id"))
    ArtifactCompaction.writeBatch(newSyms, s"$dir/tokenizer/vocab",
      ingestBatch, dynamic = true)
    val vocab = storedVocab.unionByName(newSyms)
    // stored bucket boundaries: the build's one quantile job, reused —
    // one fewer job per maintained batch, same answer (bucket-invariant)
    val bounds: Array[Long] = meta.bounds.getOrElse(
      graft.operators.PrefixSum.sampleBoundaries(
        newDocs.select(col("doc_id")),
        graft.operators.PrefixSum.defaultBuckets(newDocs)))
    val plan = packPlanFromCounts(
      BpeTrainer.docTokenCountsFrom(newDocs, wordSyms), budget, bounds)
    writePackedBatch(BpeTrainer.docTokenArrays(newDocs, wordSyms, vocab), plan,
      budget, dir, nShards, meta.shardBase, meta.packBase, ingestBatch)
  }

  /** (pack_seq, pack_pos, token_id) — the pack layout over the tokenized
    * corpus. Exposed for the spec's boundary laws. */
  private[graft] def packedTokenRows(docs: DataFrame, k: Int,
                                     budget: Int): DataFrame =
    packLayoutFromToks(BpeTrainer.bpeTokenIdSeqs(docs, k), budget,
      graft.operators.PrefixSum.sampleBoundaries(
        docs.select(col("doc_id")),
        graft.operators.PrefixSum.defaultBuckets(docs))).packRows

  /** Both frames the packed-container write consumes: the per-token pack
    * layout and the pack→document SPAN table. */
  private[graft] final case class PackLayout(packRows: DataFrame,
                                             spans: DataFrame)

  /** The pack layout over an already-tokenized stream — shared by the
    * build (freshly trained tokenizer) and the append (stored tokenizer),
    * so the arithmetic exists once. `boundaries` are the prefix sum's
    * pre-sampled bucket bounds (the build samples once and persists them
    * in the params part; appends reuse — answers are bucket-invariant, so
    * staleness costs only balance).
    *
    * Besides the per-token `packRows`, the layout emits `spans` —
    * `(pack_seq, doc_id, start_pos, n_tokens)`, which `[start, start+n)`
    * of which pack each document's tokens occupy. This is the metadata a
    * pretraining consumer needs on day one (attention-segment resets /
    * loss masking at document boundaries; provenance and takedowns on
    * already-packed data), and it falls out of the SAME cum_start /
    * pack_base arithmetic as the packs: a pure projection over the
    * counts table (per-document rows, never per-token), exploded only to
    * one row per (doc, pack) span. */
  private[graft] def packLayoutFromToks(toks: DataFrame, budget: Int,
                                        boundaries: Array[Long]): PackLayout =
    packLayoutFromToks(toks, budget, boundaries,
      toks.groupBy("doc_id", "source").agg(count(lit(1)).as("n_tokens")))

  /** [[packLayoutFromToks]] with the per-doc token counts PROVIDED — the
    * build/append paths pass [[BpeTrainer.docTokenCountsFrom]]'s word-level
    * aggregation (bit-identical counts by construction) so materializing
    * the counts here never pays the per-token explode + vocab join +
    * per-doc window chain; `toks` is then evaluated exactly once, inside
    * the container-write pass (guide §1.2: remove unnecessary passes). */
  private[graft] def packLayoutFromToks(toks: DataFrame, budget: Int,
                                        boundaries: Array[Long],
                                        countsIn: DataFrame): PackLayout = {
    val plan = packPlanFromCounts(countsIn, budget, boundaries)
    val packRows = toks.join(plan.cum, "doc_id")
      .join(broadcast(plan.bases), "source")
      .withColumn("gpos", col("cum_start") + col("tidx"))
      .select((col("pack_base") + expr(s"gpos div $budget")).as("pack_seq"),
        expr(s"gpos % $budget").as("pack_pos"), col("token_id"))
    PackLayout(packRows, plan.spans)
  }

  /** The counts-table side of the pack layout — everything the pack
    * arithmetic derives WITHOUT touching token-level rows: the
    * checkpointed per-doc counts, the prefix-sum `cum_start`s, the
    * per-source pack-id bases, and the span table. Shared by the
    * per-token [[packLayoutFromToks]] (the spec/oracle view) and the
    * array-based payload assembly the writers use. */
  private[graft] final case class PackPlan(counts: DataFrame, cum: DataFrame,
                                           bases: DataFrame, spans: DataFrame)

  private[graft] def packPlanFromCounts(countsIn: DataFrame, budget: Int,
                                        boundaries: Array[Long],
                                        countsPinned: Boolean = false): PackPlan = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint: the consumers below (prefix-sum subtotal pass,
    // prefix-sum final pass, pack bases, spans) would each re-run the
    // counts chain; the checkpoint pins one PER-DOCUMENT narrow row
    // (doc_id, source, n_tokens) per doc — counts-table-sized, never
    // corpus-sized. `countsPinned` callers already materialized it (to
    // sample the prefix-sum boundaries from the same rows) — don't pay a
    // second counts-sized pass re-pinning a pinned table.
    val counts = if (countsPinned) countsIn
      else countsIn.localCheckpoint(eager = true)
    // per-source running token starts via the two-phase distributed
    // prefix sum — the per-source running-sum window this replaced
    // funnels every doc of a source through ONE task (r11 verdict's last
    // scale-killer shape)
    val cum = graft.operators.PrefixSum
      .cumStartWithBounds(counts, "n_tokens", boundaries)
      .select(col("doc_id"), col("cum_start"))
    // per-source pack-id bases: ceil-div pack counts, cumulated over the
    // (tiny) source list — gives every pack a global dense id without a
    // corpus-wide single-partition window
    val bases = counts.groupBy("source").agg(sum(col("n_tokens")).as("total"))
      .withColumn("n_packs", expr(s"(total + $budget - 1) div $budget"))
      .select(col("source"),
        (sum(col("n_packs")).over(Window.orderBy(col("source")))
          - col("n_packs")).cast("long").as("pack_base"))
    // spans: per document, the packs [first..last] its token run touches;
    // within pack pk the run occupies [max(0, cum_start - pk*budget),
    // min(budget, cum_start + n - pk*budget)). Counts-table-sized work —
    // the explode emits one row per straddle, and a document of n tokens
    // straddles at most n/budget + 1 packs.
    // `source` rides along (stored in the spans part, projected away by
    // readPackedSpans): the hard-delete REBUILD re-packs surviving token
    // runs per source, and the spans row is the only store-resident record
    // of which source a document's tokens were concatenated under
    val spans = counts.join(cum, "doc_id").join(broadcast(bases), "source")
      .withColumn("pk0", expr(s"cum_start div $budget"))
      .withColumn("pk1", expr(s"(cum_start + n_tokens - 1) div $budget"))
      .select(col("doc_id"), col("source"), col("cum_start"),
        col("n_tokens"), col("pack_base"), col("pk0"),
        explode(sequence(col("pk0"), col("pk1"))).as("pk"))
      .select((col("pack_base") + col("pk")).as("pack_seq"), col("doc_id"),
        when(col("pk") === col("pk0"), col("cum_start") % budget)
          .otherwise(lit(0L)).cast("long").as("start_pos"),
        (least((col("pk") + 1) * budget, col("cum_start") + col("n_tokens"))
          - greatest(col("pk") * budget, col("cum_start")))
          .cast("long").as("n_tokens"),
        col("source"))
    PackPlan(counts, cum, bases, spans)
  }

  /** (pack_seq, payload) assembled from per-document token ARRAYS
    * ([[BpeTrainer.docTokenArrays]] / the rebuild's span slices) — the
    * guide §8 "move the payload once" twin of
    * `packPayloads(packLayoutFromToks(toks…).packRows)`, spec-pinned
    * byte-identical. Each document explodes into one row per pack it
    * straddles (≤ n/budget + 1, the span arithmetic verbatim) carrying a
    * SLICE of its token array; the pack aggregation then sorts segments
    * by their in-pack start and concatenates — so the only exchanges
    * token data ever crosses are the per-doc assembly and this per-pack
    * one, both as compact long arrays, and the per-token row_number
    * window plus the per-token pack groupBy of the row form never run. */
  private[graft] def packPayloadsFromDocArrays(docArrs: DataFrame, plan: PackPlan,
                                        budget: Int): DataFrame = {
    val spark = docArrs.sparkSession
    import spark.implicits._
    val segs = docArrs.join(plan.cum, "doc_id")
      .join(broadcast(plan.bases), "source")
      .withColumn("n", size(col("tok")).cast("long"))
      .withColumn("pk0", expr(s"cum_start div $budget"))
      .withColumn("pk1", expr(s"(cum_start + n - 1) div $budget"))
      .select(col("pack_base"), col("cum_start"), col("n"), col("tok"),
        explode(sequence(col("pk0"), col("pk1"))).as("pk"))
      .select((col("pack_base") + col("pk")).as("pack_seq"),
        greatest(col("cum_start") - col("pk") * budget, lit(0L)).as("seg_start"),
        expr(s"""slice(tok,
          cast(greatest(pk * $budget - cum_start, 0L) as int) + 1,
          cast(least((pk + 1) * $budget, cum_start + n)
            - greatest(pk * $budget, cum_start) as int))""").as("seg"))
    segs.groupBy("pack_seq")
      .agg(sort_array(collect_list(struct(col("seg_start"), col("seg")))).as("ss"))
      .select(col("pack_seq"), flatten(expr("transform(ss, x -> x.seg)")).as("tok"))
      .as[(Long, Seq[Long])]
      .map { case (p, tok) =>
        val bb = java.nio.ByteBuffer.allocate(4 * tok.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        tok.foreach { t =>
          // fail loudly, never truncate — packPayloads' posture verbatim
          require(t >= 0L && t <= Int.MaxValue,
            s"packed token id $t out of 4-byte range in pack $p")
          bb.putInt(t.toInt)
        }
        (p, bb.array())
      }.toDF("pack_seq", "payload")
  }

  /** Encode each pack's ordered token ids as a 4-byte little-endian
    * payload — the byte-level codec step (typed map, the Multimodal
    * boundary); a pack is ≤ budget ids, so the row is bounded. Kept as
    * the REFERENCE form of the payload encode: the writers run
    * [[packPayloadsFromDocArrays]] (no per-token rows), and the spec pins
    * the two byte-identical on the fixture. */
  private[graft] def packPayloads(packRows: DataFrame): DataFrame = {
    val spark = packRows.sparkSession
    import spark.implicits._
    packRows.groupBy("pack_seq")
      .agg(sort_array(collect_list(struct(col("pack_pos"), col("token_id"))))
        .as("ts"))
      .select(col("pack_seq"), expr("transform(ts, x -> x.token_id)").as("tok"))
      .as[(Long, Seq[Long])]
      .map { case (p, tok) =>
        val bb = java.nio.ByteBuffer.allocate(4 * tok.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        tok.foreach { t =>
          // fail loudly, never truncate: unreachable under the current
          // vocab rule (ids ≤ alphabet + k symbols) but a silent-corruption
          // path if the id scheme ever goes hashed (review-caught)
          require(t >= 0L && t <= Int.MaxValue,
            s"packed token id $t out of 4-byte range in pack $p")
          bb.putInt(t.toInt)
        }
        (p, bb.array())
      }.toDF("pack_seq", "payload")
  }

  /** Decode the packed-token store back to one row per pack:
    * (shard, pos, pack_seq, n_tokens, token_csv) — the ids rendered as a
    * comma-joined string so the DuckDB oracle can compare the exact
    * sequence (its `string_agg` twin), not just a count. */
  def readPackedTokenShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    committedContainers(spark, dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val shard = shardOf(path)
        containerEntries(bytes).map { case (name, pos, id, data) =>
          val tok = tokenIds(name, data)
          (shard, pos, id, tok.length.toLong, tok.mkString(","))
        }
      }.toDF("shard", "pos", "pack_seq", "n_tokens", "token_csv")
  }

  /** The stored pack→document SPAN table, committed batches only:
    * (pack_seq, doc_id, start_pos, n_tokens) — which `[start_pos,
    * start_pos + n_tokens)` of which pack each document occupies. The
    * loss-masking / attention-reset / provenance metadata of the packed
    * store; gated on the manifest (the commit marker) exactly like the
    * container reader, so a crash between the spans write and the
    * manifest commit leaves the uncommitted batch's spans invisible. */
  def readPackedSpans(spark: SparkSession, dir: String): DataFrame =
    spansFrom(spark, dir, manifestBatches(spark, dir).map(_._1))
      .select(col("pack_seq"), col("doc_id"), col("start_pos"),
        col("n_tokens"))

  /** Integer-micros ratio `num · 10⁶ div den` that FAILS LOUDLY instead
    * of wrapping when `num` exceeds Long.MaxValue/10⁶ (~9.2e12 — inside
    * the corpus scale this store targets): a silent negative ppm is the
    * one place the engine would diverge from its DuckDB twin, which
    * raises on BIGINT overflow (review-caught; the fail-loudly posture
    * of the token-id range require). Stays codegen (a CASE around the
    * same integral arithmetic). */
  private def ppmExpr(num: String, den: String) = expr(
    s"""CASE WHEN $num > ${Long.MaxValue / 1000000L}L
       |THEN CAST(raise_error('ppm arithmetic overflow: $num beyond
       | Long.MaxValue/1e6 — widen the stats arithmetic') AS BIGINT)
       |ELSE $num * 1000000 div ($den) END""".stripMargin.replace("\n", " "))

  /** Committed spans, `source` included (the public reader projects it
    * away; the per-source stats keep it) — ONE copy of the
    * commit-marker gating (review-caught duplicate). */
  private def spansFrom(spark: SparkSession, dir: String,
                        committed: Array[Long]): DataFrame =
    spark.read.parquet(s"$dir/spans")
      .filter(col("ingest_batch").cast("long")
        .isin(committed.map(java.lang.Long.valueOf).toSeq: _*))
      .select(col("pack_seq"), col("doc_id"), col("start_pos"),
        col("n_tokens"), col("source"))

  /** ONE manifest read shared by every metadata derivation: per committed
    * batch, (batch, Σn_docs, min shard, #shards) in batch order —
    * batch-count-bounded driver state. */
  private def manifestBatches(spark: SparkSession,
                              dir: String): Array[(Long, Long, Long, Long)] =
    spark.read.parquet(s"$dir/manifest")
      .groupBy(col("ingest_batch").cast("long").as("b"))
      .agg(sum(col("n_docs")).as("n"), min(col("shard")).as("shard_base"),
        count(lit(1)).as("n_shards"))
      .orderBy(col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  /** (pack_seq, shard, pos) of every committed pack, derived from the
    * MANIFEST ALONE — zero container bytes read. Possible because pack
    * ids are dense per batch ([packBase, packBase + Σn_docs)) and the
    * shard/pos layout is a pure function of the pack id (the Lehmer
    * projection [[withLayout]] bakes into the files): per batch, replay
    * the same key/shard/counter arithmetic over a `range()` frame.
    * Spec-pinned equal to the decoded containers' (shard, pos, pack_seq).
    * Driver state is one row per batch; the heavy frame is a range scan
    * partitioned by shard. */
  def packLocations(spark: SparkSession, dir: String): DataFrame =
    locationsFrom(spark, manifestBatches(spark, dir))

  /** The store's layout invariant, ONCE, over any frame carrying
    * `pack_seq`: join the (broadcast, #batches-row) per-batch ranges,
    * derive skey/shard as pure Lehmer projections, and replay the
    * writer's per-shard pack counter as `pos` — a dense_rank over the
    * ONE shard-partitioned window (a shard never spans batches).
    * dense_rank, not row_number, so the SAME implementation serves both
    * the dense pack range (unique keys — dense_rank ≡ row_number) and
    * span rows (multiple rows per pack tie on the key) — review-caught:
    * locationsFrom and epochFeed had grown two hand-kept copies of this
    * arithmetic. */
  private def withLayoutPositions(frame: DataFrame,
                                  mRows: Array[(Long, Long, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = frame.sparkSession
    var base = 0L
    val batches = mRows.map { case (_, n, shardBase, nShards) =>
      val row = (base, n, shardBase, nShards)
      base += n
      row
    }
    import spark.implicits._
    val bdf = batches.toSeq.toDF("pack_base", "n", "shard_base", "n_shards")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("skey").asc, col("pack_seq").asc)
    frame
      .join(broadcast(bdf), col("pack_seq") >= col("pack_base") &&
        col("pack_seq") < col("pack_base") + col("n"))
      .withColumn("skey", expr(TextAnalysis.lehmerKeySql("pack_seq")))
      .withColumn("shard",
        pmod(col("skey"), col("n_shards")) + col("shard_base"))
      .withColumn("pos", dense_rank().over(w).cast("long"))
  }

  private def locationsFrom(spark: SparkSession,
                            mRows: Array[(Long, Long, Long, Long)]): DataFrame =
    withLayoutPositions(
      spark.range(mRows.map(_._2).sum).select(col("id").as("pack_seq")), mRows)
      .select(col("pack_seq"), col("shard"), col("pos"))

  /** Per-epoch read-order manifest: every stored pack exactly once, in an
    * EPOCH-SEEDED Lehmer permutation — training reads the store in a
    * different order each epoch WITHOUT a byte of container rewrite.
    * Output (epoch, ord_key, shard, pos, pack_seq): the consumer reads
    * packs in ascending `ord_key` (writing the manifest sorted by it IS
    * the order — a distributed sort, never a global row_number). The key
    * is the same two-step Lehmer permutation as the storage layout,
    * seeded by shifting the pack id `epoch · 999983` through the prime
    * field — injective per epoch for any pack count below 2³¹−1, so the
    * order is a true permutation (spec-pinned bijective + epoch-distinct
    * + deterministic). */
  def epochReadOrder(spark: SparkSession, dir: String,
                     epoch: Long): DataFrame =
    packLocations(spark, dir)
      .withColumn("epoch", lit(epoch))
      .withColumn("ord_key",
        expr(TextAnalysis.lehmerKeySql(s"(pack_seq + $epoch * 999983)")))
      .select(col("epoch"), col("ord_key"), col("shard"), col("pos"),
        col("pack_seq"))

  /** TAKEDOWN EXECUTION over immutable shipped containers: a tombstone
    * part. Containers are never rewritten by design (a training job may
    * have already consumed them), so removal is a record, not a rewrite —
    * the tombstoned documents' spans stop appearing in [[activeSpans]],
    * which is the loss-mask feed a training job reads; the tokens remain
    * in the files but carry zero loss weight, the standard posture for
    * post-hoc takedowns on shipped pretraining data. Re-shipping clean
    * containers is a REBUILD, a corpus-sized decision this record makes
    * auditable and deferrable — and [[rebuildPackedStore]] executes it
    * when a takedown legally requires the bytes gone, preserving this
    * record as the audit part. The part is `ingest_batch`-partitioned
    * like every appendable part — idempotent under replay (dynamic
    * overwrite of its own batch), grown per takedown batch, compactable
    * via [[ArtifactCompaction]]. */
  def addTombstones(spark: SparkSession, dir: String, docIds: DataFrame,
                    ingestBatch: Long): Unit =
    ArtifactCompaction.writeBatch(docIds.select(col("doc_id")).distinct(),
      s"$dir/tombstones", ingestBatch, dynamic = true)

  /** Every tombstoned doc id, across all takedown batches (empty frame if
    * no takedown ever happened). */
  def readTombstones(spark: SparkSession, dir: String): DataFrame =
    ArtifactCompaction.readOptional(spark, s"$dir/tombstones")
      .getOrElse(spark.range(0).select(col("id").as("doc_id")))
      .select(col("doc_id")).distinct()

  /** The span table minus tombstoned documents — what a loss-masking
    * training job actually reads: pack positions NOT covered by an
    * active span carry zero loss weight (padding tail and tombstoned
    * spans alike). One anti-join against the (tiny) tombstone set. */
  def activeSpans(spark: SparkSession, dir: String): DataFrame =
    readPackedSpans(spark, dir)
      // broadcast: the tombstone set is takedown-request-sized by nature;
      // the spans side is corpus-sized and must not shuffle for it
      .join(broadcast(readTombstones(spark, dir)), Seq("doc_id"), "left_anti")
      // USING-join moves the key first; keep the span table's schema
      .select(col("pack_seq"), col("doc_id"), col("start_pos"),
        col("n_tokens"))

  /** PER-EPOCH TRAINING FEED — the artifact a loss-masking training
    * loader actually reads: the epoch's read order joined with the ACTIVE
    * (non-tombstoned) spans, one row per (pack, doc span) of epoch
    * `epoch`, consumed in ascending `ord_key`. Output (epoch, ord_key,
    * shard, pos, pack_seq, doc_id, start_pos, n_tokens): the loader walks
    * packs in ord_key order, reads entry `pos` of container `shard`, and
    * masks loss to the listed `[start_pos, start_pos + n_tokens)` spans —
    * tombstoned documents' spans never appear, padding tails never
    * appear, every active span appears exactly once per epoch
    * (spec-pinned, plus equality with `readEpochManifest(epoch) ⋈
    * activeSpans`).
    *
    * Plan shape (audited): ord_key and shard are PURE functions of
    * pack_seq (the same Lehmer arithmetic the files were laid out under),
    * so the corpus-sized span frame never shuffles for a manifest join —
    * the batch table it needs is #batches rows, broadcast. The one
    * exchange is the shard-partitioned window that replays the writer's
    * per-shard pack counter — computed over the FULL committed span set
    * BEFORE the tombstone anti-join (dense_rank over span rows: every
    * pack carries ≥ 1 span, rows of one pack tie), because `pos` is a
    * property of the shipped file layout and must not shift when a
    * pack's only documents are tombstoned. */
  def epochFeed(spark: SparkSession, dir: String, epoch: Long): DataFrame =
    epochFeedAll(spark, dir, Seq(epoch))

  /** The ONE feed definition (active spans × layout positions × epoch
    * list × epoch-seeded ord_key) both the derived reader and the stored
    * writer consume — review-caught: the two had grown parallel copies
    * of the anti-join/ord_key/column list. The epoch list is a 1-row (or
    * #epochs-row) broadcast cross join, never a corpus-side expansion. */
  private def epochFeedAll(spark: SparkSession, dir: String,
                           epochs: Seq[Long]): DataFrame = {
    import spark.implicits._
    val mb = manifestBatches(spark, dir)
    withLayoutPositions(spansFrom(spark, dir, mb.map(_._1)), mb)
      .join(broadcast(readTombstones(spark, dir)), Seq("doc_id"), "left_anti")
      .crossJoin(broadcast(epochs.distinct.toDF("epoch")))
      .withColumn("ord_key",
        expr(TextAnalysis.lehmerKeySql("(pack_seq + epoch * 999983)")))
      .select(col("epoch"), col("ord_key"), col("shard"), col("pos"),
        col("pack_seq"), col("doc_id"), col("start_pos"), col("n_tokens"))
  }

  /** TOMBSTONE-DEBT measurement: the fraction of the store's token mass
    * carried by tombstoned documents' spans — the dead bytes every
    * training epoch still reads (shipped, masked to zero loss) and every
    * replica still stores. Metadata-sized: one aggregate over the span
    * table against the broadcast tombstone set, zero container bytes. */
  def packedStoreDeadFraction(spark: SparkSession, dir: String): Double = {
    val m = readPackedSpans(spark, dir)
      .join(broadcast(readTombstones(spark, dir)
        .withColumn("dead", lit(1))), Seq("doc_id"), "left")
      .agg(coalesce(sum(col("n_tokens")), lit(0L)),
        coalesce(sum(when(col("dead") === 1, col("n_tokens"))), lit(0L)))
      .head()
    if (m.getLong(0) == 0L) 0.0 else m.getLong(1).toDouble / m.getLong(0)
  }

  /** PACK-EFFICIENCY stats per source — the ops metric that prices
    * training throughput: every pack ships `budget` token slots, and the
    * final partial pack of each source's stream pads the tail, so
    * `fill_ppm = tokens · 10⁶ div (n_packs · budget)` is the fraction of
    * shipped slots carrying real tokens (integer micros — the repo's
    * no-FP-across-the-oracle discipline). Metadata-sized: one aggregate
    * over the span table, zero container bytes. */
  def packStats(spark: SparkSession, dir: String): DataFrame = {
    val budget = spark.read.parquet(s"$dir/params")
      .select(col("budget")).head().getInt(0).toLong
    spansWithSource(spark, dir)
      .groupBy(col("source"))
      .agg(countDistinct(col("pack_seq")).as("n_packs"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("source"), col("n_packs"), col("n_tokens"),
        (col("n_packs") * budget - col("n_tokens")).as("padding_tokens"),
        ppmExpr("n_tokens", s"n_packs * $budget").as("fill_ppm"))
  }

  /** TOMBSTONE-DEBT per source — [[packedStoreDeadFraction]]'s
    * arithmetic as an oracle-checkable relation: per source, the total
    * token mass, the mass carried by tombstoned documents, and
    * `dead_ppm` in integer micros. The global gate is the weighted
    * aggregate of these rows. */
  def packDebtStats(spark: SparkSession, dir: String): DataFrame =
    spansWithSource(spark, dir)
      .join(broadcast(readTombstones(spark, dir)
        .withColumn("dead", lit(1))), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("n_tokens"),
        coalesce(sum(when(col("dead") === 1, col("n_tokens"))), lit(0L))
          .as("dead_tokens"))
      .select(col("source"), col("n_tokens"), col("dead_tokens"),
        ppmExpr("dead_tokens", "n_tokens").as("dead_ppm"))

  private def spansWithSource(spark: SparkSession, dir: String): DataFrame =
    spansFrom(spark, dir, manifestBatches(spark, dir).map(_._1))

  /** Rebuild threshold, documented ([[packedStoreNeedsRebuild]]): the
    * rebuild costs about one build (every surviving byte rewritten —
    * SCALE.md r14), while dead tokens cost read I/O on EVERY future
    * epoch plus their share of storage; at a typical O(10)-epoch
    * remaining schedule, 5% dead mass wastes ~half a build's worth of
    * container reads, the crossover where executing the deferred rebuild
    * beats carrying the debt. Compliance deadlines override the
    * economics — this gate is the cost-based floor, not the legal one. */
  val PackedRebuildDeadFrac = 0.05

  /** The measured rebuild gate for the packed store — the third stored
    * artifact to gain one (ANN: measured recall; dedup artifact: measured
    * label churn; here: measured tombstone debt). */
  def packedStoreNeedsRebuild(spark: SparkSession, dir: String,
                              maxDeadFrac: Double = PackedRebuildDeadFrac): Boolean =
    packedStoreDeadFraction(spark, dir) > maxDeadFrac

  /** Persist per-epoch FEEDS as files next to the store —
    * `$dir/epoch_feeds/epoch=E/`, the [[writeEpochManifests]] convention
    * applied to [[epochFeed]]'s output: rows range-sorted on `ord_key`,
    * so the part-file NAME order is the global read order and a training
    * loader mounts the partition dir and consumes part files
    * sequentially — read order AND loss-mask spans in one artifact, no
    * join at load time. Dynamic per-epoch overwrite (regeneration
    * idempotent; other epochs untouched). ONE job for all epochs. The
    * feed snapshots the tombstone state at write time — after a takedown
    * lands, regenerate the affected epochs (or rebuild; the gate above
    * prices that). */
  def writeEpochFeeds(spark: SparkSession, dir: String,
                      epochs: Seq[Long]): Unit =
    epochFeedAll(spark, dir, epochs)
      .sort(col("epoch"), col("ord_key"), col("pack_seq"), col("start_pos"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(s"$dir/epoch_feeds")

  /** One stored epoch feed, read back. A NEVER-WRITTEN epoch fails
    * loudly instead of returning an empty frame — a training loader
    * consuming a silently-empty feed is a zero-data epoch (review-caught;
    * same guard on the manifest reader). */
  def readEpochFeed(spark: SparkSession, dir: String,
                    epoch: Long): DataFrame = {
    requireEpochDir(spark, dir, "epoch_feeds", epoch)
    spark.read.parquet(s"$dir/epoch_feeds")
      .filter(col("epoch").cast("long") === epoch)
      .select(col("ord_key"), col("shard"), col("pos"), col("pack_seq"),
        col("doc_id"), col("start_pos"), col("n_tokens"))
  }

  private def requireEpochDir(spark: SparkSession, dir: String,
                              part: String, epoch: Long): Unit = {
    val p = new Path(s"$dir/$part/epoch=$epoch")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$dir/$part: epoch $epoch was never written — run " +
        s"write${if (part == "epochs") "EpochManifests" else "EpochFeeds"} " +
        "for it first (refusing to serve an empty feed as a zero-data epoch)")
  }

  /** Persist epoch read-order manifests as FILES next to the store —
    * `$dir/epochs/epoch=E/`, one epoch per partition, rows RANGE-SORTED
    * on `ord_key`: Spark's sort is a range repartition + per-partition
    * sort, so the part files' lexicographic name order IS the global
    * read order and a training job consumes `part-00000, part-00001, …`
    * sequentially without any client-side sort. Dynamic partition
    * overwrite per epoch (regenerating an epoch is idempotent; other
    * epochs untouched). Derived from the manifest alone — writing a new
    * epoch's manifest touches zero container bytes. */
  def writeEpochManifests(spark: SparkSession, dir: String,
                          epochs: Seq[Long]): Unit = {
    import spark.implicits._
    // ONE job for all requested epochs: the layout is derived once and
    // cross-joined with the (tiny, broadcast) epoch list; sorting by
    // (epoch, ord_key) range-partitions with epoch leading, so within
    // each epoch's partition dir the part-file name order is still the
    // ord_key order (review-caught: the per-epoch loop re-derived the
    // layout and ran a full sorted write per epoch)
    val eDf = epochs.distinct.toDF("epoch")
    locationsFrom(spark, manifestBatches(spark, dir))
      .crossJoin(broadcast(eDf))
      .withColumn("ord_key",
        expr(TextAnalysis.lehmerKeySql("(pack_seq + epoch * 999983)")))
      .select(col("epoch"), col("ord_key"), col("shard"), col("pos"),
        col("pack_seq"))
      .sort(col("epoch"), col("ord_key"), col("pack_seq"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch").parquet(s"$dir/epochs")
  }

  /** One stored epoch manifest, read back ([[readEpochFeed]]'s
    * missing-epoch guard applies here too). */
  def readEpochManifest(spark: SparkSession, dir: String,
                        epoch: Long): DataFrame = {
    requireEpochDir(spark, dir, "epochs", epoch)
    spark.read.parquet(s"$dir/epochs")
      .filter(col("epoch").cast("long") === epoch)
      .select(col("ord_key"), col("shard"), col("pos"), col("pack_seq"))
  }

  /** Compact the packed store's per-batch METADATA parts — spans and the
    * tokenizer vocab — merging `ingest_batch <= upTo` partitions into one
    * ([[ArtifactCompaction]]'s offline/committed contract; readers filter
    * ingest_batch only against future batch ids, so merged rows stay
    * visible). The MANIFEST is deliberately NOT compactable: it is one
    * coalesced file per batch (no small-files pressure), and
    * [[packLocations]]/[[epochReadOrder]] derive each batch's pack-id
    * range and shard range from its OWN manifest rows — merging batches
    * would destroy exactly the per-batch granularity the zero-decode
    * layout replay depends on. Container files are immutable shipped
    * artifacts and are never rewritten by design. */
  def compactPackedMetadata(spark: SparkSession, dir: String): Unit = {
    val ids = manifestBatches(spark, dir).map(_._1)
    require(ids.length >= 2,
      "compactPackedMetadata: nothing safely compactable — need at least " +
        "two committed batches (the newest is excluded: present ≠ committed " +
        "for the stream checkpoint, and its replay must stay idempotent)")
    compactPackedMetadata(spark, dir, ids.init.max)
  }

  def compactPackedMetadata(spark: SparkSession, dir: String,
                            upTo: Long): Unit = {
    // SNAP the merge target to a COMMITTED manifest batch id ≤ upTo:
    // spans are read through an isin(manifest batches) gate, so merging
    // into a non-committed id would make the whole compacted span history
    // invisible, and a vocab partition at an id ≥ the next append's batch
    // would fail its `ingest_batch < ingestBatch` filter and restart the
    // token-id space over shipped containers (review-caught). Batch ids
    // below the max committed are committed themselves (the maintainer
    // replays a batch id until it commits before moving on).
    val committed = manifestBatches(spark, dir).map(_._1).filter(_ <= upTo)
    require(committed.nonEmpty,
      s"compactPackedMetadata: no committed batch <= $upTo")
    val target = committed.max
    ArtifactCompaction.compactPart(spark, s"$dir/spans", target)
    ArtifactCompaction.compactPart(spark, s"$dir/tokenizer/vocab", target)
    ()
  }

  /** Tombstone-part compaction — SEPARATE from the store metadata because
    * takedown batch ids live in their own sequence (a takedown is not a
    * corpus ingest): the committed watermark must come from the tombstone
    * part itself, or the newest (possibly torn) takedown batch would be
    * merged and its replay would dynamic-overwrite the merged partition —
    * silently resurrecting earlier takedowns (review-caught). The no-arg
    * form excludes the newest on-disk takedown batch; pass `upTo`
    * explicitly when the newest is known durably applied. */
  def compactTombstones(spark: SparkSession, dir: String): Unit =
    compactTombstones(spark, dir,
      ArtifactCompaction.defaultWatermark(spark, s"$dir/tombstones"))

  def compactTombstones(spark: SparkSession, dir: String, upTo: Long): Unit = {
    ArtifactCompaction.compactPart(spark, s"$dir/tombstones", upTo)
    ()
  }

  /** Takedown / provenance consumer: every (pack, shard, pos, span) that
    * carries any of `docIds` — "which shipped files contain document X",
    * answered from the spans part + the manifest-derived layout, with no
    * container decode. The post-hoc decontamination query the packed
    * store could not answer before spans existed. */
  def packsContaining(spark: SparkSession, dir: String,
                      docIds: DataFrame): DataFrame = {
    // ONE manifest read feeds both the committed-batch gate and the
    // layout derivation (review-caught double collect)
    val mb = manifestBatches(spark, dir)
    spansFrom(spark, dir, mb.map(_._1))
      // broadcast: a takedown/provenance target set is small by nature;
      // the span table is corpus-sized and must not shuffle for it
      .join(broadcast(docIds.select(col("doc_id")).distinct()), "doc_id")
      .join(locationsFrom(spark, mb), "pack_seq")
      .select(col("doc_id"), col("pack_seq"), col("shard"), col("pos"),
        col("start_pos"), col("n_tokens"))
  }

  // ------------------------------------------------- hard-delete rebuild

  /** Decoded packs as (pack_seq, tok) int arrays — the rebuild's byte
    * source (committed containers only, the manifest gate). */
  private def packedTokenArrays(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    committedContainers(spark, dir)
      .select(col("content")).as[Array[Byte]]
      .flatMap(bytes => containerEntries(bytes).map { case (name, _, id, data) =>
        (id, tokenIds(name, data))
      }).toDF("pack_seq", "tok")
  }

  /** HARD-DELETE REBUILD of the packed store — the corpus-sized decision
    * the tombstone record makes auditable and deferrable, now executable:
    * rewrite every container from the SURVIVING (non-tombstoned)
    * documents' token runs, producing a store whose bytes no longer
    * contain the removed documents. [[addTombstones]]+[[activeSpans]]
    * stay the day-to-day takedown path (zero-weighted, zero rewrite);
    * this is the escalation for takedowns that legally require the bytes
    * gone.
    *
    * What it does NOT need: the original text corpus, or a tokenizer
    * retrain. Each surviving document's token stream is reconstructed by
    * slicing its span ranges out of the decoded old packs (spans carry
    * `source`, so the re-pack concatenates per source in the same
    * doc_id order as a fresh build), and the STORED tokenizer — merges,
    * vocab ids, prefix-sum bounds — is carried over verbatim. Carrying
    * ids is deliberate: a training run consuming pre- and post-rebuild
    * stores needs token ids that mean the same thing, and the store's
    * append path keeps working against the carried vocab. (A fresh
    * `writePackedTokenShards` over the survivors would RETRAIN on the
    * survivor distribution and renumber the vocab by survivor-only lex
    * rank — semantically a different tokenizer, exactly what a rebuild
    * must not do. The spec's equivalence law is therefore: rebuilt
    * containers ≡ a fresh pack of the survivors' text under the STORED
    * tokenizer, and a zero-tombstone rebuild is container-byte-identical
    * to the original build.)
    *
    * Output: fresh dense pack ids from 0 (per-source bases, the build's
    * arithmetic), fresh spans/manifest/params as batch 0, the vocab
    * re-written as one batch-0 partition with ids PRESERVED (a rebuilt
    * store's first append derives `ingest_batch < 1`, which must see the
    * whole carried vocab), stored epoch manifests regenerated over the
    * new layout (same epoch ids), and the old store's manifest + spans +
    * tombstones moved under `audit/rebuild-N/` — the takedown audit
    * trail survives the deletion it executed.
    *
    * Offline + crash-recoverable, the [[ArtifactCompaction]] posture: no
    * concurrent writer/reader, committed batches only (a torn newest
    * batch's data is dropped, like every manifest-gated read). Protocol:
    * the ENTIRE new store is built under `_rebuild/` first, then a plan
    * marker (`_rebuild-plan`: audit id, shard count, epoch ids) commits
    * the swap — tmp without plan = incomplete build, discarded; plan
    * present = roll the swap FORWARD (every step is idempotent:
    * audit moves skip when the audit copy exists, container moves
    * rename-over by name from the plan's shard range, metadata moves are
    * guarded by their tmp copy's presence). [[recoverPackedRebuild]] (also
    * run at the top of every rebuild) restarts from any crash point.
    *
    * 100 TB shape: one container-decode pass + one doc-partitioned window
    * over span rows + the build's own pack/write exchanges — the same
    * order of work as the initial build, which is the honest floor for a
    * rebuild that must touch every surviving byte. */
  def rebuildPackedStore(spark: SparkSession, dir: String,
                         nShards: Int): Unit = {
    require(nShards >= 1, s"rebuildPackedStore: nShards=$nShards")
    recoverPackedRebuild(spark, dir)
    val (auditId, epochs, feedEpochs) = prepareRebuild(spark, dir, nShards)
    swapRebuild(spark, dir, auditId, nShards, epochs, feedEpochs)
  }

  /** The tmp-build phase: the ENTIRE new store under `_rebuild/`, then
    * the plan marker. No visible mutation of the store — a crash anywhere
    * in here is rolled BACK (tmp without plan is discarded). Split from
    * the swap so the crash spec can kill between the two. */
  private[graft] def prepareRebuild(spark: SparkSession, dir: String,
                                    nShards: Int): (Long, Seq[Long], Seq[Long]) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new Path(dir)
    val fs = base.getFileSystem(hconf)
    val tmp = new Path(base, "_rebuild")
    // ---- read everything from the OLD store (no mutation yet)
    val committed = manifestBatches(spark, dir).map(_._1)
    val committedVals = committed.map(java.lang.Long.valueOf).toSeq
    val prm = spark.read.parquet(s"$dir/params").head()
    val k = prm.getAs[Int]("k")
    val budget = prm.getAs[Int]("budget")
    // mergeSchema + loud guards: the `source` column joined on below came
    // to the spans part in r14 — a store whose spans predate it (or a
    // mixed store: pre-upgrade build + post-upgrade appends, where old
    // rows surface as NULL under the merged schema) must FAIL the
    // rebuild, never silently drop every pre-upgrade document through
    // the inner source join (review-caught)
    val spansRaw = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/spans")
    require(spansRaw.schema.fieldNames.contains("source"),
      s"$dir: spans carry no `source` column — the store predates the " +
        "span-source convention; a rebuild cannot re-pack per source. " +
        "Rebuild the store from text (writePackedTokenShards) instead.")
    val surviving = spansRaw
      .filter(col("ingest_batch").cast("long").isin(committedVals: _*))
      .select(col("pack_seq"), col("doc_id"), col("start_pos"),
        col("n_tokens"), col("source"))
      .join(broadcast(readTombstones(spark, dir)), Seq("doc_id"), "left_anti")
    val bounds: Array[Long] =
      if (prm.schema.fieldNames.contains("bounds"))
        prm.getSeq[Long](prm.fieldIndex("bounds")).toArray
      else graft.operators.PrefixSum.sampleBoundaries(
        surviving.select(col("doc_id")).distinct(),
        graft.operators.PrefixSum.defaultBuckets(
          surviving.select(col("doc_id")).distinct()))
    // the NULL-source guard rides the counts checkpoint as an Observation
    // instead of its own count() — previously a full extra pass over the
    // spans + tombstone-anti-join chain purely to validate (guide §1.2);
    // packPlanFromCounts materializes eagerly, so the metric is normally
    // available (and the require fires) before anything is written under
    // _rebuild/. The wait is bounded: should the metric not arrive (the
    // observed plan ran outside a Dataset action), the guard counts NULL
    // sources on the already-checkpointed counts instead of hanging.
    val nullSrcObs = org.apache.spark.sql.Observation("rebuild-null-source")
    val plan = packPlanFromCounts(
      surviving
        .observe(nullSrcObs,
          sum(when(col("source").isNull, 1L).otherwise(0L)).as("null_src"))
        .groupBy("doc_id", "source")
        .agg(sum(col("n_tokens")).as("n_tokens")), budget, bounds)
    val nullSource = Try(Await.result(nullSrcObs.future, 30.seconds)).toOption match {
      // a NULL sum is a sum over zero rows — an empty survivor set is legal
      case Some(row) => if (row.isNullAt(0)) 0L else row.getLong(0)
      case None => plan.counts.filter(col("source").isNull).count()
    }
    require(nullSource == 0L,
      s"$dir: $nullSource surviving span rows have NULL source (batches " +
        "written before the span-source convention) — refusing a rebuild " +
        "that would silently drop those documents")
    // reconstruct the surviving token streams from the old containers as
    // per-document token ARRAYS: a doc's spans slice CONSECUTIVE packs, so
    // sorting its slices by pack_seq and concatenating IS the stream — no
    // per-token explode, no doc-partitioned running-sum window (the
    // docTokenArrays §8 shape; bounded per doc — n/budget + 1 slices)
    val docArrs = surviving
      .join(packedTokenArrays(spark, dir), "pack_seq")
      .select(col("doc_id"), col("source"), struct(col("pack_seq"),
        expr("slice(tok, cast(start_pos as int) + 1, cast(n_tokens as int))")
          .as("seg")).as("ps"))
      .groupBy(col("doc_id"))
      .agg(max(col("source")).as("source"),
        sort_array(collect_list(col("ps"))).as("pss"))
      .select(col("doc_id"), col("source"),
        // decoded slices are array<int>; the payload assembler consumes
        // the same array<bigint> shape the tokenizer-side arrays carry
        flatten(expr("transform(pss, x -> x.seg)"))
          .cast("array<bigint>").as("tok"))
    val vocabCarried = spark.read.parquet(s"$dir/tokenizer/vocab")
      .filter(col("ingest_batch").cast("long").isin(committedVals: _*))
      .select(col("sym"), col("token_id"))
    // ---- build the ENTIRE new store under _rebuild/ (tmp build phase)
    fs.mkdirs(tmp)
    ArtifactCompaction.writeBatch(vocabCarried, s"$dir/_rebuild/vocab", 0L,
      dynamic = false)
    locally {
      import spark.implicits._
      Seq((k, budget, bounds.toSeq)).toDF("k", "budget", "bounds")
        .write.mode("overwrite").parquet(s"$dir/_rebuild/params")
    }
    // (plan above: counts from the surviving SPAN rows alone — a doc's
    // spans partition its token run, so Σ span n_tokens = the doc's token
    // count; the counts checkpoint never pays the container-decode + slice
    // chain, and the decode runs exactly once, in the container write)
    writePackedBatch(docArrs, plan, budget, s"$dir/_rebuild", nShards,
      shardBase = 0L, packBase = 0L, ingestBatch = 0L)
    // ---- commit: plan marker, then the idempotent swap
    val auditId: Long = {
      val a = new Path(base, "audit")
      if (!fs.exists(a)) 1L
      else fs.listStatus(a).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("rebuild-"))
        .map(_.getPath.getName.stripPrefix("rebuild-").toLong)
        .foldLeft(0L)(math.max) + 1L
    }
    def epochDirsOf(part: String): Seq[Long] = {
      val e = new Path(base, part)
      if (!fs.exists(e)) Seq.empty
      else fs.listStatus(e).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
        .map(_.getPath.getName.stripPrefix("epoch=").toLong)
        .toSeq.sorted
    }
    val epochs = epochDirsOf("epochs")
    val feedEpochs = epochDirsOf("epoch_feeds")
    writeRebuildPlan(fs, new Path(base, "_rebuild-plan"), auditId, nShards,
      epochs, feedEpochs)
    (auditId, epochs, feedEpochs)
  }

  /** Roll a crashed rebuild forward (plan present) or discard an
    * incomplete tmp build (tmp without plan). Safe to call on a healthy
    * store (two exists() probes). Run at the top of every
    * [[rebuildPackedStore]]; exposed so an operator can repair a crashed
    * store without starting a NEW rebuild. */
  def recoverPackedRebuild(spark: SparkSession, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new Path(dir)
    val tmp = new Path(base, "_rebuild")
    val plan = new Path(base, "_rebuild-plan")
    val staging = plan.suffix(".staging")
    if (fs.exists(staging)) require(fs.delete(staging, false),
      s"$dir: discard of a stale rebuild-plan staging file failed")
    if (fs.exists(plan)) {
      val in = fs.open(plan)
      val txt = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      val parts = txt.split(";", -1)
      val auditId = parts(0).toLong
      val nShards = parts(1).toInt
      def epochList(i: Int): Seq[Long] =
        if (parts.length <= i || parts(i).isEmpty) Seq.empty[Long]
        else parts(i).split(",").map(_.toLong).toSeq
      swapRebuild(spark, dir, auditId, nShards, epochList(2), epochList(3))
    } else if (fs.exists(tmp)) require(fs.delete(tmp, true),
      s"$dir: discard of an incomplete _rebuild failed")
  }

  private def writeRebuildPlan(fs: org.apache.hadoop.fs.FileSystem,
                               plan: Path, auditId: Long, nShards: Int,
                               epochs: Seq[Long],
                               feedEpochs: Seq[Long]): Unit =
    graft.Util.atomicMarkerWrite(fs, plan,
      s"$auditId;$nShards;${epochs.mkString(",")};${feedEpochs.mkString(",")}")

  /** The swap body — every step idempotent under re-execution from any
    * crash point (the roll-forward [[recoverPackedRebuild]] replays). */
  private def swapRebuild(spark: SparkSession, dir: String, auditId: Long,
                          nShards: Int, epochs: Seq[Long],
                          feedEpochs: Seq[Long]): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new Path(dir)
    val tmp = new Path(base, "_rebuild")
    val plan = new Path(base, "_rebuild-plan")
    val audit = new Path(base, s"audit/rebuild-$auditId")
    fs.mkdirs(audit)
    // (a) old takedown/provenance history to the audit part — the
    // audit-side copy's existence is the per-part progress marker, so a
    // re-run after step (c) repopulated $dir/manifest cannot move the NEW
    // part out
    for (p <- Seq("manifest", "spans", "tombstones")) {
      val src = new Path(base, p)
      val dst = new Path(audit, p)
      if (!fs.exists(dst) && fs.exists(src))
        require(fs.rename(src, dst), s"$dir: audit move of $p failed")
    }
    // (b) delete containers OUTSIDE the new store's name range (the new
    // range is rename-covered by (c)), the old epoch manifests (stale
    // layout), nothing else — idempotent: new-range names never deleted
    val newNames = (0L until nShards.toLong).map(shardFileName).toSet
    fs.listStatus(base).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("shard-") && n.endsWith(".zip") && !newNames.contains(n))
        require(fs.delete(s.getPath, false),
          s"$dir: stale container delete failed: $n")
    }
    for (p <- Seq("epochs", "epoch_feeds")) {
      val d = new Path(base, p)
      if (fs.exists(d)) require(fs.delete(d, true),
        s"$dir: stale $p delete failed")
    }
    // (c) move the new store's parts into place — each move guarded by
    // its tmp copy's presence (gone = already moved by a prior attempt)
    for ((t, d) <- Seq("manifest" -> "manifest", "spans" -> "spans",
      "vocab" -> "tokenizer/vocab", "params" -> "params")) {
      val src = new Path(tmp, t)
      val dst = new Path(base, d)
      if (fs.exists(src)) {
        if (fs.exists(dst)) require(fs.delete(dst, true),
          s"$dir: stale $d delete before rebuild move failed")
        require(fs.rename(src, dst), s"$dir: rebuild move of $t failed")
      }
    }
    if (fs.exists(tmp)) {
      fs.listStatus(tmp).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith("shard-") && n.endsWith(".zip")) {
          fs.delete(new Path(base, n), false) // rename-over: replay-safe
          require(fs.rename(s.getPath, new Path(base, n)),
            s"$dir: rebuild container move failed: $n")
        }
      }
      require(fs.delete(tmp, true), s"$dir: _rebuild cleanup failed")
    }
    // (d) regenerate the epoch manifests AND stored feeds over the NEW
    // layout (same epoch ids — dynamic per-epoch overwrite, idempotent;
    // post-rebuild tombstones are gone, so the regenerated feeds carry
    // every span), then drop the plan: the swap is complete
    if (epochs.nonEmpty) writeEpochManifests(spark, dir, epochs)
    if (feedEpochs.nonEmpty) writeEpochFeeds(spark, dir, feedEpochs)
    require(fs.delete(plan, false), s"$dir: rebuild plan delete failed")
  }

  // ------------------------------------------------------------- registry

  private def docs(s: SparkSession, dir: String) = graft.Tables.documents(s, dir)

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-shards").toString

  /** Build-once memo for the packed store the METADATA consumers (spans /
    * takedown / epoch manifests) read — the [[Dedup.dedupArtifact]] "mine
    * once / report many" convention: one store, many oracle-checked
    * readers, so the registry doesn't pay one tokenizer train per reader.
    * Same accepted staleness hazard (fixtures immutable per session). */
  private val packedStores =
    scala.collection.mutable.HashMap.empty[String, String]
  private def packedStoreFor(s: SparkSession, dir: String): String =
    packedStores.synchronized {
      packedStores.getOrElseUpdate(dir, {
        val out = tempDir()
        writePackedTokenShards(docs(s, dir), out, PackedShardCount,
          BpeTrainer.MergeSteps, PackedBudget)
        out
      })
    }

  val RoundtripShards = 16

  /** The Lehmer layout SQL (the doc_shuffle_shards oracle's inner chain)
    * over a named source relation. */
  private def layoutSql(src: String, nShards: Int, shardBase: Long): String =
    s"""SELECT doc_id,
       |  row_number() OVER (PARTITION BY shard0 ORDER BY shuffle_key, doc_id) AS pos,
       |  shard0 + $shardBase AS shard
       |FROM (
       |  SELECT doc_id,
       |    ${TextAnalysis.lehmerKeyDuckSql("doc_id")} AS shuffle_key,
       |    (${TextAnalysis.lehmerKeyDuckSql("doc_id")}) % $nShards AS shard0
       |  FROM $src) k""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // write REAL containers, decode them back, emit the full text — the
    // driver's hash compare against the SQL-computed layout+text makes
    // the files-on-disk round trip byte-exact, not just row-counted
    "doc_shards_roundtrip" -> ((s, dir) => {
      val out = tempDir()
      writeTrainingShards(docs(s, dir), out, RoundtripShards)
      Util.orderAll(readTrainingShards(s, out))
    }),
    // the stored manifest vs the arithmetic it promises: per-shard doc
    // and payload-byte counts, zeros included for empty shards
    "doc_shards_manifest" -> ((s, dir) => {
      val out = tempDir()
      writeTrainingShards(docs(s, dir), out, RoundtripShards)
      Util.orderAll(readManifest(s, out))
    }),
    // build on two-thirds, fold the rest in as an increment, decode ALL
    // containers — the append path's files-on-disk check: increment
    // shards continue past the build's ids and old containers are
    // untouched (their decoded content still matches the build layout)
    "doc_shards_append_roundtrip" -> ((s, dir) => {
      val out = tempDir()
      val d = docs(s, dir)
      writeTrainingShards(d.filter(col("doc_id") % 3 =!= 0), out, RoundtripShards)
      appendTrainingShards(d.filter(col("doc_id") % 3 === 0), out, RoundtripShards)
      Util.orderAll(readTrainingShards(s, out))
    }),
    // build on two-thirds, fold the rest in with the STORED tokenizer
    // (merges replayed, vocab extended past the stored max), decode ALL
    // containers — the packed store's files-on-disk append check: pack
    // ids and shard ids continue, shipped containers untouched, and the
    // increment's token ids agree with DuckDB replaying train-on-oldd +
    // apply-to-incd as one statement
    "doc_shards_packed_append_roundtrip" -> ((s, dir) => {
      val out = tempDir()
      val d = docs(s, dir)
      writePackedTokenShards(d.filter(col("doc_id") % 3 =!= 0), out,
        PackedShardCount, BpeTrainer.MergeSteps, PackedBudget)
      appendPackedTokenShards(d.filter(col("doc_id") % 3 === 0), out,
        PackedShardCount)
      Util.orderAll(readPackedTokenShards(s, out))
    }),
    // tokenize → pack → shuffle → write → DECODE: the binary token-id
    // payloads come back as exact comma-joined sequences, hash-compared
    // against DuckDB replaying the whole chain (merge unroll → vocab
    // ranks → per-doc streams → concat-and-cut packs → Lehmer layout)
    "doc_shards_packed_roundtrip" -> ((s, dir) => {
      val out = tempDir()
      writePackedTokenShards(docs(s, dir), out, PackedShardCount,
        BpeTrainer.MergeSteps, PackedBudget)
      Util.orderAll(readPackedTokenShards(s, out))
    }),
    // the pack→document SPAN table of the stored packed corpus: which
    // [start, start+n) of which pack each document occupies — the
    // loss-masking / provenance metadata, hash-compared against DuckDB
    // replaying the same cum_start/pack_base arithmetic the packs use
    "doc_shards_packed_spans" -> ((s, dir) =>
      Util.orderAll(readPackedSpans(s, packedStoreFor(s, dir)))),
    // the takedown consumer: every (pack, shard, pos, span) carrying any
    // of the target documents, answered from spans + the manifest-derived
    // layout with ZERO container decode
    "doc_shards_takedown" -> ((s, dir) =>
      Util.orderAll(packsContaining(s, packedStoreFor(s, dir),
        docs(s, dir).filter(col("doc_id") % 11 === 0).select("doc_id")))),
    // takedown EXECUTED: tombstone a doc set, read back the ACTIVE spans
    // (the loss-mask feed) — shipped containers untouched, the removal is
    // a record the reader honors. SHARED-STATE CONTRACT on the memo
    // store: every registry row that touches the tombstones part
    // (this one, doc_shards_epoch_feed{,_stored}, doc_shards_debt) must
    // write the IDENTICAL %13 set at the SAME batch id 1 — the dynamic
    // overwrite is then idempotent under any execution order; a row
    // writing a different set or id would make the family
    // order-dependent (review-caught: an older comment claimed no other
    // consumer reads this part)
    "doc_shards_tombstoned" -> ((s, dir) => {
      val store = packedStoreFor(s, dir)
      addTombstones(s, store,
        docs(s, dir).filter(col("doc_id") % 13 === 0).select("doc_id"),
        ingestBatch = 1L)
      Util.orderAll(activeSpans(s, store))
    }),
    // decontamination applied to ALREADY-PACKED data — the r12 verdict's
    // named gap ("doc_decontaminate can't be applied to packed data"):
    // the contamination report's doc ids flow through the span table to
    // the shipped (pack, shard, pos) units a training job must mask or
    // skip, zero container decode
    "doc_shards_decontaminate" -> ((s, dir) =>
      Util.orderAll(packsContaining(s, packedStoreFor(s, dir),
        TextAnalysis.decontaminate(docs(s, dir))
          .filter(col("is_contaminated")).select("doc_id")))),
    // two epochs' read-order manifests over the same stored containers:
    // every pack exactly once per epoch, epoch-seeded Lehmer order,
    // derived from the manifest alone (zero container bytes)
    "doc_shards_epochs" -> ((s, dir) => {
      val store = packedStoreFor(s, dir)
      Util.orderAll(epochReadOrder(s, store, 1L)
        .unionByName(epochReadOrder(s, store, 2L)))
    }),
    // the per-epoch LOSS-MASK FEED: epoch-1 read order joined with the
    // active (non-tombstoned) spans — what a training loader consumes.
    // The tombstone state is ensured here (same %13 set and batch id as
    // doc_shards_tombstoned — idempotent dynamic overwrite), so the row
    // is deterministic under any registry execution order
    "doc_shards_epoch_feed" -> ((s, dir) => {
      val store = packedStoreFor(s, dir)
      addTombstones(s, store,
        docs(s, dir).filter(col("doc_id") % 13 === 0).select("doc_id"),
        ingestBatch = 1L)
      Util.orderAll(epochFeed(s, store, 1L))
    }),
    // pack efficiency per source: shipped slots vs real tokens — the
    // padding-waste metric a training-throughput dashboard watches
    "doc_shards_pack_stats" -> ((s, dir) =>
      Util.orderAll(packStats(s, packedStoreFor(s, dir)))),
    // tombstone debt per source: the rebuild gate's arithmetic as an
    // oracle-checked relation (tombstone state ensured, same %13/batch-1
    // convention as every tombstone consumer — idempotent)
    "doc_shards_debt" -> ((s, dir) => {
      val store = packedStoreFor(s, dir)
      addTombstones(s, store,
        docs(s, dir).filter(col("doc_id") % 13 === 0).select("doc_id"),
        ingestBatch = 1L)
      Util.orderAll(packDebtStats(s, store))
    }),
    // the STORED form of the feed: writeEpochFeeds persists what a loader
    // mounts (read order + loss-mask spans, part-file name order = read
    // order); reading it back must equal the derived feed — same oracle
    "doc_shards_epoch_feed_stored" -> ((s, dir) => {
      val store = packedStoreFor(s, dir)
      addTombstones(s, store,
        docs(s, dir).filter(col("doc_id") % 13 === 0).select("doc_id"),
        ingestBatch = 1L)
      writeEpochFeeds(s, store, Seq(1L))
      Util.orderAll(readEpochFeed(s, store, 1L)
        .withColumn("epoch", lit(1L)))
    }),
    // HARD-DELETE rebuild: tombstone the %13 docs, then rewrite the store
    // from the surviving spans — fresh dense pack ids, stored tokenizer
    // carried — and decode the rebuilt containers. The oracle replays the
    // tombstoned chain's hard twin: train on ALL documents, pack only the
    // survivors (fresh ids). Own store (never the shared memo: the
    // rebuild is destructive by design)
    "doc_shards_rebuilt" -> ((s, dir) => {
      val out = tempDir()
      val d = docs(s, dir)
      writePackedTokenShards(d, out, PackedShardCount,
        BpeTrainer.MergeSteps, PackedBudget)
      addTombstones(s, out,
        d.filter(col("doc_id") % 13 === 0).select("doc_id"), ingestBatch = 1L)
      rebuildPackedStore(s, out, PackedShardCount)
      Util.orderAll(readPackedTokenShards(s, out))
    }),
    // the packed store's BUILD priced as its own row (the shared memo
    // fixture's cost, split out of the metadata consumers' floors), and
    // a new oracle: the stored packed MANIFEST vs the arithmetic it
    // promises — per-shard pack counts and 4-byte payload totals
    "doc_shards_store_build" -> ((s, dir) => {
      val out = tempDir()
      writePackedTokenShards(docs(s, dir), out, PackedShardCount,
        BpeTrainer.MergeSteps, PackedBudget)
      Util.orderAll(readManifest(s, out))
    }),
    // the WHOLE pipeline, files included: curation gates elect the
    // survivors, the tokenizer trains on exactly those survivors, packs
    // shuffle into containers, and the decoded payloads are compared —
    // the one-statement user journey the engine exists for
    "doc_pipeline_e2e" -> ((s, dir) => {
      val d = docs(s, dir)
      // pin the NARROW gate-decision rows once (guide §8 — decide with
      // small rows; strictly within-query, no cross-run state): the packed
      // writer scans its input three times (train word-freq, per-doc
      // counts, per-doc token arrays), and without the checkpoint each
      // scan re-evaluates the whole curation-gate chain; with it each scan
      // is a parquet re-read plus a join against the pinned doc_id list —
      // the ids are the only thing the gates decide
      val keep = TextAnalysis.curate(d).filter(col("keep")).select("doc_id")
        .localCheckpoint(eager = true)
      val survivors = d.join(keep, "doc_id")
      val out = tempDir()
      writePackedTokenShards(survivors, out, PackedShardCount,
        BpeTrainer.MergeSteps, PackedBudget)
      Util.orderAll(readPackedTokenShards(s, out))
    }),
  )

  val PackedShardCount = 8
  val PackedBudget = 256

  def oracle: Map[String, String] = Map(
    "doc_shards_roundtrip" -> Util.wrap(
      s"""SELECT d.doc_id, k.shard, k.pos, d.text
         |FROM (${layoutSql("documents", RoundtripShards, 0L)}) k
         |JOIN documents d USING (doc_id)""".stripMargin,
      Seq("shard", "pos", "doc_id")),
    "doc_shards_manifest" -> Util.wrap(
      s"""WITH st AS (
         |  SELECT k.shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(strlen(d.text)) AS BIGINT) AS n_bytes
         |  FROM (${layoutSql("documents", RoundtripShards, 0L)}) k
         |  JOIN documents d USING (doc_id) GROUP BY 1)
         |SELECT r.shard, coalesce(st.n_docs, 0) AS n_docs,
         |  coalesce(st.n_bytes, 0) AS n_bytes
         |FROM (SELECT CAST(unnest(range(0, $RoundtripShards)) AS BIGINT) AS shard) r
         |LEFT JOIN st USING (shard)""".stripMargin,
      Seq("shard")),
    "doc_shards_append_roundtrip" -> Util.wrap(
      s"""WITH oldd AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
         |  incd AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
         |  lay AS (
         |    SELECT * FROM (${layoutSql("oldd", RoundtripShards, 0L)})
         |    UNION ALL
         |    SELECT * FROM (${layoutSql("incd", RoundtripShards, RoundtripShards.toLong)}))
         |SELECT d.doc_id, lay.shard, lay.pos, d.text
         |FROM lay JOIN documents d USING (doc_id)""".stripMargin,
      Seq("shard", "pos", "doc_id")),

    // the packed chain replayed end-to-end in DuckDB: the BPE merge
    // unroll (BpeTrainer's shared CTE chain — one source of truth for
    // both engines' tokenizations), vocab ids by lexicographic rank of
    // the final symbols, per-document token streams in (word, symbol)
    // order, per-source concat-and-cut pack arithmetic with ceil-div
    // global pack bases, the Lehmer shard layout over pack ids, and
    // string_agg reproducing the decoded payload sequences exactly
    "doc_shards_packed_roundtrip" ->
      (BpeTrainer.unrolled + packedChainSql("documents")),

    // build + STORED-tokenizer append, replayed end-to-end (train chain
    // over oldd, apply chain over incd, vocab extension, offset packs,
    // two shard ranges)
    "doc_shards_packed_append_roundtrip" -> packedAppendSql,

    // the span table replayed from the SAME shared cnt/cum/sb chain the
    // packed round trip uses — one source of truth for the arithmetic,
    // so spans and packs cannot drift apart
    "doc_shards_packed_spans" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") + spanCtes("", "0") + Util.wrap(
      "SELECT pack_seq, doc_id, start_pos, n_tokens FROM spn",
      Seq("pack_seq", "doc_id", "start_pos", "n_tokens"))),

    // takedown: spans filtered to the target docs, joined to the Lehmer
    // layout over pack ids — the shard/pos come from the same layoutSql
    // every container oracle uses
    "doc_shards_takedown" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") + spanCtes("", "0") +
      ", pks AS (SELECT pack_seq AS doc_id FROM pck)\n" + Util.wrap(
      s"""SELECT s.doc_id, s.pack_seq, lay.shard, lay.pos,
         |  s.start_pos, s.n_tokens
         |FROM spn s
         |JOIN (${layoutSql("pks", PackedShardCount, 0L)}) lay
         |  ON lay.doc_id = s.pack_seq
         |WHERE s.doc_id % 11 = 0""".stripMargin,
      Seq("doc_id", "pack_seq", "shard", "pos", "start_pos", "n_tokens"))),

    // active spans after a takedown = the span chain minus the
    // tombstoned ids — the reader-side law as one statement
    "doc_shards_tombstoned" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") + spanCtes("", "0") + Util.wrap(
      """SELECT pack_seq, doc_id, start_pos, n_tokens FROM spn
        |WHERE doc_id % 13 <> 0""".stripMargin,
      Seq("pack_seq", "doc_id", "start_pos", "n_tokens"))),

    // packed decontamination: the SHARED doc_decontaminate chain elects
    // the contaminated ids; spans + layout map them to shipped units —
    // one statement, both the gate and the consequence single-sourced
    "doc_shards_decontaminate" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") + spanCtes("", "0") +
      TextAnalysis.decontaminateCtes(continuation = true) +
      ", pks AS (SELECT pack_seq AS doc_id FROM pck)\n" + Util.wrap(
      s"""SELECT s.doc_id, s.pack_seq, lay.shard, lay.pos,
         |  s.start_pos, s.n_tokens
         |FROM spn s
         |JOIN (SELECT doc_id FROM cont WHERE n_overlap >= 2) c
         |  ON c.doc_id = s.doc_id
         |JOIN (${layoutSql("pks", PackedShardCount, 0L)}) lay
         |  ON lay.doc_id = s.pack_seq""".stripMargin,
      Seq("doc_id", "pack_seq", "shard", "pos", "start_pos", "n_tokens"))),

    // two epochs' permutations over the stored pack ids: the same Lehmer
    // key, seeded per epoch by a prime shift — DuckDB replays key, layout,
    // and the cross join over the epoch list
    "doc_shards_epochs" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") +
      ", pks AS (SELECT pack_seq AS doc_id FROM pck)\n" + Util.wrap(
      s"""SELECT e.epoch,
         |  CAST(${TextAnalysis.lehmerKeyDuckSql("(p.pack_seq + e.epoch * 999983)")} AS BIGINT) AS ord_key,
         |  lay.shard, lay.pos, p.pack_seq
         |FROM (SELECT pack_seq FROM pck) p
         |CROSS JOIN (SELECT CAST(unnest([1, 2]) AS BIGINT) AS epoch) e
         |JOIN (${layoutSql("pks", PackedShardCount, 0L)}) lay
         |  ON lay.doc_id = p.pack_seq""".stripMargin,
      Seq("epoch", "ord_key", "shard", "pos", "pack_seq"))),

    // the epoch feed: the epoch-1 permutation chain × the active-span
    // chain as ONE statement — read order and loss mask single-sourced
    // from the same shared CTEs their standalone oracles use
    "doc_shards_epoch_feed" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") + spanCtes("", "0") +
      ", pks AS (SELECT pack_seq AS doc_id FROM pck)\n" + Util.wrap(
      s"""SELECT CAST(1 AS BIGINT) AS epoch,
         |  CAST(${TextAnalysis.lehmerKeyDuckSql("(s.pack_seq + 1 * 999983)")} AS BIGINT) AS ord_key,
         |  lay.shard, lay.pos, s.pack_seq, s.doc_id, s.start_pos, s.n_tokens
         |FROM spn s
         |JOIN (${layoutSql("pks", PackedShardCount, 0L)}) lay
         |  ON lay.doc_id = s.pack_seq
         |WHERE s.doc_id % 13 <> 0""".stripMargin,
      Seq("ord_key", "pack_seq", "doc_id", "start_pos"))),

    // pack efficiency from the SAME cnt chain the packs are cut from:
    // ceil-div pack counts, padding = slots minus tokens, integer-micro
    // fill — every pack carries >= 1 span, so the Spark side's
    // countDistinct(pack_seq) equals the ceil-div here
    "doc_shards_pack_stats" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") + Util.wrap(
      s"""SELECT source, CAST((total + $PackedBudget - 1) // $PackedBudget AS BIGINT) AS n_packs,
         |  CAST(total AS BIGINT) AS n_tokens,
         |  CAST(((total + $PackedBudget - 1) // $PackedBudget) * $PackedBudget - total AS BIGINT) AS padding_tokens,
         |  CAST(total * 1000000 // (((total + $PackedBudget - 1) // $PackedBudget) * $PackedBudget) AS BIGINT) AS fill_ppm
         |FROM (SELECT source, sum(n) AS total FROM cnt GROUP BY 1) t""".stripMargin,
      Seq("source"))),

    // the debt gate's arithmetic: per source, total vs tombstoned token
    // mass in integer micros
    "doc_shards_debt" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") + Util.wrap(
      s"""SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(CASE WHEN doc_id % 13 = 0 THEN n END), 0) AS BIGINT) AS dead_tokens,
         |  CAST(coalesce(sum(CASE WHEN doc_id % 13 = 0 THEN n END), 0) * 1000000 // sum(n) AS BIGINT) AS dead_ppm
         |FROM cnt GROUP BY 1""".stripMargin,
      Seq("source"))),

    // the stored feed reads back exactly the derived feed's rows — ONE
    // oracle for both forms (the write path is what differs, and the
    // name-order law is spec-pinned where SQL can't see file names)
    "doc_shards_epoch_feed_stored" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") + spanCtes("", "0") +
      ", pks AS (SELECT pack_seq AS doc_id FROM pck)\n" + Util.wrap(
      s"""SELECT CAST(1 AS BIGINT) AS epoch,
         |  CAST(${TextAnalysis.lehmerKeyDuckSql("(s.pack_seq + 1 * 999983)")} AS BIGINT) AS ord_key,
         |  lay.shard, lay.pos, s.pack_seq, s.doc_id, s.start_pos, s.n_tokens
         |FROM spn s
         |JOIN (${layoutSql("pks", PackedShardCount, 0L)}) lay
         |  ON lay.doc_id = s.pack_seq
         |WHERE s.doc_id % 13 <> 0""".stripMargin,
      Seq("ord_key", "pack_seq", "doc_id", "start_pos"))),

    // the rebuild: the doc_shards_tombstoned chain's HARD twin — the
    // tokenizer chain over ALL documents (the stored tokenizer the
    // rebuild carries), the pack arithmetic over only the SURVIVING
    // documents (fresh dense pack ids), the Lehmer layout over the new
    // pack set
    "doc_shards_rebuilt" -> (BpeTrainer.unrolled +
      ", survd AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 13 <> 0)\n" +
      packedChainSql("survd")),

    // the packed manifest: per-shard pack counts and payload bytes
    // (4 bytes per token id), zeros for empty shards — the packed twin
    // of doc_shards_manifest's arithmetic check
    "doc_shards_store_build" -> (BpeTrainer.unrolled +
      packedCorpusCtes("documents") +
      ", pks AS (SELECT pack_seq AS doc_id FROM pck)\n" + Util.wrap(
      s"""SELECT r.shard, coalesce(st.n_docs, 0) AS n_docs,
         |  coalesce(st.n_bytes, 0) AS n_bytes
         |FROM (SELECT CAST(unnest(range(0, $PackedShardCount)) AS BIGINT) AS shard) r
         |LEFT JOIN (
         |  SELECT lay.shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(4 * p.n_tokens) AS BIGINT) AS n_bytes
         |  FROM pck p
         |  JOIN (${layoutSql("pks", PackedShardCount, 0L)}) lay
         |    ON lay.doc_id = p.pack_seq
         |  GROUP BY 1) st USING (shard)""".stripMargin,
      Seq("shard"))),

    // the WHOLE pipeline as one statement: the curation gate chain
    // (TextAnalysis.curateGatesCte — the identical SQL doc_curate is
    // checked against) selects the survivors, the tokenizer trains on
    // exactly those survivors, and the packed chain shards them — every
    // stage's SQL is the single shared source its standalone oracle uses,
    // so the composition cannot drift from the parts
    "doc_pipeline_e2e" -> (TextAnalysis.curateGatesCte +
      s""", surv AS MATERIALIZED (
         |  SELECT d.doc_id, d.source, d.text
         |  FROM documents d JOIN cg ON cg.doc_id = d.doc_id AND cg.keep
         |)
         |""".stripMargin +
      BpeTrainer.unrolledOver("surv", continuation = true) +
      packedChainSql("surv")),
  )

  /** The vocab-file CTE: distinct final symbols of a symbol table, ids by
    * lexicographic rank — [[BpeTrainer.vocabOf]]'s SQL twin. */
  private def vocabCte(name: String, symTable: String): String =
    s""", $name AS MATERIALIZED (
       |  SELECT s AS sym, CAST(row_number() OVER (ORDER BY s) AS BIGINT) - 1 AS token_id
       |  FROM (SELECT DISTINCT s FROM $symTable) v
       |)
       |""".stripMargin

  /** Per-document token streams of `src` under a (symbol-table, vocab)
    * pair — [[BpeTrainer.tokenIdSeqsFrom]]'s SQL twin, suffix-named so a
    * build chain and an apply chain coexist in one statement. */
  private def tokStreamCtes(src: String, symTable: String,
                            vocabName: String, sfx: String): String =
    s""", docw$sfx AS MATERIALIZED (
       |  SELECT doc_id, source, wi, words[wi] AS w
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS words FROM $src) t,
       |       LATERAL (SELECT unnest(range(1, len(words) + 1)) AS wi) ii
       |  WHERE length(words[wi]) >= 1
       |), ptok$sfx AS MATERIALIZED (
       |  SELECT d.doc_id, d.source,
       |    CAST(row_number() OVER (PARTITION BY d.doc_id ORDER BY d.wi, s.pos) AS BIGINT) - 1 AS tidx,
       |    v.token_id
       |  FROM docw$sfx d
       |  JOIN $symTable s ON s.w = d.w
       |  JOIN $vocabName v ON v.sym = s.s
       |)
       |""".stripMargin

  /** The concat-and-cut pack arithmetic over `ptok$sfx` —
    * [[packLayoutFromToks]]'s SQL twin; `packBaseExpr` offsets pack ids so
    * an append batch's packs continue past every earlier batch's. */
  private def packCtes(sfx: String, packBaseExpr: String): String =
    s""", cnt$sfx AS (
       |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n FROM ptok$sfx GROUP BY 1, 2
       |), cum$sfx AS (
       |  SELECT doc_id,
       |    CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id) - n AS BIGINT) AS cum_start
       |  FROM cnt$sfx
       |), sb$sfx AS (
       |  SELECT source,
       |    CAST(sum(n_packs) OVER (ORDER BY source) - n_packs AS BIGINT) AS pack_base
       |  FROM (SELECT source, (sum(n) + $PackedBudget - 1) // $PackedBudget AS n_packs
       |        FROM cnt$sfx GROUP BY 1) sp
       |), pk$sfx AS (
       |  SELECT ($packBaseExpr) + sb.pack_base + (cum.cum_start + t.tidx) // $PackedBudget AS pack_seq,
       |    (cum.cum_start + t.tidx) % $PackedBudget AS pack_pos, t.token_id
       |  FROM ptok$sfx t JOIN cum$sfx cum USING (doc_id) JOIN sb$sfx sb ON sb.source = t.source
       |), pck$sfx AS (
       |  SELECT pack_seq, CAST(count(*) AS BIGINT) AS n_tokens,
       |    string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY pack_pos) AS token_csv
       |  FROM pk$sfx GROUP BY 1
       |)
       |""".stripMargin

  /** The vocab + token-stream + pack CTE prefix over a named relation —
    * the shared chain body [[packedChainSql]], the spans oracle, and the
    * takedown/epoch oracles all continue from. */
  private def packedCorpusCtes(src: String): String =
    vocabCte("vocab", s"s${BpeTrainer.MergeSteps}") +
      tokStreamCtes(src, s"s${BpeTrainer.MergeSteps}", "vocab", "") +
      packCtes("", "0")

  /** The span arithmetic over the `cnt`/`cum`/`sb` CTEs [[packCtes]]
    * defines — [[packLayoutFromToks]]'s spans projection in DuckDB. */
  private def spanCtes(sfx: String, packBaseExpr: String): String =
    s""", spn$sfx AS (
       |  SELECT ($packBaseExpr) + sb.pack_base + pp.pk AS pack_seq, c.doc_id,
       |    CAST(CASE WHEN pp.pk = c.cum_start // $PackedBudget
       |         THEN c.cum_start % $PackedBudget ELSE 0 END AS BIGINT) AS start_pos,
       |    CAST(least((pp.pk + 1) * $PackedBudget, c.cum_start + c.n)
       |      - greatest(pp.pk * $PackedBudget, c.cum_start) AS BIGINT) AS n_tokens
       |  FROM (SELECT t.doc_id, t.source, t.n, u.cum_start
       |        FROM cnt$sfx t JOIN cum$sfx u USING (doc_id)) c
       |  JOIN sb$sfx sb ON sb.source = c.source,
       |  LATERAL (SELECT unnest(range(c.cum_start // $PackedBudget,
       |    (c.cum_start + c.n - 1) // $PackedBudget + 1)) AS pk) pp
       |)
       |""".stripMargin

  /** The tokenize→pack→shuffle chain in DuckDB over a named
    * (doc_id, source, text) relation — continuation CTEs assuming the
    * merge-unroll chain (`s<k>`) precedes, plus the final ordered select.
    * ONE source for the standalone packed round trip and the e2e
    * pipeline oracle. */
  private def packedChainSql(src: String): String =
    packedCorpusCtes(src) +
      ", pks AS (SELECT pack_seq AS doc_id FROM pck)\n" + Util.wrap(
      s"""SELECT p.pack_seq, lay.shard, lay.pos, p.n_tokens, p.token_csv
         |FROM pck p
         |JOIN (${layoutSql("pks", PackedShardCount, 0L)}) lay
         |  ON lay.doc_id = p.pack_seq""".stripMargin,
      Seq("shard", "pos", "pack_seq"))

  /** Build-on-oldd + append-incd as ONE DuckDB statement: train the merge
    * chain on `oldd` ([[BpeTrainer.unrolledOver]]), decompose `incd`'s
    * words under those SAME merges ([[BpeTrainer.applyUnrolledOver]] —
    * the apply chain), extend the stored vocab with the increment's new
    * symbols past the stored max, pack each batch's own stream with the
    * increment's pack ids offset by the build's pack total, and lay each
    * batch out over its own shard range. Every piece is the single shared
    * SQL its standalone oracle uses. */
  private def packedAppendSql: String =
    s"""WITH oldd AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 3 <> 0),
       |  incd AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 3 = 0)
       |""".stripMargin +
      BpeTrainer.unrolledOver("oldd", continuation = true) +
      BpeTrainer.applyUnrolledOver("incd") +
      vocabCte("vocab", s"s${BpeTrainer.MergeSteps}") +
      s""", vocab2 AS MATERIALIZED (
         |  SELECT sym, token_id FROM vocab
         |  UNION ALL
         |  SELECT sym,
         |    (SELECT max(token_id) + 1 FROM vocab)
         |      + CAST(row_number() OVER (ORDER BY sym) AS BIGINT) - 1 AS token_id
         |  FROM (SELECT DISTINCT s AS sym FROM as${BpeTrainer.MergeSteps}
         |        WHERE s NOT IN (SELECT sym FROM vocab)) n
         |)
         |""".stripMargin +
      tokStreamCtes("oldd", s"s${BpeTrainer.MergeSteps}", "vocab", "_b") +
      packCtes("_b", "0") +
      tokStreamCtes("incd", s"as${BpeTrainer.MergeSteps}", "vocab2", "_i") +
      packCtes("_i", "(SELECT CAST(count(*) AS BIGINT) FROM pck_b)") +
      """, pks_b AS (SELECT pack_seq AS doc_id FROM pck_b)
        |, pks_i AS (SELECT pack_seq AS doc_id FROM pck_i)
        |""".stripMargin + Util.wrap(
      s"""SELECT pack_seq, shard, pos, n_tokens, token_csv
         |FROM (
         |  SELECT b.pack_seq, lb.shard, lb.pos, b.n_tokens, b.token_csv
         |  FROM pck_b b
         |  JOIN (${layoutSql("pks_b", PackedShardCount, 0L)}) lb
         |    ON lb.doc_id = b.pack_seq
         |  UNION ALL
         |  SELECT i.pack_seq, li.shard, li.pos, i.n_tokens, i.token_csv
         |  FROM pck_i i
         |  JOIN (${layoutSql("pks_i", PackedShardCount, PackedShardCount.toLong)}) li
         |    ON li.doc_id = i.pack_seq
         |) u""".stripMargin,
      Seq("shard", "pos", "pack_seq"))
}
