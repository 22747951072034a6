package graft.streaming

import graft.sources.JsonlDocs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** End-to-end streaming corpus ingest: watch a directory for JSONL files,
  * decode with the [[JsonlDocs]] quarantine contract, gate each document
  * through the stateless curation signals, and fan out to a
  * lang-partitioned parquet corpus plus a dead-letter sink — the
  * ingestion shape of a training-data pipeline, assembled from the same
  * pure transforms the batch (oracle-checked) path uses.
  *
  * Scale/semantics notes:
  *  - The file source discovers new files per trigger and never reprocesses
  *    a seen file (checkpointed log) — ingest is incremental by
  *    construction; `maxFilesPerTrigger` bounds a catch-up burst.
  *  - One decode pass feeds BOTH sinks: foreachBatch persists the batch,
  *    splits good/quarantine, writes each, unpersists. Two writeStreams
  *    would decode every line twice.
  *  - Held-out eval documents (doc_id ≡ 0 mod `evalMod`, the repo-wide
  *    convention) are EXCLUDED before gating: an ingest job must never
  *    write a benchmark doc into the training corpus — the same invariant
  *    [[graft.llm.TextAnalysis.streamingCurate]] documents.
  *  - In-batch exact-dup keeping is first-by-doc_id on the 8-byte content
  *    hash; CROSS-batch dedup needs either an event-time watermark
  *    (streamingCurate's dropDuplicatesWithinWatermark when a `ts`
  *    exists) or the batch dedup pipeline over the accumulated corpus —
  *    per-batch keeping is what a stream can decide without unbounded
  *    state.
  *  - Delivery is EFFECTIVELY-once, not sink-transactional: both sinks
  *    write under a trailing `batch_id` partition with dynamic partition
  *    overwrite (both through [[CdrStreamJob.writeBatch]]), so a batch
  *    replayed after a crash-before-checkpoint overwrites its own
  *    partitions instead of appending duplicates. A plain foreachBatch
  *    append would be at-least-once — duplicate documents in a training
  *    corpus are precisely what the dedup stages upstream fight.
  */
object CorpusIngest {

  /** Streaming twin of [[JsonlDocs.read]] — the SAME [[JsonlDocs.decode]]
    * over a file-source text stream. */
  def jsonlStream(spark: SparkSession, inDir: String,
                  maxFilesPerTrigger: Int = 100): DataFrame =
    JsonlDocs.decode(
      spark.readStream
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .text(inDir))

  /** Stateless curation gates + in-batch exact-dup keeper election over a
    * decoded batch; returns the gated frame (all canonical document
    * columns kept — the output must union/append cleanly with the
    * documents table) plus the gate flags and `keep`. Pure function —
    * reused identically by tests and the live stream.
    *
    * `evalShingles` (one `shingle` column, precomputed from the held-out
    * benchmark corpus) turns on streaming DECONTAMINATION: the
    * stream-static join the streamingCurate scaladoc sketches — eval
    * shingle sets are tiny by nature and broadcast per micro-batch
    * (exactly the CDR dimension shape), the per-doc shingle explode stays
    * in-row, and the overlap count keys on `xxhash64(text)` — NOT doc_id:
    * contamination is a function of the text alone, doc_id can be NULL
    * (NULL never joins back, which would mark a benchmark-overlapping doc
    * trainable) or duplicated within a batch (which would pool overlap
    * counts across different texts). Texts are deduplicated before
    * shingling so identical texts can't double-count their own overlap.
    * A doc sharing ≥ `minOverlap` distinct shingles with the benchmark
    * fails `not_contaminated` and is dropped.
    *
    * `nearDupIndex` (path written by [[graft.llm.Dedup.writeNearDupIndex]])
    * turns on the near-dup-vs-corpus gate: each batch's distinct texts run
    * through [[graft.llm.Dedup.incrementalAgainstIndex]] — MinHash bands
    * for the BATCH only, one band equi-join against the stored parquet
    * index, exact-Jaccard verification against the stored shingle sets —
    * and a doc whose best Jaccard ≥ `nearDupThreshold` fails
    * `not_near_dup`. The corpus is never rescanned per batch: the index is
    * read, which is what makes a near-dup gate affordable inside a
    * streaming ingest at 100 TB. Keyed on `xxhash64(text)` like the
    * decontamination gate (near-duplication is a function of the text
    * alone — NULL/duplicate doc_ids must neither leak nor pool).
    *
    * `containmentThreshold` (requires `nearDupIndex`) additionally turns
    * on the ASYMMETRIC gate the Jaccard one misses: a short batch doc
    * mostly quoted inside a much larger indexed page has Jaccard ≈
    * |A|/|B| ≈ 0 but containment |A∩B|/|A| ≈ 1, and
    * [[graft.llm.Dedup.containmentAgainstIndex]] catches it at
    * per-increment cost (prefix-filtered probe of the stored df table —
    * recall-complete by pigeonhole, the corpus is read, never shuffled).
    * A doc whose containment vs any indexed doc ≥ the threshold fails
    * `not_contained`. Same content-hash keying as the other gates.
    *
    * `dsirRatios` (path written by
    * [[graft.llm.TextAnalysis.writeDsirRatios]]) turns on the IMPORTANCE
    * gate: each batch's distinct texts score their mean hashed-bigram
    * ratio against the stored nBuckets-row table (one broadcast join —
    * the corpus that trained the ratios is never touched) and a doc
    * scoring below `dsirMinScoreMicro` fails `target_like`. Docs with no
    * bigrams (< 2 tokens) have no importance evidence and pass — the
    * structural gates already police degenerate texts. Same content-hash
    * keying as the other gates.
    *
    * `nbWeights` (trained once by [[graft.llm.TextAnalysis.writeNbWeights]])
    * adds the fastText-style classifier gate: each batch's distinct texts
    * score their mean hashed-word posterior against the stored ≤ nFeat-row
    * weight table (one broadcast join) and a doc below `nbThresholdMicro`
    * fails `classifier_ok`. Out-of-vocabulary words contribute the
    * smoothed coin-flip 500000, so a fully-OOV doc sits exactly AT the
    * default threshold and passes — the classifier abstains without
    * evidence, same philosophy as the DSIR no-bigram pass. */
  def gate(batch: DataFrame, qualityThreshold: Double = 0.45,
           evalMod: Long = 101L, evalShingles: Option[DataFrame] = None,
           minOverlap: Int = 2, nearDupIndex: Option[String] = None,
           nearDupThreshold: Double = 0.4,
           containmentThreshold: Option[Double] = None,
           dsirRatios: Option[String] = None,
           dsirMinScoreMicro: Long = 0L,
           nbWeights: Option[String] = None,
           nbThresholdMicro: Long = 500000L): DataFrame = {
    validateGateParams(nearDupIndex, containmentThreshold, dsirRatios, dsirMinScoreMicro)
    // null-safe: a doc with a missing doc_id cannot be a held-out eval doc
    // (NULL % evalMod is NULL, and a bare =!= filter would silently drop
    // the row into no bucket at all — the decode comment's 'silent third
    // bucket'). It stays trainable; keeper election ranks real ids first.
    val trainable = batch.filter(coalesce(col("doc_id") % evalMod =!= 0, lit(true)))
    val keeperWin = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col("text"))).orderBy(col("doc_id").asc_nulls_last)
    val gated = graft.llm.TextAnalysis.withGateColumns(
        graft.llm.TextAnalysis.signals(trainable), qualityThreshold)
    // each gate's scorer gets the batch's distinct (content hash AS doc_id,
    // text) rows and returns the hashes that fail it, each once. Keyed on
    // the text hash, never doc_id: a NULL doc_id would never join back
    // (marking a failing doc trainable) and duplicate doc_ids with
    // different texts would pool their scores.
    val contamination = evalShingles.map { ev => (texts: DataFrame) =>
      // shingles are per-doc distinct in-row, so the count is distinct
      // overlapping shingles per text
      graft.llm.Dedup.shingles(graft.llm.Dedup.tokenized(texts))
        .join(broadcast(ev.select(col("shingle")).distinct()), "shingle")
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= minOverlap)
        .select(col("doc_id"))
    }
    val nearDup = nearDupIndex.map { path => (texts: DataFrame) =>
      graft.llm.Dedup.incrementalAgainstIndex(texts, path, nearDupThreshold)
        .select(col("new_doc"))
    }
    val contained = for (path <- nearDupIndex; tau <- containmentThreshold)
      yield (texts: DataFrame) =>
        graft.llm.Dedup.containmentAgainstIndex(texts, path, tau)
          .select(col("new_doc")).distinct()
    val lowImportance = dsirRatios.map { path => (texts: DataFrame) =>
      graft.llm.TextAnalysis.dsirScoreAgainstRatios(texts, path)
        .filter(col("imp_micro") < dsirMinScoreMicro).select(col("doc_id"))
    }
    val lowClassifier = nbWeights.map { path => (texts: DataFrame) =>
      graft.llm.TextAnalysis.nbScoreAgainstWeights(texts, path)
        .filter(col("nb_micro") < nbThresholdMicro).select(col("doc_id"))
    }
    Seq("not_contaminated" -> contamination, "not_near_dup" -> nearDup,
        "not_contained" -> contained, "target_like" -> lowImportance,
        "classifier_ok" -> lowClassifier)
      .foldLeft(gated) { case (df, (flag, failing)) => hashFlag(df, flag, failing) }
      .withColumn("is_keeper", row_number().over(keeperWin) === 1)
      .withColumn("keep", col("lang_ok") && col("quality_ok") &&
        col("not_repetitive") && col("not_contaminated") &&
        col("not_near_dup") && col("not_contained") && col("target_like") &&
        col("classifier_ok") && col("is_keeper"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("lang_ok"), col("quality_ok"),
        col("not_repetitive"), col("not_contaminated"),
        col("not_near_dup"), col("not_contained"), col("target_like"),
        col("classifier_ok"), col("is_keeper"), col("keep"))
  }

  /** The content-hash flag join every corpus gate shares: `failing` gets
    * the distinct `(xxhash64(text) AS doc_id, text)` rows of `df` and
    * returns the hashes that fail the gate (one column, each hash once);
    * every row whose text carries one of them gets `flag = false`, the
    * rest `true`. The failing set is per-batch-distinct-text sized, so it
    * is broadcast. No scorer: the gate is off and every row passes. */
  private def hashFlag(df: DataFrame, flag: String,
                       failing: Option[DataFrame => DataFrame]): DataFrame =
    failing match {
      case Some(score) =>
        val hits = score(df.select(xxhash64(col("text")).as("doc_id"), col("text")).distinct())
          .toDF("_hash").withColumn("_hit", lit(true))
        df.withColumn("_hash", xxhash64(col("text")))
          .join(broadcast(hits), Seq("_hash"), "left_outer")
          .withColumn(flag, coalesce(!col("_hit"), lit(true)))
          .drop("_hash", "_hit")
      case None => df.withColumn(flag, lit(true))
    }

  /** Cross-parameter invariants shared by [[gate]] and [[run]]. Validated at
    * [[run]] setup too (not just inside the per-batch [[gate]] call) so a
    * misconfigured stream fails before the StreamingQuery starts instead of
    * on its first micro-batch.
    */
  private def validateGateParams(nearDupIndex: Option[String],
                                 containmentThreshold: Option[Double],
                                 dsirRatios: Option[String],
                                 dsirMinScoreMicro: Long): Unit = {
    require(containmentThreshold.isEmpty || nearDupIndex.nonEmpty,
      "containmentThreshold needs nearDupIndex: the containment gate probes the same stored index")
    // imp_micro is always >= 0, so a dsirRatios path with the default
    // threshold 0 would be a silently-enabled no-op gate (every doc passes
    // target_like) — exactly the misconfiguration worth failing fast on
    require(dsirRatios.isEmpty || dsirMinScoreMicro > 0L,
      "dsirRatios needs dsirMinScoreMicro > 0: imp_micro >= 0 always, so a zero threshold gates nothing")
  }

  /** Start the ingest: JSONL in `inDir` → curated lang-partitioned parquet
    * in `outDir` (kept docs only, canonical document columns) + raw
    * corrupt lines in `quarantineDir`.
    *
    * `onBatchComplete` fires after BOTH sink writes but before foreachBatch
    * returns — i.e. before Spark commits the batch to the checkpoint. It
    * exists so tests can inject a crash into exactly the at-least-once
    * window (data on disk, commit log not yet written) and prove the
    * replayed batch overwrites its own partitions instead of duplicating. */
  def run(spark: SparkSession, inDir: String, outDir: String,
          quarantineDir: String, checkpoint: String,
          qualityThreshold: Double = 0.45, evalMod: Long = 101L,
          evalShingles: Option[DataFrame] = None,
          onBatchComplete: Long => Unit = _ => (),
          minOverlap: Int = 2, nearDupIndex: Option[String] = None,
          nearDupThreshold: Double = 0.4,
          containmentThreshold: Option[Double] = None,
          dsirRatios: Option[String] = None,
          dsirMinScoreMicro: Long = 0L,
          nbWeights: Option[String] = None,
          nbThresholdMicro: Long = 500000L,
          shardDir: Option[String] = None): StreamingQuery = {
    validateGateParams(nearDupIndex, containmentThreshold, dsirRatios, dsirMinScoreMicro)
    // shardDir turns the ingest into the FULL maintained pipeline — the
    // streaming twin of doc_pipeline_e2e's curate→shard composition:
    // every batch's survivors ALSO fold into a training-shard container
    // store (graft.llm.TrainingShards, auto-sized per increment). The
    // store is seeded empty here so batch N can always derive its bases
    // from manifest rows < N+1; shard appends share the ingest's
    // exactly-once convention (replays rewrite the same containers and
    // manifest partition), so curated parquet and shard store can never
    // drift apart across a crash.
    shardDir.foreach { sd =>
      // seed only when the manifest is genuinely absent: readOptional lets
      // any OTHER AnalysisException (a footer problem surfaced at read
      // planning) propagate instead of triggering writeTrainingShards'
      // recursive reset of committed containers (review-caught)
      if (graft.llm.ArtifactCompaction.readOptional(spark, s"$sd/manifest").isEmpty)
        graft.llm.TrainingShards.writeTrainingShards(
          spark.range(0).select(col("id").as("doc_id"), lit("").as("text")),
          sd, nShards = 1)
    }
    jsonlStream(spark, inDir).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val kept = gate(JsonlDocs.good(batch), qualityThreshold, evalMod,
            evalShingles, minOverlap, nearDupIndex, nearDupThreshold,
            containmentThreshold, dsirRatios, dsirMinScoreMicro, nbWeights,
            nbThresholdMicro)
            .filter(col("keep"))
            .drop("lang_ok", "quality_ok", "not_repetitive",
              "not_contaminated", "not_near_dup", "not_contained",
              "target_like", "classifier_ok", "is_keeper", "keep")
          // persist the GATED frame, not just the raw batch: the parquet
          // write, the shard-sizing agg, and the container write would
          // each re-run the full gate chain otherwise — and a gate that
          // joins a stored index rewritten between those actions would
          // let the two sinks of one batch DISAGREE, the drift the
          // shard-store composition exists to rule out (review-caught)
          if (shardDir.isDefined) kept.persist()
          try {
            CdrStreamJob.writeBatch(kept, batchId, outDir,
              maxRecordsPerFile = 0L, partCols = Seq("lang"))
            CdrStreamJob.writeBatch(
              JsonlDocs.quarantine(batch).select(col("_corrupt_record").as("value")),
              batchId, quarantineDir, maxRecordsPerFile = 0L, partCols = Nil,
              format = "text")
            shardDir.foreach(graft.llm.TrainingShards.appendSized(
              kept.select(col("doc_id"), col("text")), _, nShards = 0, batchId + 1L))
          } finally if (shardDir.isDefined) kept.unpersist()
          onBatchComplete(batchId)
        } finally batch.unpersist()
        ()
      }
      .start()
  }
}
