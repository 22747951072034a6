package graft

import org.apache.spark.sql.functions._

/** Specs for the round-14 work: the advisor-r13 hardening fixes
  * (compaction snap-to-existing, tombstone-stream batch offset, named
  * recall-row reads, bounded unigram seed collect) and the
  * auto-compaction policy inside the streaming maintainers. The hard
  * rebuild + epoch-feed laws live in their own sections below. */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.{Dedup, Similarity, TrainingShards}

  private def docs3 = Tables.documents(spark, sf)
    .select($"doc_id", $"source", $"text")

  private def partRows(path: String, part: String): Seq[String] =
    spark.read.parquet(s"$path/$part").drop("ingest_batch")
      .collect().map(_.toString).sorted.toSeq

  private def partitionDirs(path: String, part: String): Seq[String] =
    new java.io.File(s"$path/$part").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .map(_.getName).sorted.toSeq

  test("compaction snaps to a REAL batch id: gapped ingest_batch sequences merge into the largest existing id <= upTo") {
    val d = docs3
    val p = java.nio.file.Files.createTempDirectory("graft-snap").toString
    Dedup.writeDedupArtifactHashed(d.filter($"doc_id" % 3 === 0), p, 0.4)
    Dedup.appendDedupArtifact(d.filter($"doc_id" % 3 === 1), p, ingestBatch = 1L)
    // gapped sequence: the next batch skips to 5 (a maintainer that
    // crashed before its first write, an ad-hoc caller minting ids)
    Dedup.appendDedupArtifact(d.filter($"doc_id" % 3 === 2), p, ingestBatch = 5L)
    val before = Seq("shingles", "bands", "counts", "nodes").map(partRows(p, _))
    // upTo = 4 names a batch that never committed; the merge target must
    // snap DOWN to the largest existing id <= 4 (batch 1), never relabel
    // history under an id no writer ever committed
    Dedup.compactDedupArtifact(spark, p, upTo = 4L)
    assert(partitionDirs(p, "nodes") == Seq("ingest_batch=1", "ingest_batch=5"),
      "merged partition must reuse the real committed id 1, not invent 4")
    Seq("shingles", "bands", "counts", "nodes").zip(before).foreach {
      case (part, b) => assert(partRows(p, part) == b,
        s"snap compaction changed part $part")
    }
  }

  test("tombstone stream attaches PAST ad-hoc takedown batches; the offset is persisted with the checkpoint and survives a restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val d = docs3
    val out = java.nio.file.Files.createTempDirectory("graft-off-tomb").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-off-ck").toString
    TrainingShards.writePackedTokenShards(d, out, 4, 3, 64)
    // ad-hoc pre-stream takedown at batch 1 — exactly the id the old
    // `batchId + 1` mapping would have dynamic-overwritten on the
    // stream's first batch, silently resurrecting this record
    TrainingShards.addTombstones(spark, out,
      d.filter($"doc_id" % 5 === 0).select("doc_id"), ingestBatch = 1L)
    val r2 = d.filter($"doc_id" % 7 === 0).select($"doc_id").as[Long].collect().toSeq
    val mem = MemoryStream[Long](spark)
    val q = streaming.Maintenance.tombstones(mem.toDF().toDF("doc_id"), out, ck)
    try { mem.addData(r2: _*); q.processAllAvailable() } finally q.stop()
    def active() = TrainingShards.activeSpans(spark, out)
      .collect().map(_.toString).sorted.toSeq
    val expected = TrainingShards.readPackedSpans(spark, out)
      .filter($"doc_id" % 5 =!= 0 && $"doc_id" % 7 =!= 0)
      .collect().map(_.toString).sorted.toSeq
    assert(active() == expected,
      "the stream's first batch clobbered the ad-hoc takedown record")
    // offset derived past the ad-hoc max (1) and persisted with the
    // checkpoint: stream batch 0 landed on partition 2
    assert(partitionDirs(out, "tombstones") ==
      Seq("ingest_batch=1", "ingest_batch=2"))
    // the offset is REREAD on a restart, never re-derived: re-deriving
    // after the stream's own batches landed (max on disk is now 2) would
    // shift every replayed batch id onto a different partition and break
    // the exactly-once overwrite
    assert(streaming.Maintenance.offsetFor(spark, out, ck) == 2L,
      "same checkpoint must reuse its persisted offset")
    // a FRESH checkpoint (fresh batch-id sequence) derives past everything
    // now on disk
    val ck2 = java.nio.file.Files.createTempDirectory("graft-off-ck2").toString
    assert(streaming.Maintenance.offsetFor(spark, out, ck2) == 3L,
      "a fresh checkpoint must mint an offset past every on-disk batch")
    // a PRE-UPGRADE checkpoint (committed batches, no offset file) pins
    // the legacy offset 1 — deriving past the on-disk batches would shift
    // every replayed batch id onto a different partition (review-caught)
    val ck3 = java.nio.file.Files.createTempDirectory("graft-off-ck3").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(ck3, "commits"))
    java.nio.file.Files.write(java.nio.file.Paths.get(ck3, "commits", "0"),
      "v1".getBytes)
    assert(streaming.Maintenance.offsetFor(spark, out, ck3) == 1L,
      "a checkpoint with committed batches but no offset file must pin " +
        "the legacy batchId+1 mapping")
  }

  test("measured-recall row is read by column NAME: a writer-side column reorder cannot swap recall and size") {
    val emb = Tables.table(spark, sf, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft-rec-named").toString
    Similarity.writeIvfIndexSized(emb.filter($"vec_id" >= 5), idx)
    val n = spark.read.parquet(s"$idx/cells").count()
    // the recall part with its columns in the OPPOSITE file order — an
    // ordinal read would take getDouble(0) from a BIGINT column
    Seq((n, 0.77)).toDF("measured_at_n", "measured_recall")
      .write.mode("overwrite").parquet(s"$idx/recall")
    assert(Similarity.measuredRecall(spark, idx).contains((0.77, n)),
      "recall row must resolve by name regardless of file column order")
  }

  test("trainPieceTable: a seed table past maxSeedPieces fails loudly BEFORE the driver collect") {
    val e = intercept[IllegalArgumentException] {
      graft.llm.UnigramLm.trainPieceTable(docs3, maxSeedPieces = 1L)
    }
    assert(e.getMessage.contains("maxSeedPieces") &&
      e.getMessage.contains("minSeedCount"),
      s"overflow message must name the knob and the remedy: ${e.getMessage}")
  }

  test("auto-compaction: the artifact maintainer compacts mid-stream, partition count stays bounded, consumers bit-identical to the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    def slice(i: Int) = docs.filter($"doc_id" % 5 === i.toLong)
    val p = java.nio.file.Files.createTempDirectory("graft-autoc").toString
    val twin = java.nio.file.Files.createTempDirectory("graft-autoc-t").toString
    for (t <- Seq(p, twin)) Dedup.writeDedupArtifactHashed(slice(0), t, 0.3)
    val mem = MemoryStream[(Long, String)](spark)
    val q = streaming.Maintenance.dedupArtifact(mem.toDF().toDF("doc_id", "text"), p,
      java.nio.file.Files.createTempDirectory("graft-autoc-ck").toString,
      autoCompactEvery = 2)
    try {
      for (i <- 1 to 4) {
        mem.addData(slice(i).as[(Long, String)].collect().toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    for (i <- 1 to 4)
      Dedup.appendDedupArtifact(slice(i), twin, ingestBatch = i.toLong)
    // bounded: without compaction the nodes part would hold 5 partition
    // dirs (build + 4 batches); the policy folds committed ones en route
    assert(partitionDirs(p, "nodes").size <= 3,
      s"auto-compaction never fired: ${partitionDirs(p, "nodes")}")
    for (part <- Seq("shingles", "bands", "counts", "nodes", "pairs", "clusters"))
      assert(partRows(p, part) == partRows(twin, part),
        s"auto-compacted maintainer diverged from the batch twin on $part")
    assert(spark.read.parquet(s"$p/pairs").count() > 0, "law vacuous")

    // the same law on the IVF-PQ index (codes, vectors) and the packed
    // shard store (spans, tokenizer/vocab), over three small batches: the
    // build plus three batches is four partition dirs uncompacted
    def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
    def bounded(dir: String, parts: Seq[String], what: String): Unit =
      parts.foreach(part => assert(partitionDirs(dir, part).size <= 3,
        s"$what auto-compaction never fired on $part: ${partitionDirs(dir, part)}"))
    def sameAsTwin(dir: String, twinDir: String, parts: Seq[String], what: String): Unit =
      parts.foreach(part => assert(partRows(dir, part) == partRows(twinDir, part),
        s"auto-compacted $what diverged from the batch twin on $part"))

    val emb = Tables.table(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<float>"))
    def vslice(i: Int) = emb.filter($"vec_id" % 4 === i.toLong)
    val idx = tmp("graft-autoc-pq")
    val idxTwin = tmp("graft-autoc-pq-t")
    for (t <- Seq(idx, idxTwin)) Similarity.writeIvfPqIndexSized(vslice(0), t)
    val vmem = MemoryStream[(Long, Array[Float])](spark)
    val vq = streaming.Maintenance.annIndex(vmem.toDF().toDF("vec_id", "embedding"),
      idx, tmp("graft-autoc-pq-ck"), pq = true, autoCompactEvery = 2)
    try {
      for (i <- 1 to 3) {
        vmem.addData(vslice(i).as[(Long, Array[Float])].collect().toSeq: _*)
        vq.processAllAvailable()
      }
    } finally vq.stop()
    for (i <- 1 to 3)
      Similarity.appendIvfPqIndex(vslice(i), idxTwin, ingestBatch = i.toLong)
    bounded(idx, Seq("codes", "vectors"), "IVF-PQ")
    sameAsTwin(idx, idxTwin, Seq("codes", "vectors"), "IVF-PQ index")

    def dslice(i: Int) = docs3.filter($"doc_id" % 4 === i.toLong)
    val pk = tmp("graft-autoc-pk")
    val pkTwin = tmp("graft-autoc-pk-t")
    for (t <- Seq(pk, pkTwin)) TrainingShards.writePackedTokenShards(dslice(0), t, 2, 3, 64)
    val pmem = MemoryStream[(Long, String, String)](spark)
    val pq = streaming.Maintenance.packedShards(pmem.toDF().toDF("doc_id", "source", "text"),
      pk, 2, tmp("graft-autoc-pk-ck"), autoCompactEvery = 2)
    try {
      for (i <- 1 to 3) {
        pmem.addData(dslice(i).as[(Long, String, String)].collect().toSeq: _*)
        pq.processAllAvailable()
      }
    } finally pq.stop()
    for (i <- 1 to 3)
      TrainingShards.appendPackedTokenShards(dslice(i), pkTwin, 2, ingestBatch = i.toLong)
    bounded(pk, Seq("spans", "tokenizer/vocab"), "packed store")
    sameAsTwin(pk, pkTwin, Seq("spans", "tokenizer/vocab"), "packed store")
    assert(TrainingShards.readPackedSpans(spark, pk).collect().map(_.toString).sorted.toSeq ==
      TrainingShards.readPackedSpans(spark, pkTwin).collect().map(_.toString).sorted.toSeq,
      "auto-compacted packed store reads different spans than its batch twin")
  }

  test("dedup coverage record: round-trips, measures label churn at maintenance, gates rebuild on growth OR measured staleness") {
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val p = java.nio.file.Files.createTempDirectory("graft-cov").toString
    Dedup.writeDedupArtifactHashed(
      Seq((10L, t), (11L, t)).toDF("doc_id", "text"), p, 0.3)
    assert(Dedup.dedupCoverage(spark, p).contains((2L, 0L, 0.0, 0L)),
      "build must record (built_n, 0, 0.0, batch 0)")
    assert(!Dedup.dedupArtifactNeedsRebuild(spark, p),
      "a fresh artifact needs no rebuild")
    // the increment near-dups the stored docs AND has a smaller id: the
    // component's canonical label changes for BOTH previously-labeled
    // docs — measured churn 1.0
    Dedup.appendDedupArtifact(Seq((5L, t)).toDF("doc_id", "text"), p,
      ingestBatch = 1L)
    assert(Dedup.dedupCoverage(spark, p).contains((2L, 1L, 1.0, 1L)),
      s"append must measure full label churn: ${Dedup.dedupCoverage(spark, p)}")
    // measured staleness fires regardless of growth; growth fires
    // regardless of staleness; neither fires under both thresholds
    assert(Dedup.dedupArtifactNeedsRebuild(spark, p,
      growthFactor = 99.0, maxStaleFrac = 0.5), "staleness must fire the gate")
    assert(Dedup.dedupArtifactNeedsRebuild(spark, p,
      growthFactor = 1.2, maxStaleFrac = 1.1), "growth must fire the gate")
    assert(!Dedup.dedupArtifactNeedsRebuild(spark, p,
      growthFactor = 99.0, maxStaleFrac = 1.1), "neither threshold crossed")
    // a store with no coverage row (pre-upgrade) degrades to false
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$p/coverage"), true))
    assert(Dedup.dedupCoverage(spark, p).isEmpty)
    assert(!Dedup.dedupArtifactNeedsRebuild(spark, p))
  }

  // ------------------------------------------------- hard-delete rebuild

  test("zero-tombstone rebuild: container bytes, manifest, spans, vocab, params all IDENTICAL to the original build") {
    def zipBytes(dir: String): Map[String, Array[Byte]] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".zip"))
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
    val out = java.nio.file.Files.createTempDirectory("graft-rb0").toString
    TrainingShards.writePackedTokenShards(docs3, out, 4, 3, 64)
    val before = zipBytes(out)
    val spansBefore = TrainingShards.readPackedSpans(spark, out)
      .collect().map(_.toString).sorted.toSeq
    val manBefore = TrainingShards.readManifest(spark, out)
      .collect().map(_.toString).sorted.toSeq
    val vocabBefore = spark.read.parquet(s"$out/tokenizer/vocab")
      .select($"sym", $"token_id").collect().map(_.toString).sorted.toSeq
    TrainingShards.rebuildPackedStore(spark, out, 4)
    val after = zipBytes(out)
    assert(after.keySet == before.keySet)
    before.foreach { case (n, b) =>
      assert(java.util.Arrays.equals(b, after(n)),
        s"zero-tombstone rebuild changed container bytes of $n")
    }
    assert(TrainingShards.readPackedSpans(spark, out)
      .collect().map(_.toString).sorted.toSeq == spansBefore)
    assert(TrainingShards.readManifest(spark, out)
      .collect().map(_.toString).sorted.toSeq == manBefore)
    assert(spark.read.parquet(s"$out/tokenizer/vocab")
      .select($"sym", $"token_id").collect().map(_.toString).sorted.toSeq
      == vocabBefore, "rebuild must carry the vocab ids verbatim")
    // the audit part exists even for a no-op rebuild (it IS the record
    // that a rebuild happened)
    assert(new java.io.File(s"$out/audit/rebuild-1/manifest").exists())
    assert(!new java.io.File(s"$out/_rebuild").exists() &&
      !new java.io.File(s"$out/_rebuild-plan").exists())
  }

  test("rebuild refuses a store whose spans carry a NULL source, before writing anything under _rebuild/") {
    val out = java.nio.file.Files.createTempDirectory("graft-rbnull").toString
    TrainingShards.writePackedTokenShards(docs3, out, 4, 3, 64)
    // one surviving document's spans lose their source, as rows written
    // before the span-source convention read under the merged schema
    val spans = spark.read.parquet(s"$out/spans")
    val batch = spans.agg(max($"ingest_batch").cast("long")).as[Long].head()
    val victim = spans.agg(min($"doc_id")).as[Long].head()
    val nulled = spans.drop("ingest_batch")
      .withColumn("source", when($"doc_id" === victim, lit(null).cast("string"))
        .otherwise($"source"))
      .localCheckpoint(true)
    graft.llm.ArtifactCompaction.writeBatch(nulled, s"$out/spans", batch, dynamic = false)
    val e = intercept[IllegalArgumentException] {
      TrainingShards.rebuildPackedStore(spark, out, 4)
    }
    assert(e.getMessage.contains("NULL source"), e.getMessage)
    assert(!new java.io.File(s"$out/_rebuild").exists() &&
      !new java.io.File(s"$out/_rebuild-plan").exists())
  }

  test("rebuild == a fresh pack of the SURVIVORS' text under the STORED tokenizer; layout metadata consistent; audit preserved") {
    val out = java.nio.file.Files.createTempDirectory("graft-rb1").toString
    val d = docs3
    // build + APPEND before rebuilding: the rebuild must reconstruct
    // across multi-batch spans, containers, and a multi-partition vocab
    // (the append's extension symbols must survive with their ids)
    TrainingShards.writePackedTokenShards(d.filter($"doc_id" % 3 =!= 0),
      out, 4, 3, 64)
    TrainingShards.appendPackedTokenShards(d.filter($"doc_id" % 3 === 0),
      out, 4)
    TrainingShards.addTombstones(spark, out,
      d.filter($"doc_id" % 13 === 0).select("doc_id"), ingestBatch = 1L)
    TrainingShards.writeEpochManifests(spark, out, Seq(1L, 2L))
    val oldSpans = TrainingShards.readPackedSpans(spark, out)
      .collect().map(_.toString).sorted.toSeq
    TrainingShards.rebuildPackedStore(spark, out, 4)
    // expected: tokenize the surviving TEXT with the carried tokenizer,
    // re-run the pack arithmetic with the carried bounds — the rebuild
    // reconstructed the same streams from container BYTES alone
    val survivors = d.filter($"doc_id" % 13 =!= 0)
    val merges = graft.llm.BpeTrainer.loadMerges(spark, s"$out/tokenizer/merges")
    val vocab = spark.read.parquet(s"$out/tokenizer/vocab")
      .select($"sym", $"token_id")
    val wordSyms = graft.llm.BpeTrainer.wordSymSeqsAgainstMerges(survivors, merges)
    val toks = graft.llm.BpeTrainer.tokenIdSeqsFrom(survivors, wordSyms, vocab)
    val prm = spark.read.parquet(s"$out/params").head()
    val expected = TrainingShards.packLayoutFromToks(toks,
        prm.getAs[Int]("budget"),
        prm.getSeq[Long](prm.fieldIndex("bounds")).toArray)
      .packRows
      .groupBy($"pack_seq")
      .agg(concat_ws(",", transform(sort_array(collect_list(
        struct($"pack_pos", $"token_id"))), x => x("token_id"))).as("csv"))
      .as[(Long, String)].collect().toMap
    val decoded = TrainingShards.readPackedTokenShards(spark, out)
      .select($"pack_seq", $"token_csv").as[(Long, String)].collect().toMap
    assert(decoded == expected,
      "rebuilt containers != fresh pack of survivors under the stored tokenizer")
    assert(decoded.nonEmpty, "vacuous rebuild fixture")
    // metadata self-consistency over the NEW store: locations == files,
    // spans == the new layout's spans, no tombstones remain
    assert(TrainingShards.packLocations(spark, out)
      .collect().map(_.toString).sorted.toSeq ==
      TrainingShards.readPackedTokenShards(spark, out)
        .select($"pack_seq", $"shard", $"pos")
        .collect().map(_.toString).sorted.toSeq)
    assert(TrainingShards.readTombstones(spark, out).count() == 0,
      "a hard rebuild leaves no tombstones — the deletion is executed")
    // epoch manifests regenerated over the NEW layout, same epoch ids
    for (e <- Seq(1L, 2L)) {
      assert(TrainingShards.readEpochManifest(spark, out, e)
        .collect().map(_.toString).sorted.toSeq ==
        TrainingShards.epochReadOrder(spark, out, e)
          .select($"ord_key", $"shard", $"pos", $"pack_seq")
          .collect().map(_.toString).sorted.toSeq,
        s"epoch $e manifest not regenerated over the rebuilt layout")
    }
    // the audit part preserves the takedown history the rebuild executed
    val auditTomb = spark.read.parquet(s"$out/audit/rebuild-1/tombstones")
    assert(auditTomb.select($"doc_id").distinct().as[Long].collect().sorted.toSeq
      == d.filter($"doc_id" % 13 === 0).select($"doc_id").as[Long]
        .collect().sorted.toSeq, "audit must preserve the tombstone record")
    assert(spark.read.parquet(s"$out/audit/rebuild-1/spans")
      .select($"pack_seq", $"doc_id", $"start_pos", $"n_tokens")
      .collect().map(_.toString).sorted.toSeq == oldSpans,
      "audit must preserve the pre-rebuild span history")
    // post-rebuild APPEND: the carried tokenizer keeps working, pack and
    // shard ids continue past the rebuilt store's
    val inc = Seq((3000001L, "znew", "zq zq qz alpha")).toDF("doc_id", "source", "text")
    TrainingShards.appendPackedTokenShards(inc, out, 2)
    val all = TrainingShards.readPackedTokenShards(spark, out)
    assert(all.count() > decoded.size, "append after rebuild added no packs")
    assert(TrainingShards.packLocations(spark, out)
      .collect().map(_.toString).sorted.toSeq ==
      all.select($"pack_seq", $"shard", $"pos")
        .collect().map(_.toString).sorted.toSeq,
      "post-rebuild append broke the manifest-derived layout")
  }

  test("no tombstoned token sequence survives in any rebuilt container payload") {
    // sentinel fixture: the tombstoned docs' words exist nowhere else, so
    // their token-id sequences are distinctive by construction
    val fix = Seq(
      (1L, "s1", "alpha beta gamma delta alpha beta"),
      (2L, "s1", "zzsecret1 zzsecret2 zzsecret3 zzsecret4"),
      (3L, "s1", "gamma delta alpha beta gamma delta alpha"),
      (4L, "s2", "epsilon zeta eta theta epsilon zeta"),
      (5L, "s2", "zzhidden1 zzhidden2 zzhidden3"),
      (6L, "s2", "eta theta epsilon zeta eta theta")
    ).toDF("doc_id", "source", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-rb2").toString
    TrainingShards.writePackedTokenShards(fix, out, 2, 2, 8)
    // capture each tombstoned doc's exact token sequence PRE-rebuild
    val merges = graft.llm.BpeTrainer.loadMerges(spark, s"$out/tokenizer/merges")
    val vocab = spark.read.parquet(s"$out/tokenizer/vocab")
      .select($"sym", $"token_id")
    val doomed = fix.filter($"doc_id".isin(2L, 5L))
    val doomedSeqs: Map[Long, Seq[Long]] = graft.llm.BpeTrainer
      .tokenIdSeqsFrom(doomed,
        graft.llm.BpeTrainer.wordSymSeqsAgainstMerges(doomed, merges), vocab)
      .groupBy($"doc_id")
      .agg(transform(sort_array(collect_list(struct($"tidx", $"token_id"))),
        x => x("token_id")).as("seq"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(doomedSeqs.values.forall(_.nonEmpty), "vacuous: doomed docs empty")
    // pre-rebuild the sequences ARE in the store (the law isn't vacuous)
    def allTokenCsv(): String = TrainingShards
      .readPackedTokenShards(spark, out)
      .orderBy($"pack_seq").select($"token_csv").as[String]
      .collect().mkString(",")
    def contains(hay: String, needle: Seq[Long]): Boolean =
      ("(^|,)" + needle.mkString(",") + "(,|$)").r
        .findFirstIn(hay).isDefined
    val preCsv = allTokenCsv()
    assert(doomedSeqs.values.forall(s => contains(preCsv, s)),
      "fixture broken: doomed sequences not in the original store")
    // expectation computed BEFORE the rebuild: the vocab frame's file
    // listing is planned against the pre-rebuild files
    val expectTokens = graft.llm.BpeTrainer
      .tokenIdSeqsFrom(fix.filter(!$"doc_id".isin(2L, 5L)),
        graft.llm.BpeTrainer.wordSymSeqsAgainstMerges(
          fix.filter(!$"doc_id".isin(2L, 5L)), merges), vocab).count()
    TrainingShards.addTombstones(spark, out,
      Seq(2L, 5L).toDF("doc_id"), ingestBatch = 1L)
    TrainingShards.rebuildPackedStore(spark, out, 2)
    // packs are concatenated per source in ascending pack_seq, so the
    // whole store in pack order is a superstring of every surviving run —
    // and must contain NO doomed sequence, even straddling packs
    val postCsv = allTokenCsv()
    doomedSeqs.foreach { case (id, s) =>
      assert(!contains(postCsv, s),
        s"doc $id's token sequence survived the hard rebuild")
    }
    // token conservation: exactly the survivors' tokens remain
    val survTokens = TrainingShards.readPackedTokenShards(spark, out)
      .agg(sum($"n_tokens")).head().getLong(0)
    assert(survTokens == expectTokens, "rebuilt token count != survivors'")
  }

  test("rebuild crash mid-swap: recoverPackedRebuild rolls forward to the exact clean-rebuild state") {
    val d = docs3
    val (cr, cl) = (
      java.nio.file.Files.createTempDirectory("graft-rb-cr").toString,
      java.nio.file.Files.createTempDirectory("graft-rb-cl").toString)
    for (p <- Seq(cr, cl)) {
      TrainingShards.writePackedTokenShards(d, p, 4, 3, 64)
      TrainingShards.addTombstones(spark, p,
        d.filter($"doc_id" % 13 === 0).select("doc_id"), ingestBatch = 1L)
      TrainingShards.writeEpochManifests(spark, p, Seq(1L))
      TrainingShards.writeEpochFeeds(spark, p, Seq(1L))
    }
    TrainingShards.rebuildPackedStore(spark, cl, 4) // the clean reference
    // on cr: build tmp + plan, then crash mid-swap — the audit move of
    // the manifest happened, nothing else (the store is headless: no
    // manifest at all until roll-forward completes)
    TrainingShards.prepareRebuild(spark, cr, 4)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$cr/audit/rebuild-1"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$cr/manifest"),
      new org.apache.hadoop.fs.Path(s"$cr/audit/rebuild-1/manifest")))
    TrainingShards.recoverPackedRebuild(spark, cr)
    def state(p: String): Seq[String] =
      TrainingShards.readPackedTokenShards(spark, p)
        .collect().map(_.toString).sorted.toSeq ++
      TrainingShards.readPackedSpans(spark, p)
        .collect().map(_.toString).sorted.toSeq ++
      TrainingShards.readEpochManifest(spark, p, 1L)
        .collect().map(_.toString).sorted.toSeq ++
      TrainingShards.readEpochFeed(spark, p, 1L)
        .collect().map(_.toString).sorted.toSeq ++
      spark.read.parquet(s"$p/tokenizer/vocab")
        .select($"sym", $"token_id").collect().map(_.toString).sorted.toSeq
    assert(state(cr) == state(cl),
      "mid-swap roll-forward diverged from a clean rebuild")
    assert(!new java.io.File(s"$cr/_rebuild").exists() &&
      !new java.io.File(s"$cr/_rebuild-plan").exists())
    // a crash BEFORE the plan marker rolls BACK: tmp discarded, store intact
    val pre = state(cl)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$cl/_rebuild"))
    TrainingShards.recoverPackedRebuild(spark, cl)
    assert(!new java.io.File(s"$cl/_rebuild").exists())
    assert(state(cl) == pre, "pre-plan rollback must not touch the store")
  }

  // ------------------------------------------------------ per-epoch feed

  test("epochFeed: == readEpochManifest ⋈ activeSpans, every active span exactly once, tombstoned never, positions stable under a fully-tombstoned pack") {
    val d = docs3
    val out = java.nio.file.Files.createTempDirectory("graft-feed").toString
    TrainingShards.writePackedTokenShards(d, out, 4, 3, 64)
    TrainingShards.writeEpochManifests(spark, out, Seq(1L))
    // tombstone the LONGEST document: with budget 64 it fully covers at
    // least one pack, so the feed must keep every other pack's `pos`
    // anchored to the file layout, not to the surviving span set
    val spans = TrainingShards.readPackedSpans(spark, out)
    val longest = spans.groupBy($"doc_id").agg(sum($"n_tokens").as("n"))
      .orderBy($"n".desc, $"doc_id").limit(1)
      .select($"doc_id").as[Long].head()
    val fullPacks = spans.filter($"doc_id" === longest && $"n_tokens" === 64L)
    assert(fullPacks.count() > 0,
      "fixture must contain a pack fully covered by the tombstoned doc")
    TrainingShards.addTombstones(spark, out,
      Seq(longest).toDF("doc_id"), ingestBatch = 1L)
    val feed = TrainingShards.epochFeed(spark, out, 1L)
    val viaManifest = TrainingShards.readEpochManifest(spark, out, 1L)
      .join(TrainingShards.activeSpans(spark, out), "pack_seq")
      .select(lit(1L).as("epoch"), $"ord_key", $"shard", $"pos",
        $"pack_seq", $"doc_id", $"start_pos", $"n_tokens")
    assert(feed.collect().map(_.toString).sorted.toSeq ==
      viaManifest.collect().map(_.toString).sorted.toSeq,
      "fused epochFeed != stored-manifest join")
    // exactly once per active span; tombstoned spans never
    val feedRows = feed.select($"pack_seq", $"doc_id", $"start_pos", $"n_tokens")
      .collect().map(_.toString).sorted.toSeq
    assert(feedRows == TrainingShards.activeSpans(spark, out)
      .collect().map(_.toString).sorted.toSeq,
      "feed must carry every active span exactly once and nothing else")
    assert(feed.filter($"doc_id" === longest).count() == 0)
    // the fully-tombstoned pack is absent from the feed, but every OTHER
    // pack keeps the file-layout position packLocations derives
    val locs = TrainingShards.packLocations(spark, out)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    feed.select($"pack_seq", $"shard", $"pos").distinct()
      .as[(Long, Long, Long)].collect().foreach { case (pk, sh, pos) =>
        assert(locs(pk) == (sh, pos),
          s"pack $pk: feed position ($sh, $pos) != file layout ${locs(pk)}")
      }
  }

  test("stored epoch feeds: == the derived feed, part-file name order IS the read order, per-epoch regeneration; tombstone-debt gate measures and clears") {
    import org.apache.spark.sql.functions.input_file_name
    val d = docs3
    val out = java.nio.file.Files.createTempDirectory("graft-feedstore").toString
    TrainingShards.writePackedTokenShards(d, out, 4, 3, 64)
    // no tombstones: zero debt, gate quiet
    assert(TrainingShards.packedStoreDeadFraction(spark, out) == 0.0)
    assert(!TrainingShards.packedStoreNeedsRebuild(spark, out))
    val spans = TrainingShards.readPackedSpans(spark, out)
    val longest = spans.groupBy($"doc_id").agg(sum($"n_tokens").as("n"))
      .orderBy($"n".desc, $"doc_id").limit(1).select($"doc_id").as[Long].head()
    TrainingShards.addTombstones(spark, out,
      Seq(longest).toDF("doc_id"), ingestBatch = 1L)
    // measured debt == the tombstoned doc's token mass over the total
    val tot = spans.agg(sum($"n_tokens")).head().getLong(0)
    val dead = spans.filter($"doc_id" === longest)
      .agg(sum($"n_tokens")).head().getLong(0)
    val frac = TrainingShards.packedStoreDeadFraction(spark, out)
    assert(math.abs(frac - dead.toDouble / tot) < 1e-12,
      s"dead fraction $frac != $dead/$tot")
    assert(frac > 0.0 && frac < 1.0, "fixture must have partial debt")
    assert(TrainingShards.packedStoreNeedsRebuild(spark, out,
      maxDeadFrac = frac / 2), "gate must fire past its threshold")
    assert(!TrainingShards.packedStoreNeedsRebuild(spark, out,
      maxDeadFrac = frac * 2), "gate must stay quiet under its threshold")
    // stored feeds == the derived feed, for two epochs in one job
    TrainingShards.writeEpochFeeds(spark, out, Seq(1L, 2L))
    for (e <- Seq(1L, 2L)) {
      assert(TrainingShards.readEpochFeed(spark, out, e)
        .collect().map(_.toString).sorted.toSeq ==
        TrainingShards.epochFeed(spark, out, e).drop("epoch")
          .collect().map(_.toString).sorted.toSeq,
        s"stored feed $e != derived feed")
      // the files ARE the order (the epoch-manifest law, on the feed)
      val ranges = spark.read.parquet(s"$out/epoch_feeds")
        .filter($"epoch" === e)
        .select(input_file_name().as("f"), $"ord_key")
        .groupBy($"f").agg(min($"ord_key").as("lo"), max($"ord_key").as("hi"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      // <= not <: feed rows TIE on ord_key (all spans of one pack share
      // pack_seq), so a range boundary may split a pack across two files
      // with prev.hi == next.lo — still name-ordered (review-caught)
      ranges.sliding(2).foreach {
        case Array(a, b) => assert(a._3 <= b._2,
          s"feed $e: file ranges overlap out of name order ($a vs $b)")
        case _ => ()
      }
    }
    // regenerating epoch 1 leaves epoch 2 untouched
    val e2 = TrainingShards.readEpochFeed(spark, out, 2L)
      .collect().map(_.toString).sorted.toSeq
    TrainingShards.writeEpochFeeds(spark, out, Seq(1L))
    assert(TrainingShards.readEpochFeed(spark, out, 2L)
      .collect().map(_.toString).sorted.toSeq == e2)
    // the rebuild clears the debt and regenerates the feeds over the NEW
    // layout (tombstones executed, so the feeds carry every span)
    TrainingShards.rebuildPackedStore(spark, out, 4)
    assert(TrainingShards.packedStoreDeadFraction(spark, out) == 0.0)
    assert(!TrainingShards.packedStoreNeedsRebuild(spark, out))
    for (e <- Seq(1L, 2L)) {
      assert(TrainingShards.readEpochFeed(spark, out, e)
        .collect().map(_.toString).sorted.toSeq ==
        TrainingShards.epochFeed(spark, out, e).drop("epoch")
          .collect().map(_.toString).sorted.toSeq,
        s"rebuild did not regenerate stored feed $e over the new layout")
    }
  }

  test("auto-compaction crash recovery: a kill between plan-marker and rename is rolled forward by the next maintainer trigger") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    def slice(i: Int) = docs.filter($"doc_id" % 5 === i.toLong)
    val p = java.nio.file.Files.createTempDirectory("graft-autoc-cr").toString
    Dedup.writeDedupArtifactHashed(slice(0), p, 0.3)
    for (i <- 1 to 2)
      Dedup.appendDedupArtifact(slice(i), p, ingestBatch = i.toLong)
    val nodesBefore = partRows(p, "nodes")
    // fabricate the mid-swap crash state on the nodes part: complete tmp
    // copy + plan marker, one old partition already deleted — the exact
    // window between writePlan and the rename
    spark.read.parquet(s"$p/nodes")
      .filter($"ingest_batch".cast("long") <= 2L).drop("ingest_batch")
      .coalesce(1).write.parquet(s"$p/nodes/_tmp-compact")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$p/nodes/_compact-plan"), "2".getBytes)
    val fsl = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fsl.delete(
      new org.apache.hadoop.fs.Path(s"$p/nodes/ingest_batch=1"), true))
    // restart the maintainer over the crashed store: the next trigger's
    // compactPart recovers (rolls the swap forward) before compacting
    val mem = MemoryStream[(Long, String)](spark)
    val q = streaming.Maintenance.dedupArtifact(mem.toDF().toDF("doc_id", "text"), p,
      java.nio.file.Files.createTempDirectory("graft-autoc-cr-ck").toString,
      autoCompactEvery = 1)
    try {
      mem.addData(slice(3).as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(partRows(p, "nodes") ==
      (nodesBefore ++ slice(3).select($"doc_id").collect().map(_.toString)).sorted,
      "roll-forward recovery lost or duplicated node rows")
    assert(!new java.io.File(s"$p/nodes/_compact-plan").exists() &&
      !new java.io.File(s"$p/nodes/_tmp-compact").exists(),
      "recovery must clear the protocol files")
  }
}
