package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Specs for the round-12 work: the two-phase distributed prefix sum that
  * replaced the per-source running-sum window (the r11 verdict's last
  * scale-killer shape), the stored-artifact curation twins, and the packed
  * token-shard append path. Fixture oracle parity stays the driver's
  * DuckDB gate; these pin the laws the oracle can't isolate. */
class Round12OpsSpec extends SparkSpec {
  import spark.implicits._

  test("PrefixSum.cumStart == the naive per-source running-sum window, skewed sources + sparse ids") {
    // one source carries 90% of rows (the CommonCrawl-shaped mix the
    // operator exists for); ids are sparse hashes, not dense — the
    // quantile bucketing must not assume density
    val rows = (0 until 2000).map { i =>
      val src = if (i % 10 == 0) s"small${i % 3}" else "bulk"
      // deterministic sparse id, unique: spread plus index to avoid clashes
      val id = (i.toLong * 2654435761L) % 1000000007L * 64 + i
      (id, src, (i % 17) + 1L)
    }
    val df = rows.toDF("doc_id", "source", "n")
    val naive = df.withColumn("cum_start",
      (sum($"n").over(Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - $"n")
        .cast("long"))
    for (nBuckets <- Seq(1, 7, 32)) {
      val two = graft.operators.PrefixSum.cumStart(
        df, "n", df.select($"doc_id"), nBuckets)
      val exp = naive.collect().map(_.toString).sorted.toSeq
      val got = two.collect().map(_.toString).sorted.toSeq
      assert(got == exp, s"prefix sum diverged at nBuckets=$nBuckets")
    }
  }

  test("PrefixSum one-source law: cum_start replays the exact running sum in doc_id order") {
    // the degenerate everything-in-one-source corpus is precisely the case
    // the operator exists for — the law is checked value-by-value against
    // a driver-side replay, independent of any Spark window
    val df = spark.range(5000).select($"id".as("doc_id"),
      lit("bulk").as("source"), ($"id" % 9 + 1).as("n"))
    val two = graft.operators.PrefixSum.cumStart(
      df, "n", df.select($"doc_id"), 16)
    val got = two.orderBy($"doc_id").select($"cum_start").as[Long].collect()
    val ns = df.orderBy($"doc_id").select($"n").as[Long].collect()
    var run = 0L
    got.zip(ns).foreach { case (c, n) => assert(c == run, s"at run=$run"); run += n }
  }

  // ---------------------------------------- packed token-shard append path

  import graft.llm.{BpeTrainer, TrainingShards}

  private def docs3 = Tables.documents(spark, sf)
    .select($"doc_id", $"source", $"text")

  private def packedDecoded(dir: String): Map[(Long, Long, Long), (Long, String)] =
    TrainingShards.readPackedTokenShards(spark, dir)
      .as[(Long, Long, Long, Long, String)].collect()
      .map { case (s, p, q, n, csv) => ((s, p, q), (n, csv)) }.toMap

  private def zipBytes(dir: String): Map[String, Long] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".zip"))
      .map(f => f.getName -> f.length()).toMap

  test("stored-tokenizer apply == training-side decomposition, at sequence level (the text_bpe_apply identity extended)") {
    val d = docs3
    val (merges, words) = BpeTrainer.train(d, 4)
    val trained = BpeTrainer.wordSymsOf(words)
      .select($"word", $"spos", $"sym").as[(String, Int, String)]
      .collect().sorted.toSeq
    val replayed = BpeTrainer.wordSymSeqsAgainstMerges(d,
        merges.map(m => (m.a, m.b)).toArray)
      .as[(String, Int, String)].collect().sorted.toSeq
    assert(replayed == trained,
      "replaying stored merges diverged from the trainer's own decomposition")
  }

  test("packed append: shipped containers byte-stable, replay is a no-op, vocab extension deterministic") {
    val d = docs3
    val a = d.filter($"doc_id" % 3 =!= 0)
    // the fixture alphabet is a–w: the planted doc's 'x'/'z' are symbols
    // the build vocab CANNOT contain, so the extension path is genuinely
    // exercised (asserted non-vacuous below), and its new source
    // exercises the pack-base arithmetic for an unseen source too
    val b = d.filter($"doc_id" % 3 === 0)
      .unionByName(Seq((1000000L, "znew", "zx zx xz zx"))
        .toDF("doc_id", "source", "text"))
    val out = java.nio.file.Files.createTempDirectory("graft-pk-app").toString
    TrainingShards.writePackedTokenShards(a, out, 4, 3, 64)
    val shipped = zipBytes(out)
    TrainingShards.appendPackedTokenShards(b, out, 4) // ad-hoc: batch 1
    val after = zipBytes(out)
    shipped.foreach { case (n, sz) =>
      assert(after(n) == sz, s"append rewrote shipped container $n") }
    assert(after.size == 8)
    // pack ids continue: the increment's packs start at the build's total
    val buildPacks = packedDecoded(out).keysIterator
      .filter(_._1 < 4).map(_._3).toSeq
    val incPacks = packedDecoded(out).keysIterator
      .filter(_._1 >= 4).map(_._3).toSeq
    assert(incPacks.nonEmpty && buildPacks.nonEmpty)
    assert(incPacks.min == buildPacks.max + 1,
      s"increment packs (${incPacks.min}) must continue past the build's (${buildPacks.max})")
    // replay: same batch id, identical store afterward (files AND vocab)
    val before = (packedDecoded(out),
      spark.read.parquet(s"$out/tokenizer/vocab")
        .collect().map(_.toString).sorted.toSeq)
    TrainingShards.appendPackedTokenShards(b, out, 4, ingestBatch = 1L)
    val replayAfter = (packedDecoded(out),
      spark.read.parquet(s"$out/tokenizer/vocab")
        .collect().map(_.toString).sorted.toSeq)
    assert(before == replayAfter, "replayed packed append mutated the store")
    // stored vocab ids are append-only: build symbols keep their ids
    val v = spark.read.parquet(s"$out/tokenizer/vocab")
    val buildMax = v.filter($"ingest_batch" === 0L).agg(max($"token_id"))
      .head().getLong(0)
    val incSyms = v.filter($"ingest_batch" === 1L)
      .select($"sym", $"token_id").as[(String, Long)].collect()
    assert(incSyms.nonEmpty,
      "extension vacuous: the planted 'x'/'z' doc must mint new vocab ids")
    assert(incSyms.map(_._1).toSet.subsetOf(Set("x", "z", "zx", "xz", "zxz", "xzx")),
      s"unexpected extension symbols: ${incSyms.toSeq}")
    assert(incSyms.map(_._2).min > buildMax,
      "increment symbols must extend past the stored vocab")
  }

  test("packed streaming maintainer: stream of micro-batches == explicit packed appends") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val d = docs3
    val seed = d.filter($"doc_id" % 3 === 0)
    val b1 = d.filter($"doc_id" % 3 === 1)
      .as[(Long, String, String)].collect().toSeq
    val b2 = d.filter($"doc_id" % 3 === 2)
      .as[(Long, String, String)].collect().toSeq
    val streamed = java.nio.file.Files.createTempDirectory("graft-pk-st").toString
    val batched = java.nio.file.Files.createTempDirectory("graft-pk-bt").toString
    TrainingShards.writePackedTokenShards(seed, streamed, 4, 3, 64)
    TrainingShards.writePackedTokenShards(seed, batched, 4, 3, 64)
    val mem = MemoryStream[(Long, String, String)](spark)
    val q = streaming.Maintenance.packedShards(
      mem.toDF().toDF("doc_id", "source", "text"), streamed, 4,
      java.nio.file.Files.createTempDirectory("graft-pk-ckpt").toString)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    TrainingShards.appendPackedTokenShards(b1.toDF("doc_id", "source", "text"),
      batched, 4, ingestBatch = 1L)
    TrainingShards.appendPackedTokenShards(b2.toDF("doc_id", "source", "text"),
      batched, 4, ingestBatch = 2L)
    assert(packedDecoded(streamed) == packedDecoded(batched),
      "streamed packed store != batch-append packed store")
    // r13: the span metadata is part of the store contract — the
    // maintainer's spans must equal the batch appends' spans too
    def spansOf(p: String) = TrainingShards.readPackedSpans(spark, p)
      .collect().map(_.toString).sorted.toSeq
    assert(spansOf(streamed) == spansOf(batched),
      "streamed spans != batch-append spans")
    assert(spansOf(streamed).nonEmpty)
  }

  // ------------------------------------- stored-artifact curation twins

  test("pipelineFromClusters over FULL-corpus labels == dedupPipeline's rep-only mine (the structural identity)") {
    // the nontrivial claim: exact copies band identically and connect to
    // their representative at Jaccard 1, so full-corpus components
    // restricted to representatives equal rep-only components, and the
    // keeper/n_reps/n_docs rollup is the same partition either way
    val d = Tables.documents(spark, sf).select($"doc_id", $"text")
    val recompute = graft.llm.Dedup.dedupPipeline(d, 0.4)
      .collect().map(_.toString).sorted.toSeq
    val stored = graft.llm.Dedup.pipelineFromClusters(
        graft.llm.Dedup.dedupClusters(d, 0.4), d)
      .collect().map(_.toString).sorted.toSeq
    assert(stored == recompute, "stored-label pipeline != recompute pipeline")
    assert(recompute.nonEmpty)
  }

  test("curateNearDupFromClusters: stored labels == recomputed labels; keeper gate strictly subsumes exact keeper") {
    val d = Tables.documents(spark, sf)
    val labels = graft.llm.Dedup.dedupClusters(
      d.select($"doc_id", $"text"), 0.4)
    val nd = graft.llm.TextAnalysis.curateNearDupFromClusters(d, labels)
      .collect().map(r => r.getLong(0) -> r.toString).toMap
    // same labels via a parquet round trip (what the stored artifact is)
    val p = java.nio.file.Files.createTempDirectory("graft-ndcur").toString + "/labels"
    labels.write.parquet(p)
    val ndStored = graft.llm.TextAnalysis.curateNearDupFromClusters(
        d, spark.read.parquet(p))
      .collect().map(r => r.getLong(0) -> r.toString).toMap
    assert(nd == ndStored)
    // subsumption: every near-dup keeper is also an exact keeper
    val exact = graft.llm.TextAnalysis.curate(d)
      .select($"doc_id", $"is_keeper").as[(Long, Boolean)].collect().toMap
    val ndKeep = graft.llm.TextAnalysis.curateNearDupFromClusters(d, labels)
      .select($"doc_id", $"is_keeper").as[(Long, Boolean)].collect()
    ndKeep.foreach { case (id, k) =>
      if (k) assert(exact(id), s"nd keeper $id is not an exact keeper") }
    assert(ndKeep.count(_._2) < ndKeep.length, "gate vacuous: nothing dropped")
  }

  test("stale stored labels never erase documents: left-join singleton coalesce in both curation twins") {
    // a stored artifact is a snapshot — documents ingested after its
    // build have no label row; the consumers must default them to
    // singleton clusters (their own keeper), never silently drop them
    val d = Tables.documents(spark, sf)
    val full = graft.llm.Dedup.dedupClusters(d.select($"doc_id", $"text"), 0.4)
    val stale = full.filter($"doc_id" < 250) // artifact built before half the corpus
    val nd = graft.llm.TextAnalysis.curateNearDupFromClusters(d, stale)
    val expectedRows = d.filter($"doc_id" % 101 =!= 0).count()
    assert(nd.count() == expectedRows,
      "stale labels erased documents from the curation report")
    // an unlabeled doc is its own keeper (singleton) unless another gate drops it
    val freshKeeper = nd.filter($"doc_id" >= 250)
      .select($"doc_id", $"is_keeper").as[(Long, Boolean)].collect()
    assert(freshKeeper.nonEmpty && freshKeeper.forall(_._2),
      "label-less docs must be their own keepers")
    val pipe = graft.llm.Dedup.pipelineFromClusters(
      stale, d.select($"doc_id", $"text"))
    val nGroups = d.select($"text").distinct().count()
    assert(pipe.agg(sum($"n_reps")).head().getLong(0) == nGroups,
      "stale labels dropped exact groups from the keeper report")
  }

  test("readers are manifest-gated: an uncommitted container is invisible") {
    val out = java.nio.file.Files.createTempDirectory("graft-mf-gate").toString
    TrainingShards.writeTrainingShards(docs3.limit(50), out, 4)
    // simulate a crash between container renames and the manifest write:
    // a fully-renamed container of a batch whose manifest never landed
    val src = new java.io.File(out, TrainingShards.shardFileName(0L))
    val orphan = new java.io.File(out, TrainingShards.shardFileName(99L))
    java.nio.file.Files.copy(src.toPath, orphan.toPath)
    val shards = TrainingShards.readTrainingShards(spark, out)
      .select($"shard").distinct().as[Long].collect().toSet
    assert(!shards.contains(99L),
      "reader decoded a container the manifest never committed")
    assert(shards == (0L until 4L).toSet)
  }

  test("streaming pipeline e2e: ingest gates -> shard containers; store == gated prefix at every point; crash-replay clean") {
    // the streaming twin of doc_pipeline_e2e's curate→shard composition:
    // after ANY delivered prefix, the shard store must decode to exactly
    // the batch gate's survivors over that prefix — mid-stream, at the
    // end, and across an injected crash in the at-least-once window
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (inDir, outDir, qDir, ckpt, shardDir) =
      (tmp("g12-in"), tmp("g12-out"), tmp("g12-q"), tmp("g12-ck"), tmp("g12-sh"))
    def goodText(p: String) =
      (1 to 8).flatMap(i => Seq("the", s"${p}w$i", s"${p}x$i", s"${p}y$i", s"${p}z$i")).mkString(" ")
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s1","n_chars":${text.length}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f1.json"),
      (doc(1, goodText("a")) + "\n" +
        doc(2, goodText("a")) + "\n" + // exact dup: loses the election
        doc(3, "zz!! ?!? #@!") + "\n").getBytes) // quality-gated away
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = streaming.CorpusIngest.run(spark, inDir, outDir, qDir, ckpt,
      shardDir = Some(shardDir),
      onBatchComplete = { _ =>
        if (!crashed.getAndSet(true))
          throw new RuntimeException("injected crash after writes, before commit")
      })
    try q1.processAllAvailable() catch { case _: Throwable => () }
    q1.stop()
    assert(crashed.get(), "injection never fired")
    // restart from the checkpoint: the uncommitted batch replays under the
    // same id; shard containers + manifest partition are overwritten
    val q2 = streaming.CorpusIngest.run(spark, inDir, outDir, qDir, ckpt,
      shardDir = Some(shardDir))
    def decodedDocs(): Seq[(Long, String)] =
      graft.llm.TrainingShards.readTrainingShards(spark, shardDir)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    try {
      q2.processAllAvailable()
      val mid = decodedDocs()
      assert(mid.map(_._1).sorted == Seq(1L),
        s"mid-stream store != gated prefix: ${mid.map(_._1).sorted}")
      assert(mid.toMap.apply(1L) == goodText("a"))
      // second wave; earlier files not reprocessed, store grows by append
      java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f2.json"),
        (doc(4, goodText("b")) + "\n").getBytes)
      q2.processAllAvailable()
      val fin = decodedDocs()
      assert(fin.map(_._1).sorted == Seq(1L, 4L),
        s"final store != gated prefix (and no crash-replay duplicates): ${fin.map(_._1).sorted}")
      // store content == the curated parquet sink, the two outputs of the
      // same pipeline can never drift
      val curated = spark.read.parquet(outDir)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      assert(fin.sorted == curated.sorted)
    } finally q2.stop()
  }

  test("auto-sized appends: a small increment mints one right-sized container, not nShards near-empty ones") {
    assert(TrainingShards.shardCountFor(0L, 0L) == 1)
    assert(TrainingShards.shardCountFor(1L, 1L) == 1)
    assert(TrainingShards.shardCountFor(256L << 20, 1000L) == 1)
    assert(TrainingShards.shardCountFor((256L << 20) + 1, 1000L) == 2)
    assert(TrainingShards.shardCountFor(10L * (256L << 20), 1000L) == 10)
    // the entries bound: 70k small docs in ~140 MB must NOT land in one
    // shard — bytes alone would hit the writer's 65 535-entry require
    // (entry target = half the cap, headroom for hash skew)
    assert(TrainingShards.shardCountFor(140L << 20, 70000L) == 3)
    assert(TrainingShards.shardCountFor(1L << 20, 65536L) == 3)
    val out = java.nio.file.Files.createTempDirectory("graft-auto").toString
    TrainingShards.writeTrainingShards(docs3.limit(40), out, 4)
    TrainingShards.appendTrainingShards(docs3.filter($"doc_id" >= 40).limit(10), out)
    val man = TrainingShards.readManifest(spark, out).as[(Long, Long, Long)].collect()
    assert(man.length == 5, s"tiny increment should mint ONE shard, got ${man.length - 4}")
    assert(man.map(_._2).sum == 50)
  }
}
