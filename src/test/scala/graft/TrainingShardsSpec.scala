package graft

import graft.llm.{ArtifactCompaction, ShardZip, TrainingShards}
import org.apache.spark.sql.functions._

/** The pipeline's last mile as laws: real container files round-trip
  * byte-exactly, rewrites and replays are idempotent, appends never touch
  * shipped containers, and the streaming maintainer equals its batch
  * twin. Oracle parity of the decoded content itself is the driver's
  * DuckDB gate (doc_shards_roundtrip / _manifest / _append_roundtrip). */
class TrainingShardsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf).select($"doc_id", $"text")

  private def decoded(dir: String): Map[(Long, Long, Long), String] =
    TrainingShards.readTrainingShards(spark, dir)
      .as[(Long, Long, Long, String)].collect()
      .map { case (s, p, d, t) => ((s, p, d), t) }.toMap

  private def fileBytes(dir: String): Map[String, Long] = {
    val d = new java.io.File(dir)
    d.listFiles().filter(_.getName.endsWith(".zip"))
      .map(f => f.getName -> f.length()).toMap
  }

  test("round trip: written containers decode back to the exact corpus at the exact layout") {
    val out = java.nio.file.Files.createTempDirectory("graft-shards-rt").toString
    TrainingShards.writeTrainingShards(docs, out, 16)
    val got = decoded(out)
    val layout = graft.llm.TextAnalysis.shuffleShards(docs, 16)
      .join(docs, "doc_id")
      .select($"shard", $"pos", $"doc_id", $"text")
      .as[(Long, Long, Long, String)].collect()
    assert(got.size == layout.length)
    layout.foreach { case (s, p, d, t) =>
      assert(got((s, p, d)) == t, s"doc $d decoded differently") }
    // the file layout is the contract: every shard id has a container,
    // and no temp debris survives the rename protocol
    val names = new java.io.File(out).listFiles().map(_.getName).toSet
    (0 until 16).foreach(s => assert(names(TrainingShards.shardFileName(s))))
    assert(!names.exists(_.startsWith("_tmp-")), "tmp files leaked")
  }

  test("empty shards are valid zero-entry containers and manifest rows carry zeros") {
    val out = java.nio.file.Files.createTempDirectory("graft-shards-empty").toString
    // a deterministic 3-doc subset — limit() without an order is free to
    // pick different rows on each evaluation of the (unpersisted) plan
    val three = docs.orderBy($"doc_id").limit(3)
    TrainingShards.writeTrainingShards(three, out, 8)
    val man = TrainingShards.readManifest(spark, out)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(man.length == 8, "manifest must cover the full shard range")
    assert(man.map(_._2).sum == 3)
    man.filter(_._2 == 0L).foreach { case (s, _, b) =>
      assert(b == 0L)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        out, TrainingShards.shardFileName(s)))
      assert(ShardZip.entries(bytes).isEmpty, s"shard $s not a valid empty container")
    }
    // manifest n_bytes is the payload arithmetic, not an estimate
    val expBytes = three.agg(sum(octet_length($"text"))).head().getLong(0)
    assert(man.map(_._3).sum == expBytes)
  }

  test("rewrite is idempotent: same corpus, same store") {
    val out = java.nio.file.Files.createTempDirectory("graft-shards-rw").toString
    TrainingShards.writeTrainingShards(docs, out, 16)
    val before = (decoded(out), fileBytes(out),
      TrainingShards.readManifest(spark, out).collect().map(_.toString).sorted.toSeq)
    TrainingShards.writeTrainingShards(docs, out, 16)
    val after = (decoded(out), fileBytes(out),
      TrainingShards.readManifest(spark, out).collect().map(_.toString).sorted.toSeq)
    assert(before == after, "rewrite changed the store")
  }

  test("append never rewrites shipped containers; replayed append is a no-op; batch-id base survives replay") {
    val out = java.nio.file.Files.createTempDirectory("graft-shards-app").toString
    val a = docs.filter($"doc_id" % 3 =!= 0)
    val b = docs.filter($"doc_id" % 3 === 0)
    TrainingShards.writeTrainingShards(a, out, 16)
    val shipped = fileBytes(out)
    TrainingShards.appendTrainingShards(b, out, 16) // ad-hoc: batch 1
    val afterAppend = fileBytes(out)
    // increment landed as NEW ids past the build's; the build's container
    // bytes are untouched — a training job mid-consumption never observes
    // a shipped file changing under it
    shipped.foreach { case (n, sz) =>
      assert(afterAppend(n) == sz, s"append rewrote shipped container $n") }
    assert(afterAppend.size == 32)
    // decoded union == full corpus content
    val got = decoded(out)
    assert(got.size == docs.count())
    assert(got.values.toSeq.sorted ==
      docs.select($"text").as[String].collect().toSeq.sorted)
    // manifest covers both batches' full ranges
    val man = TrainingShards.readManifest(spark, out)
      .as[(Long, Long, Long)].collect()
    assert(man.map(_._1).sorted.toSeq == (0L until 32L))
    assert(man.map(_._2).sum == docs.count())
    // exactly-once replay: the same batch id re-derives the same shard-id
    // base (manifest rows of EARLIER batches only), renames over the same
    // files, rewrites only its own manifest partition — nothing changes
    val before = (got, TrainingShards.readManifest(spark, out)
      .collect().map(_.toString).sorted.toSeq)
    TrainingShards.appendTrainingShards(b, out, 16, ingestBatch = 1L)
    val after = (decoded(out), TrainingShards.readManifest(spark, out)
      .collect().map(_.toString).sorted.toSeq)
    assert(before == after, "replayed append mutated the store")
  }

  test("append onto a store whose manifest has no rows starts at batch 1, shard 0, pack 0") {
    // a schema-bearing manifest with zero rows, in place of whatever the
    // store's build committed
    def emptyManifest(dir: String): Unit = {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/manifest"))
      Seq.empty[(Long, Long, Long)].toDF("shard", "n_docs", "n_bytes")
        .write.parquet(s"$dir/manifest/ingest_batch=0")
      assert(TrainingShards.readManifest(spark, dir).count() == 0L)
    }
    val inc = docs.filter($"doc_id" % 3 === 0)
    val store = java.nio.file.Files.createTempDirectory("graft-shards-nomf").toString
    emptyManifest(store)
    TrainingShards.appendTrainingShards(inc, store, 4)
    assert(TrainingShards.readManifest(spark, store).select($"shard").as[Long]
      .collect().sorted.toSeq == (0L until 4L))
    assert(decoded(store).keys.map(_._3).toSeq.sorted ==
      inc.select($"doc_id").as[Long].collect().toSeq.sorted)

    val d = Tables.documents(spark, sf)
    val packed = java.nio.file.Files.createTempDirectory("graft-shards-nomf-pk").toString
    TrainingShards.writePackedTokenShards(d.filter($"doc_id" % 3 =!= 0), packed, 4, 3, 32)
    emptyManifest(packed)
    TrainingShards.appendPackedTokenShards(d.filter($"doc_id" % 3 === 0), packed, 4)
    val man = spark.read.parquet(s"$packed/manifest")
      .select($"shard", $"ingest_batch".cast("long")).as[(Long, Long)].collect()
    assert(man.toSeq.sorted == (0L until 4L).map(_ -> 1L))
    val packs = TrainingShards.readPackedTokenShards(spark, packed)
      .select($"pack_seq").as[Long].collect().sorted.toSeq
    assert(packs.nonEmpty && packs == packs.indices.map(_.toLong),
      "the first committed packs must be numbered densely from 0")
  }

  test("streaming maintainer: stream of micro-batches == explicit batch appends") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val seed = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1).as[(Long, String)].collect().toSeq
    val b2 = docs.filter($"doc_id" % 3 === 2).as[(Long, String)].collect().toSeq
    val streamed = java.nio.file.Files.createTempDirectory("graft-shards-st").toString
    val batched = java.nio.file.Files.createTempDirectory("graft-shards-bt").toString
    TrainingShards.writeTrainingShards(seed, streamed, 4)
    TrainingShards.writeTrainingShards(seed, batched, 4)
    val mem = MemoryStream[(Long, String)](spark)
    val q = streaming.Maintenance.trainingShards(mem.toDF().toDF("doc_id", "text"),
      streamed, 4,
      java.nio.file.Files.createTempDirectory("graft-shards-ckpt").toString)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    TrainingShards.appendTrainingShards(b1.toDF("doc_id", "text"), batched, 4,
      ingestBatch = 1L)
    TrainingShards.appendTrainingShards(b2.toDF("doc_id", "text"), batched, 4,
      ingestBatch = 2L)
    assert(decoded(streamed) == decoded(batched),
      "streamed store != batch-append store")
    assert(TrainingShards.readManifest(spark, streamed)
        .collect().map(_.toString).sorted.toSeq ==
      TrainingShards.readManifest(spark, batched)
        .collect().map(_.toString).sorted.toSeq)
  }

  test("packed token shards: files round-trip the exact global token stream; packs straddle documents") {
    val d = Tables.documents(spark, sf)
    val (k, budget, nShards) = (3, 32, 4)
    val out = java.nio.file.Files.createTempDirectory("graft-shards-pk").toString
    TrainingShards.writePackedTokenShards(d, out, nShards, k, budget)
    val decoded = TrainingShards.readPackedTokenShards(spark, out)
      .as[(Long, Long, Long, Long, String)].collect()
    // the global-stream law: concatenating decoded packs in pack_seq order
    // reproduces the corpus token stream in (source, doc_id, tidx) order —
    // pack ids are per-source-base + window index, so pack order IS stream
    // order; any mis-split, mis-shuffle, or byte-level encode bug breaks it
    val streamed = decoded.sortBy(_._3).flatMap(_._5.split(",")).toSeq
    val toks = graft.llm.BpeTrainer.bpeTokenIdSeqs(d, k)
      .orderBy($"source", $"doc_id", $"tidx")
      .select($"token_id").as[Long].collect().map(_.toString).toSeq
    assert(streamed == toks, "decoded pack stream != corpus token stream")
    // fixed-budget law: every pack is exactly `budget` tokens except each
    // source's tail pack
    val nSources = d.select($"source").distinct().count()
    assert(decoded.count(_._4 != budget) <= nSources,
      "more short packs than sources — a pack was cut early")
    // the straddle is exercised, not vacuous: some document is longer than
    // the budget, so its tokens MUST span >= 2 packs
    val maxDocTokens = graft.llm.BpeTrainer.bpeTokenIdSeqs(d, k)
      .groupBy("doc_id").count().agg(max("count")).head().getLong(0)
    assert(maxDocTokens > budget, "fixture too short to exercise straddling")
  }

  test("non-ZIP64 reader scope is enforced at write time") {
    // 65 536 single-char docs into ONE shard must trip the entries bound
    val wide = spark.range(65536 + 8)
      .select($"id".as("doc_id"), lit("x").as("text"))
    val out = java.nio.file.Files.createTempDirectory("graft-shards-cap").toString
    val e = intercept[org.apache.spark.SparkException] {
      TrainingShards.writeTrainingShards(wide, out, 1)
    }
    assert(e.getMessage.contains("non-ZIP64") ||
      Option(e.getCause).exists(_.getMessage.contains("non-ZIP64")))
  }

  // ---- the ingest_batch part protocol every appendable store shares

  private def tmpPart(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-part-$tag").toString + "/part"

  test("part protocol: readOptional is None only for a missing or schema-less part; other analysis errors propagate") {
    val missing = tmpPart("missing")
    // an existing directory with no data files
    val bare = tmpPart("bare")
    new java.io.File(bare).mkdirs()
    // a zero-row build writes no partition dirs, only its _SUCCESS marker
    val zero = tmpPart("zero")
    ArtifactCompaction.writeBatch(spark.range(0).toDF("doc_id"), zero, 0L,
      dynamic = false)
    val probed = Seq(missing, bare, zero)
    // none of them is found by a failed read: a failed read is a failed
    // query execution that every execution listener hears. The marker
    // query after them is delivered after any failure the probes caused
    // (one listener bus, in posting order).
    val failedProbes = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.schema.fieldNames.contains("read_optional_marker")) markerSeen.countDown()
      def onFailure(funcName: String,
                    qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = {
        val msg = String.valueOf(exception.getMessage)
        if (probed.exists(msg.contains) || msg.contains("UNABLE_TO_INFER_SCHEMA"))
          failedProbes.incrementAndGet()
      }
    }
    spark.listenerManager.register(listener)
    try {
      probed.foreach(p => assert(ArtifactCompaction.readOptional(spark, p).isEmpty, p))
      spark.range(1).toDF("read_optional_marker").collect()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(failedProbes.get() == 0, "readOptional issued a failing read of a part with no data files")
    } finally spark.listenerManager.unregister(listener)
    val stored = tmpPart("stored")
    ArtifactCompaction.writeBatch(Seq(1L, 2L).toDF("doc_id"), stored, 3L,
      dynamic = false)
    assert(ArtifactCompaction.readOptional(spark, stored).map(
      _.select($"doc_id", $"ingest_batch").as[(Long, Long)].collect().toSet)
      .contains(Set((1L, 3L), (2L, 3L))))
    // columns that differ only by case are a duplicate under the default
    // case-insensitive analysis: COLUMN_ALREADY_EXISTS must not read as
    // an empty store
    val dup = tmpPart("dup")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try Seq((1L, 2L)).toDF("a", "A").write.parquet(dup)
    finally spark.conf.set("spark.sql.caseSensitive", "false")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ArtifactCompaction.readOptional(spark, dup)
    }
    assert(e.getCondition == "COLUMN_ALREADY_EXISTS", e.getMessage)
  }

  test("part protocol: batchIds lists exactly the ingest_batch partition dirs, gaps kept, scratch and plain files ignored") {
    val missing = tmpPart("ids-missing")
    assert(ArtifactCompaction.batchIds(spark, missing).isEmpty)
    val p = tmpPart("ids")
    Seq(0L, 2L, 5L).foreach(b =>
      ArtifactCompaction.writeBatch(Seq(b).toDF("doc_id"), p, b, dynamic = true))
    new java.io.File(p, "_tmp-compact").mkdirs()
    assert(new java.io.File(p, "ingest_batch=7").createNewFile())
    assert(new java.io.File(p, "README").createNewFile())
    assert(ArtifactCompaction.batchIds(spark, p).sorted == Seq(0L, 2L, 5L))
  }

  test("part protocol: nextBatch is whenEmpty on a missing or zero-row part, max + 1 after batches") {
    val p = tmpPart("next")
    assert(ArtifactCompaction.nextBatch(spark, p, 7L) == 7L)
    // a zero-row build writes no partition dirs at all
    ArtifactCompaction.writeBatch(spark.range(0).toDF("doc_id"), p, 0L,
      dynamic = false)
    assert(ArtifactCompaction.batchIds(spark, p).isEmpty)
    assert(ArtifactCompaction.nextBatch(spark, p, 1L) == 1L)
    assert(ArtifactCompaction.nextBatch(spark, p, 0L) == 0L)
    ArtifactCompaction.writeBatch(Seq(10L).toDF("doc_id"), p, 0L, dynamic = false)
    ArtifactCompaction.writeBatch(Seq(11L).toDF("doc_id"), p, 3L, dynamic = true)
    assert(ArtifactCompaction.nextBatch(spark, p, 1L) == 4L)
    // dynamic overwrite replaced only batch 3; static replaces the part
    ArtifactCompaction.writeBatch(Seq(12L).toDF("doc_id"), p, 3L, dynamic = true)
    assert(spark.read.parquet(p).select($"doc_id", $"ingest_batch".cast("long"))
      .as[(Long, Long)].collect().toSet == Set((10L, 0L), (12L, 3L)))
    ArtifactCompaction.writeBatch(Seq(13L).toDF("doc_id"), p, 0L, dynamic = false)
    assert(ArtifactCompaction.batchIds(spark, p) == Seq(0L))
  }
}
