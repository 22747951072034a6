package graft

import org.apache.spark.sql.functions._

/** Specs for the round-13 work: the packed store's pack→document span
  * metadata (tiling + provenance laws), the manifest-derived pack
  * locations, per-epoch read-order manifests, and the persisted
  * prefix-sum bucket boundaries. Fixture oracle parity stays the
  * driver's DuckDB gate; these pin the laws the oracle can't isolate —
  * especially everything on the APPEND side of the store, which the
  * spans oracle (build-only) doesn't reach. */
class Round13OpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.llm.TrainingShards

  private def docs3 = Tables.documents(spark, sf)
    .select($"doc_id", $"source", $"text")

  /** Build two-thirds + append one-third — the store every test reads. */
  private lazy val store: String = {
    val out = java.nio.file.Files.createTempDirectory("graft-r13").toString
    val d = docs3
    TrainingShards.writePackedTokenShards(d.filter($"doc_id" % 3 =!= 0),
      out, 4, 3, 64)
    TrainingShards.appendPackedTokenShards(d.filter($"doc_id" % 3 === 0),
      out, 4)
    out
  }

  test("cumStartWithBounds is bucket-invariant for ARBITRARY boundary arrays — unsorted, duplicated, negative, out-of-range") {
    import org.apache.spark.sql.expressions.Window
    val rows = (0 until 1500).map { i =>
      val src = if (i % 7 == 0) "small" else "bulk"
      // unique by construction: the +i low bits break any modular collision
      ((i.toLong * 2654435761L) % 1000000007L * 64 + i, src, (i % 13) + 1L)
    }
    val df = rows.toDF("doc_id", "source", "n")
    val naive = df.withColumn("cum_start",
      (sum($"n").over(Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - $"n")
        .cast("long"))
      .collect().map(_.toString).sorted.toSeq
    // bucket = #boundaries <= id is monotone in the id for ANY multiset
    // of longs — sortedness, duplicates, sign, and range are all balance
    // knobs, never correctness ones (what makes STALE stored bounds safe)
    val cases = Seq(
      Array.empty[Long],
      Array(500000L, 100L, 500000L, -77L, Long.MaxValue, 999999999L),
      Array(-1L, -2L, -3L),
      Array.tabulate(64)(i => (i.toLong * 7919L) % 1000003L))
    cases.zipWithIndex.foreach { case (bounds, i) =>
      val got = graft.operators.PrefixSum.cumStartWithBounds(df, "n", bounds)
        .collect().map(_.toString).sorted.toSeq
      assert(got == naive, s"prefix sum diverged for boundary case $i")
    }
  }

  test("spans tile every pack exactly: contiguous from 0, sums equal the decoded token counts, build AND append batches") {
    val spans = TrainingShards.readPackedSpans(spark, store)
      .as[(Long, Long, Long, Long)].collect()
    val decoded = TrainingShards.readPackedTokenShards(spark, store)
      .select($"pack_seq", $"n_tokens").as[(Long, Long)].collect().toMap
    // every decoded pack has spans and vice versa
    assert(spans.map(_._1).toSet == decoded.keySet,
      "span pack set != decoded pack set")
    spans.groupBy(_._1).foreach { case (pk, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"pack $pk: first span starts at ${sorted.head._3}")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 + a._4 == b._3,
            s"pack $pk: gap/overlap between spans at ${a._3 + a._4} vs ${b._3}")
        case _ => ()
      }
      assert(sorted.map(_._4).sum == decoded(pk),
        s"pack $pk: span lengths don't sum to the decoded token count")
      assert(ss.forall(_._4 > 0), s"pack $pk: zero-length span")
    }
    // per-document: span lengths sum to the document's own token count
    // (replayed against the store's tokenizer via the decoded stream is
    // overkill — the pack tiling above plus this conservation law pins it)
    val merges = spark.read.parquet(s"$store/tokenizer/merges")
      .orderBy($"step").select($"pair_a", $"pair_b")
      .as[(String, String)].collect()
    val docLens = graft.llm.BpeTrainer
      .wordLensAgainstMerges(docs3, merges)
      .join(docs3.select($"doc_id",
        explode(split($"text", " ")).as("word"))
        .filter(length($"word") >= 1), "word")
      .groupBy("doc_id").agg(sum($"n_syms").as("n"))
      .as[(Long, Long)].collect().toMap
    val byDoc = spans.groupBy(_._2).view.mapValues(_.map(_._4).sum)
    byDoc.foreach { case (doc, n) =>
      assert(docLens(doc) == n,
        s"doc $doc: spans sum to $n, tokenizer says ${docLens(doc)}")
    }
    assert(byDoc.keySet == docLens.keySet.filter(docLens(_) > 0L),
      "every tokenized doc must have spans (and only those)")
  }

  test("packLocations (manifest-only) == the decoded containers' (shard, pos, pack_seq), across build + append") {
    val fromManifest = TrainingShards.packLocations(spark, store)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val fromFiles = TrainingShards.readPackedTokenShards(spark, store)
      .select($"pack_seq", $"shard", $"pos")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(fromManifest == fromFiles,
      "manifest-derived pack locations diverged from the files on disk")
  }

  test("epoch read orders: bijective per epoch, cover every pack exactly once, deterministic, epoch-distinct") {
    val total = TrainingShards.packLocations(spark, store).count()
    val e1 = TrainingShards.epochReadOrder(spark, store, 1L)
      .as[(Long, Long, Long, Long, Long)].collect()
    val e1again = TrainingShards.epochReadOrder(spark, store, 1L)
      .as[(Long, Long, Long, Long, Long)].collect()
    val e2 = TrainingShards.epochReadOrder(spark, store, 2L)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(e1.sorted.toSeq == e1again.sorted.toSeq, "epoch order not deterministic")
    for ((e, n) <- Seq((e1, 1), (e2, 2))) {
      assert(e.length == total, s"epoch $n: not every pack exactly once")
      assert(e.map(_._5).distinct.length == e.length, s"epoch $n: repeated pack")
      assert(e.map(_._2).distinct.length == e.length,
        s"epoch $n: ord_key collision — not a permutation")
    }
    // different epochs read in genuinely different orders
    val ord1 = e1.sortBy(_._2).map(_._5).toSeq
    val ord2 = e2.sortBy(_._2).map(_._5).toSeq
    assert(ord1 != ord2, "epoch 1 and 2 produced the same read order")
    assert(ord1.toSet == ord2.toSet, "epochs must cover the same pack set")
  }

  test("tombstones: active spans shrink cumulatively, replays are no-ops, containers untouched, the part compacts") {
    val d = docs3
    val out = java.nio.file.Files.createTempDirectory("graft-tomb").toString
    TrainingShards.writePackedTokenShards(d, out, 4, 3, 64)
    def zipBytes(): Map[String, Long] =
      new java.io.File(out).listFiles().filter(_.getName.endsWith(".zip"))
        .map(f => f.getName -> f.length()).toMap
    val shipped = zipBytes()
    def active() = TrainingShards.activeSpans(spark, out)
      .collect().map(_.toString).sorted.toSeq
    val all = TrainingShards.readPackedSpans(spark, out)
    assert(active() == all.collect().map(_.toString).sorted.toSeq,
      "no tombstones: active == all spans")
    TrainingShards.addTombstones(spark, out,
      d.filter($"doc_id" % 5 === 0).select("doc_id"), ingestBatch = 1L)
    val after1 = active()
    assert(after1 == all.filter($"doc_id" % 5 =!= 0)
      .collect().map(_.toString).sorted.toSeq, "batch-1 takedown wrong")
    // replay: same batch id, identical outcome
    TrainingShards.addTombstones(spark, out,
      d.filter($"doc_id" % 5 === 0).select("doc_id"), ingestBatch = 1L)
    assert(active() == after1, "replayed takedown changed the result")
    // second takedown batch composes cumulatively
    TrainingShards.addTombstones(spark, out,
      d.filter($"doc_id" % 7 === 0).select("doc_id"), ingestBatch = 2L)
    val after2 = active()
    assert(after2 == all.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 7 =!= 0)
      .collect().map(_.toString).sorted.toSeq, "cumulative takedown wrong")
    // the removal is a record: not one shipped container byte changed
    assert(zipBytes() == shipped, "takedown must not rewrite containers")
    // the tombstone part is an ingest_batch part like any other: compacts
    TrainingShards.addTombstones(spark, out,
      d.filter($"doc_id" % 11 === 0).select("doc_id"), ingestBatch = 3L)
    TrainingShards.compactTombstones(spark, out, upTo = 3L)
    assert(partitionDirs(out, "tombstones") == Seq("ingest_batch=3"))
    assert(active() == all.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 7 =!= 0
        && $"doc_id" % 11 =!= 0)
      .collect().map(_.toString).sorted.toSeq, "compacted takedown wrong")
  }

  test("streaming tombstone maintainer: stream of takedown requests == explicit tombstone batches, forced replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val d = docs3
    val out = java.nio.file.Files.createTempDirectory("graft-st-tomb").toString
    val twin = java.nio.file.Files.createTempDirectory("graft-bt-tomb").toString
    TrainingShards.writePackedTokenShards(d, out, 4, 3, 64)
    TrainingShards.writePackedTokenShards(d, twin, 4, 3, 64)
    val r1 = d.filter($"doc_id" % 5 === 0).select($"doc_id").as[Long].collect().toSeq
    val r2 = d.filter($"doc_id" % 7 === 0).select($"doc_id").as[Long].collect().toSeq
    val mem = MemoryStream[Long](spark)
    val q = streaming.Maintenance.tombstones(
      mem.toDF().toDF("doc_id"), out,
      java.nio.file.Files.createTempDirectory("graft-st-tomb-ck").toString)
    try {
      mem.addData(r1: _*); q.processAllAvailable()
      mem.addData(r2: _*); q.processAllAvailable()
    } finally q.stop()
    TrainingShards.addTombstones(spark, twin, r1.toDF("doc_id"), ingestBatch = 1L)
    TrainingShards.addTombstones(spark, twin, r2.toDF("doc_id"), ingestBatch = 2L)
    def active(p: String) = TrainingShards.activeSpans(spark, p)
      .collect().map(_.toString).sorted.toSeq
    assert(active(out) == active(twin),
      "streamed takedowns != explicit tombstone batches")
    assert(active(out).size < TrainingShards.readPackedSpans(spark, out).count(),
      "vacuous: takedowns removed nothing")
    // forced same-batch replay rewrites bit-identically
    val before = active(out)
    TrainingShards.addTombstones(spark, out, r2.toDF("doc_id"), ingestBatch = 2L)
    assert(active(out) == before, "replayed takedown batch mutated the record")
  }

  test("stored epoch manifests: content == the derived order, part-file name order IS the global ord_key order, per-epoch overwrite idempotent") {
    import org.apache.spark.sql.functions.input_file_name
    TrainingShards.writeEpochManifests(spark, store, Seq(1L, 2L))
    for (e <- Seq(1L, 2L)) {
      val stored = TrainingShards.readEpochManifest(spark, store, e)
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      val derived = TrainingShards.epochReadOrder(spark, store, e)
        .select($"ord_key", $"shard", $"pos", $"pack_seq")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      assert(stored == derived, s"epoch $e manifest content diverged")
      // the files ARE the order: per-file ord_key ranges, sorted by file
      // name, must be ascending and non-overlapping (range partitioning)
      val ranges = spark.read.parquet(s"$store/epochs")
        .filter($"epoch" === e)
        .select(input_file_name().as("f"), $"ord_key")
        .groupBy($"f").agg(min($"ord_key").as("lo"), max($"ord_key").as("hi"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array(a, b) => assert(a._3 < b._2,
          s"epoch $e: file ranges overlap out of name order ($a vs $b)")
        case _ => ()
      }
    }
    // regenerating one epoch rewrites only its partition, bit-identically
    val e2Before = TrainingShards.readEpochManifest(spark, store, 2L)
      .collect().map(_.toString).sorted.toSeq
    TrainingShards.writeEpochManifests(spark, store, Seq(1L))
    assert(TrainingShards.readEpochManifest(spark, store, 2L)
      .collect().map(_.toString).sorted.toSeq == e2Before,
      "regenerating epoch 1 must not touch epoch 2")
  }

  test("takedown consumer: packsContaining finds exactly the spans' packs for the target docs") {
    val target = docs3.filter($"doc_id" % 5 === 0).select($"doc_id")
    val got = TrainingShards.packsContaining(spark, store, target)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val spanSide = TrainingShards.readPackedSpans(spark, store)
      .filter($"doc_id" % 5 === 0)
      .join(TrainingShards.packLocations(spark, store), "pack_seq")
      .select($"doc_id", $"pack_seq", $"shard", $"pos", $"start_pos",
        $"n_tokens")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == spanSide)
    assert(got.nonEmpty, "vacuous takedown: no target doc landed in any pack")
  }

  test("stored prefix-sum bounds: appends under DIFFERENT boundaries produce byte-identical containers and spans") {
    def zipBytes(dir: String): Map[String, Array[Byte]] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".zip"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath)).toMap
    val d = docs3
    val a = d.filter($"doc_id" % 3 =!= 0)
    val b = d.filter($"doc_id" % 3 === 0)
    val s1 = java.nio.file.Files.createTempDirectory("graft-bnd1").toString
    val s2 = java.nio.file.Files.createTempDirectory("graft-bnd2").toString
    TrainingShards.writePackedTokenShards(a, s1, 4, 3, 64)
    TrainingShards.writePackedTokenShards(a, s2, 4, 3, 64)
    // tamper s2's stored boundaries: single-bucket (empty) — the most
    // degenerate monotone bucketing there is
    val prm = spark.read.parquet(s"$s2/params")
      .select($"k", $"budget").head()
    Seq((prm.getInt(0), prm.getInt(1), Seq.empty[Long]))
      .toDF("k", "budget", "bounds")
      .write.mode("overwrite").parquet(s"$s2/params.new")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$s2/params"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$s2/params.new"),
      new org.apache.hadoop.fs.Path(s"$s2/params"))
    TrainingShards.appendPackedTokenShards(b, s1, 4)
    TrainingShards.appendPackedTokenShards(b, s2, 4)
    val (z1, z2) = (zipBytes(s1), zipBytes(s2))
    assert(z1.keySet == z2.keySet)
    z1.foreach { case (n, bytes) =>
      assert(java.util.Arrays.equals(bytes, z2(n)),
        s"container $n differs under different prefix-sum boundaries")
    }
    val sp1 = TrainingShards.readPackedSpans(spark, s1)
      .collect().map(_.toString).sorted.toSeq
    val sp2 = TrainingShards.readPackedSpans(spark, s2)
      .collect().map(_.toString).sorted.toSeq
    assert(sp1 == sp2, "spans differ under different prefix-sum boundaries")
  }

  test("packed-store metadata compaction: spans + vocab merge, readers and a post-compaction append bit-identical; manifest untouched") {
    val d = docs3
    val (sA, sB) = (
      java.nio.file.Files.createTempDirectory("graft-pkc-a").toString,
      java.nio.file.Files.createTempDirectory("graft-pkc-b").toString)
    for (p <- Seq(sA, sB)) {
      TrainingShards.writePackedTokenShards(d.filter($"doc_id" % 3 === 0), p, 4, 3, 64)
      TrainingShards.appendPackedTokenShards(d.filter($"doc_id" % 3 === 1), p, 4)
      TrainingShards.appendPackedTokenShards(d.filter($"doc_id" % 3 === 2), p, 4)
    }
    def spansOf(p: String) = TrainingShards.readPackedSpans(spark, p)
      .collect().map(_.toString).sorted.toSeq
    def vocabOf(p: String) = spark.read.parquet(s"$p/tokenizer/vocab")
      .select($"sym", $"token_id").collect().map(_.toString).sorted.toSeq
    val (spBefore, vBefore) = (spansOf(sB), vocabOf(sB))
    TrainingShards.compactPackedMetadata(spark, sB, upTo = 2L)
    assert(partitionDirs(sB, "spans") == Seq("ingest_batch=2"))
    assert(spansOf(sB) == spBefore, "compaction changed the span table")
    assert(vocabOf(sB) == vBefore, "compaction changed the vocab")
    // the manifest keeps ALL its per-batch partitions (packLocations needs
    // the per-batch granularity), and the layout replay still matches the
    // files after metadata compaction
    assert(partitionDirs(sB, "manifest").size == 3)
    assert(TrainingShards.packLocations(spark, sB)
      .collect().map(_.toString).sorted.toSeq ==
      TrainingShards.readPackedTokenShards(spark, sB)
        .select($"pack_seq", $"shard", $"pos")
        .collect().map(_.toString).sorted.toSeq)
    // a FUTURE append (stored tokenizer: the merged vocab must still
    // resolve and extend correctly) lands identically on both twins
    val inc = Seq((2000000L, "znew", "zq zq qz")).toDF("doc_id", "source", "text")
    for (p <- Seq(sA, sB)) TrainingShards.appendPackedTokenShards(inc, p, 2)
    assert(spansOf(sA) == spansOf(sB), "post-compaction append diverged on spans")
    assert(vocabOf(sA) == vocabOf(sB), "post-compaction append diverged on vocab")
    assert(TrainingShards.readPackedTokenShards(spark, sA)
      .collect().map(_.toString).sorted.toSeq ==
      TrainingShards.readPackedTokenShards(spark, sB)
        .collect().map(_.toString).sorted.toSeq,
      "post-compaction append diverged on decoded containers")
  }

  // -------------------------------------------------- artifact compaction

  import graft.llm.{Dedup, Similarity}

  private def partRows(path: String, part: String): Seq[String] =
    spark.read.parquet(s"$path/$part").drop("ingest_batch")
      .collect().map(_.toString).sorted.toSeq

  private def partitionDirs(path: String, part: String): Seq[String] =
    new java.io.File(s"$path/$part").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .map(_.getName).sorted.toSeq

  test("dedup-artifact compaction: reports bit-identical, partitions merged, post-compaction append identical to the uncompacted twin") {
    val d = Tables.documents(spark, sf).select($"doc_id", $"source", $"text")
    def thirds(i: Int) = d.filter($"doc_id" % 4 === i.toLong)
    val pA = java.nio.file.Files.createTempDirectory("graft-cmp-a").toString
    val pB = java.nio.file.Files.createTempDirectory("graft-cmp-b").toString
    for (p <- Seq(pA, pB)) {
      Dedup.writeDedupArtifactHashed(thirds(0), p, 0.4)
      Dedup.appendDedupArtifact(thirds(1), p)
      Dedup.appendDedupArtifact(thirds(2), p)
    }
    val parts = Seq("shingles", "bands", "counts", "nodes")
    val before = parts.map(partRows(pB, _))
    assert(partitionDirs(pB, "nodes").size == 3)
    // explicit watermark (this test ran every append synchronously, so
    // batch 2 is committed); the no-arg default's newest-batch exclusion
    // is asserted separately below
    Dedup.compactDedupArtifact(spark, pB, upTo = 2L)
    assert(partitionDirs(pB, "nodes") == Seq("ingest_batch=2"),
      "compaction must leave exactly one partition dir")
    // every per-document part bit-identical (modulo the partition column)
    parts.zip(before).foreach { case (p, b) =>
      assert(partRows(pB, p) == b, s"compaction changed part $p") }
    // a FUTURE append lands identically on compacted and uncompacted twins
    for (p <- Seq(pA, pB)) Dedup.appendDedupArtifact(thirds(3), p)
    parts.foreach { p =>
      assert(partRows(pA, p) == partRows(pB, p),
        s"post-compaction append diverged on $p") }
    assert(partRows(pA, "pairs") == partRows(pB, "pairs"))
    assert(partRows(pA, "clusters") == partRows(pB, "clusters"))
    assert(spark.read.parquet(s"$pB/pairs").count() > 0, "law vacuous")
    // the no-arg default excludes the NEWEST on-disk batch (present is
    // not committed — a torn batch's replay would overwrite the merged
    // partition): on pA (dirs 0..3 after the thirds(3) append) it merges
    // only 0..2, leaving batch 3's partition untouched, content intact
    val beforeDefault = parts.map(partRows(pA, _))
    Dedup.compactDedupArtifact(spark, pA)
    assert(partitionDirs(pA, "nodes") == Seq("ingest_batch=2", "ingest_batch=3"),
      "default compaction must stop before the newest batch")
    parts.zip(beforeDefault).foreach { case (p, b) =>
      assert(partRows(pA, p) == b, s"default compaction changed part $p") }
    // crash recovery, all three protocol states:
    // (a) tmp WITHOUT plan marker = incomplete copy — discarded, the
    // compaction redone cleanly from the live partitions
    new java.io.File(s"$pB/nodes/_tmp-compact").mkdirs()
    val pbNodes = partRows(pB, "nodes")
    Dedup.compactDedupArtifact(spark, pB, upTo = 3L)
    assert(!new java.io.File(s"$pB/nodes/_tmp-compact").exists())
    assert(partitionDirs(pB, "nodes") == Seq("ingest_batch=3"))
    assert(partRows(pB, "nodes") == pbNodes, "recovery (a) changed rows")
    // (b) plan marker WITHOUT tmp = crash after the rename — the marker
    // is dropped and the part is already in its final state
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$pB/nodes/_compact-plan"), "3".getBytes)
    Dedup.compactDedupArtifact(spark, pB, upTo = 3L)
    assert(!new java.io.File(s"$pB/nodes/_compact-plan").exists())
    assert(partRows(pB, "nodes") == pbNodes, "recovery (b) changed rows")
    // (c) tmp WITH plan marker = complete copy crashed mid-swap (one old
    // partition already deleted) — rolled FORWARD to the merged state
    val paNodes = partRows(pA, "nodes")
    spark.read.parquet(s"$pA/nodes")
      .filter($"ingest_batch".cast("long") <= 3L).drop("ingest_batch")
      .coalesce(1).write.parquet(s"$pA/nodes/_tmp-compact")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$pA/nodes/_compact-plan"), "3".getBytes)
    val fsl = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fsl.delete(
      new org.apache.hadoop.fs.Path(s"$pA/nodes/ingest_batch=2"), true))
    Dedup.compactDedupArtifact(spark, pA, upTo = 3L)
    assert(partitionDirs(pA, "nodes") == Seq("ingest_batch=3"))
    assert(partRows(pA, "nodes") == paNodes,
      "mid-swap roll-forward lost or duplicated rows")
  }

  test("IVF / IVF-PQ index compaction: queries bit-identical, partitions merged, post-compaction append identical") {
    val emb = Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter($"vec_id" >= 5)
    val queries = emb.filter($"vec_id" < 5)
    def slice(i: Int) = corpus.filter($"vec_id" % 3 === i.toLong)
    def topk(idx: String) =
      Similarity.ivfTopKAgainstIndexSized(queries, idx, 10)
        .collect().map(_.toString).sorted.toSeq
    def topkPq(idx: String) =
      Similarity.ivfPqRefineAgainstIndex(queries, idx, 10)
        .collect().map(_.toString).sorted.toSeq
    val (iA, iB) = (
      java.nio.file.Files.createTempDirectory("graft-cmp-ivf-a").toString,
      java.nio.file.Files.createTempDirectory("graft-cmp-ivf-b").toString)
    for (p <- Seq(iA, iB)) {
      Similarity.writeIvfIndexSized(slice(0), p)
      Similarity.appendIvfIndex(slice(1), p)
      Similarity.appendIvfIndex(slice(2), p)
    }
    val beforeCells = partRows(iB, "cells")
    val beforeTopk = topk(iB)
    assert(partitionDirs(iB, "cells").size == 3)
    Similarity.compactIvfIndex(spark, iB, upTo = 2L)
    assert(partitionDirs(iB, "cells") == Seq("ingest_batch=2"))
    assert(partRows(iB, "cells") == beforeCells)
    assert(topk(iB) == beforeTopk, "IVF query changed across compaction")
    for (p <- Seq(iA, iB)) Similarity.appendIvfIndex(
      corpus.select(($"vec_id" + 50000L).as("vec_id"), $"embedding"), p)
    assert(partRows(iA, "cells") == partRows(iB, "cells"),
      "post-compaction IVF append diverged")
    val (qA, qB) = (
      java.nio.file.Files.createTempDirectory("graft-cmp-pq-a").toString,
      java.nio.file.Files.createTempDirectory("graft-cmp-pq-b").toString)
    for (p <- Seq(qA, qB)) {
      Similarity.writeIvfPqIndexSized(slice(0), p)
      Similarity.appendIvfPqIndex(slice(1), p)
      Similarity.appendIvfPqIndex(slice(2), p)
    }
    val beforePq = topkPq(qB)
    Similarity.compactIvfPqIndex(spark, qB, upTo = 2L)
    assert(partitionDirs(qB, "codes") == Seq("ingest_batch=2"))
    assert(partitionDirs(qB, "vectors") == Seq("ingest_batch=2"))
    assert(topkPq(qB) == beforePq, "IVF-PQ query changed across compaction")
    Seq("codes", "vectors").foreach { p =>
      assert(partRows(qA, p) == partRows(qB, p), s"IVF-PQ $p diverged") }
  }

  test("unigram EM training: deterministic, total, and the trained segmentation beats the seed's paths under the final costs") {
    import graft.llm.UnigramLm
    val d = Tables.documents(spark, sf).select($"doc_id", $"source", $"text")
    def tableOf(rounds: Int): Map[String, (Long, Long)] =
      UnigramLm.trainPieceTable(d, rounds = rounds)
        .as[(String, Long, Long)].collect()
        .map { case (p, u, c) => p -> (u, c) }.toMap
    val trained = tableOf(UnigramLm.TrainRounds)
    assert(trained == tableOf(UnigramLm.TrainRounds), "training not deterministic")
    val seed = tableOf(0)
    assert(trained.keys.exists(_.length > 1), "vacuous: no multi-char piece survived")
    val trainedCosts = trained.view.mapValues(_._2).toMap
    val seedCosts = seed.view.mapValues(_._2).toMap
    val wf = d.select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") >= 1)
      .groupBy("word").agg(count(lit(1)).as("f"))
      .as[(String, Long)].collect()
    val maxL = UnigramLm.TrainPieceLen
    var codeLenSeed = 0L
    var codeLenTrained = 0L
    wf.foreach { case (w, f) =>
      // totality: both tables must segment every corpus word
      val (pathT, costT) = UnigramLm.segmentWordWith(trainedCosts, maxL, w)
      val (pathS, costS) = UnigramLm.segmentWordWith(seedCosts, maxL, w)
      // optimality law under the FINAL costs: the trained segmentation is
      // the Viterbi argmin, so the seed's path re-scored under the final
      // table (pruned pieces = ∞) can never beat it
      val seedUnderTrained = pathS.split(' ').iterator
        .map(trainedCosts.getOrElse(_, Long.MaxValue / 1024)).sum
      assert(costT <= seedUnderTrained,
        s"word $w: trained path $pathT costs more than the seed path $pathS under final costs")
      codeLenSeed += f * costS
      codeLenTrained += f * costT
    }
    // the EM objective: corpus code length (each model's own quantized
    // −log₂ p̂ totals) strictly drops — the seed model wastes probability
    // mass on candidate substrings the segmentation never uses, so the
    // usage-fitted model codes the same corpus shorter
    assert(codeLenTrained < codeLenSeed,
      s"EM must shorten the corpus code length (seed $codeLenSeed, trained $codeLenTrained)")
  }

  test("measured-recall gate: a recorded measurement at the current size overrides the growth-ratio trigger; stale measurements don't") {
    val emb = Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter($"vec_id" >= 5)
    val idx = java.nio.file.Files.createTempDirectory("graft-recgate").toString
    Similarity.writeIvfIndexSized(corpus.filter($"vec_id" < 300), idx)
    // grow past every plausible factor so the growth gate alone says true
    Similarity.appendIvfIndex(corpus.filter($"vec_id" >= 300), idx)
    assert(Similarity.ivfIndexNeedsRebuild(spark, idx, rebuildFactor = 1.1),
      "growth gate must fire at this growth")
    val n = spark.read.parquet(s"$idx/cells").count()
    // measured AT target, at the current size: holds off the ratio gate
    Similarity.recordMeasuredRecall(spark, idx, 0.93, n)
    assert(Similarity.measuredRecall(spark, idx).contains((0.93, n)),
      "recall row must round-trip")
    assert(!Similarity.ivfIndexNeedsRebuild(spark, idx, rebuildFactor = 1.1),
      "an at-size measurement AT target must hold off the growth gate")
    // measured UNDER target: fires regardless of factor
    Similarity.recordMeasuredRecall(spark, idx, 0.5, n)
    assert(Similarity.ivfIndexNeedsRebuild(spark, idx, rebuildFactor = 99.0),
      "an at-size measurement UNDER target must fire the gate")
    // stale (recorded at a smaller size): the growth gate decides again
    Similarity.recordMeasuredRecall(spark, idx, 0.5, n - 1)
    assert(!Similarity.ivfIndexNeedsRebuild(spark, idx, rebuildFactor = 99.0),
      "a stale measurement must fall back to the growth gate")
    // an in-place REBUILD invalidates the stored measurement: without
    // this, a rebuild back to the same row count would keep satisfying
    // the at-size check with a row measured against the OLD centroids
    Similarity.recordMeasuredRecall(spark, idx, 0.5, n)
    Similarity.writeIvfIndexSized(corpus, idx)
    assert(Similarity.measuredRecall(spark, idx).isEmpty,
      "rebuild must clear the stored recall row")
  }
}
