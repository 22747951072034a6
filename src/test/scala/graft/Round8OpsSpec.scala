package graft

import java.sql.Timestamp

import graft.cdr.CdrPipeline
import graft.llm.{Dedup, TextAnalysis}
import graft.operators.{ConnectedComponents, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Specs for the round-8 hardening: the winnowing stop-fingerprint cap
  * (MOSS rule), the sampled dedup-recall evaluation, the size-conditional
  * dimension broadcast, the pre-partitioned iterative edge layout, and the
  * pmod shard contract. Fixture oracle parity stays the driver's DuckDB
  * gate; these pin the semantics/plan shapes the oracle can't isolate. */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Keyed shuffle exchanges in the executed plan (the PlanAuditSpec
    * convention: round-robin rebalances don't count, broadcasts don't
    * count, counted on the tree not the printout). */
  private def keyedExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def cnt(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => cnt(a.initialPlan)
      case s: ShuffleExchangeLike
          if !s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => 1
    }.sum
    cnt(df.queryExecution.executedPlan)
  }

  test("winnowPairs: stop-fingerprint cap is a no-op at a non-cutting df, kills boilerplate quasi-cliques") {
    val docs = Tables.table(spark, sf, "documents")
    // self-calibrating parity: a cap exactly at the fixture's max df keeps
    // every fingerprint, so the capped path must be bit-identical
    val maxDf = Dedup.winnowFingerprints(docs, 4)
      .groupBy("fp").count().agg(max("count")).head().getLong(0)
    val base = Dedup.winnowPairs(docs, 4, 10)
      .as[(Long, Long, Long)].collect().toSet
    val capped = Dedup.winnowPairs(docs, 4, 10, maxDf = maxDf)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == base, s"cap at max fixture df ($maxDf) changed the answer")

    // adversarial boilerplate: 40 docs share one 12-token license run (the
    // MOSS stop-fingerprint case — C(40,2) pair fan-out uncapped), 3 docs
    // share genuinely overlapping text
    val boiler = (1 to 12).map(i => s"lic$i").mkString(" ")
    val hdocs = ((1L to 40L).map(i => (i, s"$boiler unique$i tail$i extra$i more$i")) ++
      (101L to 103L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta")))
      .toDF("doc_id", "text")
    val un = Dedup.winnowPairs(hdocs, 4, 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cp = Dedup.winnowPairs(hdocs, 4, 1, maxDf = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cp.subsetOf(un), "cap must only remove pairs")
    assert(un.count { case (a, b) => a <= 40 && b <= 40 } == 40 * 39 / 2,
      "uncapped boilerplate fan-out should be the full quasi-clique")
    assert(!cp.exists { case (a, b) => a <= 40 && b <= 40 },
      s"boilerplate-only pairs survived the df cap: $cp")
    assert(Set((101L, 102L), (101L, 103L), (102L, 103L)).subsetOf(cp),
      s"real shared-run pairs were lost: $cp")
  }

  test("dedupEval: deterministic hash-sampled arm reproduces the recall report on the slice") {
    // corpus where the 1/2 hash-slice certainly keeps near-dup pairs: every
    // doc has the same text, so any 2 surviving docs form a truth pair
    val docs = (0L until 40L)
      .map(i => (i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
      .toDF("doc_id", "text")
    val full = Dedup.dedupEval(docs, 0.4).head()
    val s1 = Dedup.dedupEval(docs, 0.4, sampleMod = 2).head()
    val s2 = Dedup.dedupEval(docs, 0.4, sampleMod = 2).head()
    assert(s1 == s2, "hash sampling must be reproducible run-to-run")
    val kept = docs.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0).count()
    assert(s1.getAs[Long]("n_true") == kept * (kept - 1) / 2,
      s"slice truth side should be C($kept,2)")
    assert(s1.getAs[Long]("n_true") < full.getAs[Long]("n_true"))
    // identical texts: LSH recall is total on slice and corpus alike
    assert(s1.getAs[Long]("recall_micro") == 1000000L &&
      full.getAs[Long]("recall_micro") == 1000000L)
  }

  test("PageRank/CC: checkpointed edges — a round's plan scans the materialized edge list, never the producer") {
    val edges = (1L to 400L).map(i => (i % 97, (i * 7) % 97)).toDF("src", "dst")

    val sym = PageRank.prepEdges(edges)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val r0 = spark.range(97).select(col("id"))
      .withColumn("pr", lit(1000000L)).localCheckpoint(true)
    val round = PageRank.contribRound(sym, deg, r0)
    // the round plan must read the edge checkpoint (Scan ExistingRDD), not
    // re-run the symmetrize/distinct producer — LocalTableScan of the
    // original literal edges appearing in the round plan would mean the
    // checkpoint was bypassed and an expensive pair-mining upstream would
    // re-execute every round
    val roundPlan = round.queryExecution.executedPlan.toString
    assert(roundPlan.contains("Scan ExistingRDD"),
      s"round must scan the checkpointed edges:\n$roundPlan")
    // documented limitation this design works around: a checkpoint scan
    // reports NO partitioning, so a pre-checkpoint repartition(src) cannot
    // eliminate the join exchange (that r8 experiment is reverted; the
    // surviving zero-exchange layout is the on-disk BucketedLayout)
    val repart = sym.repartition(8, col("src")).localCheckpoint(true)
    assert(!repart.queryExecution.executedPlan.outputPartitioning
      .toString.toLowerCase.contains("hashpartitioning"),
      "checkpoint scans now PRESERVE partitioning — the pre-partitioned " +
        "edge layout is worth re-introducing in prepEdges/prepSym")

    val symCc = ConnectedComponents.prepSym(edges)
    val lbl = spark.range(97).select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    val nm = ConnectedComponents.hashMinRound(symCc, lbl)
    assert(keyedExchanges(nm) <= 2,
      s"CC edge side re-exchanged:\n${nm.queryExecution.executedPlan}")

    // end-to-end results unchanged by the layout: CC labels equal a driver
    // union-find on the same edges
    val labels = ConnectedComponents(
      spark.range(97).select(col("id")), edges)
      .as[(Long, Long)].collect().toMap
    val parent = Array.tabulate(97)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = (0 until 97).map(i => i.toLong -> find(i).toLong).toMap
    assert(labels == truth, "hash-min labels diverged from union-find ground truth")
  }

  test("cdr enrich: broadcast hint is size-conditional — over-bound dim degrades, identical output") {
    def ts(s: String) = Timestamp.valueOf(s)
    val src = Seq(
      (ts("2024-01-15 10:00:00"), "vi_probe", Some(100L), None: Option[Long], ";a;", 1L),
      (ts("2024-01-15 10:00:00"), "vi_probe", Some(999L), None: Option[Long], ";b;", 2L))
      .toDF("start_time", "measuring_probe_name", "imsi", "msisdn",
        "ms_ip_address", "unique_cdr_id")
    val dim = Seq((100L, 777L), (200L, 888L)).toDF("imsi", "msisdn")

    val hinted = CdrPipeline.lookupEnrich(src, dim, "left_outer")
    val pHint = hinted.queryExecution.executedPlan.toString
    assert(pHint.contains("BroadcastHashJoin"),
      s"under-bound dim should broadcast:\n$pHint")
    val a = hinted.orderBy("unique_cdr_id").collect().toSeq

    // emulate "dim too big to broadcast anywhere": the graft bound rejects
    // it AND Catalyst's own threshold is off, so the plan must degrade to a
    // non-broadcast join with the same answer
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bounded = CdrPipeline.lookupEnrich(src, dim, "left_outer", dimMaxBytes = 1L)
      val pBound = bounded.queryExecution.executedPlan.toString
      assert(!pBound.contains("BroadcastHashJoin"),
        s"over-bound dim must fall back to a non-broadcast join:\n$pBound")
      val b = bounded.orderBy("unique_cdr_id").collect().toSeq
      assert(a == b, "join strategy changed the answer")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
  }

  test("bpe: one-pass broadcast replay == the expression fold chain; batches are symbol-disjoint; k > 64 lifted") {
    import graft.llm.BpeTrainer
    val docs = Tables.table(spark, sf, "documents")
    // identity the r7 oracle pins, now via the mapPartitions replay: scoring
    // the training corpus against its own stored merges == direct counts
    val store = java.nio.file.Files.createTempDirectory("graft-r8-bpe").toString
    BpeTrainer.writeBpeMerges(docs, store, 6)
    val direct = BpeTrainer.bpeTokenCounts(docs, 6)
      .as[(Long, Long, Long)].collect().toSet
    val replay = BpeTrainer.bpeTokensAgainstMerges(docs, store)
      .as[(Long, Long, Long)].collect().toSet
    assert(replay == direct, "broadcast replay diverged from the fold-chain trainer")

    // batch=3: steps {1..3} and {4..6} each come from one stats pass and
    // must be pairwise symbol-disjoint (incl. each pick's concatenation)
    val (batched, _) = BpeTrainer.train(docs, 6, batch = 3)
    assert(batched.size == 6)
    batched.grouped(3).foreach { round =>
      val syms = round.flatMap(m => Seq(m.a, m.b, m.a + m.b))
      assert(syms.distinct.size == syms.size,
        s"round shares symbols: ${round.map(m => (m.a, m.b))}")
    }
    // batch=1 stays the exact sequential algorithm (the oracle's form)
    val (seq1, _) = BpeTrainer.train(docs, 6)
    assert(seq1.map(m => (m.step, m.a, m.b, m.count)) ==
      BpeTrainer.bpeMerges(docs, 6).as[(Int, String, String, Long)].collect().toSeq.sorted)

    // the r7 ceiling is gone: a 70-merge tokenizer trains (batched) and
    // applies through the single-pass replay
    val wide = (0L until 300L)
      .map(i => (i, s"w${i % 30}x${(i * 7) % 30} q${(i * 11) % 30}z${(i * 13) % 30}"))
      .toDF("doc_id", "text")
    val store70 = java.nio.file.Files.createTempDirectory("graft-r8-bpe70").toString
    val (m70, _) = BpeTrainer.train(wide, 70, batch = 16)
    assert(m70.size == 70, s"expected 70 merges, corpus exhausted at ${m70.size}")
    m70.map(m => (m.step, m.a, m.b, m.count))
      .toDF("step", "pair_a", "pair_b", "pair_count")
      .write.mode("overwrite").parquet(store70)
    val applied = BpeTrainer.bpeTokensAgainstMerges(wide, store70)
    val row = applied.agg(sum("n_bpe_tokens"), sum("n_words")).head()
    assert(row.getLong(0) >= row.getLong(1), "tokens can never undercut word count")
  }

  test("audio: REAL WAV round-trip — container metadata and every PCM sample recovered exactly") {
    import graft.llm.Multimodal
    val docs = Tables.table(spark, sf, "documents").limit(40)
    val pcm = Multimodal.decodePcm(Multimodal.realAudioTable(docs))
    // format chunk parsed from the FILE: 8 kHz mono, as encoded
    val meta = pcm.select("sample_rate", "n_channels").distinct()
      .as[(Int, Int)].collect().toSet
    assert(meta == Set((8000, 1)), s"unexpected decoded formats: $meta")
    // sample-exact: decoded s(t) == the generative signal
    val bad = pcm
      .select(col("doc_id"), posexplode(col("samples")).as(Seq("t", "s")))
      .filter(col("s") =!= expr("CAST((doc_id * 37 + t * 17 + 29) % 2001 - 1000 AS INT)"))
    assert(bad.count() == 0, "decoded PCM diverged from the generative signal")
    val lens = pcm.select(col("doc_id"), size(col("samples")).as("n"))
      .filter(col("n") =!= expr("CAST(64 + doc_id % 101 AS INT)"))
    assert(lens.count() == 0, "decoded sample count diverged")
  }

  test("bpe: stored-merge replay splits by code points — non-BMP corpus keeps the replay identity") {
    import graft.llm.BpeTrainer
    // U+1D11E (𝄞) is a supplementary-plane char: 2 UTF-16 code units, ONE
    // symbol to the trainer's substring(word, i, 1). A code-unit split in
    // the replay would see 4 symbols in "a𝄞b" and never match stored merges.
    val clef = new String(Character.toChars(0x1D11E))
    val docs = (0L until 6L)
      .map(i => (i, s"a${clef}b a${clef}b tail$i a${clef}b"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("graft-r8-bmp").toString
    BpeTrainer.writeBpeMerges(docs, store, 2)
    val direct = BpeTrainer.bpeTokenCounts(docs, 2)
      .as[(Long, Long, Long)].collect().toSet
    val replay = BpeTrainer.bpeTokensAgainstMerges(docs, store)
      .as[(Long, Long, Long)].collect().toSet
    assert(replay == direct,
      s"non-BMP replay diverged: direct=$direct replay=$replay")
    // and the first merge really consumed the astral char as one symbol:
    // "a𝄞b" is 3 initial symbols, so 2 merges take it to 1 token
    val merged = spark.read.parquet(store).orderBy("step")
      .select("pair_a", "pair_b").as[(String, String)].collect()
    assert(merged.flatMap(m => Seq(m._1, m._2)).exists(_.contains(clef)),
      s"no merge touched the astral symbol: ${merged.toSeq}")
  }

  test("cdr enrich: stats-less dim (unknown size) keeps the broadcast hint — no stream shuffle") {
    def ts(s: String) = Timestamp.valueOf(s)
    val src = Seq(
      (ts("2024-01-15 10:00:00"), "vi_probe", Some(100L), None: Option[Long], ";a;", 1L))
      .toDF("start_time", "measuring_probe_name", "imsi", "msisdn",
        "ms_ip_address", "unique_cdr_id")
    // dim built from a bare RDD: LogicalRDD reports defaultSizeInBytes
    // (unknown) — the tri-state hint must still broadcast it even under a
    // 1-byte bound, preserving the fact-stream no-exchange contract
    val rdd = spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(100L, 777L)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("imsi",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("msisdn",
        org.apache.spark.sql.types.LongType)))
    val dim = spark.createDataFrame(rdd, schema)
    assert(dim.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(spark.sessionState.conf.defaultSizeInBytes),
      "test premise: the RDD-backed dim must report unknown stats")
    val out = CdrPipeline.lookupEnrich(src, dim, "left_outer", dimMaxBytes = 1L)
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      s"unknown-size dim lost the broadcast:\n${out.queryExecution.executedPlan}")
    assert(out.select("msisdn").as[Long].head() == 777L)
  }

  test("dedupEval: zero truth pairs reports vacuous recall 1.0, never NULL") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "red green blue cyan magenta yellow")).toDF("doc_id", "text")
    val r = Dedup.dedupEval(docs, 0.4).head()
    assert(r.getAs[Long]("n_true") == 0L)
    assert(!r.isNullAt(r.fieldIndex("recall_micro")), "recall_micro was NULL")
    assert(r.getAs[Long]("recall_micro") == 1000000L)
  }

  test("video: REAL multi-frame GIF — frame directory and sampled-frame lumas recovered exactly") {
    import graft.llm.Multimodal
    val docs = Tables.table(spark, sf, "documents").limit(40)
    val out = Multimodal.frameSampleReal(Multimodal.realVideoTable(docs), 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5), r.getLong(6))).toSet
    val want = docs.select("doc_id").as[Long].collect().flatMap { d =>
      val n = Multimodal.videoNFrames(d)
      val k = math.min(n, 5)
      (0 until k).map { i =>
        val f = i * (n / k)
        val (w, h) = (Multimodal.videoWidth(d), Multimodal.videoHeight(d))
        val sum = (for (y <- 0 until h; x <- 0 until w)
          yield Multimodal.videoLuma(d, f, x, y).toLong).sum
        (d, n, i, f, w, h, sum)
      }
    }.toSet
    assert(out == want, s"decoded sample set diverged from the generative spec")
    // the sample budget binds: some fixture docs store more frames than 5
    assert(out.exists(_._2 > 5), "fixture should include >5-frame containers")
    assert(!out.exists(t => t._3 >= 5), "no more than maxFrames samples per doc")
  }

  test("shard: ZIP-of-PNG container samples the identical frames as the GIF container") {
    import graft.llm.Multimodal
    val docs = Tables.table(spark, sf, "documents").limit(40)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getLong(6))
    val gif = Multimodal.frameSampleReal(
      Multimodal.realVideoTable(docs), 5).collect().map(key).toSet
    val zip = Multimodal.frameSampleShard(
      Multimodal.realShardTable(docs), 5).collect().map(key).toSet
    assert(zip == gif, "indexed-shard sampling diverged from the GIF path")
    assert(zip.nonEmpty)
  }

  test("shard: ShardZip central-directory reader matches the JDK ZipFile byte-for-byte") {
    // parity on real writer output across several shard geometries, and a
    // malformed container must throw (the poison gate's reject signal),
    // never mis-parse
    Seq(0L, 3L, 7L, 11L).foreach { d =>
      val bytes = graft.llm.Multimodal.shardBytes(d)
      val mine = graft.llm.ShardZip.entries(bytes).sortBy(_.name)
      val tmp = java.io.File.createTempFile("graft-zipspec", ".zip")
      try {
        java.nio.file.Files.write(tmp.toPath, bytes)
        val zf = new java.util.zip.ZipFile(tmp)
        try {
          val jdk = {
            val es = zf.entries()
            val buf = scala.collection.mutable.ArrayBuffer
              .empty[java.util.zip.ZipEntry]
            while (es.hasMoreElements) buf += es.nextElement()
            buf.sortBy(_.getName)
          }
          assert(mine.map(_.name).toSeq == jdk.map(_.getName).toSeq,
            s"doc $d: entry listing differs")
          mine.zip(jdk).foreach { case (m, j) =>
            val a = {
              val in = graft.llm.ShardZip.entryStream(bytes, m)
              try in.readAllBytes() finally in.close()
            }
            val b = zf.getInputStream(j).readAllBytes()
            assert(java.util.Arrays.equals(a, b),
              s"doc $d entry ${m.name}: content differs")
          }
        } finally zf.close()
      } finally tmp.delete()
    }
    intercept[Exception] {
      graft.llm.ShardZip.entries("not a zip container at all".getBytes)
    }
  }

  test("shard: probe gate counts ZIP entries from the directory; corrupt shards reject, never raise") {
    val docs = Seq(0L, 5L, 9L).toDF("doc_id")
    val media = graft.llm.Multimodal.realShardTable(docs)
      .withColumn("format", lit("zip"))
      // doc 5: kill the central directory (truncate to 7 bytes)
      .withColumn("payload",
        when(col("doc_id") === 5L, expr("substring(payload, 1, 7)"))
          .otherwise(col("payload")))
    val got = graft.llm.Multimodal.probeMediaSafe(media)
      .select("doc_id", "n_units", "decode_ok")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2))).toSet
    def nf(d: Long) = graft.llm.Multimodal.videoNFrames(d).toLong
    assert(got == Set(
      (0L, Some(nf(0L)), true),
      (5L, None, false),
      (9L, Some(nf(9L)), true)),
      s"zip probe contract broken: $got")
  }

  test("audio: stereo WAV de-interleaves to the channel-0 signal") {
    import graft.llm.Multimodal
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = 50
    val pcm = new Array[Byte](n * 4) // 16-bit LE, 2 channels interleaved
    for (t <- 0 until n) {
      val l = (t * 13 - 300).toShort  // channel 0
      val r = (t * 7 + 900).toShort   // channel 1 — must NOT leak through
      pcm(4 * t) = (l & 0xff).toByte; pcm(4 * t + 1) = ((l >> 8) & 0xff).toByte
      pcm(4 * t + 2) = (r & 0xff).toByte; pcm(4 * t + 3) = ((r >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 2, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val media = Seq((1L, bos.toByteArray, "wav")).toDF("doc_id", "payload", "kind")
    val row = Multimodal.decodePcm(media).head()
    assert(row.getAs[Int]("n_channels") == 2)
    val samples = row.getSeq[Int](row.fieldIndex("samples"))
    assert(samples.length == n, s"expected $n per-channel samples, got ${samples.length}")
    assert(samples.zipWithIndex.forall { case (s, t) => s == t * 13 - 300 },
      "decoded stream is not the channel-0 signal")
  }

  test("media: poison payloads become quarantine data, not exceptions — batch safe-decode and streaming ingest") {
    import graft.llm.Multimodal
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // batch: the safe decode flags garbage and truncations, decodes the rest
    def corrupt(d: Long): Boolean = d % 3 == 0
    def payload(d: Long): Array[Byte] =
      if (d % 6 == 0) Array[Byte](1, 2, 3) // garbage bytes
      else if (corrupt(d)) Multimodal.imageBytes(d)._1.take(7) // truncated
      else Multimodal.imageBytes(d)._1
    val media = (1L to 30L).map(d => (d, payload(d), Multimodal.imageBytes(d)._2))
      .toDF("doc_id", "payload", "format")
    val out = Multimodal.decodeBatchSafe(media).collect()
    assert(out.length == 30, "safe decode must emit one row per payload")
    out.foreach { r =>
      val d = r.getLong(0)
      if (corrupt(d)) {
        assert(!r.getBoolean(r.fieldIndex("decode_ok")), s"doc $d should fail")
        assert(r.isNullAt(r.fieldIndex("width")))
      } else {
        assert(r.getBoolean(r.fieldIndex("decode_ok")), s"doc $d should decode")
        assert(r.getInt(r.fieldIndex("width")) == Multimodal.imageWidth(d))
        assert(r.getInt(r.fieldIndex("height")) == Multimodal.imageHeight(d))
      }
    }
    // the strict decode is the same decode plus a check: a corrupt payload
    // fails the task with its message, even through the mm_decode_real
    // projection, which reads none of the check's columns
    val strictErr = intercept[Exception](Multimodal.decodeBatch(media)
      .select("doc_id", "format", "width", "height", "channels").collect())
    val undecodable = "undecodable image payload for doc (\\d+)".r.unanchored
    assert(Iterator.iterate[Throwable](strictErr)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage) match {
        case undecodable(d) => corrupt(d.toLong)
        case _ => false
      }), s"strict decode must fail naming a corrupt doc: $strictErr")

    // NULL payloads and empty containers are rejects, never NPE/div-zero
    val nullMedia = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(90L, null, "png"),
        org.apache.spark.sql.Row(91L, null, "wav"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.types.StructField("format",
          org.apache.spark.sql.types.StringType))))
    val nd = Multimodal.decodeBatchSafe(nullMedia).collect()
    assert(nd.length == 2 && nd.forall(r => !r.getBoolean(r.fieldIndex("decode_ok"))))
    val np = Multimodal.probeMediaSafe(nullMedia).collect()
    assert(np.length == 2 && np.forall(r => !r.getBoolean(r.fieldIndex("decode_ok"))))
    // a syntactically valid GIF with an empty frame directory: header +
    // logical screen descriptor + trailer, no image descriptor
    val emptyGif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](1, 0, 1, 0, 0, 0, 0, 0x3B.toByte)
    val eg = Seq((99L, emptyGif, "gif")).toDF("doc_id", "payload", "format")
    assert(Multimodal.frameSampleReal(eg, 5).count() == 0L,
      "empty container must sample zero frames, not crash")
    assert(!Multimodal.probeMediaSafe(eg).head()
      .getBoolean(Multimodal.probeSchema.fieldIndex("decode_ok")),
      "empty frame directory must probe as a reject")

    // streaming: modality-dispatched good/quarantine split, incremental
    // batches — an image batch, then a mixed wav/gif batch with a corrupt
    // WAV; no payload of any modality may raise
    val mem = MemoryStream[(Long, Array[Byte], String)](spark)
    val outDir = java.nio.file.Files.createTempDirectory("graft-mi-out").toString
    val qDir = java.nio.file.Files.createTempDirectory("graft-mi-q").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-mi-ck").toString
    val q = graft.streaming.MediaIngest.run(
      spark, mem.toDF().toDF("doc_id", "payload", "format"), outDir, qDir, ck)
    try {
      mem.addData((1L to 10L).map(d => (d, payload(d), "img")))
      q.processAllAvailable()
      mem.addData(Seq(
        (11L, Multimodal.audioBytes(11L), "wav"),
        (12L, Multimodal.videoBytes(12L), "gif"),
        (13L, Multimodal.audioBytes(13L).take(7), "wav")))
      q.processAllAvailable()
    } finally q.stop()
    val good = spark.read.parquet(outDir)
    val quar = spark.read.parquet(qDir)
    val goodIds = good.select("doc_id").as[Long].collect().toSet
    val quarIds = quar.select("doc_id").as[Long].collect().toSet
    assert(goodIds == ((1L to 10L).filterNot(corrupt).toSet ++ Set(11L, 12L)),
      s"good: $goodIds")
    assert(quarIds == ((1L to 10L).filter(corrupt).toSet + 13L),
      s"quarantine: $quarIds")
    // per-modality unit metric: WAV → PCM frames, GIF → stored frames
    assert(good.filter(col("doc_id") === 11L).select("n_units").as[Long].head()
      == 64 + 11 % 101)
    assert(good.filter(col("doc_id") === 12L).select("n_units").as[Long].head()
      == 2 + 12 % 7)
    // truncated rows carry their surviving byte count into the quarantine
    assert(quar.filter(col("doc_id") === 3L).select("n_bytes").as[Int].head() == 7)
    assert(quar.filter(col("doc_id") === 13L).select("n_bytes").as[Int].head() == 7)
    // second batch landed incrementally under its own batch_id partition
    assert(good.select("batch_id").distinct().as[Long].collect().toSet == Set(0L, 1L))
  }

  test("media ingest crash-replay: a batch killed after the sink writes, before commit, replays without duplicates") {
    import graft.llm.Multimodal
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcDir = tmp("graft-mic-src")
    val outDir = tmp("graft-mic-out")
    val qDir = tmp("graft-mic-q")
    val ckpt = tmp("graft-mic-ckpt")
    // durable source (the replay has to re-read it after the crash)
    (1L to 5L).map(d => (d,
      if (d == 4L) Multimodal.imageBytes(d)._1.take(7) else Multimodal.imageBytes(d)._1,
      Multimodal.imageBytes(d)._2))
      .toDF("doc_id", "payload", "format")
      .write.mode("overwrite").parquet(srcDir)
    def src() = spark.readStream
      .schema("doc_id LONG, payload BINARY, format STRING").parquet(srcDir)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = graft.streaming.MediaIngest.run(spark, src(), outDir, qDir, ckpt,
      onBatchComplete = { _ =>
        if (!crashed.getAndSet(true))
          throw new RuntimeException("injected crash: after sink writes, before commit")
      })
    try q1.processAllAvailable()
    catch { case _: Throwable => () }
    q1.stop()
    assert(crashed.get(), "injection never fired")
    // the at-least-once window is real: data reached both sinks uncommitted
    assert(spark.read.parquet(outDir).count() == 4)
    // restart from the same checkpoint: the batch replays under the SAME
    // batch_id and dynamic overwrite replaces its own partitions
    val q2 = graft.streaming.MediaIngest.run(spark, src(), outDir, qDir, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val good = spark.read.parquet(outDir).select("doc_id").as[Long].collect()
    assert(good.length == good.distinct.length, s"replay duplicated: ${good.toSeq.sorted}")
    assert(good.toSet == Set(1L, 2L, 3L, 5L))
    val quar = spark.read.parquet(qDir).select("doc_id").as[Long].collect()
    assert(quar.toSeq == Seq(4L), s"quarantine must hold doc 4 exactly once: ${quar.toSeq}")
  }

  test("scd2: consecutive duplicates compress, versions number change points, validity chains") {
    // one key's changelog: A A B B A  → versions A[t1,t3) B[t3,t5) A[t5,∞);
    // a second key with a single state → one open-ended version
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, ts(1), 10L, "A", 0.0, ""), (2L, ts(2), 10L, "A", 0.0, ""),
      (3L, ts(3), 10L, "B", 0.0, ""), (4L, ts(4), 10L, "B", 0.0, ""),
      (5L, ts(5), 10L, "A", 0.0, ""),
      (6L, ts(1), 20L, "C", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // the PRODUCTION chain, not a spec-local copy (review-caught)
    val hist = graft.relational.RelQueries.scd2(ev)
      .select("user_id", "version", "state", "valid_from", "valid_to")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)))).toSet
    assert(hist == Set(
      (10L, 1, "A", ts(1), Some(ts(3))),
      (10L, 2, "B", ts(3), Some(ts(5))),
      (10L, 3, "A", ts(5), None),
      (20L, 1, "C", ts(1), None)),
      s"SCD2 history wrong: $hist")
  }

  test("shuffleShards: negative doc_ids still land in [0, nShards)") {
    val docs = Seq((-5L, "a"), (-1L, "b"), (0L, "c"), (7L, "d"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.shuffleShards(docs, 16)
      .select("shard").as[Long].collect()
    assert(out.forall(s => s >= 0 && s < 16), s"shard out of range: ${out.toSeq}")
  }

  test("retrievalEval: mixed ranking, zero-relevant-with-candidates, and late-first-relevant branches") {
    // Crafted corpus whose BM25 rankings were computed independently in
    // DuckDB with the exact oracle arithmetic; the expected metric rows
    // below are hand-folded from those rankings and the pinned discount
    // tables, so this pins the metric layer — the branches the saturated
    // fixture rankings (every top-10 doc a full match) never reach.
    //   mixed  (a,b): rel pattern T,F,F,T,F → DCG = w1+w4, IDCG = c2
    //   nofull (a,q): 3 candidates, none full → every metric 0
    //   late   (b,c): lone relevant doc at rank 2 → MRR = 1/2, nDCG = w2
    val docs = Seq(
      (1L, "a b x x x x x x x x x x x x x x"),
      (2L, "b b b b"),
      (3L, "a"),
      (4L, "a b"),
      (5L, "c c c c"),
      (6L, "c b")).toDF("doc_id", "text")
    val got = TextAnalysis.retrievalEval(docs, Seq(
      "mixed" -> Seq("a", "b"),
      "nofull" -> Seq("a", "q"),
      "late" -> Seq("b", "c")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got === Set(
      ("mixed", 2L, 1000000L, 1430677L, 1630930L, 877215L),
      ("nofull", 0L, 0L, 0L, 0L, 0L),
      ("late", 1L, 500000L, 630930L, 1000000L, 630930L)))
  }

  test("labelAudit: agreement ppm, majority prediction, deterministic tie-break") {
    // CJK presence forces pred='zh'; zero stopword signal falls through to
    // 'en'. Cell (s2, de) has preds {en:1, zh:1} — the tie must break to
    // the lexicographically smaller lang ('en'), same as the oracle's
    // ORDER BY n_pred DESC, predicted_lang ASC.
    val docs = Seq(
      (1L, "hello world", "en", "s1"),
      (2L, "你 x", "en", "s1"),
      (3L, "你", "zh", "s2"),
      (4L, "plain words", "de", "s2"),
      (5L, "好", "de", "s2")).toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.labelAudit(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getLong(6))).toSet
    assert(got === Set(
      ("s1", "en", 2L, 1L, 500000L, "en", 1L),
      ("s2", "zh", 1L, 1L, 1000000L, "zh", 1L),
      ("s2", "de", 2L, 0L, 0L, "en", 1L)))
  }

  test("sourceDivergence: hand-computed chi2 incl. the zero-observed closed-form mass") {
    // A = {x:2, y:1}, B = {y:1, z:1}; N = 5, n_x = 2, n_y = 2, n_z = 1.
    // A: x (2−1.2)²/1.2 → 533333, y (1−1.2)²/1.2 → 33333,
    //    missing-mass 3·(5−4)/5 → 600000 ⇒ chi² 1166666, top x.
    // B: y (1−0.8)²/0.8 → 50000, z (1−0.4)²/0.4 → 900000,
    //    missing-mass 2·(5−3)/5 → 800000 ⇒ chi² 1750000, top z.
    val docs = Seq((1L, "x x y", "A"), (2L, "y z", "B"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceDivergence(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5))).toSet
    assert(got === Set(
      ("A", 3L, 2L, 1166666L, "x", 533333L),
      ("B", 2L, 2L, 1750000L, "z", 900000L)))
  }

  test("annRecallEval: colinear corpus gives perfect recall; multiprobe never below lsh") {
    import graft.llm.Similarity
    // every vector on one ray → one LSH bucket → candidates = corpus →
    // both methods must reproduce the exact ranking: recall ≡ 1.
    val ray = Seq.tabulate(8)(i =>
      (i.toLong, Array(1.0f + i, 0.0f, 0.0f, 0.0f), i)).toDF("vec_id", "embedding", "label")
    // 3 methods (lsh, multiprobe, pq_refine — r10 adds the quantized arm)
    // × 2 queries; pq_refine is perfect here too: k·refine covers the
    // whole corpus, so the exact re-rank IS the brute ranking
    val perfect = Similarity.annRecallEval(ray, 2, 3).collect()
    assert(perfect.length === 6)
    assert(perfect.forall(r => r.getAs[Long]("n_truth") == 3L
      && r.getAs[Long]("recall_ppm") == 1000000L), perfect.mkString(", "))
    // fixture: the multiprobe candidate set is a superset of the lsh one,
    // and any truth hit it displaces from the top-k is displaced by
    // another truth hit — so per-query recall is monotone in the probes.
    val fix = Similarity.annRecallEval(Tables.embeddings(spark, sf), 5, 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    (0L until 5L).foreach { q =>
      assert(fix(("multiprobe", q)) >= fix(("lsh", q)),
        s"query $q: multiprobe ${fix(("multiprobe", q))} < lsh ${fix(("lsh", q))}")
    }
  }

  test("dedupKeepBest: elects the max-quality member per cluster, diverging from min-id where quality says so") {
    val docs = Tables.documents(spark, sf)
    val got = Dedup.dedupKeepBest(docs, 0.4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // independent derivation: clusters × quality, argmax by (qm desc, id asc)
    val expected = Dedup.dedupClusters(docs, 0.4)
      .join(graft.llm.TextAnalysis.qualityMicro(docs), "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (c, ms) =>
        val best = ms.minBy { case (_, id, qm) => (-qm, id) }
        c -> ((best._2, best._3, ms.size.toLong))
      }
    assert(got === expected)
    // the policy must actually bite: some cluster's best copy isn't the
    // first-crawled (min-id) one
    assert(got.exists { case (c, (k, _, _)) => k != c },
      "no cluster elected a non-min-id keeper — fixture no longer exercises the variant")
  }

  test("embDriftRef: a geometrically shifted label group reads as drifted, an aligned one doesn't") {
    import graft.llm.Similarity
    // reference half (even ids) and label 0's odd ids share one direction
    // → same LSH cell as the reference mass; label 1's odd ids are the
    // NEGATED direction → every hyperplane sign flips → a cell the
    // reference never populates. chi² must order accordingly.
    val v = Array(0.3f, -0.7f, 0.5f, 0.9f)
    val rows = (0L until 40L).map { i =>
      val flip = i % 2 == 1 && i % 4 == 3 // odd ids, label 1
      val lbl = if (i % 4 == 3) 1 else 0
      (i, v.map(x => if (flip) -x else x), lbl)
    }
    val got = Similarity.embDriftRef(rows.toDF("vec_id", "embedding", "label"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got.keySet === Set("label_0", "label_1"))
    assert(got("label_1") > 10L * got("label_0"),
      s"negated group must drift far harder: $got")
  }

  test("driftVsStoredRef: stored snapshot round-trips to the direct hashed twin") {
    val docs = Tables.documents(spark, sf)
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val mon = docs.filter(col("doc_id") % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("graft-driftref").toString + "/ref"
    TextAnalysis.writeDriftRef(ref, path)
    val direct = TextAnalysis.driftVsReferenceHashed(mon, ref)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val stored = TextAnalysis.driftVsStoredRef(mon, path)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stored === direct)
    assert(direct.nonEmpty)
  }

  test("curationFunnel: waterfall tiles the corpus and lands exactly on curate's keep count") {
    val docs = Tables.documents(spark, sf)
    val rows = TextAnalysis.curationFunnel(docs)
      .orderBy("stage_idx").collect()
    assert(rows.length === 6)
    assert(rows.head.getAs[Long]("n_in") === docs.count())
    // each stage's survivors are exactly the next stage's input
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_remaining") === b.getAs[Long]("n_in"),
        s"stage ${a.getString(1)} -> ${b.getString(1)} doesn't tile")
    }
    val kept = TextAnalysis.curate(docs).filter(col("keep")).count()
    assert(rows.last.getAs[Long]("n_remaining") === kept)
  }

  test("audit trio keeps a NULL source as its own slice (review-caught equi-join drop)") {
    // NULL source is exactly the slice most likely to carry corrupted
    // metadata; the oracles keep it via IS NOT DISTINCT FROM, so the Spark
    // side must too (window-partition n_s, not a groupBy+equi-join).
    val docs = Seq((1L, "x x y", "A"), (2L, "y z", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "source")
    val div = TextAnalysis.sourceDivergence(docs).collect()
    assert(div.length === 2 && div.exists(_.isNullAt(0)),
      s"NULL-source slice vanished from sourceDivergence: ${div.mkString(", ")}")
    // same numbers as the all-named twin fixture (chi² only reads counts)
    assert(div.find(_.isNullAt(0)).get.getLong(3) === 1750000L)
    val drift = TextAnalysis.driftVsReferenceHashed(
      docs, Seq((3L, "x y", "A")).toDF("doc_id", "text", "source")).collect()
    assert(drift.length === 2 && drift.exists(_.isNullAt(0)),
      s"NULL-source slice vanished from driftVsReference: ${drift.mkString(", ")}")
  }

  test("driftVsStoredRef rejects a snapshot written at a different B") {
    val docs = Tables.documents(spark, sf).limit(50)
    val path = java.nio.file.Files.createTempDirectory("graft-driftref-b").toString + "/ref"
    TextAnalysis.writeDriftRef(docs, path, nBuckets = 128)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.driftVsStoredRef(docs, path, nBuckets = 64)
    }
    assert(e.getMessage.contains("128") && e.getMessage.contains("64"), e.getMessage)
  }

  test("curationFunnel on an all-holdout corpus: zero counts, never NULL sums") {
    // every doc_id ≡ 0 mod evalMod → curate's base is EMPTY → the r_* sums
    // aggregate zero rows; they must coalesce to 0 so the waterfall still
    // tiles (review-caught: sum() over no rows is NULL despite otherwise(0)).
    val docs = Seq((0L, "a b", "s"), (101L, "c d", "s"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val rows = TextAnalysis.curationFunnel(docs).orderBy("stage_idx").collect()
    assert(rows.length === 6)
    assert(rows.head.getAs[Long]("n_removed") === 2L) // eval holdout takes all
    rows.tail.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("n_removed")) && r.getAs[Long]("n_removed") === 0L
        && !r.isNullAt(r.fieldIndex("n_in")) && r.getAs[Long]("n_in") === 0L,
        s"stage ${r.getString(1)} must carry 0, not NULL: $r")
    }
  }

  test("fertility: hand-computed ppm on a two-language corpus, zero-token NULL guard") {
    // "ab cd." → 2 ws words, 3 regex tokens ([ab][cd][.]), 6 bytes
    // "x1" → 1 ws word, 2 regex tokens ([x][1]), 2 bytes
    val docs = Seq((1L, "ab cd.", "aa"), (2L, "x1", "aa"), (3L, "", "zz"))
      .toDF("doc_id", "text", "lang")
    val r = TextAnalysis.fertility(docs).collect()
      .map(x => x.getString(0) -> x).toMap
    val aa = r("aa")
    assert(aa.getAs[Long]("ws_tokens") === 3L && aa.getAs[Long]("re_tokens") === 5L
      && aa.getAs[Long]("n_bytes") === 8L)
    assert(aa.getAs[Long]("fertility_ppm") === 5L * 1000000 / 3)
    assert(aa.getAs[Long]("bytes_per_token_ppm") === 8L * 1000000 / 5)
    // empty text: split('') = [''] → 1 ws token, 0 regex tokens → NULL ratio
    val zz = r("zz")
    assert(zz.getAs[Long]("re_tokens") === 0L
      && zz.isNullAt(zz.fieldIndex("bytes_per_token_ppm")),
      s"zero-token group must yield NULL, not a division error: $zz")
  }

  test("epochPlan: cap binds on the starved source, deficit is exact") {
    // source A has 90 tokens, B has 10; corpus=100, factor 3 → needed 150
    // each. A: ceil(150/90)=2 epochs, allocated 150, deficit 0.
    // B: ceil(150/10)=15 → capped at 5, allocated 50, deficit 100.
    val docs = Seq.tabulate(9)(i => (i.toLong, ("w " * 9).trim, "A")) :+
      ((9L, ("w " * 10).trim, "B"))
    val df = docs.toDF("doc_id", "text", "source")
    val r = TextAnalysis.epochPlan(df).collect().map(x => x.getString(0) -> x).toMap
    val a = r("A"); val b = r("B")
    assert(a.getAs[Long]("tokens_avail") === 81L && b.getAs[Long]("tokens_avail") === 10L)
    // corpus 91, needed per source (91*3) div 2 = 136
    assert(a.getAs[Long]("tokens_needed") === 136L)
    assert(a.getAs[Long]("epochs") === 2L && a.getAs[Long]("deficit") === 0L)
    assert(b.getAs[Long]("epochs") === 5L && b.getAs[Long]("tokens_allocated") === 50L
      && b.getAs[Long]("deficit") === 86L)
    // invariant: allocated = min(needed, avail*maxEpochs), deficit tiles
    r.values.foreach { x =>
      assert(x.getAs[Long]("tokens_allocated") + x.getAs[Long]("deficit")
        === x.getAs[Long]("tokens_needed"))
    }
  }

  test("ngramNovelty: shared 4-gram counts as duplicated at every position; hashed twin identical") {
    val docs = Seq(
      (1L, "a b c d e"), // grams: "a b c d", "b c d e"
      (2L, "a b c d x"), // grams: "a b c d", "b c d x"
      (3L, "q r s"))     // < 4 words: zero grams, NULL ppm
      .toDF("doc_id", "text")
    val r = TextAnalysis.ngramNovelty(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("n_ngrams") === 2L && r(1L).getAs[Long]("n_dup") === 1L)
    assert(r(1L).getAs[Long]("novelty_ppm") === 500000L)
    assert(r(3L).getAs[Long]("n_ngrams") === 0L
      && r(3L).isNullAt(r(3L).fieldIndex("novelty_ppm")))

    // the 8-byte-key production twin must agree row for row on the fixture
    val corpus = Tables.documents(spark, sf)
    val a = TextAnalysis.ngramNovelty(corpus).collect().toSet
    val b = TextAnalysis.ngramNoveltyHashed(corpus).collect().toSet
    assert(a === b, "hashed gram keys changed the novelty report")
  }

  test("contaminationScore: consecutive hit run converts to verbatim token span") {
    // doc 0 is eval (0 % 101 == 0); doc 5 quotes its 5-token middle verbatim
    // -> 3 consecutive contaminated shingles -> max span 3 + 2 = 5 tokens;
    // doc 7 shares nothing -> 0-row runs side, coalesced zeros
    val docs = Seq(
      (0L, "qq ww ee rr tt"),
      (5L, "xx qq ww ee rr tt yy"),
      (7L, "aa bb cc dd"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.contaminationScore(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(!r.contains(0L), "eval docs must not appear in the report")
    val d5 = r(5L)
    assert(d5.getAs[Long]("n_pos") === 5L && d5.getAs[Long]("n_hit_pos") === 3L)
    assert(d5.getAs[Long]("max_run") === 3L && d5.getAs[Long]("max_span_tokens") === 5L)
    assert(d5.getAs[Long]("contam_ppm") === 600000L)
    val d7 = r(7L)
    assert(d7.getAs[Long]("n_hit_pos") === 0L && d7.getAs[Long]("max_span_tokens") === 0L
      && d7.getAs[Long]("contam_ppm") === 0L)
  }

  test("prototypesPrune: drop prefix is exactly the floor(n*pct/100) most-prototypical ranks") {
    val emb = Tables.embeddings(spark, sf)
    val r = graft.llm.Similarity.prototypesPrune(emb).collect()
    assert(r.length === emb.count())
    r.groupBy(_.getAs[Long]("cid")).foreach { case (cid, rows) =>
      val n = rows.head.getAs[Long]("n_cell")
      assert(rows.length.toLong === n, s"cell $cid n_cell disagrees with row count")
      val nDrop = n * 25 / 100
      val dropped = rows.filter(!_.getAs[Boolean]("keep")).map(_.getAs[Long]("rk")).sorted
      assert(dropped.toSeq === (1L to nDrop).toSeq,
        s"cell $cid must drop exactly ranks 1..$nDrop (the prototypical core), got ${dropped.toSeq}")
    }
    // the policy must actually bite on the fixture
    assert(r.count(!_.getAs[Boolean]("keep")) > 0, "no vector pruned — fixture degenerate")
  }

  test("WARC round-trip: payload containing 'WARC/1.0' parses byte-exact (Content-Length framing)") {
    import graft.llm.{WarcCodec, WarcIngest}
    // the adversarial payload for delimiter-scanning readers: a record
    // whose BODY contains a full WARC version line + blank line
    val evil = "before\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\nafter"
    val docs = Seq((1L, evil, "sA"), (2L, "plain text", "sA"),
      (60L, "other shard", "sA"), (3L, "zz", "sB"))
      .toDF("doc_id", "text", "source")
    val recs = WarcIngest.records(WarcIngest.containers(docs)).collect()
    assert(recs.length === 4, s"expected 4 response records, got ${recs.length}")
    val r1 = recs.find(_.getAs[Long]("doc_id") == 1L).get
    assert(r1.getAs[Long]("content_length") === evil.getBytes("UTF-8").length.toLong)
    assert(r1.getAs[String]("target_uri") === "https://sA.example.org/doc/1")
    // shard partitioning: doc 60 lands in shard 1, the rest in shard 0
    assert(recs.find(_.getAs[Long]("doc_id") == 60L).get.getAs[Long]("shard") === 1L)
    // byte-exact payload recovery straight through the codec
    val raw = WarcCodec.parse(WarcCodec.build(Seq(
      ("response", Seq("WARC-Record-ID" -> "<urn:graft:doc-9>"), evil.getBytes("UTF-8")))))
    assert(new String(raw.head.payload, "UTF-8") === evil)
  }

  test("WARC poison gate: a corrupted container quarantines, good containers still parse") {
    import graft.llm.WarcIngest
    val docs = Seq((1L, "good one", "sA"), (2L, "good two", "sB"))
      .toDF("doc_id", "text", "source")
    val cont = WarcIngest.containers(docs).collect()
    val poisoned = cont.map { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      // truncate sA's container mid-payload: framing error, not a crash
      if (r.getString(0) == "sA") (r.getString(0), r.getLong(1), bytes.take(bytes.length / 2))
      else (r.getString(0), r.getLong(1), bytes)
    }.toSeq.toDF("source", "shard", "payload")
    val out = WarcIngest.recordsSafe(poisoned).collect()
    val (bad, good) = out.partition(!_.getAs[Boolean]("ok"))
    assert(bad.length === 1 && bad.head.getString(0) === "sA"
      && bad.head.getAs[String]("err") != null, s"expected one quarantine row: ${bad.toSeq}")
    assert(good.length === 1 && good.head.getAs[Long]("doc_id") === 2L)
    // the strict reader is the same walk plus a check: the poison fails the
    // task with its own message, even through a consumer that reads none
    // of the check's columns
    val strictErr = intercept[Exception](
      WarcIngest.records(poisoned).groupBy("source").count().collect())
    assert(Iterator.iterate[Throwable](strictErr)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(bad.head.getAs[String]("err"))),
      s"strict records must fail with the poison's message: $strictErr")
  }

  test("contaminationScore: split runs don't merge across a gap") {
    // doc 3 hits shingles at positions {0} and {4,5} (gap at 1-3): two runs,
    // max_run 2 -> span 4, n_hit 3
    val docs = Seq(
      (0L, "k1 k2 k3 m1 m2 m3 m4"),
      (3L, "k1 k2 k3 zz yy m1 m2 m3 m4"))
      .toDF("doc_id", "text")
    val d3 = TextAnalysis.contaminationScore(docs).collect()
      .map(x => x.getLong(0) -> x).toMap.apply(3L)
    assert(d3.getAs[Long]("n_hit_pos") === 3L, d3.toString)
    assert(d3.getAs[Long]("max_run") === 2L && d3.getAs[Long]("max_span_tokens") === 4L)
  }
}
