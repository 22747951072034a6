package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.cdr.{CdrPipeline, CdrTables}
import graft.streaming.{CdrStreamJob, CsvCodec, DimensionCache, SessionDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Streaming e2e per SURVEY §5.3: MemoryStream → pipeline → memory/file sink,
  * asserting the streaming plans produce exactly what the batch (oracle-
  * verified) pipeline produces on the same rows. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def csvLines(n: Int): Seq[String] = {
    val src = CdrTables.src(spark, sf).limit(n)
    src.select(CsvCodec.encode(src).as("value")).as[String].collect().toSeq
  }

  test("S1: CSV decode is lossless on well-formed lines and drops malformed ones") {
    val src = CdrTables.src(spark, sf).limit(50)
    val lines = src.select(CsvCodec.encode(src).as("value"))
      .unionByName(Seq("%%% junk %%%").toDF("value"))
    val decoded = CsvCodec.decode(lines)
    assert(decoded.count() == 50)
    assert(decoded.schema == CsvCodec.schema)
    // empty-string imsi/msisdn round-trip to NULL (null-literal parity)
    val nullImsi = src.filter($"imsi".isNull).count()
    assert(decoded.filter($"imsi".isNull).count() == nullImsi)
  }

  test("foreachBatch runner: streaming result == batch pipeline result, partitioned layout") {
    val out = tmp("graft-stream-out")
    val ckpt = tmp("graft-ckpt")
    val mem = MemoryStream[String](spark)
    val lines = csvLines(200)
    mem.addData(lines: _*)

    val imsiCache = new DimensionCache(() => CdrTables.imsiMsisdn(spark, sf), 60000L)
    val msIpCache = new DimensionCache(() => CdrTables.msIpExploded(spark, sf), 60000L)
    val q = CdrStreamJob.runForeachBatch(
      CsvCodec.decode(mem.toDF()), imsiCache, msIpCache, out, ckpt, triggerMs = 100L)
    try q.processAllAvailable() finally q.stop()

    val expected = CdrPipeline.full(
      CdrTables.src(spark, sf).limit(200),
      CdrTables.imsiMsisdn(spark, sf),
      CdrTables.msIpExploded(spark, sf))
    val got = spark.read.parquet(out).drop("batch_id") // idempotency sub-partition
    assert(got.count() == expected.count())
    // partition columns became Hive-style directories (read back as columns)
    assert(got.columns.sorted.toSeq == expected.columns.sorted.toSeq)
    assert(Files.list(java.nio.file.Path.of(out)).iterator().hasNext)
    // value-level equality, order-free
    val key = CdrPipeline.sinkColumns.map(c => col(c).cast("string"))
    val gotKeys = got.select(concat_ws("|", key: _*)).as[String].collect().sorted
    val expKeys = expected.select(concat_ws("|", key: _*)).as[String].collect().sorted
    assert(gotKeys.toSeq == expKeys.toSeq)
  }

  test("foreachBatch runner: one dimension index per snapshot, two jobs per batch, rebuilt on refresh") {
    val out = tmp("graft-index-out")
    val loads = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var msisdn = 777L
    val imsiCache = new DimensionCache(() => {
      loads.incrementAndGet(); Seq((900L, msisdn)).toDF("imsi", "msisdn")
    }, 600000L)
    val msIpCache = new DimensionCache(() => {
      loads.incrementAndGet()
      Seq((java.sql.Timestamp.valueOf("2024-01-15 08:00:00"), 201L, 301L, "vi", "10.0.0.1"))
        .toDF("start_time", "imsi", "msisdn", "probe", "ip")
    }, 600000L)
    // each job's description: the index build's own, or the micro-batch's
    // (StreamExecution ends it with "batch = <id>")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def settled(): Seq[String] = { // the listener bus is async
      var prev = -1
      while (jobs.size != prev) { prev = jobs.size; Thread.sleep(300) }
      jobs.toArray(Array.empty[String]).toSeq
    }
    def indexJobs() = settled().count(_ == "cdr dim index")
    def batchJobs(id: Long) = settled().count(_.endsWith(s"batch = $id"))
    def line(id: Int, imsi: String) = s"2024-01-15 10:00:00.000000,vi_probe,$imsi,,;10.0.0.1;,$id"
    val mem = MemoryStream[String](spark)
    spark.sparkContext.addSparkListener(listener)
    val q = CdrStreamJob.runForeachBatch(
      CsvCodec.decode(mem.toDF()), imsiCache, msIpCache, out, tmp("graft-index-ckpt"), triggerMs = 100L)
    def compiles() = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val compiled = (0 until 3).map { b =>
        mem.addData(line(2 * b, "900"), line(2 * b + 1, ""))
        q.processAllAvailable()
        if (b == 0) assert(indexJobs() > 0, "the first batch builds the index")
        compiles()
      }
      assert(compiled(2) == compiled(1), "a batch like the one before compiles nothing")
      assert(loads.get() == 2)
      val built = indexJobs()
      assert(batchJobs(1) == 2 && batchJobs(2) == 2, settled())
      // a refreshed snapshot: the next batch builds a new index from it
      msisdn = 778L
      imsiCache.invalidate()
      mem.addData(line(6, "900"))
      q.processAllAvailable()
      assert(loads.get() == 3)
      assert(indexJobs() == 2 * built, "one more index build, for the new snapshot")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    val got = spark.read.parquet(out).select("unique_cdr_id", "imsi", "msisdn", "batch_id")
      .as[(Long, Option[Long], Option[Long], Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, Some(900L), Some(777L), 0L), (1L, Some(201L), Some(301L), 0L),
      (2L, Some(900L), Some(777L), 1L), (3L, Some(201L), Some(301L), 1L),
      (4L, Some(900L), Some(777L), 2L), (5L, Some(201L), Some(301L), 2L),
      (6L, Some(900L), Some(778L), 3L)))
  }

  test("writeBatch: a new batch id compiles no new code; layout event_date/probe/batch_id") {
    val out = tmp("graft-batch-layout")
    // a local source: a `limit` plan recompiles on every run by itself
    val full = CdrPipeline.full(
      CsvCodec.decode(csvLines(100).toDF("value")),
      CdrTables.imsiMsisdn(spark, sf),
      CdrTables.msIpExploded(spark, sf))
    def compiles() = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    CdrStreamJob.writeBatch(full, 7L, out)
    val before = compiles()
    CdrStreamJob.writeBatch(full, 8L, out)
    assert(compiles() == before, "the batch id must not be compiled into the plan")
    val root = java.nio.file.Path.of(out)
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(root.relativize(_).toString).toSeq
    assert(files.nonEmpty)
    files.foreach(f => assert(f.matches("event_date=[^/]+/probe=[^/]+/batch_id=(7|8)/[^/]+"), f))
    // the directory names are what they were with a long literal: a reader
    // declaring `batch_id` long reads the ids back as longs
    val back = spark.read.schema(full.schema.add("batch_id", LongType)).parquet(out)
    assert(back.schema("batch_id").dataType == LongType)
    assert(back.select("batch_id").distinct().as[Long].collect().sorted.toSeq == Seq(7L, 8L))
    assert(back.count() == 2 * full.count())
    // event_date is the sink contract's STRING under either documented read;
    // a schema-less read with type inference on would make it a DATE
    def dates(df: org.apache.spark.sql.DataFrame) =
      df.select("event_date").distinct().as[String].collect().sorted.toSeq
    assert(back.schema("event_date").dataType == StringType)
    assert(dates(back) == dates(full))
    val inference = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(inference, "false")
    try {
      val raw = spark.read.parquet(out)
      assert(raw.schema("event_date").dataType == StringType)
      assert(dates(raw) == dates(full))
    } finally spark.conf.unset(inference)
  }

  test("K1 idempotency: a replayed micro-batch rewrites its output instead of appending") {
    val out = tmp("graft-replay-out")
    val full = CdrPipeline.full(
      CdrTables.src(spark, sf).limit(100),
      CdrTables.imsiMsisdn(spark, sf),
      CdrTables.msIpExploded(spark, sf))
    CdrStreamJob.writeBatch(full, batchId = 7L, out)
    val once = spark.read.parquet(out).count()
    // failure between write and checkpoint commit ⇒ same batchId re-runs
    CdrStreamJob.writeBatch(full, batchId = 7L, out)
    assert(spark.read.parquet(out).count() == once, "replay must not duplicate rows")
    // a genuinely new batch still appends
    CdrStreamJob.writeBatch(full, batchId = 8L, out)
    assert(spark.read.parquet(out).count() == 2 * once)
  }

  test("ingest idempotency: replayed batches rewrite both sinks instead of appending") {
    val out = tmp("graft-ingest-replay")
    val qd = tmp("graft-ingest-replay-q")
    val docs = Seq((1L, "a b", "en", "s1", 3L), (2L, "c d", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dead = Seq("{broken").toDF("value")
    CdrStreamJob.writeBatch(docs, 3L, out, 0L, Seq("lang"))
    CdrStreamJob.writeBatch(dead, 3L, qd, 0L, Nil, "text")
    // failure between write and checkpoint commit ⇒ same batchId re-runs
    CdrStreamJob.writeBatch(docs, 3L, out, 0L, Seq("lang"))
    CdrStreamJob.writeBatch(dead, 3L, qd, 0L, Nil, "text")
    assert(spark.read.parquet(out).count() == 2, "parquet replay must not duplicate")
    assert(spark.read.text(qd).count() == 1, "quarantine replay must not duplicate")
    // a genuinely new batch still lands alongside
    CdrStreamJob.writeBatch(docs, 4L, out, 0L, Seq("lang"))
    assert(spark.read.parquet(out).count() == 4)
  }

  test("A2 streaming: SessionDedup emits per-key argmax after the session gap") {
    // NB: a ProcessingTimeTimeout query runs micro-batches continuously
    // (shouldRunAnotherBatch is always true — timers may fire at any time),
    // so processAllAvailable() is not a usable barrier here; we poll the
    // memory sink with a deadline instead. Tiny literal dims keep each of
    // those continuous batches cheap.
    val mem = MemoryStream[String](spark)
    val src = CsvCodec.decode(mem.toDF())
    val imsiDim = Seq((900L, 111L)).toDF("imsi", "msisdn")
    val msIpDim = Seq(
      (java.sql.Timestamp.valueOf("2024-01-15 08:00:00"), 201000L, 301000L, "vi", "10.0.0.1"),
      (java.sql.Timestamp.valueOf("2024-01-15 09:00:00"), 202000L, 302000L, "vi", "10.0.0.2")
    ).toDF("start_time", "imsi", "msisdn", "probe", "ip")
    val enriched = CdrStreamJob.enrichedStream(src, imsiDim, msIpDim, gapMs = 500L)
    val q = enriched.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt2")).start()
    try {
      // one CDR, imsi NULL, two IPs ⇒ range join fans out to 2 rows ⇒ the
      // session argmax must emit exactly one row, enriched from the later
      // dim session (imsi 202000)
      mem.addData("2024-01-15 10:00:00.000000,vi_probe,,,;10.0.0.1;10.0.0.2;,42")
      // generous deadline: this box shows intermittent multi-minute system
      // stalls; the assertion is on WHAT is emitted, not how fast
      val deadline = System.currentTimeMillis() + 180000
      def emitted() = spark.table("dedup_out").count()
      while (emitted() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      val got = spark.table("dedup_out").collect()
      assert(got.length == 1, s"expected exactly one dedup emission, got ${got.toSeq}")
      val r = got.head
      assert(r.getAs[Long]("unique_cdr_id") == 42L)
      assert(r.getAs[Long]("imsi") == 202000L) // argmax by latest dim session
    } finally q.stop()
  }

  test("A2 gap stress: bursts inside ONE micro-batch merge into one session; a post-emit burst opens a new one") {
    // Pins the semantics where Spark's ProcessingTimeTimeout mapping differs
    // from Flink's ProcessingTimeSessionWindows (EnrichmentApp.java:145-148)
    // when the micro-batch interval exceeds the 1 s gap: Flink splits
    // sessions by per-record ARRIVAL time, Spark by BATCH boundary (timers
    // are only evaluated between batches). Consequences pinned here:
    //   1. two bursts landing in the same micro-batch — however far apart
    //      they arrived in wall-clock — fold into ONE session whose emission
    //      is the argmax across BOTH bursts (sessions can merge, never split
    //      wrongly; no row is lost, none duplicated);
    //   2. once the gap fires and the session emits, state is gone — a later
    //      burst for the same key opens a NEW session (second emission),
    //      matching Flink's new-window-after-close behavior.
    import java.sql.Timestamp
    import graft.streaming.EnrichedCdr
    def row(stime: String, dim: String): EnrichedCdr = EnrichedCdr(
      Timestamp.valueOf(stime), "vi_probe", Some(900L), Some(111L), "10.0.0.1",
      77L, Some(Timestamp.valueOf(dim)))
    val mem = MemoryStream[EnrichedCdr](spark)
    // both bursts queued BEFORE the query starts ⇒ guaranteed same batch 0,
    // the exact shape a gap-length stall under a slow micro-batch produces
    mem.addData(row("2024-01-15 10:00:00", "2024-01-15 08:00:00"))
    mem.addData(row("2024-01-15 10:00:01", "2024-01-15 09:00:00"))
    val q = SessionDedup(mem.toDF(), gapMs = 500L)
      .writeStream.format("memory").queryName("gap_stress")
      .outputMode("append").option("checkpointLocation", tmp("graft-ckpt-gap")).start()
    try {
      val deadline = System.currentTimeMillis() + 180000
      def n() = spark.table("gap_stress").count()
      while (n() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      val first = spark.table("gap_stress").collect()
      assert(first.length == 1, s"same-batch bursts must merge to ONE session, got ${first.toSeq}")
      assert(first.head.getAs[Timestamp]("_start_time") ===
        Timestamp.valueOf("2024-01-15 09:00:00"), "argmax must span both merged bursts")
      // session emitted ⇒ state removed ⇒ this burst is a NEW session
      mem.addData(row("2024-01-15 10:05:00", "2024-01-15 08:30:00"))
      while (n() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      val second = spark.table("gap_stress").collect().sortBy(_.getAs[Timestamp]("start_time").getTime)
      assert(second.length == 2, s"post-emit burst must open a new session, got ${second.toSeq}")
      assert(second.last.getAs[Timestamp]("_start_time") ===
        Timestamp.valueOf("2024-01-15 08:30:00"),
        "new session's argmax must NOT see the closed session's rows")
    } finally q.stop()
  }

  test("S5: synthetic generator is deterministic and schema-complete") {
    val a = CdrStreamJob.syntheticCdr(spark.range(100).select($"id".as("i")))
    val b = CdrStreamJob.syntheticCdr(spark.range(100).select($"id".as("i")))
    assert(a.schema.fieldNames.toSeq == CsvCodec.schema.fieldNames.toSeq)
    assert(a.exceptAll(b).count() == 0)
    // imsi present on ~half (LCG x even), never on the others
    val n = a.count()
    val withImsi = a.filter($"imsi".isNotNull).count()
    assert(withImsi > n / 4 && withImsi < 3 * n / 4)
  }

  test("event-time watermark: append emits closed windows once, late rows are dropped") {
    val mem = MemoryStream[(java.sql.Timestamp, String)](spark)
    val q = streaming.EventWindows.tumblingCounts(
        mem.toDF().toDF("ts", "event_type"), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("win_out").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-win")).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      mem.addData(ts("2024-01-01 10:00:00") -> "click", ts("2024-01-01 10:30:00") -> "click")
      q.processAllAvailable()
      // watermark still inside the 10:00 window — nothing final yet
      assert(spark.table("win_out").isEmpty)
      // jump event time to 12:00 → watermark 11:50 → the 10:00 window closes
      mem.addData(ts("2024-01-01 12:00:00") -> "view")
      q.processAllAvailable()
      // a late straggler for the closed 10:00 window must be dropped
      mem.addData(ts("2024-01-01 10:05:00") -> "click")
      // and one more on-time row to advance the batch
      mem.addData(ts("2024-01-01 12:10:00") -> "view")
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select($"w_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(out == Set(("2024-01-01 10:00:00", "click", 2L)),
        s"closed-window emission wrong: $out")
    } finally q.stop()
  }

  test("hopping windows: each event lands in win/slide overlapping windows, closed once by the watermark") {
    val mem = MemoryStream[(java.sql.Timestamp, String)](spark)
    val q = streaming.EventWindows.hoppingCounts(
        mem.toDF().toDF("ts", "event_type"), "10 minutes", "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("hop_out").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-hop")).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // 10:00 -> windows [9:30, 10:30) and [10:00, 11:00)
      // 10:40 -> windows [10:00, 11:00) and [10:30, 11:30)
      mem.addData(ts("2024-01-01 10:00:00") -> "click",
        ts("2024-01-01 10:40:00") -> "click")
      q.processAllAvailable()
      // watermark = 10:40 − 10 min = 10:30: exactly the [9:30, 10:30)
      // window has closed; the two still-open windows must not have leaked
      val early = spark.table("hop_out")
        .select($"w_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(early == Set(("2024-01-01 09:30:00", "click", 1L)),
        s"only the watermark-passed window may emit: $early")
      // advance the watermark past every open window's end
      mem.addData(ts("2024-01-01 13:00:00") -> "view")
      q.processAllAvailable()
      val out = spark.table("hop_out")
        .select($"w_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(out == Set(
        ("2024-01-01 09:30:00", "click", 1L),
        ("2024-01-01 10:00:00", "click", 2L),
        ("2024-01-01 10:30:00", "click", 1L)),
        s"hopping emission wrong: $out")
    } finally q.stop()
  }

  test("streaming dedup within watermark keeps first arrival per event_id") {
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val q = streaming.EventWindows.dedupEvents(
        mem.toDF().toDF("ts", "event_id", "event_type"), "1 hour")
      .writeStream.format("memory").queryName("dedup_ev_out").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-dedup")).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      mem.addData(
        (ts("2024-01-01 10:00:00"), 1L, "click"),
        (ts("2024-01-01 10:00:05"), 1L, "click"), // redelivery, same id
        (ts("2024-01-01 10:01:00"), 2L, "view"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 10:02:00"), 1L, "click")) // late redelivery
      q.processAllAvailable()
      val ids = spark.table("dedup_ev_out").select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming curate: per-row gates match batch logic, content dups drop first-wins") {
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, String)](spark)
    val q = graft.llm.TextAnalysis.streamingCurate(
        mem.toDF().toDF("ts", "doc_id", "text", "lang"), "1 hour")
      .writeStream.format("memory").queryName("curate_out").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-curate")).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val good = (1 to 8).flatMap(i => Seq("the", s"w$i", s"x$i", s"y$i", s"z$i")).mkString(" ")
    try {
      mem.addData(
        (ts("2024-01-01 10:00:00"), 1L, good, "en"),
        (ts("2024-01-01 10:00:05"), 2L, good, "en"),          // content dup of 1
        (ts("2024-01-01 10:00:10"), 3L, ("spam " * 40).trim, "en"), // repetitive
        (ts("2024-01-01 10:00:15"), 101L, "held out benchmark doc text here", "en")) // eval doc
      q.processAllAvailable()
      val rows = spark.table("curate_out")
        .select($"doc_id", $"lang_ok", $"quality_ok", $"not_repetitive", $"keep")
        .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect().map(r => r._1 -> r).toMap
      assert(rows.keySet == Set(1L, 3L),
        s"dup doc 2 and eval doc 101 must drop: ${rows.keySet}")
      assert(rows(1L) == ((1L, true, true, true, true)))
      assert(rows(3L)._4 == false && rows(3L)._5 == false, "repetition gate in-stream")
    } finally q.stop()
  }

  test("streaming sample: stateless mixture gates run unchanged on a stream, matching batch") {
    // sampleWeighted is a pure projection, so the SAME function runs on a
    // streaming frame with no watermark/state — and must agree with the
    // batch decision row-for-row (the reproducibility contract: the
    // sampling hash is a pure function of doc_id, not of execution mode)
    val mem = MemoryStream[(Long, String, String)](spark)
    val q = graft.llm.TextAnalysis.sampleWeighted(
        mem.toDF().toDF("doc_id", "text", "lang"))
      .writeStream.format("memory").queryName("sample_out").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-sample")).start()
    val batchIn = (1L to 40L).map(i =>
      (i, "tok", Seq("en", "zh", "de", "fr", "es")((i % 5).toInt)))
    try {
      mem.addData(batchIn: _*)
      q.processAllAvailable()
      val streamed = spark.table("sample_out")
        .select($"doc_id", $"n_copies").as[(Long, Int)].collect().toMap
      val batch = graft.llm.TextAnalysis.sampleWeighted(
          batchIn.toDF("doc_id", "text", "lang"))
        .select($"doc_id", $"n_copies").as[(Long, Int)].collect().toMap
      assert(streamed == batch, s"stream/batch divergence: $streamed vs $batch")
      assert(streamed.size == 40)
    } finally q.stop()
  }

  test("streaming pack: per-source token cursor survives batches, matches batch packing") {
    val mem = MemoryStream[(Long, String, String)](spark)
    val q = streaming.StreamingPack(
        mem.toDF().toDF("doc_id", "text", "source"), budget = 5)
      .writeStream.format("memory").queryName("pack_out").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-pack")).start()
    try {
      // batch 1: s1 gets 3 + 4 tokens; batch 2 continues s1 at cum=7 and
      // opens s2 — the cursor must survive the micro-batch boundary
      mem.addData((1L, "a b c", "s1"), (2L, "d e f g", "s1"))
      q.processAllAvailable()
      mem.addData((3L, "h i", "s1"), (4L, "z", "s2"))
      q.processAllAvailable()
      val streamed = spark.table("pack_out")
        .select($"doc_id", $"pack_id", $"pack_offset")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      // doc_id-ordered arrival -> identical to the batch packer
      val batchIn = Seq((1L, "a b c", "s1"), (2L, "d e f g", "s1"),
        (3L, "h i", "s1"), (4L, "z", "s2"))
        .toDF("doc_id", "text", "source")
      val batch = graft.llm.TextAnalysis.packGreedy(batchIn, 5)
        .select($"doc_id", $"pack_id", $"pack_offset")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(streamed == batch, s"stream/batch divergence: $streamed vs $batch")
      assert(streamed(3L) == ((1L, 2L)), "doc 3 must continue from cum=7, not restart")
    } finally q.stop()
  }

  test("streaming pack: cursor state survives a query RESTART from the checkpoint") {
    // stop the query after batch 1, start a NEW query over the same
    // checkpoint, feed batch 2 — the recovered per-source cursor must
    // continue packing where the first incarnation left off. This is the
    // I1 recovery contract actually exercised, not just a checkpoint dir.
    // the memory sink refuses checkpoint recovery (not fault-tolerant), so
    // the restart goes through the parquet file sink — the same recoverable
    // sink class the production pipeline uses
    val mem = MemoryStream[(Long, String, String)](spark)
    val ckpt = tmp("graft-ckpt-pack-restart")
    val outDir = tmp("graft-pack-restart-out")
    def start() = streaming.StreamingPack(
        mem.toDF().toDF("doc_id", "text", "source"), budget = 5)
      .writeStream.format("parquet").option("path", outDir)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      mem.addData((1L, "a b c", "s1"), (2L, "d e f g", "s1")) // cum -> 7
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      mem.addData((3L, "h i", "s1")) // must start at cum=7: pack 1, offset 2
      q2.processAllAvailable()
      val out = spark.read.parquet(outDir)
        .select($"doc_id", $"pack_id", $"pack_offset")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(out(3L) == ((1L, 2L)),
        s"cursor lost across restart: got ${out.get(3L)}, state must resume at cum=7")
      assert(out.keySet == Set(1L, 2L, 3L), s"exactly-once output: ${out.keySet}")
    } finally q2.stop()
  }

  test("corpus ingest e2e: watch dir -> decode/quarantine -> gate -> partitioned parquet, incremental") {
    val inDir = tmp("graft-ingest-in")
    val outDir = tmp("graft-ingest-out")
    val qDir = tmp("graft-ingest-quarantine")
    val ckpt = tmp("graft-ingest-ckpt")
    def goodText(p: String) =
      (1 to 8).flatMap(i => Seq("the", s"${p}w$i", s"${p}x$i", s"${p}y$i", s"${p}z$i")).mkString(" ")
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s1","n_chars":${text.length}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f1.json"),
      (doc(1, goodText("a")) + "\n" +
        doc(2, goodText("a")) + "\n" +          // exact dup of 1: loses keeper election
        doc(3, "zz!! ?!? #@!") + "\n" +         // quality gate fails
        "{\"doc_id\": broken\n" +               // corrupt -> quarantine
        "\n").getBytes)                         // blank separator: neither bucket
    // precomputed held-out benchmark shingles: any ingested doc sharing
    // >= 2 of them is decontaminated away (goodText("e") is the benchmark)
    val evalSh = graft.llm.Dedup.shingles(graft.llm.Dedup.tokenized(
      Seq((0L, goodText("e"))).toDF("doc_id", "text")))
    val q = streaming.CorpusIngest.run(spark, inDir, outDir, qDir, ckpt,
      evalShingles = Some(evalSh))
    try {
      q.processAllAvailable()
      val out1 = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
      assert(out1 == Set(1L), s"got $out1")
      val quarantined = spark.read.text(qDir).select($"value").as[String].collect()
      assert(quarantined.length == 1 && quarantined.head.contains("broken"))
      // a LATER file is picked up incrementally, earlier files not
      // reprocessed; doc 202 (202 % 101 == 0) is a held-out eval doc and
      // must never reach the training corpus; doc 5 duplicates benchmark
      // shingles and must be decontaminated away
      java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f2.json"),
        (doc(4, goodText("b")) + "\n" + doc(202, goodText("c")) + "\n" +
          doc(5, goodText("e")) + "\n").getBytes)
      q.processAllAvailable()
      val out2 = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
      assert(out2 == Set(1L, 4L),
        s"got $out2 — eval doc 202 and contaminated doc 5 must be excluded")
      // lang partitioning materialized in the layout; canonical columns kept
      assert(new java.io.File(outDir, "lang=en").exists())
      assert(spark.read.parquet(outDir).columns.contains("n_chars"))
    } finally q.stop()
  }

  test("ingest near-dup gate: a batch doc near-duplicating the stored index is dropped, batch-parity") {
    val inDir = tmp("graft-nd-in")
    val outDir = tmp("graft-nd-out")
    val qDir = tmp("graft-nd-quarantine")
    val ckpt = tmp("graft-nd-ckpt")
    val idx = tmp("graft-nd-idx")
    def goodText(p: String) =
      (1 to 8).flatMap(i => Seq("the", s"${p}w$i", s"${p}x$i", s"${p}y$i", s"${p}z$i")).mkString(" ")
    // one mutated trailing token: 36 of 40 distinct shingles survive ->
    // Jaccard 0.9 against corpus doc 1, far above the 0.4 gate
    val nearA = goodText("a").split(" ").dropRight(1).mkString(" ") + " qq9"
    // the index is built ONCE from the existing corpus; the stream below
    // never rescans it — each batch band-joins against these parquet files
    graft.llm.Dedup.writeNearDupIndex(
      Seq((1L, goodText("a")), (2L, goodText("z"))).toDF("doc_id", "text"), idx)
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s1","n_chars":${text.length}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f1.json"),
      (doc(10, nearA) + "\n" + doc(11, goodText("b")) + "\n").getBytes)
    val q = streaming.CorpusIngest.run(spark, inDir, outDir, qDir, ckpt,
      nearDupIndex = Some(idx))
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    assert(out == Set(11L),
      s"got $out — doc 10 near-duplicates indexed corpus doc 1 and must be dropped")
    // batch parity: the stream's drop set IS incrementalAgainstIndex over
    // the batch's distinct texts (content-hash keyed, same threshold)
    val flagged = graft.llm.Dedup.incrementalAgainstIndex(
        Seq(nearA, goodText("b")).toDF("text")
          .select(xxhash64($"text").as("doc_id"), $"text"), idx, 0.4)
      .select($"new_doc").as[Long].collect().toSet
    val nearAHash = Seq(nearA).toDF("text").select(xxhash64($"text")).as[Long].head()
    assert(flagged == Set(nearAHash),
      s"batch twin disagrees with the streaming gate: $flagged")
  }

  test("ingest containment gate: an excerpt of an indexed page is dropped where the Jaccard gate passes it") {
    val inDir = tmp("graft-cont-in")
    val outDir = tmp("graft-cont-out")
    val qDir = tmp("graft-cont-quarantine")
    val ckpt = tmp("graft-cont-ckpt")
    val idx = tmp("graft-cont-idx")
    def goodText(p: String) =
      (1 to 8).flatMap(i => Seq("the", s"${p}w$i", s"${p}x$i", s"${p}y$i", s"${p}z$i")).mkString(" ")
    val page = goodText("a") // 40 tokens -> 38 shingles
    // a 12-token excerpt of the page: 10 shingles, ALL inside the page's
    // set -> containment 1.0 but Jaccard 10/38 ~ 0.26, under the 0.4 gate
    val excerpt = page.split(" ").take(12).mkString(" ")
    graft.llm.Dedup.writeNearDupIndex(
      Seq((1L, page), (2L, goodText("z"))).toDF("doc_id", "text"), idx)
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s1","n_chars":${text.length}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f1.json"),
      (doc(10, excerpt) + "\n" + doc(11, goodText("b")) + "\n").getBytes)
    val q = streaming.CorpusIngest.run(spark, inDir, outDir, qDir, ckpt,
      nearDupIndex = Some(idx), containmentThreshold = Some(0.9))
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    assert(out == Set(11L),
      s"got $out — excerpt doc 10 is contained in indexed page 1 and must be dropped")
    // the distinction is real: the Jaccard near-dup twin does NOT flag it
    val jaccardFlagged = graft.llm.Dedup.incrementalAgainstIndex(
        Seq(excerpt).toDF("text").select(xxhash64($"text").as("doc_id"), $"text"),
        idx, 0.4)
      .select($"new_doc").as[Long].collect().toSet
    assert(jaccardFlagged.isEmpty,
      "fixture invalid: the Jaccard gate already drops the excerpt, so containment proves nothing")
    // batch parity: the stream's drop set IS containmentAgainstIndex over
    // the batch's distinct texts (content-hash keyed, same threshold)
    val flagged = graft.llm.Dedup.containmentAgainstIndex(
        Seq(excerpt, goodText("b")).toDF("text")
          .select(xxhash64($"text").as("doc_id"), $"text"), idx, 0.9)
      .select($"new_doc").as[Long].collect().toSet
    val excerptHash = Seq(excerpt).toDF("text").select(xxhash64($"text")).as[Long].head()
    assert(flagged == Set(excerptHash),
      s"batch twin disagrees with the streaming gate: $flagged")
  }

  test("ingest DSIR gate: a raw-pool-typical doc scores under the stored ratio cut and is dropped, batch-parity") {
    val inDir = tmp("graft-dsir-in")
    val outDir = tmp("graft-dsir-out")
    val qDir = tmp("graft-dsir-quarantine")
    val ckpt = tmp("graft-dsir-ckpt")
    val ratios = tmp("graft-dsir-ratios")
    def goodText(p: String) =
      (1 to 8).flatMap(i => Seq("the", s"${p}w$i", s"${p}x$i", s"${p}y$i", s"${p}z$i")).mkString(" ")
    // ratio table trained ONCE: target (en) speaks the t-bigram family, the
    // raw pool (xx) speaks the j-family — the stream below only reads the
    // 64-row table, never this corpus
    graft.llm.TextAnalysis.writeDsirRatios(Seq(
      (1L, goodText("t"), "en"), (2L, goodText("t") + " tail", "en"),
      (3L, goodText("j"), "xx"), (4L, goodText("j") + " tail", "xx")
    ).toDF("doc_id", "text", "lang"), ratios)
    // both streamed docs pass every structural gate; they differ only in
    // which bigram family they speak
    val targetLike = goodText("t").split(" ").dropRight(1).mkString(" ") + " qq9"
    val junky = goodText("j").split(" ").dropRight(1).mkString(" ") + " qq9"
    val scores = graft.llm.TextAnalysis.dsirScoreAgainstRatios(
        Seq((10L, targetLike), (11L, junky)).toDF("doc_id", "text"), ratios)
      .select($"doc_id", $"imp_micro").as[(Long, Long)].collect().toMap
    assert(scores(10L) > scores(11L),
      s"fixture invalid: target-like must outscore raw-typical: $scores")
    val cut = (scores(10L) + scores(11L)) / 2
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s1","n_chars":${text.length}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f1.json"),
      (doc(10, targetLike) + "\n" + doc(11, junky) + "\n").getBytes)
    val q = streaming.CorpusIngest.run(spark, inDir, outDir, qDir, ckpt,
      dsirRatios = Some(ratios), dsirMinScoreMicro = cut)
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    assert(out == Set(10L),
      s"got $out — doc 11 speaks the raw pool's bigram family and must be dropped")
    // batch parity: the stream's drop set IS dsirScoreAgainstRatios below
    // the cut over the batch's distinct texts (content-hash keyed)
    val flagged = graft.llm.TextAnalysis.dsirScoreAgainstRatios(
        Seq(targetLike, junky).toDF("text")
          .select(xxhash64($"text").as("doc_id"), $"text"), ratios)
      .filter($"imp_micro" < cut).select($"doc_id").as[Long].collect().toSet
    val junkyHash = Seq(junky).toDF("text").select(xxhash64($"text")).as[Long].head()
    assert(flagged == Set(junkyHash),
      s"batch twin disagrees with the streaming gate: $flagged")
  }

  test("ingest classifier gate: a crawl-typical doc scores under the stored NB cut and is dropped; balanced/OOV text abstains") {
    val inDir = tmp("graft-nb-in")
    val outDir = tmp("graft-nb-out")
    val qDir = tmp("graft-nb-quarantine")
    val ckpt = tmp("graft-nb-ckpt")
    val weights = tmp("graft-nb-weights")
    def goodText(p: String) =
      (1 to 8).flatMap(i => Seq("the", s"${p}w$i", s"${p}x$i", s"${p}y$i", s"${p}z$i")).mkString(" ")
    // weight table trained ONCE: the curated seed (src0) speaks the c-word
    // family, the crawl rest speaks the j-family — the stream below only
    // probes the stored table, never this seed corpus
    graft.llm.TextAnalysis.writeNbWeights(Seq(
      (1L, goodText("c"), "src0"), (2L, goodText("c") + " tail", "src0"),
      (3L, goodText("j"), "crawl"), (4L, goodText("j") + " tail", "crawl")
    ).toDF("doc_id", "text", "source"), weights)
    val curatedLike = goodText("c").split(" ").dropRight(1).mkString(" ") + " qq9"
    val junky = goodText("j").split(" ").dropRight(1).mkString(" ") + " qq9"
    // "the" is class-balanced in the seed (weight exactly 500000) and the
    // o-family is out-of-vocabulary (the smoothed default 500000) — this doc
    // scores exactly the prior-neutral threshold and must PASS: the
    // classifier abstains without evidence
    val oovish = goodText("o")
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s1","n_chars":${text.length}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f1.json"),
      (doc(10, curatedLike) + "\n" + doc(11, junky) + "\n" + doc(12, oovish) + "\n").getBytes)
    val q = streaming.CorpusIngest.run(spark, inDir, outDir, qDir, ckpt,
      nbWeights = Some(weights))
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    assert(out == Set(10L, 12L),
      s"got $out — doc 11 speaks the crawl's word family and must be dropped; 12 abstains")
    // batch parity: the same batch through gate() carries the per-doc verdict
    val batch = Seq((10L, curatedLike), (11L, junky), (12L, oovish))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length($"text"))
    val gated = streaming.CorpusIngest.gate(batch, nbWeights = Some(weights))
      .select($"doc_id", $"classifier_ok").as[(Long, Boolean)].collect().toMap
    assert(gated == Map(10L -> true, 11L -> false, 12L -> true),
      s"batch twin disagrees with the streaming gate: $gated")
  }

  test("CurationJob: config-driven wiring runs the full ingest incl. eval-corpus decontamination") {
    val inDir = tmp("graft-cjob-in")
    val outDir = tmp("graft-cjob-out")
    val evalDir = tmp("graft-cjob-eval")
    def goodText(p: String) =
      (1 to 8).flatMap(i => Seq("the", s"${p}w$i", s"${p}x$i", s"${p}y$i", s"${p}z$i")).mkString(" ")
    // benchmark corpus as parquet — the config points at it by path
    Seq((0L, goodText("e"))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(evalDir)
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s1","n_chars":${text.length}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f1.json"),
      (doc(1, goodText("a")) + "\n" + doc(5, goodText("e")) + "\n").getBytes)
    val conf = GraftConfig.fromMap(Map(
      "curation.input-dir" -> inDir,
      "curation.output-dir" -> outDir,
      "curation.quarantine-dir" -> tmp("graft-cjob-q"),
      "curation.checkpointLocation" -> tmp("graft-cjob-ckpt"),
      "curation.eval-corpus" -> evalDir))
    val q = graft.apps.CurationJob.start(spark, conf)
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
    assert(out == Set(1L),
      s"got $out — doc 5 duplicates the configured benchmark corpus and must be dropped")
  }

  test("ingest crash-replay: a batch killed after the sink write, before commit, replays without duplicates") {
    val inDir = tmp("graft-crash-in")
    val outDir = tmp("graft-crash-out")
    val qDir = tmp("graft-crash-quarantine")
    val ckpt = tmp("graft-crash-ckpt")
    def goodText(p: String) =
      (1 to 8).flatMap(i => Seq("the", s"${p}w$i", s"${p}x$i", s"${p}y$i", s"${p}z$i")).mkString(" ")
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s1","n_chars":${text.length}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(inDir, "f1.json"),
      (doc(1, goodText("a")) + "\n" + doc(4, goodText("b")) + "\n" +
        "{\"doc_id\": broken\n").getBytes)
    // crash in the at-least-once window: sinks written, checkpoint commit not
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = streaming.CorpusIngest.run(spark, inDir, outDir, qDir, ckpt,
      onBatchComplete = { _ =>
        if (!crashed.getAndSet(true))
          throw new RuntimeException("injected crash: after sink write, before commit")
      })
    try q1.processAllAvailable()
    catch { case _: Throwable => () } // the injected failure surfaces here
    q1.stop()
    assert(crashed.get(), "injection never fired")
    // the window is real: data reached the sink even though the batch never
    // committed — a plain append sink would now be primed to duplicate
    val afterCrash = spark.read.parquet(outDir).select($"doc_id").as[Long].collect()
    assert(afterCrash.sorted.toSeq == Seq(1L, 4L), s"got ${afterCrash.toSeq}")
    // restart from the same checkpoint: Spark replays the uncommitted batch
    // under the SAME batch_id; dynamic overwrite replaces its own partitions
    val q2 = streaming.CorpusIngest.run(spark, inDir, outDir, qDir, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val docs = spark.read.parquet(outDir).select($"doc_id").as[Long].collect()
    assert(docs.length == docs.distinct.length,
      s"replay duplicated documents: ${docs.toSeq.sorted}")
    assert(docs.toSet == Set(1L, 4L), s"got ${docs.toSet}")
    val quarantined = spark.read.text(qDir).select($"value").as[String].collect()
    assert(quarantined.length == 1 && quarantined.head.contains("broken"),
      s"quarantine must hold exactly the one corrupt line once: ${quarantined.toSeq}")
  }

  test("ingest gate: contamination keys on content hash — NULL/duplicate doc_ids can't leak a benchmark doc") {
    def goodText(p: String) =
      (1 to 8).flatMap(i => Seq("the", s"${p}w$i", s"${p}x$i", s"${p}y$i", s"${p}z$i")).mkString(" ")
    val evalSh = graft.llm.Dedup.shingles(graft.llm.Dedup.tokenized(
      Seq((0L, goodText("e"))).toDF("doc_id", "text")))
    val batch = Seq(
      (Option(1L), goodText("a")),              // clean keeper
      (None: Option[Long], goodText("e")),      // benchmark text, NULL doc_id
      (Option(7L), goodText("b")),              // dup doc_id, clean text
      (Option(7L), goodText("e")),              // dup doc_id, benchmark text
      // dup doc_id 9: two DIFFERENT texts each sharing exactly ONE shingle
      // with the benchmark — pooling by doc_id would sum 1+1 >= minOverlap
      // and falsely contaminate both
      (Option(9L), "q1 q2 the ew1 ex1 q3 q4 q5 q6 q7"),
      (Option(9L), "p1 p2 ew1 ex1 ey1 p3 p4 p5 p6 p7"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length($"text"))
    val out = streaming.CorpusIngest.gate(batch, evalShingles = Some(evalSh))
      .select($"doc_id", $"text", $"not_contaminated", $"keep")
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getString(1).take(6)) -> ((r.getBoolean(2), r.getBoolean(3)))).toMap
    // the NULL-doc_id benchmark doc MUST be flagged (old doc_id-keyed join
    // dropped it from the overlap frame: NULL never equals NULL)
    assert(out((None, goodText("e").take(6)))._1 == false,
      "NULL doc_id leaked a benchmark doc")
    assert(out((Some(7L), goodText("e").take(6)))._1 == false)
    // clean rows stay clean even when they share a doc_id with a dirty one
    assert(out((Some(7L), goodText("b").take(6)))._1 == true)
    assert(out((Some(1L), goodText("a").take(6))) == ((true, true)))
    // sub-threshold overlaps (1 shingle each) on two different texts must
    // NOT pool by doc_id into a false >= minOverlap contamination
    assert(out((Some(9L), "q1 q2 "))._1 == true, "doc 9 text A falsely contaminated")
    assert(out((Some(9L), "p1 p2 "))._1 == true, "doc 9 text B falsely contaminated")
  }

  test("stream-stream event-time as-of: decided at watermark time — a late dim with earlier event time wins") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val memF = MemoryStream[(Long, String, String, java.sql.Timestamp)](spark)
    val memD = MemoryStream[(String, String, java.sql.Timestamp, Long, Long)](spark)
    val facts = memF.toDF().toDF("unique_cdr_id", "probe", "ip", "ts")
      .withWatermark("ts", "0 seconds")
    val dims = memD.toDF().toDF("probe", "ip", "ts", "imsi", "msisdn")
      .withWatermark("ts", "0 seconds")
    val q = streaming.StreamingAsOf.enrich(facts, dims)
      .writeStream.format("memory").queryName("st_asof").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-stasof")).start()
    try {
      // batch 1: dim v1 at 10:00:00, fact at 10:00:30 — watermark (min of
      // both inputs) is 10:00:00, so the fact must NOT emit yet: a
      // processing-time lookup would already have matched v1 irrevocably
      memD.addData(("p1", "9.9.9.9", ts("2024-01-01 10:00:00"), 1L, 501L))
      memF.addData((100L, "p1", "9.9.9.9", ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      assert(spark.table("st_asof").count() == 0,
        "fact finalized before the watermark passed it — disorder unsafe")
      // batch 2: dim v2 arrives LATE in arrival order but carries event
      // time 10:00:20 — still before the fact, so it must win
      memD.addData(("p1", "9.9.9.9", ts("2024-01-01 10:00:20"), 2L, 502L))
      q.processAllAvailable()
      // batch 3: advance BOTH watermarks past the fact
      memD.addData(("p1", "9.9.9.9", ts("2024-01-01 10:05:00"), 9L, 509L))
      memF.addData((200L, "p1", "9.9.9.9", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val out = spark.table("st_asof")
        .select($"unique_cdr_id", $"imsi", $"msisdn", $"dim_ts")
        .as[(Long, Option[Long], Option[Long], java.sql.Timestamp)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(out.contains(100L), s"fact 100 never finalized: $out")
      assert(out(100L) == ((Some(2L), Some(502L), ts("2024-01-01 10:00:20"))),
        s"late dim v2 must win by event time, got ${out(100L)}")
      // flush fact 200 (needs the watermark past 10:05:00) and check the
      // whole output equals the batch as-of twin on the same rows
      memD.addData(("p1", "9.9.9.9", ts("2024-01-01 11:00:00"), 10L, 510L))
      memF.addData((300L, "p1", "9.9.9.9", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("st_asof")
        .select($"unique_cdr_id", $"imsi", $"msisdn")
        .as[(Long, Option[Long], Option[Long])].collect().toSet
      val batchFacts = Seq(
        (100L, "p1", "9.9.9.9", ts("2024-01-01 10:00:30")),
        (200L, "p1", "9.9.9.9", ts("2024-01-01 10:05:00")))
        .toDF("unique_cdr_id", "probe", "ip", "start_time")
      val batchDims = Seq(
        ("p1", "9.9.9.9", ts("2024-01-01 10:00:00"), 1L, 501L),
        ("p1", "9.9.9.9", ts("2024-01-01 10:00:20"), 2L, 502L),
        ("p1", "9.9.9.9", ts("2024-01-01 10:05:00"), 9L, 509L))
        .toDF("probe", "ip", "start_time", "imsi", "msisdn")
      val batch = graft.operators.AsOfJoin.leftAsOf(
          batchFacts, batchDims, keys = Seq("probe", "ip"),
          leftTime = "start_time", rightTime = "start_time",
          payload = Seq("imsi" -> "_imsi", "msisdn" -> "_msisdn"))
        .select($"unique_cdr_id", $"_imsi", $"_msisdn")
        .as[(Long, Option[Long], Option[Long])].collect().toSet
      assert(batch.subsetOf(streamed),
        s"stream disagrees with the batch as-of twin: stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming KMV sketch: k-bounded state, running estimate == batch sketch of the prefix") {
    val mem = MemoryStream[(Long, String, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text", "lang")
    val latest = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    val q = streaming.StreamingKmv.run(stream)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-kmv"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          latest(r.getString(0)) = (r.getLong(1), r.getLong(2)))
        ()
      }.start()
    def doc(id: Long, p: String, lang: String) =
      (id, (1 to 10).map(j => s"$p${id}_$j").mkString(" "), lang)
    val b1 = (1L to 30L).map(doc(_, "en", "en"))
    val b2 = (31L to 60L).map(doc(_, "en", "en")) ++ (61L to 63L).map(doc(_, "fr", "fr"))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // en has 600 distinct tokens (estimator path), fr 30 (exact path);
    // state stays k-bounded in both
    assert(latest.values.forall(_._1 <= 64), s"state exceeded k: $latest")
    // KMV merges exactly: the stream's running sketch must equal the batch
    // sketch over the union of everything fed so far
    val batch = graft.llm.Sketches.kmvDistinctHashed((b1 ++ b2)
        .toDF("doc_id", "text", "lang"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(latest.toMap == batch, s"stream $latest != batch $batch")
    assert(batch("fr")._1 == 30L && batch("fr")._2 == 30L, "below-k path must be exact")
  }

  test("streaming HLL sketch: fixed 64-register state, running estimate == batch sketch incl. mid-stream") {
    val mem = MemoryStream[(Long, String, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text", "lang")
    val latest = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    val q = streaming.StreamingHll.run(stream)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-hll"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          latest(r.getString(0)) = (r.getLong(1), r.getLong(2)))
        ()
      }.start()
    def doc(id: Long, p: String, lang: String) =
      (id, (1 to 10).map(j => s"$p${id}_$j").mkString(" "), lang)
    val b1 = (1L to 30L).map(doc(_, "en", "en"))
    val b2 = (31L to 60L).map(doc(_, "en", "en")) ++ (61L to 63L).map(doc(_, "fr", "fr"))
    def batchOf(rows: Seq[(Long, String, String)]) =
      graft.llm.Sketches.hllDistinctHashed(rows.toDF("doc_id", "text", "lang"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      // HLL merges exactly (elementwise max), so even the MID-stream state
      // must equal the batch sketch of the prefix — stronger than final-only
      assert(latest.toMap == batchOf(b1),
        s"mid-stream state diverged from the prefix batch sketch: $latest vs ${batchOf(b1)}")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(latest.toMap == batchOf(b1 ++ b2),
      s"final state diverged from the batch sketch: $latest vs ${batchOf(b1 ++ b2)}")
    assert(latest.values.forall(_._1 <= 64), s"register count exceeded 64: $latest")
  }

  test("streaming CMS sketch: row-sharded counter state, running counters == batch sketch incl. mid-stream") {
    val mem = MemoryStream[(Long, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text")
    // counters are monotone, so latest-per-(row,bucket) IS the current sketch
    val latest = scala.collection.concurrent.TrieMap.empty[(Int, Long), Long]
    val q = streaming.StreamingCms.run(stream)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-cms"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          latest((r.getInt(0), r.getLong(1))) = r.getLong(2))
        ()
      }.start()
    val b1 = (1L to 20L).map(i => (i, (1 to 8).map(j => s"w${i}_$j").mkString(" ")))
    val b2 = (21L to 40L).map(i => (i, s"hot hot hot w${i}_x"))
    def batchOf(rows: Seq[(Long, String)]) =
      graft.llm.Sketches.cmsCountersHashed(rows.toDF("doc_id", "text"))
        .as[(Int, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      // CMS merges exactly (elementwise sum), so the MID-stream state must
      // equal the batch sketch of the prefix — stronger than final-only
      assert(latest.toMap == batchOf(b1),
        s"mid-stream state diverged from the prefix batch sketch")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(latest.toMap == batchOf(b1 ++ b2),
      s"final state diverged from the batch sketch")
    // the state is row-sharded: no key outside the d rows, no bucket >= w
    assert(latest.keys.forall { case (r, b) =>
      r >= 0 && r < graft.llm.Sketches.CmsDepth &&
        b >= 0 && b < graft.llm.Sketches.CmsWidth })
  }

  test("streaming quantile sketch: lang-sharded histogram state, running counters == batch sketch incl. mid-stream") {
    val mem = MemoryStream[(Long, String, Long)](spark)
    val stream = mem.toDF().toDF("doc_id", "lang", "n_chars")
    // counts are monotone, so latest-per-(lang,bucket) IS the current sketch
    val latest = scala.collection.concurrent.TrieMap.empty[(String, Long), (Long, Long)]
    val q = streaming.StreamingQuantile.run(stream)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-squant"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          latest((r.getString(0), r.getLong(1))) = (r.getLong(2), r.getLong(3)))
        ()
      }.start()
    val b1 = (1L to 30L).map(i => (i, if (i % 2 == 0) "en" else "fr", i * 37L))
    val b2 = (31L to 60L).map(i => (i, "en", 100000L + i))
    def batchOf(rows: Seq[(Long, String, Long)]) =
      graft.llm.Sketches.lengthHistogram(rows.toDF("doc_id", "lang", "n_chars"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      // the histogram merges exactly (bucket-count sum), so the MID-stream
      // state must equal the batch sketch of the prefix — stronger than
      // final-only
      assert(latest.toMap == batchOf(b1),
        s"mid-stream state diverged from the prefix batch sketch")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(latest.toMap == batchOf(b1 ++ b2),
      s"final state diverged from the batch sketch")
    // per-language state is fixed-size: bucket ids inside 64 octaves * QSub
    assert(latest.keys.forall { case (_, b) =>
      b >= 0 && b < 64L * graft.llm.Sketches.QSub })
    // and the read-out over the streamed state matches the batch quantiles
    val histDf = latest.toSeq.map { case ((lang, b), (rep, n)) => (lang, b, rep, n) }
      .toDF("lang", "bucket", "rep", "n")
    val fromStream = graft.llm.Sketches.quantilesFromHistogram(histDf, Seq(50, 90, 99))
      .as[(String, Long, Long, Long)].collect().toSet
    val fromBatch = graft.llm.Sketches.lengthQuantiles(
        (b1 ++ b2).toDF("doc_id", "lang", "n_chars"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(fromStream == fromBatch, "quantile read-out diverged between stream state and batch")
  }

  test("streaming exact-N sample: k-bounded state, current sample == batch sampleExact of the prefix incl. mid-stream") {
    val mem = MemoryStream[(Long, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "lang")
    val perStratum = 3
    // Update-mode re-emit per touched lang: latest emit per lang IS the sample
    val latest = scala.collection.concurrent.TrieMap.empty[String, Set[(Long, Long)]]
    val q = streaming.StreamingSample.run(stream, perStratum)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-ssample"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().groupBy(_.getString(0)).foreach { case (lang, rows) =>
          latest(lang) = rows.map(r => (r.getLong(1), r.getLong(2))).toSet
        }
        ()
      }.start()
    val b1 = Seq((1L, "en"), (7L, "en"), (13L, "en"), (2L, "de"), (5L, "de"))
    val b2 = Seq((21L, "en"), (4L, "en"), (9L, "de"), (11L, "de"), (6L, "de"))
    def batchOf(rows: Seq[(Long, String)]) =
      graft.llm.TextAnalysis.sampleExact(
          rows.toDF("doc_id", "lang").withColumn("text", lit("x")), perStratum)
        .select($"lang", $"doc_id", $"rk".cast("long"))
        .as[(String, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      assert(latest.toMap == batchOf(b1),
        s"mid-stream sample diverged from the prefix batch sample")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(latest.toMap == batchOf(b1 ++ b2),
      s"final sample diverged from the batch sample")
    // bounded emission: no language ever exceeds perStratum rows
    assert(latest.values.forall(_.size <= perStratum))
  }

  test("stream-stream interval join pairs within horizon and matches the batch operator") {
    val memL = MemoryStream[(java.sql.Timestamp, Long, Long)](spark)
    val memR = MemoryStream[(java.sql.Timestamp, Long, Long)](spark)
    def df(m: MemoryStream[(java.sql.Timestamp, Long, Long)]) =
      m.toDF().toDF("ts", "user_id", "event_id")
    val q = streaming.EventWindows.streamIntervalJoin(df(memL), df(memR), "10 seconds", 300)
      .writeStream.format("memory").queryName("ssj_out").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-ssj")).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      memL.addData(
        (ts("2024-01-01 10:00:00"), 1L, 10L),
        (ts("2024-01-01 10:00:00"), 2L, 20L))
      memR.addData(
        (ts("2024-01-01 10:02:00"), 1L, 100L), // inside horizon, same user
        (ts("2024-01-01 10:05:00"), 1L, 101L), // exactly on horizon: inclusive
        (ts("2024-01-01 10:06:00"), 1L, 102L), // outside horizon
        (ts("2024-01-01 10:02:00"), 3L, 300L)) // no matching user on left
      q.processAllAvailable()
      val got = spark.table("ssj_out").select($"id_a", $"id_b")
        .as[(Long, Long)].collect().toSet
      assert(got == Set(10L -> 100L, 10L -> 101L), s"got $got")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched left emits null-padded once the right watermark proves no match") {
    val memL = MemoryStream[(java.sql.Timestamp, Long, Long)](spark)
    val memR = MemoryStream[(java.sql.Timestamp, Long, Long)](spark)
    def df(m: MemoryStream[(java.sql.Timestamp, Long, Long)]) =
      m.toDF().toDF("ts", "user_id", "event_id")
    val q = streaming.EventWindows.streamIntervalJoinLeftOuter(
        df(memL), df(memR), "10 seconds", 300)
      .writeStream.format("memory").queryName("ssjo_out").outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-ssjo")).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def got() = spark.table("ssjo_out").select($"id_a", $"id_b")
      .as[(Long, Option[Long])].collect().toSet
      .filter(r => r._1 == 10L || r._1 == 20L)
    try {
      memL.addData(
        (ts("2024-01-01 10:00:00"), 1L, 10L),  // will match
        (ts("2024-01-01 10:00:00"), 2L, 20L))  // never matches
      memR.addData((ts("2024-01-01 10:02:00"), 1L, 100L))
      q.processAllAvailable()
      // the match emits immediately; the miss must NOT be decided yet —
      // a right row for user 2 inside the horizon could still arrive
      assert(got() == Set(10L -> Some(100L)), s"premature outer emit: ${got()}")
      // advance BOTH watermarks past left.ts + horizon + delay (two rounds:
      // a batch runs with the watermark computed from the previous one)
      for (flush <- Seq("2024-01-01 11:00:00", "2024-01-01 11:10:00")) {
        memL.addData((ts(flush), 9L, 99L))
        memR.addData((ts(flush), 8L, 999L))
        q.processAllAvailable()
      }
      assert(got() == Set(10L -> Some(100L), 20L -> None),
        s"unmatched left must null-pad exactly once: ${got()}")
    } finally q.stop()
  }

  test("streaming as-of: same-timestamp dim ties pre-reduce by the batch argmax rule, arrival-order-blind") {
    // mirror of AsOfJoin step 1 (max(struct(payload)) per (keys, rightTime)):
    // two versions at ts=10 collapse to the greater (imsi, msisdn) pair no
    // matter the buffer order; None sorts below Some like SQL's
    // nulls-smallest struct compare
    val dims = List(
      (10L, Option(1L), Option(501L)),
      (10L, Option(2L), Option(400L)),
      (10L, None: Option[Long], Option(999L)),
      (5L, None: Option[Long], None: Option[Long]))
    val reduced = streaming.StreamingAsOf.reduceDimTies(dims)
    assert(reduced == List((5L, None, None), (10L, Some(2L), Some(400L))),
      s"got $reduced")
    assert(streaming.StreamingAsOf.reduceDimTies(dims.reverse) == reduced,
      "tie-break must not depend on state-list arrival order")
  }

  test("DimensionCache refreshes only after TTL") {
    var loads = 0
    val cache = new DimensionCache(() => { loads += 1; spark.range(3).toDF() }, 60000L)
    cache.get(); cache.get(); cache.get()
    assert(loads == 1)
    val fast = new DimensionCache(() => { loads += 1; spark.range(3).toDF() }, 0L)
    fast.get(); fast.get()
    assert(loads == 3)
    cache.invalidate(); fast.invalidate()
  }

  test("streaming postings: running (df, tf_sum) + corpus totals == batch stats of any prefix") {
    val mem = MemoryStream[(Long, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text")
    val latest = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    val q = graft.streaming.StreamingPostings.run(stream)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-postings"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          latest(r.getString(0)) = (r.getLong(1), r.getLong(2)))
        ()
      }.start()
    val b1 = Seq(1L -> "spark scan spark", 2L -> "scan merge")
    val b2 = Seq(3L -> "spark merge merge window")
    def batchOf(rows: Seq[(Long, String)]) =
      graft.streaming.StreamingPostings.batchStats(rows.toDF("doc_id", "text"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      // mid-stream: df counts DOCS (spark df=1 despite tf 2), corpus row
      // carries (n_docs=2, total_tokens=5)
      assert(latest.toMap == batchOf(b1), s"prefix parity broke: $latest vs ${batchOf(b1)}")
      assert(latest("spark") == ((1L, 2L)) && latest("__corpus__") == ((2L, 5L)),
        s"hand-checked mid-stream stats wrong: $latest")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val full = batchOf(b1 ++ b2)
    assert(latest.toMap == full, s"stream $latest != batch $full")
    assert(latest("merge") == ((2L, 3L)) && latest("__corpus__") == ((3L, 9L)),
      s"hand-checked final stats wrong: $latest")
  }

  test("streaming cdc: latest wins across batches, tombstone deletes, late reinsert resurrects") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double, String)](spark)
    val latest = scala.collection.mutable.Map[Long, (Double, Boolean)]()
    val q = streaming.StreamingCdc.run(
        mem.toDF().toDF("user_id", "ts", "event_id", "value", "event_type"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-cdc"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => latest(r.getLong(0)) =
          (r.getDouble(1), r.getBoolean(3)))
        ()
      }.start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, 5.0, "view"),
        (2L, ts("2024-01-01 10:00:00"), 2L, 7.0, "view"))
      q.processAllAvailable()
      assert(latest(1L) == ((5.0, false)) && latest(2L) == ((7.0, false)), s"$latest")
      // tombstone user 2; a LATE (older) row for user 1 must be ignored
      mem.addData(
        (2L, ts("2024-01-01 10:00:05"), 3L, 0.0, "error"),
        (1L, ts("2024-01-01 09:59:00"), 0L, 99.0, "view"))
      q.processAllAvailable()
      assert(latest(2L)._2, s"tombstone must mark user 2 deleted: $latest")
      assert(latest(1L) == ((5.0, false)), s"older row must not regress user 1: $latest")
      // reinsert after delete resurrects
      mem.addData((2L, ts("2024-01-01 10:00:09"), 4L, 3.0, "purchase"))
      q.processAllAvailable()
      assert(latest(2L) == ((3.0, false)), s"reinsert must resurrect: $latest")
    } finally q.stop()
  }

  test("streaming scd2: closed history + open versions == batch scd2 of any in-order prefix; late rows drop") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def mic(t: java.sql.Timestamp) = t.getTime * 1000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    // sink: closed versions are append-once facts; open versions keep the
    // latest re-emission per key (Update-mode convention)
    val closedRows = scala.collection.mutable.Set[(Long, Int, String, Long, Long)]()
    val openRows = scala.collection.mutable.Map[Long, (Int, String, Long)]()
    val q = streaming.StreamingScd2.run(
        mem.toDF().toDF("user_id", "ts", "event_id", "event_type"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-scd2"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach { r =>
          if (r.getBoolean(5))
            openRows(r.getLong(0)) = (r.getInt(1), r.getString(2), r.getLong(3))
          else
            closedRows += ((r.getLong(0), r.getInt(1), r.getString(2),
              r.getLong(3), r.getLong(4)))
        }
        ()
      }.start()
    // batch scd2 of an in-order prefix, split into its closed/open halves
    def parity(rows: Seq[(Long, java.sql.Timestamp, Long, String)]) = {
      val got = graft.relational.RelQueries.scd2(
        rows.toDF("user_id", "ts", "event_id", "event_type")).collect()
      val closed = got.filter(!_.isNullAt(4)).map(r => (r.getLong(0), r.getInt(1),
        r.getString(2), mic(r.getTimestamp(3)), mic(r.getTimestamp(4)))).toSet
      val open = got.filter(_.isNullAt(4)).map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), mic(r.getTimestamp(3))))).toMap
      (closed, open)
    }
    // deliberately out of order WITHIN the batch (the fold must sort)
    val b1 = Seq(
      (1L, ts("2024-01-01 10:02:00"), 3L, "B"),
      (1L, ts("2024-01-01 10:00:00"), 1L, "A"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "A"),
      (2L, ts("2024-01-01 10:00:00"), 4L, "C"))
    val b2 = Seq(
      (1L, ts("2024-01-01 10:03:00"), 5L, "B"),  // extends open B
      (1L, ts("2024-01-01 10:04:00"), 6L, "A"),  // closes B, opens A
      (2L, ts("2024-01-01 10:05:00"), 7L, "C"))  // extends open C
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      val (c1, o1) = parity(b1)
      assert(closedRows.toSet == c1 && openRows.toMap == o1,
        s"prefix parity broke: closed $closedRows vs $c1, open $openRows vs $o1")
      // hand-check: u1 closed v1 A [10:00, 10:02), open v2 B; u2 open v1 C
      assert(closedRows.toSet ==
        Set((1L, 1, "A", mic(ts("2024-01-01 10:00:00")), mic(ts("2024-01-01 10:02:00")))))
      mem.addData(b2: _*); q.processAllAvailable()
      val (c2, o2) = parity(b1 ++ b2)
      assert(closedRows.toSet == c2 && openRows.toMap == o2,
        s"full parity broke: closed $closedRows vs $c2, open $openRows vs $o2")
      // a LATE row older than u1's open version must be dropped, not
      // rewrite sink-committed history
      val before = (closedRows.toSet, openRows.toMap)
      mem.addData((1L, ts("2024-01-01 09:59:00"), 0L, "Z"))
      q.processAllAvailable()
      assert((closedRows.toSet, openRows.toMap) == before,
        s"late row must not reopen history: $closedRows / $openRows")
      // review-caught: lateness is vs the FOLD FRONTIER, not the open
      // version's start — u2's open C was opened at 10:00 but extended by
      // the 10:05 same-state event, so a late D@10:02 lands between
      // valid_from and the last event folded. A start-based guard would
      // wrongly close C at 10:02 (erasing the observed C@10:05); the
      // frontier guard must drop it.
      mem.addData((2L, ts("2024-01-01 10:02:00"), 8L, "D"))
      q.processAllAvailable()
      assert((closedRows.toSet, openRows.toMap) == before,
        s"late row behind a same-state extend must drop: $closedRows / $openRows")
    } finally q.stop()
  }

  test("streaming ewma: the stream fold runs the exact recursion a batch window must truncate") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)](spark)
    val latest = scala.collection.mutable.Map[Long, Double]()
    val q = streaming.StreamingEwma.run(
        mem.toDF().toDF("user_id", "ts", "event_id", "value"), 0.2)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-ewma"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => latest(r.getLong(0)) = r.getDouble(1))
        ()
      }.start()
    // batch 1 deliberately out of event-time order WITHIN the batch —
    // the fold must sort by (ts, event_id) before applying the recursion
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:02"), 3L, 4.0),
      (1L, ts("2024-01-01 10:00:00"), 1L, 1.0),
      (1L, ts("2024-01-01 10:00:01"), 2L, 2.0),
      (2L, ts("2024-01-01 10:00:00"), 4L, 9.0))
    val b2 = Seq((1L, ts("2024-01-01 10:00:03"), 5L, 8.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // reference: the exact recursion over the full ordered series
    def ref(xs: Seq[Double]) = xs.tail.foldLeft(xs.head)((e, x) => 0.2 * x + 0.8 * e)
    assert(latest(1L) == ref(Seq(1.0, 2.0, 4.0, 8.0)), s"got $latest")
    assert(latest(2L) == 9.0, s"single-event key seeds to its value: $latest")
  }

  test("streaming profile: running stats equal the batch profile of the prefix; sketch exact below k") {
    import spark.implicits._
    val mem = MemoryStream[(Option[Long], Option[String], Option[Double])](spark)
    val latest = scala.collection.mutable.Map[String, (Long, Long, Long, String, String)]()
    val q = streaming.StreamingProfile.run(mem.toDF().toDF("id", "s", "d"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-prof"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => latest(r.getString(0)) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
        ()
      }.start()
    val b1 = Seq(
      (Some(3L), Some("b"), Some(1.25)),
      (Some(20L), None, Some(-0.5)),
      (None, Some("a"), None))
    // batch 2 moves every extremum and repeats a value (1.25): the running
    // min/max must update and the distinct sketch must not double-count
    val b2 = Seq(
      (Some(-7L), Some("zz"), Some(9.0)),
      (None, None, Some(1.25)))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.operators.TableProfile((b1 ++ b2).toDF("id", "s", "d"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    // n_rows/n_null/min/max merge exactly; all columns are far below k=64
    // distinct values, so the KMV estimate equals the exact batch count
    assert(latest.toMap == batch, s"stream $latest != batch $batch")
  }

  test("streaming sessions: cross-batch merge, once-only append, equals batch session_window") {
    import java.sql.Timestamp
    val mem = MemoryStream[(Long, Timestamp, Double)](spark)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Timestamp, Timestamp, Long, Long)]
    val q = streaming.StreamingSessions.run(
        mem.toDF().toDF("user_id", "ts", "value"), gap = "10 seconds", watermark = "5 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp("graft-ckpt-sess"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(r => (r.getLong(0), r.getTimestamp(1),
          r.getTimestamp(2), r.getLong(3), r.getLong(4)))
        ()
      }.start()
    def t(s: String) = Timestamp.valueOf(s)
    // user 1: two events 6 s apart SPLIT ACROSS BATCHES → one merged session;
    // user 2: a lone event, then nothing → separate sessions
    val b1 = Seq((1L, t("2024-01-01 10:00:00"), 1.5), (2L, t("2024-01-01 10:00:01"), 2.0))
    val b2 = Seq((1L, t("2024-01-01 10:00:06"), 0.25))
    // watermark driver: far-future event closes everything above
    val b3 = Seq((9L, t("2024-01-01 11:00:00"), 0.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      // one more watermark-advancing batch so the b3 close actually emits
      mem.addData((9L, t("2024-01-01 12:00:00"), 0.0)); q.processAllAvailable()
    } finally q.stop()
    val emitted = got.toSet
    // the merged session: 10:00:00–10:00:16, 2 events, 1.75 in micros
    assert(emitted.exists(s => s._1 == 1L && s._4 == 2L && s._5 == 1750000L),
      s"cross-batch merge failed: $emitted")
    // batch parity over the closed sessions (everything before b3's hour)
    import spark.implicits._
    val batch = (b1 ++ b2).toDF("user_id", "ts", "value")
      .groupBy($"user_id", session_window($"ts", "10 seconds").as("w"))
      .agg(count(lit(1)).as("n"), sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("tv"))
      .select($"user_id", $"w.start", $"w.end", $"n", $"tv")
      .as[(Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    assert(batch.subsetOf(emitted), s"stream $emitted missing batch sessions $batch")
    // once-only: no session appears twice
    assert(got.size == got.toSet.size, s"duplicate emission: $got")
  }

  test("streaming skyline: running frontier == batch skyline of the prefix, evictions applied") {
    val mem = MemoryStream[(String, Long, Double)](spark)
    val latest = scala.collection.concurrent.TrieMap.empty[String, Set[(Long, Double)]]
    val q = streaming.StreamingSkyline.run(mem.toDF().toDF("grp", "x", "y"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-sky"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().groupBy(_.getString(0)).foreach { case (g, rows) =>
          latest(g) = rows.map(r => (r.getLong(1), r.getDouble(2))).toSet
        }
        ()
      }.start()
    def batchOf(rows: Seq[(String, Long, Double)], g: String) =
      graft.operators.Skyline(
          rows.toDF("grp", "x", "y").filter($"grp" === g), "x", "y")
        .select($"x", $"y").as[(Long, Double)].collect().toSet
    val b1 = Seq(("a", 10L, 5.0), ("a", 8L, 9.0), ("a", 7L, 8.0), ("b", 1L, 1.0))
    // batch 2: (12, 6.0) EVICTS (10, 5.0) from a's frontier; (9, 1.0) is
    // dominated on arrival and must never be admitted
    val b2 = Seq(("a", 12L, 6.0), ("a", 9L, 1.0), ("b", 2L, 2.0))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      val mid = latest.toMap
      assert(mid("a") == batchOf(b1, "a") && mid("b") == batchOf(b1, "b"),
        s"mid-stream frontier != batch skyline of the prefix: $mid")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val all = b1 ++ b2
    assert(latest("a") == batchOf(all, "a"), s"final a: ${latest("a")}")
    assert(latest("b") == batchOf(all, "b"), s"final b: ${latest("b")}")
    assert(!latest("a").contains((10L, 5.0)), "evicted point must leave state")
    assert(!latest("a").contains((9L, 1.0)), "dominated arrival must never be admitted")
  }

  test("streaming drift: per-source chi2 vs pinned reference == hashed batch twin incl. mid-stream") {
    import graft.llm.TextAnalysis
    val nBuckets = 32
    // pinned reference snapshot: skewed toward 'alpha'-family tokens
    val refDocs = (1L to 40L).map(i => (i, s"alpha a$i common shared token", "ref"))
      .toDF("doc_id", "text", "source")
    val (ref1, rTot) = streaming.StreamingDrift.refTable(refDocs, nBuckets)
    assert(rTot === ref1.sum, "smoothed total must equal the smoothed mass")
    val mem = MemoryStream[(String, String)](spark)
    val stream = mem.toDF().toDF("source", "text")
    val latest = scala.collection.concurrent.TrieMap.empty[String, (Long, Long, Long)]
    val q = streaming.StreamingDrift.run(stream, ref1, rTot, nBuckets)
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt-drift"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          latest(r.getString(0)) = (r.getLong(1), r.getLong(2), r.getLong(3)))
        ()
      }.start()
    // s1 tracks the reference vocabulary, s2 drifts to a disjoint one
    val b1 = (1L to 15L).map(i => ("s1", s"alpha a$i common shared"))
    val b2 = (1L to 15L).map(i => ("s2", s"zeta z$i novel vocab")) ++
      (16L to 20L).map(i => ("s1", s"common shared token a$i"))
    def batchOf(rows: Seq[(String, String)]): Map[String, (Long, Long, Long)] =
      TextAnalysis.driftVsReferenceHashed(
        rows.toDF("source", "text"), refDocs, nBuckets)
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      assert(latest.toMap == batchOf(b1),
        "mid-stream drift rows diverged from the prefix batch twin")
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val fin = batchOf(b1 ++ b2)
    assert(latest.toMap == fin, "final drift rows diverged from the batch twin")
    // the drifted source must read as (much) further from the reference
    assert(fin("s2")._3 > 2L * fin("s1")._3,
      s"expected s2 to drift harder: $fin")
  }
}
