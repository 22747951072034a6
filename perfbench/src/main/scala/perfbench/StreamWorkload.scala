package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.cdr.CdrPipeline
import graft.streaming.{CdrStreamJob, CsvCodec, DimensionCache}
import graft.cdr.CdrTables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.LongType

/** The two CDR stream workloads. Both feed the same generated lines through
  * an open-loop phase at a fixed rate and then a closed-loop phase of
  * fixed-size blocks:
  *
  *  - `cdr_stream`: `CdrStreamJob.runForeachBatch`, the production runner —
  *    `CdrPipeline.full` per micro-batch over two `DimensionCache`s, written
  *    by `writeBatch`.
  *  - `cdr_stream_stateful`: `CdrStreamJob.enrichedStream` into
  *    `parquetSink` — `SessionDedup`'s state store and the file-sink
  *    manifest, with both dimensions as cached snapshots.
  */
final class StreamWorkload(spark: SparkSession, cfg: Main.Config, tracer: Option[Tracer]) {
  import StreamWorkload._
  import spark.implicits._

  private val stateful = cfg.workload == "cdr_stream_stateful"
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val dimLoads = new java.util.concurrent.atomic.AtomicInteger()
  private val record = mutable.LinkedHashMap.empty[String, Any]
  /** The line cycle, dropped for the heap reading and read back after it;
    * the single-threaded baseline feeds it. */
  var lines: CdrLines = _

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
  }

  private def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)

  /** Block until a micro-batch holding `offset` has committed. (The
    * stateful query keeps running no-data batches to fire timeouts, so
    * `processAllAvailable` would never see it idle.) */
  private def awaitCommitted(q: StreamingQuery)(offset: Long): Unit = {
    val deadline = System.nanoTime() + AwaitLimitS * 1000000000L
    while (progress.synchronized(!progress.exists(endOffset(_) >= offset))) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"offset $offset not committed within $AwaitLimitS s")
      Thread.sleep(2)
    }
  }

  private def span[T](name: String)(body: => T): T = {
    System.err.println(s"[perfbench] ${java.time.LocalTime.now()} $name")
    tracer match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
  }

  private def dir(name: String): String = {
    val d = new File(cfg.workDir, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  private def seconds(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  /** The source: every micro-batch reads its offset range as one
    * partition, as a single-partition topic would deliver it, however many
    * generator ticks the range spans. */
  private def source(): MemoryStream[String] = MemoryStream[String](spark, 1)

  private def caches(): (DimensionCache, DimensionCache) = (
    new DimensionCache(() => { dimLoads.incrementAndGet(); CdrTables.imsiMsisdn(spark, cfg.sfDir) }, DimTtlMs),
    new DimensionCache(() => { dimLoads.incrementAndGet(); CdrTables.msIpExploded(spark, cfg.sfDir) }, DimTtlMs))

  private def start(src: DataFrame, imsi: DimensionCache, msIp: DimensionCache,
                    out: String, ckpt: String): StreamingQuery =
    if (stateful)
      CdrStreamJob.parquetSink(
        CdrStreamJob.enrichedStream(CsvCodec.decode(src), imsi.get(), msIp.get()),
        out, ckpt, TriggerMs)
    else CdrStreamJob.runForeachBatch(CsvCodec.decode(src), imsi, msIp, out, ckpt, TriggerMs)

  /** One run: a single cold set-up, the timed phases, the live-heap reading
    * and the output check. `jvmStartMs` is the JVM's start, so `setup_s`
    * runs from there to the first timed operation. */
  def run(jvmStartMs: Long): Map[String, Any] = {
    spark.streams.addListener(progressListener)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // -- set-up, once and cold: what every launched job pays
    var t = System.nanoTime()
    lines = span("setup.lines")(CdrLines.load(spark, cfg.sfDir, cfg.seed))
    val linesS = seconds(t)
    t = System.nanoTime()
    val (imsi, msIp) = caches()
    span("setup.dim_load") { imsi.get(); msIp.get() }
    val dimLoadS = seconds(t)
    val out = dir("sink")
    t = System.nanoTime()
    val mem = source()
    var feed = new Feed(mem, lines)
    val q = start(mem.toDF(), imsi, msIp, out, dir("checkpoint"))
    val await = awaitCommitted(q) _
    span("setup.warm_up") {
      (1 to WarmUpBlocks).foreach(_ => await(feed.add(BlockLines, System.currentTimeMillis(), "warm").offset))
    }
    val startS = seconds(t)

    // -- timed window
    val openStart = System.currentTimeMillis()
    record("setup") = Map("session_s" -> sessionS, "lines_s" -> linesS,
      "dim_load_s" -> dimLoadS, "start_s" -> startS,
      "setup_s" -> (openStart - jvmStartMs) / 1000.0)
    val phaseSeconds = cfg.seconds / 2.0
    val openEnd = span("phase.open") {
      feed.openLoop(OpenRate, TickMs, phaseSeconds).join()
      await(feed.recorded.last.offset)
      System.currentTimeMillis()
    }
    val codegenOpen = tracer.map(t => t.codegen(t.all.filter(_.name == "phase.open").last.id))
    val closed = span("phase.closed")(feed.closedLoop(await, BlockLines, phaseSeconds, "closed"))
    record("open") = Map("start_ms" -> openStart, "end_ms" -> openEnd)
    record("closed") = Map("start_ms" -> closed._1, "end_ms" -> closed._2)

    // -- traced run: the closed loop again with tracing off, for the overhead
    tracer.foreach { t =>
      t.detach(spark)
      feed.closedLoop(await, BlockLines, phaseSeconds, "closed_untraced")
      t.attach(spark)
    }
    if (stateful) flushState(q)
    q.stop()
    spark.streams.removeListener(progressListener)
    val triggers = drainProgress(feed)
    val fed = feed.fed
    val capture = feed.recorded.find(_.phase == "closed").get
    record("fed_lines") = fed
    // the harness's own data (the line cycle, the feed) is dropped before
    // the reading, so it shows what the session and the program retain;
    // the cycle waits on disk for the output check
    val spilled = CdrLines.spill(lines, Path.of(cfg.workDir, "lines.bin"))
    feed = null
    lines = null
    record("heap_mb") = liveHeapMb()
    lines = CdrLines.unspill(spilled)

    // -- output check, outside the timed window, against the snapshots the
    // query used (taken once: a TTL refresh now would only add a load)
    val dimRows = (imsi.get(), msIp.get())
    val all = spark.createDataset(lines.slice(0, fed)).toDF("value")
    record("check") = span("check") {
      if (stateful) checkStateful(all, out, dimRows._1, dimRows._2)
      else checkForeach(all, out, dimRows._1, dimRows._2)
    }

    tracer.foreach { t =>
      record("layers") = layers(t, lines, capture, dimRows._1, dimRows._2, out, triggers,
        openStart, openEnd, codegenOpen.get, all)
    }
    record.toMap
  }

  /** Heap in use after a full GC, once the query has stopped: what the
    * session still holds (snapshots, cached relations, the source).
    * Spark releases broadcast and shuffle blocks from a cleaner thread once
    * their owners are collected, so the reading is the least of a few GC
    * rounds spaced apart. */
  private def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Let every open session time out and be emitted: stop feeding, then
    * wait for the no-data batches that fire processing-time timeouts until
    * the state store is empty. */
  private def flushState(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + AwaitLimitS * 1000000000L
    val after = System.currentTimeMillis() + GapMs
    def done = progress.synchronized(progress.exists { p =>
      Instant.parse(p.timestamp).toEpochMilli > after && p.stateOperators.map(_.numRowsTotal).sum == 0
    })
    while (!done) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"state not flushed within $AwaitLimitS s")
      Thread.sleep(TriggerMs)
    }
  }

  /** Move the progress reports into the record as samples and empty the
    * buffer; returns each report's trigger interval (start, end) in wall ms. */
  private def drainProgress(feed: Feed): Seq[(Long, Long)] = {
    val ps = progress.synchronized { val l = progress.toList; progress.clear(); l }
    record ++= samples(feed, ps)
    ps.map { p =>
      val s = Instant.parse(p.timestamp).toEpochMilli
      (s, s + p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L))
    }
  }

  /** The raw samples `metrics.py` works from: the generator's offsets and
    * the query's progress reports. */
  private def samples(feed: Feed, ps: Seq[StreamingQueryProgress]): Map[String, Any] = Map(
    "batches" -> ps.map(batchJson),
    "ticks" -> feed.recorded.map(t => Map("offset" -> t.offset, "due_ms" -> t.dueMs,
      "sent_ms" -> t.sentMs, "first" -> t.first, "lines" -> t.lines, "phase" -> t.phase)))

  private def batchJson(p: StreamingQueryProgress): Map[String, Any] = {
    val src = p.sources.headOption
    def off(s: String) = Option(s).map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
    val st = p.stateOperators.toSeq
    Map(
      "batch_id" -> p.batchId,
      "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
      "start_offset" -> src.map(s => off(s.startOffset)).getOrElse(-1L),
      "end_offset" -> src.map(s => off(s.endOffset)).getOrElse(-1L),
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> (if (st.isEmpty) Map.empty[String, Any] else Map(
        "rows_total" -> st.map(_.numRowsTotal).sum,
        "memory_bytes" -> st.map(_.memoryUsedBytes).sum,
        "rows_updated" -> st.map(_.numRowsUpdated).sum,
        "rows_removed" -> st.map(_.numRowsRemoved).sum,
        "update_ms" -> st.map(_.allUpdatesTimeMs).sum,
        "removal_ms" -> st.map(_.allRemovalsTimeMs).sum,
        "commit_ms" -> st.map(_.commitTimeMs).sum)))
  }

  private def readSink(out: String, like: DataFrame): Seq[Row] = {
    val schema = like.schema
    val withBatch = if (stateful) schema else schema.add("batch_id", LongType)
    spark.read.schema(withBatch).parquet(out).select(CdrPipeline.sinkColumns.map(col): _*)
      .collect().toSeq
  }

  private def counts(rows: Seq[Row]): mutable.Map[Row, Int] = {
    val m = mutable.HashMap.empty[Row, Int].withDefaultValue(0)
    rows.foreach(r => m(r) += 1)
    m
  }

  /** Rows of `have` left after removing one copy of each row of `want`,
    * and the number of rows of `want` that found no copy. */
  private def subtract(have: Seq[Row], want: Seq[Row]): (Seq[Row], Long) = {
    val left = counts(have)
    var missing = 0L
    want.foreach { r => if (left(r) > 0) left(r) -= 1 else missing += 1 }
    (left.toSeq.flatMap { case (r, n) => Seq.fill(n)(r) }, missing)
  }

  /** Every committed offset holds whole CDRs (the generator never splits
    * one), so `CdrPipeline.full` per micro-batch equals one batch run over
    * every fed line; the check compares the sink, read back without
    * `batch_id`, with that run as multisets. */
  private def checkForeach(all: DataFrame, out: String, imsi: DataFrame,
                           msIp: DataFrame): Map[String, Any] = {
    val refDf = CdrPipeline.full(CsvCodec.decode(all), imsi, msIp)
    val ref = refDf.collect().toSeq
    val (extra, missing) = subtract(readSink(out, refDf), ref)
    Map("reference_rows" -> ref.size, "missing_rows" -> missing, "extra_rows" -> extra.size,
      "failed" -> (missing + extra.size))
  }

  /** Branch 1 must equal the batch pipeline's branch 1; every branch-2
    * `unique_cdr_id` must be emitted exactly once, as one of the rows tied
    * for the latest dimension `start_time`. */
  private def checkStateful(all: DataFrame, out: String, imsi: DataFrame,
                            msIp: DataFrame): Map[String, Any] = {
    val ext = CdrPipeline.extendWithPartitionCols(CsvCodec.decode(all)).cache()
    val branch1Df = CdrPipeline.projectToSink(
      CdrPipeline.lookupEnrich(ext.filter(col("imsi").isNotNull), imsi, "left_outer"))
    val unknown = ext.filter(col("imsi").isNull)
    val joined = CdrPipeline.rangeEnrich(CdrPipeline.explodeIps(unknown), msIp, "left_outer")
    val latest = joined.groupBy("unique_cdr_id").agg(max("_start_time").as("_latest"))
    val tied = CdrPipeline.projectToSink(joined.join(latest, "unique_cdr_id")
      .filter(col("_start_time") <=> col("_latest"))).collect().toSet
    val expectedIds = unknown.select("unique_cdr_id").distinct().collect().map(_.getLong(0)).toSet
    val branch1 = branch1Df.collect().toSeq
    ext.unpersist()
    val (branch2, missing1) = subtract(readSink(out, branch1Df), branch1)
    val idCounts = branch2.groupBy(_.getAs[Long]("unique_cdr_id")).map { case (k, v) => k -> v.size }
    val duplicated = idCounts.count(_._2 > 1)
    val missingIds = expectedIds.count(id => !idCounts.contains(id))
    val extraIds = idCounts.keys.count(id => !expectedIds.contains(id))
    val notLatest = branch2.count(r => !tied.contains(r))
    Map("reference_rows" -> (branch1.size + expectedIds.size), "missing_branch1_rows" -> missing1,
      "duplicated_ids" -> duplicated, "missing_ids" -> missingIds, "extra_ids" -> extraIds,
      "not_latest_rows" -> notLatest,
      "failed" -> (missing1 + duplicated + missingIds + extraIds + notLatest))
  }

  // ------------------------------------------------------------ traced run

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Raw rung times in ms, `LadderReps` of them; `metrics.py` takes the
    * medians and the self times. */
  private def rung(name: String, t: Tracer)(body: => Unit): Seq[Double] = {
    (1 to LadderReps).foreach(_ => t.span(name)(body))
    t.all.filter(_.name == name).map(_.durNs / 1e6)
  }

  /** The `CdrPipeline` ladder over one captured micro-batch: each rung adds
    * one transform to the previous rung's plan. */
  private def ladder(t: Tracer, batch: DataFrame, imsi: DataFrame,
                     msIp: DataFrame): Map[String, Any] = {
    val dec = CsvCodec.decode(batch)
    val ext = CdrPipeline.extendWithPartitionCols(dec)
    val branch1 = CdrPipeline.projectToSink(
      CdrPipeline.lookupEnrich(ext.filter(col("imsi").isNotNull), imsi, "left_outer"))
    val exploded = CdrPipeline.explodeIps(ext.filter(col("imsi").isNull))
    val joined = CdrPipeline.rangeEnrich(exploded, msIp, "left_outer")
    val rungs = t.span("ladder") {
      Seq(
        rung("ladder.decode", t)(noop(dec)),
        rung("ladder.lookup", t)(noop(branch1)),
        rung("ladder.explode", t)(noop(branch1.unionByName(CdrPipeline.projectToSink(exploded)))),
        rung("ladder.range_join", t)(noop(branch1.unionByName(CdrPipeline.projectToSink(joined)))),
        rung("ladder.argmax", t)(noop(CdrPipeline.full(dec, imsi, msIp))),
        rung("ladder.sink", t) {
          CdrStreamJob.writeBatch(CdrPipeline.full(dec, imsi, msIp), 0L,
            Files.createTempDirectory(Path.of(cfg.workDir), "ladder").toString)
        })
    }
    val b2 = joined.count()
    Map("rungs_ms" -> rungs, "branch1_rows" -> branch1.count(), "branch2_join_rows" -> b2,
      "rows_out" -> CdrPipeline.dedupLatestAgg(joined).count())
  }

  /** Per-layer figures: the `CdrPipeline` ladder over one captured
    * micro-batch (`cdr_stream` only: the stateful runner shares the
    * transforms but not the argmax), engine counts per open-loop trigger,
    * sink files. */
  private def layers(t: Tracer, lines: CdrLines, capture: Tick, imsi: DataFrame,
                     msIp: DataFrame, out: String, triggerBounds: Seq[(Long, Long)],
                     openStart: Long, openEnd: Long, codegenOpen: EngineCounts,
                     all: DataFrame): Map[String, Any] = {
    val m = mutable.LinkedHashMap.empty[String, Any]
    if (!stateful) {
      val batch = spark.createDataset(lines.slice(capture.first, capture.first + capture.lines))
        .toDF("value").cache()
      batch.count()
      m("ladder") = ladder(t, batch, imsi, msIp)
      batch.unpersist()
    }

    m("decode.rows_dropped") = record("fed_lines").asInstanceOf[Long] - CsvCodec.decode(all).count()

    m("dim.loads") = dimLoads.get()
    m("dim.rows") = imsi.count() + msIp.count()

    // engine counts per open-loop trigger: each trigger becomes a span
    // bounded by its progress report, and events are attributed to it
    val open = t.all.filter(_.name == "phase.open").last
    val triggers = triggerBounds.filter { case (s, _) => s >= openStart && s <= openEnd }
      .map { case (s, e) => t.addSpan("trigger", open.id, s, e) }
    val counts = t.engineBySpan(spark)
    m("triggers") = triggers.size
    m("engine_open") = (triggers.map(id => counts.getOrElse(id, EngineCounts()))
      .foldLeft(EngineCounts())(_ + _) + codegenOpen).toJson

    val files = sinkFiles(out)
    m("sink.files") = files.size
    m("sink.bytes") = files.map(_._2).sum
    m("files_per_batch") = filesPerBatch(out, files)
    m.toMap
  }

  private def sinkFiles(out: String): Seq[(String, Long)] =
    Files.walk(Path.of(out)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => (Path.of(out).relativize(p).toString, Files.size(p))).toSeq

  /** Files each micro-batch wrote: `writeBatch` puts them under a
    * `batch_id=` partition; the file sink lists them in its manifest, one
    * log file per batch (compacted logs repeat earlier entries). */
  private def filesPerBatch(out: String, files: Seq[(String, Long)]): Seq[Int] =
    if (!stateful)
      files.map(_._1.split('/').find(_.startsWith("batch_id=")).getOrElse("")).groupBy(identity)
        .values.map(_.size).toSeq
    else {
      val log = new File(out, "_spark_metadata")
      val seen = mutable.HashSet.empty[String]
      Option(log.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
        .sortBy(_.getName.stripSuffix(".compact").toLong)
        .map { f =>
          val paths = Files.readAllLines(f.toPath).asScala.drop(1)
            .map(l => """"path":"([^"]*)"""".r.findFirstMatchIn(l).map(_.group(1)).getOrElse(l))
          paths.count(seen.add)
        }.filter(_ > 0)
    }

  /** The closed-loop phase again on a `local[1]` session: the baseline for
    * scaling claims. Runs after every other measurement because it
    * replaces the session. */
  def singleThread(lines: CdrLines): Map[String, Any] = {
    spark.streams.addListener(progressListener)
    val mem = source()
    val feed = new Feed(mem, lines)
    val (imsi, msIp) = caches()
    val q = start(mem.toDF(), imsi, msIp, dir("local1-sink"), dir("local1-checkpoint"))
    val await = awaitCommitted(q) _
    await(feed.add(BlockLines, System.currentTimeMillis(), "warm").offset)
    feed.closedLoop(await, BlockLines, cfg.seconds / 2.0, "closed")
    q.stop()
    samples(feed, progress.synchronized(progress.toList))
  }
}

object StreamWorkload {
  /** Trigger interval of both runners: the 50 ms `graft.StreamBench` drives
    * `runForeachBatch` with. (The production default, 20 s, is the
    * reference's file rollover; at it a run would hold no latency
    * samples.) */
  val TriggerMs = 50L
  /** `SessionDedup`'s gap, the reference's 1 s session window. */
  val GapMs = 1000L
  /** The reference's dimension cache TTL (flink.conf:38,48). */
  val DimTtlMs = 60000L
  /** Open-loop schedule: one source offset every TickMs. */
  val TickMs = 10
  /** Open-loop rate in lines/s: about a sixth of `cdr_stream`'s and a
    * quarter of `cdr_stream_stateful`'s closed-loop throughput on a 4-core
    * box. Nearer saturation, queueing multiplies every slowdown of the host
    * into the latency, and run-to-run spread grows past the bounds. */
  val OpenRate = 1000
  /** Closed-loop block, one micro-batch each; one block also warms the
    * query up at the end of set-up. Picked by the block-size sweep in
    * perfbench/README.md: the largest block of which a closed-loop phase
    * at `--seconds 10` still commits four, so the throughput median has
    * four samples. */
  val BlockLines = 10000
  /** Blocks committed before the timed window: the query's first batches
    * compile and JIT-compile its plan (perfbench/README.md has the effect
    * on latency). */
  val WarmUpBlocks = 2
  /** A commit or state flush taking longer than this fails the run. */
  val AwaitLimitS = 60L
  val LadderReps = 3
}
