package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.cdr.{CdrPipeline, CdrTables}
import graft.llm.{Dedup, Similarity, TrainingShards}
import graft.streaming.{CdrStreamJob, CsvCodec, DimensionCache}
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Diagnostics entry point: the stress, profiling and recall measurements
  * behind SCALE.md — measurements, not pipeline code — one subcommand
  * each, all on the [[Sessions.local]] session. Each subcommand prints one
  * JSON line on stdout (`jobs` prints one line per measured rep) and
  * progress on stderr; the persisted records go to the named file, whose
  * path the named env var overrides (stdout tails get truncated by
  * bounded captures, a file does not).
  *
  * Usage: `graft.Tools <sub> [args]`; an omitted `sfDir` falls back to
  * `SPARK_GRAFT_SF_DIR`, then to the subcommand's default.
  *  - `scale [sfDir=sf0.1] [factor=10]` — CDR + corpus operators at ×N
  *    (STRESS_LOCAL_xN.json, STRESS_OUT)
  *  - `pack [sfDir=sf0.1] [factor=10]` — packed writer + LSH chain at ×N
  *    (PACKSTRESS_LOCAL_xN.json, STRESS_OUT)
  *  - `rebuild [sfDir=sf0.1] [factor=10]` — packed-store takedown postures
  *    (REBUILD_LOCAL.json, REBUILD_OUT)
  *  - `compact [sfDir=sf0.01]` — small-files compaction
  *    (COMPACT_LOCAL.json, COMPACT_OUT; `COMPACT_BATCHES`, default 100)
  *  - `recall [sfDir=sf0.1]` — ANN recall@10 against brute force
  *    (RECALL_LOCAL.json, RECALL_OUT; `RECALL_ONLY=stored`)
  *  - `stream [sfDir=sf0.01] [batches=5] [rowsPerBatch=all]` — CDR stream
  *    rows/s plus the state-scale arm (STREAMBENCH_LOCAL.json,
  *    STREAMBENCH_OUT)
  *  - `skyline [rows=10000000]` — skyline exec vs its Dataset twin
  *  - `jobs <q1,q2,…> [sfDir=sf0.1]` — wall time and Spark job count of
  *    registry queries, three reps each (the job-count companion to
  *    Bench's BENCH_ONLY)
  */
object Tools {

  def main(args: Array[String]): Unit = {
    def sfDir(at: Int, default: String): String = args.lift(at)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(s"/root/testdata/$default")
    def num(at: Int, default: Long): Long = args.lift(at).map(_.toLong).getOrElse(default)
    val run: Option[Probe => Unit] = args.headOption.collect {
      case "scale" => scale(_, sfDir(1, "sf0.1"), num(2, 10).toInt)
      case "pack" => pack(_, sfDir(1, "sf0.1"), num(2, 10).toInt)
      case "rebuild" => rebuild(_, sfDir(1, "sf0.1"), num(2, 10).toInt)
      case "compact" => compact(_, sfDir(1, "sf0.01"))
      case "recall" => recall(_, sfDir(1, "sf0.1"))
      case "stream" => stream(_, sfDir(1, "sf0.01"), num(2, 5).toInt, args.lift(3).map(_.toInt))
      case "skyline" => skyline(_, num(1, 10000000L))
      case "jobs" if args.length > 1 => jobs(_, args(1), sfDir(2, "sf0.1"))
    }
    if (run.isEmpty) {
      System.err.println("usage: graft.Tools scale|pack|rebuild|compact|recall|stream|skyline|jobs <q1,q2,...> [args]")
      sys.exit(2)
    }
    val spark = Sessions.local()
    try run.get(new Probe(spark, args(0))) finally spark.stop()
  }

  /** The session plus the one listener every measurement reads: the
    * longest task since the current [[timed]] phase began, and a running
    * Spark job count. */
  private final class Probe(val spark: SparkSession, tag: String) {
    private val maxTask = new AtomicLong(0)
    private val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) maxTask.accumulateAndGet(t.taskInfo.duration, math.max(_, _))
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })

    def maxTaskMs: Long = maxTask.get()
    def jobsStarted: Int = jobs.get()

    /** Run `f` as one labelled phase (its jobs carry `what` as their
      * description) and return its result with its wall seconds. */
    def timed[T](what: String)(f: => T): (T, Double) = {
      maxTask.set(0)
      spark.sparkContext.setJobDescription(what)
      try {
        val t0 = System.nanoTime()
        val r = f
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[$tag] $what%-30s $dt%8.2f s (max task ${maxTask.get()} ms)")
        (r, dt)
      } finally spark.sparkContext.setJobDescription(null)
    }
  }

  /** `df` ×`factor`: copy c shifts every `ids` column by c·(max + 1), so id
    * ranges stay disjoint and key cardinalities grow like real growth.
    * With `salt`, copies ≥ 1 also get " c<copy>" appended to `text`, so
    * vocab and shingle cardinality grow with volume too (unsalted copies
    * are exact duplicates and keep the distinct sets at the input's size).
    * Copy 0 is the input unchanged. `keepCopy` leaves the copy index in a
    * `copy` column for per-copy derivations. Repartitioned to two tasks per
    * core: a ×N table must not ride a one-file scan — a single ~100 MB
    * file is ONE scan partition, and a downstream fan-out (explode + join,
    * tokenize) then piles the whole volume onto one task. */
  def replicate(df: DataFrame, factor: Int, ids: Seq[String],
                salt: Boolean = false, keepCopy: Boolean = false): DataFrame = {
    val strides = df.agg(max(col(ids.head)) + 1, ids.tail.map(c => max(col(c)) + 1): _*).head()
    val copy = col("copy")
    val shifted = ids.zipWithIndex.foldLeft(
        df.crossJoin(df.sparkSession.range(factor).select(col("id").as("copy")))) {
      case (d, (c, i)) => d.withColumn(c, col(c) + copy * strides.getLong(i))
    }
    val salted = if (!salt) shifted else shifted.withColumn("text",
      when(copy === 0, col("text")).otherwise(concat(col("text"), lit(" c"), copy)))
    (if (keepCopy) salted else salted.drop("copy"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism * 2)
  }

  private def median[A: Ordering](xs: Seq[A]): A = xs.sorted.apply(xs.size / 2)

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def warmup(spark: SparkSession): Unit =
    spark.range(1000000L).selectExpr("sum(id)").collect()

  /** A/B for the skyline's two implementations — the custom physical
    * operator ([[graft.plans.SkylineExec]]) vs the typed-Dataset
    * mapPartitions twin — over `n` synthetic points. Substantiates the
    * De/SerializeObject-wall claim in SCALE.md with a measurement. */
  private def skyline(p: Probe, n: Long): Unit = {
    import p.spark
    // deterministic pseudo-random points, forced to disk-shape parallelism
    val pts = spark.range(n).select(col("id"),
        (col("id") * 48271 % 65521).as("x"),
        ((col("id") * 40503 % 65521) / 7.0).as("y"))
      .repartition(Sessions.cpus * 2)
      .localCheckpoint(true)
    // warm both paths once (codegen/JIT), then measure twice each
    graft.operators.Skyline(pts, "x", "y").count()
    graft.operators.Skyline.viaDataset(pts, "x", "y").count()
    val tExec = Seq.fill(2)(p.timed("exec")(
      graft.operators.Skyline(pts, "x", "y").count())._2).min
    val tDs = Seq.fill(2)(p.timed("dataset")(
      graft.operators.Skyline.viaDataset(pts, "x", "y").count())._2).min
    println(s"""{"metric":"skyline_ab","rows":$n,"exec_sec":$tExec,"dataset_sec":$tDs}""")
  }

  /** Wall time and Spark job count (SparkListener) of each named registry
    * query, three reps each, so "folded N driver actions" claims are
    * measured, not asserted. */
  private def jobs(p: Probe, names: String, sfDir: String): Unit = {
    import p.spark
    warmup(spark)
    def measure[A](name: String)(f: => A): A = {
      spark.catalog.clearCache(); System.gc()
      // listener events are async — give the bus a moment to drain before
      // sampling the counter (job-start events fire at submit time, so a
      // short grace covers the tail; counts are for attribution, and any
      // straggler lands on the NEXT phase, never lost)
      Thread.sleep(300)
      val j0 = p.jobsStarted
      val (r, dt) = p.timed(name)(f)
      Thread.sleep(300)
      println(f"[jobs] $name%-40s $dt%8.3f s  ${p.jobsStarted - j0}%4d jobs")
      r
    }
    val docs = Tables.documents(spark, sfDir)
    measure("warmup docs.count")(docs.count())
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      (1 to 3).foreach { rep =>
        measure(s"$n #$rep")(SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save())
      }
    }
  }

  /** Streaming throughput: drives the full two-branch enrichment pipeline
    * (decode → branch → broadcast joins → argmax dedup → partitioned
    * parquet sink) through the foreachBatch runner over MemoryStream
    * micro-batches and reports end-to-end rows/s. The reference's
    * generator feeds it 10 rows/s (flink.conf:7); this measures the
    * engine's single-node ceiling on the same logical pipeline. */
  private def stream(p: Probe, sfDir: String, nBatches: Int,
                     batchRows: Option[Int]): Unit = {
    import p.spark
    import spark.implicits._

    val src = CdrTables.src(spark, sfDir)
    val lines = src.select(CsvCodec.encode(src).as("value")).as[String].collect()
    val rowsPerBatch = batchRows.getOrElse(lines.length)
    val out = tmpDir("graft-sb-out")
    val ckpt = tmpDir("graft-sb-ckpt")

    val mem = MemoryStream[String](spark)
    val imsiCache = new DimensionCache(() => CdrTables.imsiMsisdn(spark, sfDir), 60000L)
    val msIpCache = new DimensionCache(() => CdrTables.msIpExploded(spark, sfDir), 60000L)
    val q = CdrStreamJob.runForeachBatch(
      CsvCodec.decode(mem.toDF()), imsiCache, msIpCache, out, ckpt, triggerMs = 50L)

    // warm micro-batch (codegen + broadcast build), then timed batches
    mem.addData(lines.take(1000).toSeq: _*)
    q.processAllAvailable()
    val t0 = System.nanoTime()
    var fed = 0L
    (1 to nBatches).foreach { _ =>
      mem.addData(lines.take(rowsPerBatch).toSeq: _*)
      fed += rowsPerBatch
      q.processAllAvailable()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    q.stop()
    val outRows = spark.read.parquet(out).count()

    // ---- stateful-twin state-scale arm: #keys × provider matrix ----
    // The CDR pipeline above is stateless per micro-batch (broadcast joins
    // + per-batch argmax); the flatMapGroupsWithState twins are where
    // streaming STATE scales with the key space. Measure StreamingCdc (the
    // O(1)-state-per-key twin) at K and 10K keys under the default
    // (HDFS-backed, on-heap) provider and under RocksDB — the production
    // store once keys outgrow the heap. Local caveat recorded with the
    // numbers: at these key counts both stores fit in memory, so RocksDB
    // shows its per-access overhead, not its scale win; the row exists to
    // pin that the twins RUN under RocksDB at 10× keys and what the
    // overhead costs, not to claim a local speedup.
    val baseKeys = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS", "20000").toLong
    def cdcStateBench(provider: Option[String], keys: Long, batches: Int): Double = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      provider match {
        case Some(cls) => spark.conf.set(key, cls)
        case None    => spark.conf.unset(key)
      }
      try {
        val memc = MemoryStream[(Long, java.sql.Timestamp, Long, Double, String)](spark)
        val qc = graft.streaming.StreamingCdc.run(
            memc.toDF().toDF("user_id", "ts", "event_id", "value", "event_type"))
          .writeStream.outputMode("update")
          .option("checkpointLocation", tmpDir("graft-sb-cdc"))
          .format("noop").start()
        def batchRows(b: Long) = (0L until keys).map { k =>
          (k, new java.sql.Timestamp(1700000000000L + b * 1000L),
            b * keys + k, k.toDouble, if (k % 97 == 0) "error" else "view")
        }
        try {
          memc.addData(batchRows(0)) // warm: state creation + codegen
          qc.processAllAvailable()
          val t = System.nanoTime()
          (1 to batches).foreach { b =>
            memc.addData(batchRows(b.toLong)); qc.processAllAvailable()
          }
          val sec = (System.nanoTime() - t) / 1e9
          (keys * batches) / sec
        } finally qc.stop()
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    val rocksDb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val cdcMem1 = cdcStateBench(None, baseKeys, 3)
    val cdcMem10 = cdcStateBench(None, baseKeys * 10, 3)
    val cdcRdb1 = cdcStateBench(Some(rocksDb), baseKeys, 3)
    val cdcRdb10 = cdcStateBench(Some(rocksDb), baseKeys * 10, 3)

    val json = f"""{"metric":"stream_rows_per_sec","value":${fed / dt}%.0f,"unit":"rows/s","in_rows":$fed,"out_rows":$outRows,"batches":$nBatches,"sec":$dt%.2f,"state_keys":$baseKeys,"cdc_hdfs_rows_per_sec":$cdcMem1%.0f,"cdc_hdfs_x10keys_rows_per_sec":$cdcMem10%.0f,"cdc_rocksdb_rows_per_sec":$cdcRdb1%.0f,"cdc_rocksdb_x10keys_rows_per_sec":$cdcRdb10%.0f}"""
    println(json)
    Util.writeJson("STREAMBENCH_OUT", "STREAMBENCH_LOCAL.json", json)
  }

  /** Focused ×N stress for the array-payload packed writer (build +
    * append) and the band-fold MinHash LSH chain: sf0.1 is overhead-bound
    * (most rows run FASTER on 8 cores than 32), so scaling claims for
    * these kernels need executed ×N evidence, not plan structure alone.
    * The corpus is the salted ×N replica `scale` uses. */
  private def pack(p: Probe, sfDir: String, factor: Int): Unit = {
    import p.{spark, timed}
    warmup(spark)
    val docsN = replicate(Tables.table(spark, sfDir, "documents"), factor,
      Seq("doc_id"), salt = true).localCheckpoint(true)
    val nDocs = docsN.count()

    // the array-payload packed writer: build on 2/3, append 1/3 — the
    // doc_shards_packed_append_roundtrip shape at ×N
    val out = tmpDir("graft-stress15")
    val (_, tBuild) = timed(s"packed build x$factor") {
      TrainingShards.writePackedTokenShards(
        docsN.filter(col("doc_id") % 3 =!= 0), out,
        TrainingShards.PackedShardCount,
        graft.llm.BpeTrainer.MergeSteps, TrainingShards.PackedBudget)
    }
    val (_, tAppend) = timed(s"packed append x$factor") {
      TrainingShards.appendPackedTokenShards(
        docsN.filter(col("doc_id") % 3 === 0), out,
        TrainingShards.PackedShardCount)
    }
    val (nPacked, tRead) = timed(s"packed read x$factor") {
      TrainingShards.readPackedTokenShards(spark, out).count()
    }

    // the band-fold LSH chain: candidates and the full verified pair set
    // (candidatesOf rides bandValsOf — the in-row band fold — and the
    // verify join carries the size-ratio prefilter)
    val (nCand, tCand) = timed(s"lsh candidates x$factor") {
      Dedup.lshCandidates(docsN, 1).count()
    }
    val (nPairs, tPairs) = timed(s"minhash pairs x$factor") {
      Dedup.minhashLsh(docsN, 0.4).count()
    }

    val json = s"""{"metric":"packstress_x$factor","factor":$factor,""" +
      s""""n_docs":$nDocs,"build_sec":$tBuild,"append_sec":$tAppend,""" +
      s""""read_sec":$tRead,"n_packed":$nPacked,""" +
      s""""cand_sec":$tCand,"n_cand":$nCand,""" +
      s""""pairs_sec":$tPairs,"n_pairs":$nPairs,"cpus":${Sessions.cpus},"sf":"$sfDir"}"""
    println(json)
    Util.writeJson("STRESS_OUT", s"PACKSTRESS_LOCAL_x$factor.json", json)
  }

  /** Scale-up stress for the packed store's HARD-DELETE REBUILD
    * ([[TrainingShards.rebuildPackedStore]]) over the unsalted ×N
    * documents: build a packed store, tombstone ~3% of documents, and
    * measure the three takedown postures side by side:
    *
    *  - the RECORD (addTombstones + activeSpans): what a takedown costs
    *    when zero-weighting suffices — metadata-sized,
    *  - the DEBT measurement (packedStoreDeadFraction): the gate's cost,
    *  - the REBUILD: the corpus-sized escalation, with per-task maxima so
    *    a skew-shaped regression (one task holding the whole decode) shows
    *    up as max_task, not just wall.
    *
    * Integrity is asserted in-run: post-rebuild token mass equals the
    * pre-measured surviving mass, the dead fraction returns to zero, and
    * the manifest-derived locations match the decoded files. */
  private def rebuild(p: Probe, sfDir: String, factor: Int): Unit = {
    import p.{spark, timed}
    val stressDir = s"/tmp/graft-rebuild-x$factor"
    replicate(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("text")), factor, Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$stressDir/docs.parquet")
    val docs = spark.read.parquet(s"$stressDir/docs.parquet")
    val nDocs = docs.count()

    val store = s"$stressDir/store"
    // shard count ∝ corpus (the writer's own sizing rule would apply at a
    // real deployment; fixed-per-factor keeps the container size constant
    // across factors so walls compare)
    val nShards = 8 * factor
    val (_, tBuild) = timed(s"packed build x$factor")(
      TrainingShards.writePackedTokenShards(docs, store, nShards,
        graft.llm.BpeTrainer.MergeSteps, 512))
    val mtBuild = p.maxTaskMs

    // the RECORD posture: a ~3% takedown lands as metadata
    val doomed = docs.filter(col("doc_id") % 37 === 0).select("doc_id")
    val (_, tTomb) = timed("tombstone record")(
      TrainingShards.addTombstones(spark, store, doomed, ingestBatch = 1L))
    val ((nActive, totalTok, deadTok), tActive) = timed("active-span feed") {
      val n = TrainingShards.activeSpans(spark, store).count()
      val m = TrainingShards.readPackedSpans(spark, store)
        .join(broadcast(TrainingShards.readTombstones(spark, store)
          .withColumn("dead", lit(1))), Seq("doc_id"), "left")
        .agg(sum(col("n_tokens")),
          coalesce(sum(when(col("dead") === 1, col("n_tokens"))), lit(0L)))
        .head()
      (n, m.getLong(0), m.getLong(1))
    }
    val (deadFrac, tGate) = timed("debt gate")(
      TrainingShards.packedStoreDeadFraction(spark, store))

    // the REBUILD posture: every surviving byte rewritten
    val (_, tRebuild) = timed(s"hard rebuild x$factor")(
      TrainingShards.rebuildPackedStore(spark, store, nShards))
    val mtRebuild = p.maxTaskMs
    val ((survTok, locOk), tVerify) = timed("post-rebuild verify") {
      val s = spark.read.parquet(s"$store/manifest")
        .agg(sum(col("n_bytes"))).head().getLong(0) / 4L
      val a = TrainingShards.packLocations(spark, store)
        .count()
      val b = TrainingShards.readPackedTokenShards(spark, store)
        .select(col("pack_seq"), col("shard"), col("pos"))
        .join(TrainingShards.packLocations(spark, store),
          Seq("pack_seq", "shard", "pos"))
        .count()
      (s, a == b)
    }
    require(survTok == totalTok - deadTok,
      s"rebuild lost tokens: $survTok != $totalTok - $deadTok")
    require(TrainingShards.packedStoreDeadFraction(spark, store) == 0.0,
      "rebuild left tombstone debt")
    require(locOk, "manifest-derived locations != decoded files after rebuild")

    val json = s"""{"metric":"rebuild_x$factor","docs":$nDocs,"n_shards":$nShards,"build_sec":$tBuild,"build_max_task_ms":$mtBuild,"tombstone_sec":$tTomb,"active_feed_sec":$tActive,"active_spans":$nActive,"gate_sec":$tGate,"dead_frac":$deadFrac,"total_tokens":$totalTok,"dead_tokens":$deadTok,"rebuild_sec":$tRebuild,"rebuild_max_task_ms":$mtRebuild,"verify_sec":$tVerify,"rebuild_over_build":${tRebuild / tBuild}}"""
    println(json)
    Util.writeJson("REBUILD_OUT", "REBUILD_LOCAL.json", json)
  }

  private def filesUnder(dir: String): Int = {
    val d = new File(dir)
    if (!d.exists()) 0
    else if (d.isFile) (if (d.getName.endsWith(".parquet")) 1 else 0)
    else d.listFiles().map(f => filesUnder(f.getPath)).sum
  }

  /** Small-files read amplification behind the artifact compaction work:
    * drive the appendable dedup artifact and the appendable IVF index
    * through many tiny maintenance batches (the "one partition per
    * streaming micro-batch, forever" shape a daily maintainer produces),
    * measure a real consumer's wall clock and the file/partition counts,
    * compact, re-measure, and assert the consumer's ANSWERS are identical
    * before/after. */
  private def compact(p: Probe, sfDir: String): Unit = {
    import p.spark
    val nBatches = sys.env.getOrElse("COMPACT_BATCHES", "100").toInt
    // the median of three timed runs, in ms
    def ms(what: String)(body: => Any): Double =
      median(Seq.fill(3)(p.timed(what)(body)._2 * 1e3))

    // ---- IVF index: 1 build + nBatches appends of ~1% each -------------
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") >= 50).localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 50)
    val idx = tmpDir("graft-cstress-ivf")
    Similarity.writeIvfIndexSized(corpus, idx)
    (1 to nBatches).foreach { b =>
      Similarity.appendIvfIndex(
        corpus.filter(col("vec_id") % nBatches === b % nBatches)
          .select((col("vec_id") + 1000000L * b).as("vec_id"),
            col("embedding")),
        idx, ingestBatch = b.toLong)
    }
    def topkRows() = Similarity.ivfTopKAgainstIndexSized(queries, idx, 10)
      .collect().map(_.toString).sorted.toSeq
    val ivfFilesBefore = filesUnder(s"$idx/cells")
    val ivfBefore = ms("ivf topk")(topkRows())
    val ivfAnswer = topkRows()
    // explicit watermark: this harness ran every append synchronously, so
    // batch nBatches IS durably committed (the no-arg default excludes
    // the newest batch because a streaming maintainer's newest may be torn)
    Similarity.compactIvfIndex(spark, idx, upTo = nBatches.toLong)
    val ivfFilesAfter = filesUnder(s"$idx/cells")
    val ivfAfter = ms("ivf topk compacted")(topkRows())
    require(topkRows() == ivfAnswer, "IVF answers changed across compaction")
    System.err.println(
      f"[compact] ivf: files $ivfFilesBefore -> $ivfFilesAfter, topk ms $ivfBefore%.0f -> $ivfAfter%.0f")

    // ---- dedup artifact: 1 build + nBatches appends ---------------------
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true)
    val art = tmpDir("graft-cstress-dedup")
    Dedup.writeDedupArtifactHashed(d.filter(col("doc_id") % 2 === 0), art, 0.4)
    (1 to nBatches).foreach { b =>
      // residue over doc_id div 2: the odd ids' halves cover every
      // residue class, so EVERY batch carries rows — a residue over the
      // raw id contradicts the %2 parity filter for half the batches and
      // would make the "100 maintenance batches" measurement actually ~50
      Dedup.appendDedupArtifact(
        d.filter(col("doc_id") % 2 === 1)
          .filter(pmod(expr("doc_id div 2"), lit(nBatches.toLong)) === b % nBatches)
          .select((col("doc_id") + 1000000L * b).as("doc_id"),
            col("source"), col("text")),
        art, ingestBatch = b.toLong)
    }
    // the consumer: a full scan of the per-document parts (what every
    // stored-label report starts from)
    val parts = Seq("shingles", "bands", "counts", "nodes")
    def scanRows() = parts.map(part => spark.read.parquet(s"$art/$part").count()).sum
    val dedupFilesBefore = parts.map(part => filesUnder(s"$art/$part")).sum
    val dedupRowsBefore = scanRows()
    val dedupBefore = ms("dedup scan")(scanRows())
    Dedup.compactDedupArtifact(spark, art, upTo = nBatches.toLong)
    val dedupFilesAfter = parts.map(part => filesUnder(s"$art/$part")).sum
    val dedupAfter = ms("dedup scan compacted")(scanRows())
    require(scanRows() == dedupRowsBefore, "dedup rows changed across compaction")
    System.err.println(
      f"[compact] dedup: files $dedupFilesBefore -> $dedupFilesAfter, scan ms $dedupBefore%.0f -> $dedupAfter%.0f")

    val json =
      s"""{"metric":"compaction","n_batches":$nBatches,"sf":"$sfDir",""" +
        s""""ivf_files_before":$ivfFilesBefore,"ivf_files_after":$ivfFilesAfter,""" +
        f""""ivf_topk_ms_before":$ivfBefore%.1f,"ivf_topk_ms_after":$ivfAfter%.1f,""" +
        s""""dedup_files_before":$dedupFilesBefore,"dedup_files_after":$dedupFilesAfter,""" +
        f""""dedup_scan_ms_before":$dedupBefore%.1f,"dedup_scan_ms_after":$dedupAfter%.1f}"""
    println(json)
    Util.writeJson("COMPACT_OUT", "COMPACT_LOCAL.json", json)
    Seq(idx, art).foreach(dir => FileUtils.deleteQuietly(new File(dir)))
  }

  /** ANN recall measurement behind SCALE.md's "recall vs knobs" table:
    * recall@10 against brute force for every ANN variant and its knob
    * settings, over the sf embedding table — re-runnable per round instead
    * of a one-off scratch script. */
  private def recall(p: Probe, sfDir: String): Unit = {
    import p.spark
    val emb = Tables.embeddings(spark, sfDir)
    val nQ = 50
    val k = 10
    def pairs(df: DataFrame): Set[(Long, Long)] = {
      import spark.implicits._
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    }
    val brute = pairs(Similarity.bruteForceTopK(emb, nQ, k))
    def recall(df: DataFrame): Double =
      math.round(10000.0 * (pairs(df) & brute).size / brute.size) / 10000.0

    // RECALL_ONLY=stored — quick-iteration gate: run ONLY the stored-index
    // section and print (never overwrite RECALL_LOCAL.json with a partial
    // record — the bench's BENCH_ONLY convention).
    val onlyStored = sys.env.get("RECALL_ONLY").contains("stored")

    val rows = if (onlyStored) Seq.empty else Seq(
      "lsh_fam1" -> recall(Similarity.lshTopK(emb, nQ, k)),
      "lsh_fam2" -> recall(Similarity.lshTopKMulti(emb, nQ, k, 2)),
      "lsh_fam4" -> recall(Similarity.lshTopKMulti(emb, nQ, k, 4)),
      "lsh_multiprobe1" -> recall(Similarity.lshTopKMultiprobe(emb, nQ, k, 1)),
      "lsh_multiprobe2" -> recall(Similarity.lshTopKMultiprobe(emb, nQ, k, 2)),
      "lsh_multiprobe4" -> recall(Similarity.lshTopKMultiprobe(emb, nQ, k, 4)),
      "lsh_multiprobe8" -> recall(Similarity.lshTopKMultiprobe(emb, nQ, k, 8)),
      "ivf_np2_plain" -> recall(Similarity.ivfTopK(emb, nQ, k, nprobe = 2)),
      "ivf_np2_kmeans1" -> recall(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 2, iters = 1)),
      "ivf_np2_kmeans2" -> recall(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 2, iters = 2)),
      "ivf_np2_kmeans3" -> recall(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 2, iters = 3)),
      "ivf_np4_plain" -> recall(Similarity.ivfTopK(emb, nQ, k, nprobe = 4)),
      "ivf_np4_kmeans2" -> recall(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 4, iters = 2)),
      "ivf_np8_plain" -> recall(Similarity.ivfTopK(emb, nQ, k, nprobe = 8)),
      "ivf_np8_kmeans2" -> recall(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 8, iters = 2)),
      // PQ-ADC scans COMPRESSED codes (4 ids vs 64 floats, ~64×): its knob
      // is codebook granularity — smaller codeMod ⇒ more codewords
      "pq_mod61" -> recall(Similarity.pqTopK(emb, nQ, k, codeMod = 61)),
      "pq_mod23" -> recall(Similarity.pqTopK(emb, nQ, k, codeMod = 23)),
      "pq_mod7" -> recall(Similarity.pqTopK(emb, nQ, k, codeMod = 7)),
      // PQ + exact re-rank (FAISS refine): recall is "true neighbor in the
      // PQ top k·refine", the production fix for PQ's coarse ranking; the
      // refine ladder records how fast it converges and what it costs
      // (exact-vector reads per query = k·refine)
      "pq_refine4" -> recall(Similarity.pqRefineTopK(emb, nQ, k, refine = 4)),
      "pq_refine16" -> recall(Similarity.pqRefineTopK(emb, nQ, k, refine = 16)),
      "pq_refine64" -> recall(Similarity.pqRefineTopK(emb, nQ, k, refine = 64)),
      // IVFPQ composes both knobs: nprobe widens the scanned cells, codeMod
      // refines the residual codebook — at equal codeMod vs plain PQ the
      // delta is pure residual-quantization gain
      "ivfpq_np2" -> recall(Similarity.ivfPqTopK(emb, nQ, k, nprobe = 2)),
      "ivfpq_np4" -> recall(Similarity.ivfPqTopK(emb, nQ, k, nprobe = 4)),
      "ivfpq_np8" -> recall(Similarity.ivfPqTopK(emb, nQ, k, nprobe = 8)),
      "ivfpq_np8_mod7" -> recall(Similarity.ivfPqTopK(emb, nQ, k, nprobe = 8, codeMod = 7)),
      // IVF-PQ + exact re-rank: ceiling = the probed cells' coverage (the
      // IVF arm's own recall at the same nprobe) — refine recovers the PQ
      // quantization loss inside it
      "ivfpq_np8_refine16" -> recall(Similarity.ivfPqRefineTopK(emb, nQ, k, nprobe = 8, refine = 16)),
      "ivfpq_np8_refine64" -> recall(Similarity.ivfPqRefineTopK(emb, nQ, k, nprobe = 8, refine = 64)))
    rows.foreach { case (n, r) => System.err.println(f"[recall] $n%-18s $r%.4f") }

    // The sized default path (ivfSizedParams): recall at the derived knobs
    // must clear the stated target — this row IS the gate the sized
    // defaults ship behind — plus the measured cost/recall frontier at the
    // sized nlist: scan fraction = candidate pairs / (nQ × corpus), so
    // every recall number carries the probe cost it was bought at.
    val nTot = emb.count()
    val corpusN = nTot - nQ
    val (nlist, cmod, sizedNp) = Similarity.ivfSizedParams(nTot, 0.8)
    def scanFrac(np: Int): Double =
      math.round(10000.0 * Similarity.ivfCandidateCount(emb, nQ, cmod, np, 2) /
        (nQ.toDouble * corpusN)) / 10000.0
    val frontierNp =
      (Seq(nlist / 8, nlist / 4, nlist / 2, sizedNp, nlist).map(math.max(1, _))
        ++ Seq(Similarity.ivfSizedParams(nTot, 0.9)._3)).distinct.sorted
    val frontier = if (onlyStored) Seq.empty else frontierNp.flatMap { np =>
      val r = recall(Similarity.ivfKmeansTopK(emb, nQ, k, cmod, np, iters = 2))
      val s = scanFrac(np)
      System.err.println(f"[recall] ivf_sized np=$np%-3d recall=$r%.4f scan=$s%.4f")
      Seq(s"ivf_sized_np${np}" -> r, s"ivf_sized_np${np}_scan" -> s)
    }
    val sizedMeta = if (onlyStored) Seq.empty else Seq(
      "ivf_sized_nlist" -> nlist.toDouble, "ivf_sized_cmod" -> cmod.toDouble,
      "ivf_sized_nprobe" -> sizedNp.toDouble,
      "ivf_sized_target" -> 0.8,
      "ivf_sized" -> recall(Similarity.ivfSizedTopK(emb, nQ, k)))
    sizedMeta.takeRight(1).foreach { case (n, r) =>
      System.err.println(f"[recall] $n%-18s $r%.4f (target 0.8)") }

    // The STORED IVF-PQ serving contract (writeIvfPqIndexSized →
    // ivfPqRefineAgainstIndex at the params the index carries). The index is built over the
    // corpus side only (an index can't see future queries), then recall is
    // measured (a) at the stored contract exactly, and (b) along the refine
    // ladder at the stored nprobe, so the refine default is anchored to a
    // measured recovery curve, not extrapolated from hand-picked nprobes.
    val idxDir = tmpDir("graft-recall-ivfpq")
    val corpus = emb.filter(col("vec_id") >= nQ)
    val qrs = emb.filter(col("vec_id") < nQ)
    Similarity.writeIvfPqIndexSized(corpus, idxDir)
    val prm = spark.read.parquet(s"$idxDir/params").head()
    val storedNp = prm.getAs[Int]("nprobe")
    val storedRefine = prm.getAs[Int]("refine")
    val refineLadder = Seq(4, 16, 32, 64).flatMap { rf =>
      val r = recall(Similarity.ivfPqRefineAgainstIndex(qrs, idxDir, k,
        refineOverride = Some(rf)))
      System.err.println(f"[recall] ivfpq_sized refine=$rf%-3d recall=$r%.4f (np=$storedNp)")
      Seq(s"ivfpq_sized_refine$rf" -> r)
    }
    val storedContract = recall(Similarity.ivfPqRefineAgainstIndex(qrs, idxDir, k))
    System.err.println(
      f"[recall] ivfpq_sized stored contract np=$storedNp refine=$storedRefine recall=$storedContract%.4f (target 0.8)")
    // the coverage ceiling at the stored nprobe: refine large enough that
    // every ADC candidate in the probed cells is exactly re-ranked — what
    // the refine stage can at best recover to
    val ceiling = recall(Similarity.ivfPqRefineAgainstIndex(qrs, idxDir, k,
      refineOverride = Some((corpusN / k + 1).toInt)))
    System.err.println(f"[recall] ivfpq_sized ceiling (refine-all) recall=$ceiling%.4f")
    val ivfpqSized = Seq(
      "ivfpq_sized_nprobe" -> storedNp.toDouble,
      "ivfpq_sized_refine" -> storedRefine.toDouble,
      "ivfpq_sized_target" -> 0.8,
      "ivfpq_sized" -> storedContract,
      "ivfpq_sized_ceiling" -> ceiling) ++ refineLadder

    // r12: recall DRIFT of an APPENDED index — the measurement behind
    // rebuildFactor = 2. Build the sized index on HALF the corpus, fold
    // the other half in by append (assigned against the stale
    // half-corpus centroids — exactly what ivf(Pq)IndexNeedsRebuild's
    // 2× trigger tolerates right up to its firing point), then measure
    // recall at the stored contract over the SAME full corpus a
    // rebuilt-at-N index serves. The appended-vs-rebuilt gap at 2× IS
    // the price the trigger accepts; if appended misses the target, the
    // factor must shrink.
    val half = corpus.filter(col("vec_id") % 2 === 0)
    val rest = corpus.filter(col("vec_id") % 2 =!= 0)
    val (ivfApp, ivfReb) = (tmpDir("graft-recall-ivf-app"), tmpDir("graft-recall-ivf-reb"))
    Similarity.writeIvfIndexSized(half, ivfApp)
    Similarity.appendIvfIndex(rest, ivfApp)
    Similarity.writeIvfIndexSized(corpus, ivfReb)
    val rIvfApp = recall(Similarity.ivfTopKAgainstIndexSized(qrs, ivfApp, k))
    val rIvfReb = recall(Similarity.ivfTopKAgainstIndexSized(qrs, ivfReb, k))
    // assert the trigger against the ACTUAL growth ratio of this split —
    // an even/odd split of a small or odd-sized corpus is not exactly 2×,
    // and a probe must report, not abort, on such corpora
    val buildN = half.count().toDouble
    val ratio = (buildN + rest.count()) / buildN
    require(Similarity.ivfIndexNeedsRebuild(spark, ivfApp, rebuildFactor = ratio - 0.05)
      && !Similarity.ivfIndexNeedsRebuild(spark, ivfApp, rebuildFactor = ratio + 0.05),
      f"drift trigger must fire exactly around ${ratio}%.3fx build_n at this split")
    val (pqApp, pqReb) = (tmpDir("graft-recall-pqa"), tmpDir("graft-recall-pqr"))
    Similarity.writeIvfPqIndexSized(half, pqApp)
    Similarity.appendIvfPqIndex(rest, pqApp)
    Similarity.writeIvfPqIndexSized(corpus, pqReb)
    val rPqApp = recall(Similarity.ivfPqRefineAgainstIndex(qrs, pqApp, k))
    val rPqReb = recall(Similarity.ivfPqRefineAgainstIndex(qrs, pqReb, k))
    System.err.println(f"[recall] ivf_sized appended@2x=$rIvfApp%.4f rebuilt=$rIvfReb%.4f")
    System.err.println(f"[recall] ivfpq_sized appended@2x=$rPqApp%.4f rebuilt=$rPqReb%.4f")
    val appendDrift = Seq(
      "ivf_sized_appended_2x" -> rIvfApp,
      "ivf_sized_rebuilt_at_2x" -> rIvfReb,
      "ivfpq_sized_appended_2x" -> rPqApp,
      "ivfpq_sized_rebuilt_at_2x" -> rPqReb)
    // persist the MEASURED recall with the appended indexes: after this,
    // the rebuild trigger gates on the measurement itself rather than the
    // growth-ratio extrapolation — asserted right here
    val ivfN = spark.read.parquet(s"$ivfApp/cells").count()
    Similarity.recordMeasuredRecall(spark, ivfApp, rIvfApp, ivfN)
    val pqN = spark.read.parquet(s"$pqApp/vectors").count()
    Similarity.recordMeasuredRecall(spark, pqApp, rPqApp, pqN)
    require(Similarity.ivfIndexNeedsRebuild(spark, ivfApp) == (rIvfApp < 0.8),
      "IVF rebuild gate must follow the recorded measurement")
    require(Similarity.ivfPqIndexNeedsRebuild(spark, pqApp) == (rPqApp < 0.8),
      "IVF-PQ rebuild gate must follow the recorded measurement")
    System.err.println(f"[recall] measured-gate ivf=${rIvfApp < 0.8} ivfpq=${rPqApp < 0.8} (recorded at n=$ivfN/$pqN)")

    // the probe's temp indexes are measurement scratch, not artifacts —
    // delete them
    Seq(idxDir, ivfApp, ivfReb, pqApp, pqReb).foreach(d => FileUtils.deleteQuietly(new File(d)))

    val json = (rows ++ sizedMeta ++ frontier ++ ivfpqSized ++ appendDrift)
      .map { case (n, r) => "\"" + n + "\":" + r }
      .mkString(s"""{"metric":"recall_at_$k","n_queries":$nQ,"sf":"$sfDir",""", ",", "}")
    println(json)
    if (!onlyStored) Util.writeJson("RECALL_OUT", "RECALL_LOCAL.json", json)
  }

  /** Scale-up stress: replicate the sf events table ×N (disjoint id
    * ranges, so key cardinalities scale linearly like real growth) to a
    * parquet table under /tmp, then time the full CDR pipeline, the argmax
    * dedup and the corpus operators (over the salted ×N documents) against
    * it. Answers "does the plan survive a ×N scale-up with the same shape"
    * with a measurement instead of an argument. `SPARK_GRAFT_STRESS_SKIP`
    * (comma list of section names) skips the answer-size-bound sections;
    * the record says why for each. */
  private def scale(p: Probe, sfDir: String, factor: Int): Unit = {
    import p.{spark, timed}
    val skipped = sys.env.getOrElse("SPARK_GRAFT_STRESS_SKIP", "")

    val stressDir = s"/tmp/graft-stress-x$factor"
    // written as many files, like a real ×N table: the ~40× explode+join
    // fan-out over one scan partition was observed as minutes of
    // single-threaded WindowGroupLimit
    replicate(Tables.events(spark, sfDir), factor, Seq("event_id", "user_id"))
      .write.mode("overwrite").parquet(s"$stressDir/events.parquet")

    // fixture adapter over the scaled table (same derivations as CdrTables;
    // ts is already a timestamp from Tables.events)
    val ev = spark.read.parquet(s"$stressDir/events.parquet")

    val src = CdrTables.srcFromEvents(ev)
    val msIp = CdrTables.msIpExplodedFromEvents(ev)
    val imsi = CdrTables.imsiMsisdn(spark, sfDir) // dim stays dim-sized

    val ext = CdrPipeline.extendWithPartitionCols(src)
    val (nSrc, tScan) = timed("scan+derive count")(ext.count())
    val (nJoin, tJoin) = timed("range join only")(
      CdrPipeline.unknownJoin(ext, msIp).count())
    val (nAgg, tAgg) = timed("argmax dedup (agg)")(
      CdrPipeline.dedupLatestAgg(CdrPipeline.unknownJoin(ext, msIp)).count())
    // the WINDOW-form dedup is the documented slow twin (kept to measure
    // the contrast vs the aggregation form: 94-375 s vs 2-4 s at ×10);
    // skip it at big factors where the contrast is already on record and
    // the full-chain sort would dominate the run
    val skipWindowDedup = skipped.contains("windowdedup")
    // -1 when skipped (same convention as nSim): a consumer must be able to
    // tell a measured row count from a substituted one
    val (nDedup, tDedup) =
      if (skipWindowDedup) (-1L, -1.0)
      else timed("argmax dedup")(
        CdrPipeline.dedupLatest(CdrPipeline.unknownJoin(ext, msIp)).count())
    // the as-of twin of the range-join+argmax chain (cdr_asof_enrich): one
    // hash exchange on (probe, ip) + per-partition sort, cost independent
    // of match fan-out — THE reason it's the 100 TB J3/J4+A1 replacement.
    // count(_imsi), not count(): a bare count lets Catalyst prune the
    // unused window payload and the measurement would skip the sort +
    // running-last entirely (the argmax-agg caveat). Counting the matched
    // payload column forces the full operator; nAsof = matched rows.
    val (nAsof, tAsof) = timed("asof enrich")(
      graft.operators.AsOfJoin.leftAsOf(
        CdrPipeline.explodeIps(ext.filter(col("imsi").isNull)),
        msIp, keys = Seq("probe", "ip"),
        leftTime = "start_time", rightTime = "start_time",
        payload = Seq("imsi" -> "_imsi", "msisdn" -> "_msisdn"))
        .agg(count(col("_imsi"))).head().getLong(0))
    val (nB1, tB1) = timed("branch1 lookup")(
      CdrPipeline.knownBranch(ext, imsi, "left_outer").count())
    val (_, tDedup2) =
      if (skipWindowDedup) (nAgg, -1.0)
      else timed("argmax dedup (rpt)")(
        CdrPipeline.dedupLatest(CdrPipeline.unknownJoin(ext, msIp)).count())
    val (nFull, tFull) = timed("full pipeline")(
      CdrPipeline.full(src, imsi, msIp).count())
    System.err.println(s"[stress] join_rows=$nJoin b1_rows=$nB1 dedup_rpt=$tDedup2")

    // r2 operators at the same ×N volume:
    // banded interval join over the scaled events (pairs grow linearly —
    // disjoint user ranges keep per-key density constant, like real growth)
    val (nPairs, tIvl) = timed("interval join x" + factor)(
      graft.operators.IntervalJoin.pairsWithin(ev, 300).count())
    // connected components over a synthetic graph ~×N the sf0.1 candidate
    // set: 100k-node graph of 20k 5-cliques chained by bridges (diameter 3
    // per component after bridging — the LSH-cluster regime)
    val nNodes = 100000L * factor / 10
    val cliques = spark.range(nNodes).select(
      col("id"), expr("id div 5").as("c"), (col("id") % 5).as("m"))
    val intra = cliques.filter(col("m") > 0)
      .select((col("c") * 5).as("src"), col("id").as("dst"))
    val bridges = cliques.filter(col("m") === 0 && (col("c") % 4) === 0 && col("c") > 0)
      .select((col("id") - 5).as("src"), col("id").as("dst"))
    val edges = intra.unionByName(bridges)
    var ccRounds = 0
    val (nComp, tCc) = timed("conn comp " + nNodes + " nodes") {
      val (lbl, stats) = graft.operators.ConnectedComponents.run(
        spark.range(nNodes).select(col("id")), edges)
      ccRounds = stats.hashMinRounds
      lbl.select(col("label")).distinct().count()
    }
    // fused convergence: actions per round == 1 (was 2 pre-r3)
    System.err.println(s"[stress] interval_pairs=$nPairs components=$nComp cc_rounds=$ccRounds")

    // r3 curation operators over the salted ×N document corpus
    val docsBase = Tables.table(spark, sfDir, "documents")
    val docsN = replicate(docsBase, factor, Seq("doc_id"), salt = true)
      .localCheckpoint(true)
    val (nRep, tRep) = timed("repetition x" + factor)(
      graft.llm.TextAnalysis.repetition(docsN).count())
    val (nDec, tDec) = timed("decontaminate x" + factor)(
      graft.llm.TextAnalysis.decontaminate(docsN).count())
    val (nCur, tCur) = timed("curate x" + factor)(
      graft.llm.TextAnalysis.curate(docsN).count())
    // the simhash pair count is ANSWER-SIZE-bound on this dense synthetic
    // corpus (~quadratic in replication — 59.5M pairs at ×10); skip it for
    // large factors where the answer itself, not the algorithm, dominates
    val skipSimhash = skipped.contains("simhash")
    val (nSim, tSim) =
      if (skipSimhash) (-1L, -1.0)
      else timed("simhash pairs x" + factor)(
        Dedup.simhashPairs(docsN, 3).count())
    // the vocab-free twin at the same ×N volume — EXECUTED evidence that
    // the 100 TB branch runs at scale, not a race: pair counts differ by
    // design (different pseudo-bit family ⇒ different fingerprints ⇒
    // different collision structure on this dense synthetic corpus), and
    // on a corpus this small-vocabed the vocab path's sort is nearly free,
    // so wall times are answer-size-bound and NOT comparable. The hashed
    // path's advantage is structural: no corpus-wide distinct, no vocab
    // broadcast — the terms that explode at 10M+ distinct tokens.
    val (nSimH, tSimH) =
      if (skipSimhash) (-1L, -1.0)
      else timed("simhash hashed x" + factor)(
        Dedup.simhashPairsHashed(docsN, 3).count())
    val (nSub, tSub) = timed("substring dedup x" + factor)(
      Dedup.substringDedup(docsN, 10).count())
    val (nCap, tCap) = timed("domain cap x" + factor)(
      graft.llm.TextAnalysis.domainCap(docsN, 5).count())
    val (nSamp, tSamp) = timed("sample weighted x" + factor)(
      graft.llm.TextAnalysis.sampleWeighted(docsN).count())
    val (nChk, tChk) = timed("chunk x" + factor)(
      graft.llm.TextAnalysis.chunk(docsN, 32, 4).count())
    val (nPack, tPack) = timed("pack greedy x" + factor)(
      graft.llm.TextAnalysis.packGreedy(docsN, 256).count())

    // r12: the pack prefix sum on a ONE-SOURCE corpus — the adversarial
    // shape for the running-offset computation (the CommonCrawl-shaped
    // bulk of a real mix). The two-phase distributed form (what packGreedy
    // now is) is contrasted against the naive per-source running-sum
    // window it replaced: the naive plan funnels every row of the source
    // through ONE window task, so its max task tracks corpus size, while
    // the two-phase form's max task is one (source, bucket) cell. The
    // max-task contrast is the claim, measured at its stage.
    val nOneSrc = 200000L * factor
    val docsOne = spark.range(nOneSrc).select(
        col("id").as("doc_id"), lit("bulk").as("source"),
        expr("""array_join(transform(sequence(1, 8), i ->
          |  char(97 + pmod(hash(id, i), 26))), ' ')""".stripMargin).as("text"))
      .repartition(Sessions.cpus * 2)
      .localCheckpoint(true)
    // Each arm is forced through an aggregate over the RESULT VALUES:
    // a bare count() lets Catalyst PRUNE the unreferenced window/prefix
    // columns entirely (column pruning removes window expressions nothing
    // reads — a pyspark probe measured count() 0.2 s vs forced 4.8 s at 2M).
    // Untimed warmup first: the session's first window/agg job pays ~1 s
    // of codegen JIT; the NAIVE arm then runs first, so residual warmth
    // favors the incumbent, never the rewrite.
    def forcePack(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), max(col("pack_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    forcePack(graft.llm.TextAnalysis.packGreedy(docsOne.limit(1000), 256))
    val (r2, tPackWin) = timed("pack window naive x" + factor) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      forcePack(docsOne
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("cum_start",
          sum(col("n_tokens")).over(w) - col("n_tokens"))
        .select(col("doc_id"), expr("cum_start div 256").as("pack_id")))
    }
    val maxTaskPackWin = p.maxTaskMs
    val (r1, tPackDist) = timed("pack prefix-sum dist x" + factor)(
      forcePack(graft.llm.TextAnalysis.packGreedy(docsOne, 256)))
    val (maxTaskPackDist, nPackOne) = (p.maxTaskMs, r1._1)
    require(r1 == r2, s"prefix-sum rewrite changed the answer: $r1 vs $r2")
    System.err.println(s"[stress] pack_one_source_rows=$nPackOne " +
      s"dist_max_task_ms=$maxTaskPackDist window_max_task_ms=$maxTaskPackWin")
    val (nTfi, tTfi) = timed("tfidf topk x" + factor)(
      graft.llm.TextAnalysis.tfidfTopK(docsN, 3).count())
    // CMS at ×N: the counter table must stay ≤ d·w rows no matter the
    // corpus (the require is the claim), and the top-k estimate join is
    // vocab-side work, not corpus-side — both timed on the xxhash64
    // production path (no vocab table anywhere)
    val (nCtr, tCtr) = timed("cms counters x" + factor) {
      val n = graft.llm.Sketches.cmsCountersHashed(docsN).count()
      require(n <= graft.llm.Sketches.CmsDepth * graft.llm.Sketches.CmsWidth,
        s"CMS counter table grew past d*w: $n")
      n
    }
    val (nCms, tCms) = timed("cms topk x" + factor)(
      graft.llm.Sketches.cmsHeavyHittersHashed(docsN, 20).count())
    System.err.println(s"[stress] rep=$nRep dec=$nDec cur=$nCur simpairs=$nSim" +
      s" simpairs_hashed=$nSimH" +
      s" substr=$nSub cap=$nCap samp=$nSamp chunk=$nChk pack=$nPack tfidf=$nTfi" +
      s" cms_rows=$nCtr cms_topk=$nCms")

    // ---- containment prefix filter at ×N: increments (doc_id % 7 == 0)
    // probe the stored index built from the rest. Two measured claims:
    // the stored-index probe never rescans/reshuffles the corpus, and the
    // prefix filter cuts candidate pairs vs the naive any-shared-shingle
    // join — pruning evidence, not an argument.
    // skippable like simhash: the naive-candidate contrast stage is
    // ANSWER-SIZE-bound on this dense synthetic corpus (~quadratic in
    // replication — 27.7M candidate pairs at ×10), so at big factors the
    // answer, not the algorithm, dominates and the contrast is on record
    val skipCont = skipped.contains("containment")
    var (tContBuild, tCandNaive, tCandPrefix, tContGate) = (-1.0, -1.0, -1.0, -1.0)
    var (nCandNaive, nCandPrefix, nContHits) = (-1L, -1L, -1L)
    if (!skipCont) {
      val contIdx = s"/tmp/graft-stress-contidx-x$factor"
      val contIncs = docsN.filter(col("doc_id") % 7 === 0)
      val contCorp = docsN.filter(col("doc_id") % 7 =!= 0)
      tContBuild = timed("containment idx build")(
        Dedup.writeNearDupIndex(contCorp, contIdx))._2
      val incShid = Dedup.shingleIdsHashed(
        Dedup.tokenized(contIncs)).localCheckpoint(true)
      val incCn = incShid.groupBy(col("doc_id")).agg(count(lit(1)).as("cn"))
      val (nn, tn) = timed("cont cand naive")(
        incShid.select(col("doc_id").as("new_doc"), col("sid"))
          .join(spark.read.parquet(s"$contIdx/shingles")
            .select(col("doc_id").as("existing_doc"), col("sid")), Seq("sid"))
          .select("new_doc", "existing_doc").distinct().count())
      nCandNaive = nn; tCandNaive = tn
      val (np, tp) = timed("cont cand prefix")(
        Dedup.containmentPrefixCandidates(incShid, incCn, contIdx, 0.8).count())
      nCandPrefix = np; tCandPrefix = tp
      // broadcastCandidates = false: every increment doc here near-duplicates
      // ~9 sibling copies, so the candidate side is corpus-dense — the
      // documented escape-hatch regime
      val (nh, tg) = timed("containment gate x" + factor)(
        Dedup.containmentAgainstIndex(contIncs, contIdx, 0.8,
          broadcastCandidates = false).count())
      nContHits = nh; tContGate = tg
      System.err.println(s"[stress] cont_cand_naive=$nCandNaive cont_cand_prefix=$nCandPrefix" +
        s" cont_hits=$nContHits")
    }

    // ---- adversarial LSH hot bucket: 10% of the ×N corpus is ONE identical
    // text, so one (band, bval) key per band carries every duplicate and its
    // pair fan-out is quadratic in the bucket. AQE's skew split keys on
    // shuffle-input BYTES and the hot bucket's input is tiny — it cannot
    // help — so the question is whether the grid salt bounds max task time.
    // A SparkListener records the longest task of each run.
    val skipSkew = skipped.contains("skew")
    // SPARK_GRAFT_STRESS_SKEW_REPS > 1 repeats the whole skew section and
    // keeps per-metric MEDIANS — a stale/contended skew record once
    // contradicted SCALE.md; medians over 3 reps are the
    // reconciliation protocol (single runs of second-long stages swing >3×
    // under host contention)
    // clamped to >= 1: reps = 0 would crash the median over an empty vector
    // at the END of the run; skipping the section is SPARK_GRAFT_STRESS_SKIP
    val skewReps =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_STRESS_SKEW_REPS", "1").toInt)
    // one (rows, sec, max-task ms) sample per arm; -1 everywhere when skipped
    def arm(what: String)(f: => Long): (Long, Double, Long) = {
      val (n, t) = timed(what)(f)
      (n, t, p.maxTaskMs)
    }
    val skewArms = if (skipSkew) Seq.fill(7)((-1L, -1.0, -1L)) else {
      val dupText = (1 to 12).map(i => s"hotdup$i").mkString(" ")
      val docsSkew = replicate(docsBase, factor, Seq("doc_id"), salt = true)
        .withColumn("text", when(col("doc_id") % 10 === 0, lit(dupText))
          .otherwise(col("text")))
        .localCheckpoint(true)
      val runs = (1 to skewReps).map { rep =>
        val plain = arm(s"minhash skew plain #$rep")(
          Dedup.minhashLsh(docsSkew, 0.4).count())
        val salt = arm(s"minhash skew salt8 #$rep")(
          Dedup.minhashLsh(docsSkew, 0.4,
            Dedup.ExactVocabBound, saltBuckets = 8).count())
        require(plain._1 == salt._1, s"salting changed the answer: ${plain._1} vs ${salt._1}")
        // r11: the CANDIDATE stage alone — where the salt actually acts.
        // The full-chain rows above are dominated by the verify join over
        // the quadratic candidate ANSWER, which salted and unsalted plans
        // pay identically, so their near-equal walls say nothing about
        // the mitigation (the flat r10 x10 record). These two arms stop
        // at the band join + distinct: the hot (band,bval) key's pair
        // fan-out lands on ONE task unsalted and on 32 salted, and the
        // max-task contrast is the salt's claim measured at its stage.
        val candPlain = arm(s"lsh candidates plain #$rep")(
          Dedup.lshCandidates(docsSkew, 1).count())
        val candSalt = arm(s"lsh candidates salt32 #$rep")(
          Dedup.lshCandidates(docsSkew, 32).count())
        require(candPlain._1 == candSalt._1,
          s"salting changed the candidate set: ${candPlain._1} vs ${candSalt._1}")
        // the production order: exact-dedup FIRST (collapse identical texts
        // to one representative), near-dup over representatives. The salt
        // bounds the band-join task, but the C(dups,2) pair ANSWER is
        // inherent to running near-dup on an un-exact-deduped corpus — this
        // stage shows the answer-size pathology disappears upstream.
        val reps = docsSkew.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), col("text"))
        val dedupFirst = arm(s"minhash dedup-first #$rep")(
          Dedup.minhashLsh(reps, 0.4).count())
        // winnowing hot-FINGERPRINT adversary (the same 10%-boilerplate
        // corpus): uncapped, the shared run's fingerprints fan out
        // C(dups,2) through the self-join; the MOSS stop-fingerprint cap
        // must bound both wall time and the longest task. Pair counts
        // differ BY DESIGN (the cap drops boilerplate-only pairs — that
        // is the rule's point); the capped set is a subset, spec-pinned.
        val winnowPlain = arm(s"winnow skew plain #$rep")(
          Dedup.winnowPairs(docsSkew, 4, 2).count())
        val winnowCap = arm(s"winnow skew capped #$rep")(
          Dedup.winnowPairs(docsSkew, 4, 2, maxDf = 64).count())
        require(winnowCap._1 <= winnowPlain._1,
          s"df cap added pairs: ${winnowPlain._1} -> ${winnowCap._1}")
        Seq(plain, salt, candPlain, candSalt, dedupFirst, winnowPlain, winnowCap)
      }
      // per arm: the last rep's (deterministic) count, median time and
      // median max task
      runs.transpose.map(r => (r.last._1, median(r.map(_._2)), median(r.map(_._3))))
    }
    val Seq((nSkewPairs, tSkewPlain, maxTaskPlain), (_, tSkewSalt, maxTaskSalt),
      (nSkewCand, tCandPlain, maxTaskCandPlain), (_, tCandSalt, maxTaskCandSalt),
      (nDedupFirstPairs, tSkewDedupFirst, maxTaskDedupFirst),
      (nWinnowPlain, tWinnowPlain, maxTaskWinnowPlain),
      (nWinnowCap, tWinnowCap, maxTaskWinnowCap)) = skewArms
    if (!skipSkew)
      System.err.println(s"[stress] skew_pairs=$nSkewPairs reps=$skewReps " +
        s"cand=$nSkewCand cand_max_task_plain=${maxTaskCandPlain}ms " +
        s"cand_max_task_salt32=${maxTaskCandSalt}ms " +
        s"max_task_plain=${maxTaskPlain}ms max_task_salt8=${maxTaskSalt}ms " +
        s"dedup_first_pairs=$nDedupFirstPairs max_task_dedup_first=${maxTaskDedupFirst}ms " +
        s"winnow_plain=${nWinnowPlain}p/${maxTaskWinnowPlain}ms " +
        s"winnow_capped=${nWinnowCap}p/${maxTaskWinnowCap}ms")

    // the one-pass column profiler over the full ×N events table (6 mixed
    // columns): linear work, two narrow keyed shuffles — wall time must
    // track the scan, not the distinct-value volume, and the (col, value)
    // count stage must absorb the ×N duplicate values map-side
    val (_, tProf) = timed("table profile")(
      graft.operators.TableProfile(ev)
        .write.format("noop").mode("overwrite").save())

    // r7 additions at ×N:
    // SNM — the block-prefix window must keep the sort partitioned
    // (wall tracks corpus volume, not a single-task global sort)
    val (nSnm, tSnm) = timed("snm pairs x" + factor)(
      Dedup.snmPairs(docsN, 3, 20).count())
    // shard shuffle — one keyed exchange; pos windows parallel by shard
    val (nShuf, tShuf) = timed("shuffle shards x" + factor)(
      graft.llm.TextAnalysis.shuffleShards(docsN, Sessions.cpus).count())
    // skyline — the partition-local sweep must absorb the ×N volume with
    // no shuffle; only per-partition frontiers reach the gather
    val (nSky, tSky) = timed("skyline x" + factor)(
      graft.operators.Skyline(
        ev.select(col("event_id"), col("user_id"), col("value")),
        "user_id", "value").count())
    System.err.println(s"[stress] snm_pairs=$nSnm shuffle_rows=$nShuf skyline_rows=$nSky")

    // phash — banded fingerprint join; ANSWER-bound on the dense ×N corpus
    // like the simhash family (skipped with it at big factors)
    val (nPh, tPh) =
      if (skipSimhash) (-1L, -1.0)
      else timed("phash pairs x" + factor)(
        graft.llm.Multimodal.phashPairs(docsN, 3).count())
    // group-integrity split — fold over #groups, broadcast back, one scan
    val (nGs, tGs) = timed("group split x" + factor)(
      graft.llm.TextAnalysis.groupSplit(docsN).count())
    // embedding gates at ×N: replicate embeddings with fresh vec_ids and a
    // per-copy coordinate nudge (real-growth shape: new vectors, not copies)
    val embBase = Tables.embeddings(spark, sfDir)
    val embN = replicate(embBase, factor, Seq("vec_id"), keepCopy = true)
      .withColumn("embedding", expr(
        "transform(embedding, (x, j) -> x + CAST(copy AS FLOAT) * CAST(j % 3 AS FLOAT) / 1000.0)"))
      .drop("copy")
      .localCheckpoint(true)
    val (nDe, tDe) = timed("emb decontaminate x" + factor)(
      Similarity.embDecontaminate(embN, 97, 0.3).count())
    val (nHn, tHn) = timed("hard negatives x" + factor)(
      Similarity.hardNegatives(embN, 5, 3).count())
    System.err.println(s"[stress] phash_pairs=$nPh group_split_rows=$nGs" +
      s" decontam_rows=$nDe hard_neg_rows=$nHn")

    // r9: batched BPE training at production merge DEPTH. The r8 row ran
    // over the fixture corpus, whose vocabulary exhausts its mergeable
    // pairs at ~90 merges — so the k=512 claim was never exercised past
    // 90. This corpus is synthesized with a WIDE symbol
    // space (26-letter alphabet, 8-char pseudo-random words, hash-derived
    // so it's deterministic): 676 first-level pairs alone, and every merge
    // mints a new symbol that pairs further — depth 512 is genuinely
    // reachable. Size tracks the stress factor like every other metric.
    val wideDocs = spark.range(2000L * factor)
      .select(col("id").as("doc_id"), expr(
        """array_join(transform(sequence(1, 30), w ->
          |  array_join(transform(sequence(1, 8), i ->
          |    char(97 + pmod(hash(id, w, i), 26))), '')), ' ')""".stripMargin)
        .as("text"))
      .repartition(Sessions.cpus * 2)
      .localCheckpoint(true)
    val (nBpe, tBpe) = timed("bpe train k=512 b=32 wide") {
      val (bpeMs, _) = graft.llm.BpeTrainer.train(wideDocs, 512, batch = 32)
      bpeMs.length.toLong
    }
    // the batching claim, measured at depth on the same corpus: identical
    // merge count, 64 driver round-trips (B=1, the exact-greedy algorithm)
    // vs 4 (B=16) — the wall ratio IS the round-trip amortization
    val (nBpeB1, tBpeB1) = timed("bpe train k=64 b=1 wide") {
      graft.llm.BpeTrainer.train(wideDocs, 64, batch = 1)._1.length.toLong
    }
    val (nBpeB16, tBpeB16) = timed("bpe train k=64 b=16 wide") {
      graft.llm.BpeTrainer.train(wideDocs, 64, batch = 16)._1.length.toLong
    }
    System.err.println(s"[stress] bpe512_merges=$nBpe bpe64_b1=$nBpeB1" +
      s" (${tBpeB1}s) bpe64_b16=$nBpeB16 (${tBpeB16}s)")

    // r9: WARC framing cost at volume — the same ×N corpus through the
    // plain and gzip-member containers. The claim under test: gz framing
    // (build: one deflate per record; parse: the lazy member walk + per-
    // member inflate) stays a constant-factor tax over plain, because both
    // are single mapPartitions passes — nothing shuffles differently.
    val (nWarc, tWarc) = timed("warc ingest plain x" + factor)(
      graft.llm.WarcIngest.ingestReport(docsN).count())
    val (nWarcGz, tWarcGz) = timed("warc ingest gz x" + factor)(
      graft.llm.WarcIngest.ingestReportGz(docsN).count())
    // r9: post-training preference surface at volume — pref_pairs is ONE
    // partial-aggregated struct-minmax pass (pool count stays fixed while
    // the corpus grows ×N, so output is constant-size and the cost is the
    // map-side combine); template dedup is the exact-dedup shape over the
    // normalized prefix key.
    val (nPref, tPref) = timed("pref pairs x" + factor)(
      graft.llm.PrefData.prefPairs(docsN).count())
    val (nTmpl, tTmpl) = timed("template dedup x" + factor)(
      graft.llm.PrefData.templateDedup(docsN).count())
    System.err.println(s"[stress] warc_records=$nWarc warc_gz_records=$nWarcGz" +
      s" pref_pairs=$nPref template_groups=$nTmpl")

    // r10: the appendable-artifact cost claim, measured — folding a 10%
    // increment into a stored artifact vs rebuilding over everything. The
    // append still pays the corpus-side band join + the pair/cluster
    // recompute, so it is NOT 10% of the rebuild; the claim it pins is
    // that the increment path never re-shingles the corpus and its cost
    // is bounded by increment mining + pair-table work.
    //
    // r11: measured on a NOVEL-shingle corpus, not the replicated fixture.
    // The r10 form mined docsN, whose copies share all but one shingle —
    // cross-copy band collisions are ~quadratic in the factor, so ×100
    // OOMed on the ANSWER and the section recorded a skip. Real corpus
    // growth is novel text: this generator is the wide-alphabet trick that
    // fixed the deep-k BPE stress in r9 — 40 hash-derived 8-char words per
    // doc (26^8 word space, cross-doc collisions negligible), except that
    // every doc_id ≡ 1 (mod 10) shares 39 of its 40 words with doc_id-1
    // (one word swapped for a doc-unique marker), planting a 10% near-dup
    // rate whose PAIR answer is linear in N — the shape the artifact
    // exists for. Increment split is the newest-10%-of-ids suffix (real
    // growth arrives at the end of the id space), shifted by ONE id so
    // the planted pair (cut-1, cut) genuinely STRADDLES the build/append
    // boundary — the r11 cut was a multiple of 10, pair-aligned, so the
    // straddling-pair mining path was never exercised.
    val skipArtifact = skipped.contains("artifact")
    val artDir = s"/tmp/graft-stress-artifact-x$factor"
    val nArtDocs = 2000L * factor
    var (tArtBuild, tArtAppend, tArtRebuild) = (-1.0, -1.0, -1.0)
    var nArtPairs = -1L
    if (!skipArtifact) {
      val novelDocs = spark.range(nArtDocs).select(
        col("id").as("doc_id"),
        expr("""CASE WHEN id % 10 = 1 THEN
          |  concat(array_join(transform(sequence(1, 39), w ->
          |    array_join(transform(sequence(1, 8), i ->
          |      char(97 + pmod(hash(id - 1, w, i), 26))), '')), ' '),
          |    ' zz', cast(id AS string))
          |ELSE
          |  array_join(transform(sequence(1, 40), w ->
          |    array_join(transform(sequence(1, 8), i ->
          |      char(97 + pmod(hash(id, w, i), 26))), '')), ' ')
          |END""".stripMargin).as("text"))
        .repartition(Sessions.cpus * 2)
        .localCheckpoint(true)
      val cut = (nArtDocs * 9) / 10 + 1
      val docsOld = novelDocs.filter(col("doc_id") < cut)
      val docsInc = novelDocs.filter(col("doc_id") >= cut)
      val (_, tb) = timed("artifact build 90% x" + factor)(
        Dedup.writeDedupArtifactHashed(docsOld, s"$artDir/a", 0.4))
      val (_, ta) = timed("artifact append 10% x" + factor)(
        Dedup.appendDedupArtifact(docsInc, s"$artDir/a"))
      val (_, tr2) = timed("artifact rebuild 100% x" + factor)(
        Dedup.writeDedupArtifactHashed(novelDocs, s"$artDir/b", 0.4))
      tArtBuild = tb; tArtAppend = ta; tArtRebuild = tr2
      // the linear-answer claim, checked in the record itself: the planted
      // rate is one pair per 10 docs, so the appended artifact's pair
      // table must carry ≈ nArtDocs/10 rows (novel words add none)
      nArtPairs = spark.read.parquet(s"$artDir/a/pairs").count()
      System.err.println(s"[stress] artifact_docs=$nArtDocs artifact_pairs=$nArtPairs")
    }

    // r11: the appendable ANN index's cost claim, measured — the
    // "assign new vectors against STORED centroids, never re-read the
    // indexed corpus" promise as numbers. Build on the oldest 90% of the
    // ×N embedding table, fold the newest 10% in, rebuild over everything:
    // append must track INCREMENT size (one broadcast-centroid assignment
    // pass + one partition write), rebuild re-pays sampling + Lloyd's +
    // full-corpus assignment (+ residual PQ for the IVF-PQ twin). The
    // increment is vec_id % 10 == 9, NOT == 0: sized builds seed centroids
    // (and the PQ codebook at % 61) from id strides that must survive the
    // corpus split — 0 is a multiple of every stride, so excluding the
    // ≡ 0 class could starve the seed; the ≡ 9 class cannot.
    val skipAnn = skipped.contains("annindex")
    val annDir = s"/tmp/graft-stress-annidx-x$factor"
    var (tAnnBuild, tAnnAppend, tAnnRebuild) = (-1.0, -1.0, -1.0)
    var (tPqaBuild, tPqaAppend, tPqaRebuild) = (-1.0, -1.0, -1.0)
    var nAnnVecs = -1L
    if (!skipAnn) {
      nAnnVecs = embN.count()
      val vOld = embN.filter(pmod(col("vec_id"), lit(10L)) =!= 9)
      val vInc = embN.filter(pmod(col("vec_id"), lit(10L)) === 9)
      tAnnBuild = timed("ivf index build 90% x" + factor)(
        Similarity.writeIvfIndexSized(vOld, s"$annDir/ivf"))._2
      tAnnAppend = timed("ivf index append 10% x" + factor)(
        Similarity.appendIvfIndex(vInc, s"$annDir/ivf"))._2
      tAnnRebuild = timed("ivf index rebuild x" + factor)(
        Similarity.writeIvfIndexSized(embN, s"$annDir/ivf2"))._2
      tPqaBuild = timed("ivfpq index build 90% x" + factor)(
        Similarity.writeIvfPqIndexSized(vOld, s"$annDir/pq"))._2
      tPqaAppend = timed("ivfpq index append 10% x" + factor)(
        Similarity.appendIvfPqIndex(vInc, s"$annDir/pq"))._2
      tPqaRebuild = timed("ivfpq index rebuild x" + factor)(
        Similarity.writeIvfPqIndexSized(embN, s"$annDir/pq2"))._2
      System.err.println(s"[stress] ann_vecs=$nAnnVecs ivf=$tAnnBuild/$tAnnAppend/$tAnnRebuild" +
        s" ivfpq=$tPqaBuild/$tPqaAppend/$tPqaRebuild")
    }

    // r8 continuation: the frame-sampling scale claim, measured — decoding
    // k sampled frames must cost ~k/n̄ of decoding the whole container
    // directory (n̄ ≈ 5 stored frames/doc). The container table scales
    // with the stress factor like every other metric (×100 = 500k real
    // GIFs); containers are encoded ONCE (localCheckpoint) so both runs
    // time pure seek-decode; k=8 ≥ max stored frames = decode-everything.
    val vmedia = graft.llm.Multimodal.realVideoTable(docsN)
      .localCheckpoint(true)
    val (nVs, tVs) = timed("video sample k=2")(
      graft.llm.Multimodal.frameSampleReal(vmedia, 2).count())
    val (nVa, tVa) = timed("video decode-all k=8")(
      graft.llm.Multimodal.frameSampleReal(vmedia, 8).count())
    vmedia.unpersist(blocking = false)
    System.err.println(s"[stress] video_sample_rows=$nVs video_all_rows=$nVa")
    // the INDEXED-container twin: ZIP shards (central-directory seek) must
    // show the k/n̄ win the GIF scan-bound rows can't — only sampled
    // entries are inflated+decoded, unsampled frames cost a directory row
    val smedia = graft.llm.Multimodal.realShardTable(docsN)
      .localCheckpoint(true)
    val (nSs, tSs) = timed("shard sample k=2")(
      graft.llm.Multimodal.frameSampleShard(smedia, 2).count())
    val (nSa, tSa) = timed("shard decode-all k=8")(
      graft.llm.Multimodal.frameSampleShard(smedia, 8).count())
    smedia.unpersist(blocking = false)
    System.err.println(s"[stress] shard_sample_rows=$nSs shard_all_rows=$nSa")

    // r8 continuation: the eval/audit family at ×N — the claims under
    // test: retrieval eval stays posting-probe-sized (term-selective, not
    // corpus-scan-sized) as the corpus grows; label audit & divergence
    // collapse to cell/|S|·|V| tables after ONE combining aggregation;
    // the hashed drift monitor is |S|·B-bounded regardless of volume;
    // ANN recall eval is nQueries·N on the truth side by design (the
    // sampled-query production knob, not a scale wall).
    val (nRev, tRev) = timed("retrieval eval x" + factor)(
      graft.llm.TextAnalysis.retrievalEval(docsN,
        graft.llm.TextAnalysis.evalQuerySets).count())
    val (nLa, tLa) = timed("label audit x" + factor)(
      graft.llm.TextAnalysis.labelAudit(docsN).count())
    val (nDiv, tDiv) = timed("divergence x" + factor)(
      graft.llm.TextAnalysis.sourceDivergence(docsN).count())
    val (nDrift, tDrift) = timed("drift hashed x" + factor)(
      graft.llm.TextAnalysis.driftVsReferenceHashed(
        docsN.filter(col("doc_id") % 2 === 1),
        docsN.filter(col("doc_id") % 2 === 0)).count())
    val (nRec, tRec) = timed("ann recall eval x" + factor)(
      Similarity.annRecallEval(embN, 5, 10).count())
    System.err.println(s"[stress] retrieval_eval_rows=$nRev label_audit_rows=$nLa" +
      s" divergence_rows=$nDiv drift_rows=$nDrift recall_rows=$nRec")

    // r8 continuation: bitext mining at ×N — the scale claim under test:
    // the coarse-LSH candidate set is Σ_cell |A_c|·|B_c| (≈ brute/cells
    // for balanced cells), NOT |A|·|B|; the brute volume is reported
    // arithmetically (never materialized at ×N), the bucketed candidate
    // count and the full margin-mining pipeline run for real.
    //
    // r9 lesson (learned as an OOM): the cell count
    // must TRACK corpus size — candidates are O(N²/cells), so a fixed
    // 16-cell quantizer that is fine at ×10 (7.7M candidates) is 100× that
    // at ×100 (~770M rows into the margin windows → heap death). This is
    // IVF's nlist ∝ √N rule wearing LSH clothes: ×10 keeps 4 planes for
    // record comparability, ×100 uses the family's full 8 planes
    // (256 cells).
    val btPlanes = if (factor >= 100) 8 else 4
    val btCells = 1L << btPlanes
    val nEvenBt = embN.filter(col("vec_id") % 2 === 0).count()
    val nOddBt = embN.filter(col("vec_id") % 2 === 1).count()
    val nBtBrute = nEvenBt * nOddBt
    val (nBtCand, tBtCand) = timed("bitext lsh candidates x" + factor) {
      val bk = Similarity.lshBuckets(embN)
        .select(col("vec_id"), pmod(col("bucket"), lit(btCells)).as("cell"))
      bk.filter(col("vec_id") % 2 === 0).select(col("cell"))
        .join(bk.filter(col("vec_id") % 2 === 1).select(col("cell")), Seq("cell"))
        .count()
    }
    val (nBt, tBt) = timed("bitext lsh mine x" + factor)(
      Similarity.bitextMineLsh(embN, 4,
        Similarity.BitextMinPpm, coarsePlanes = btPlanes).count())
    System.err.println(s"[stress] bitext_cand_brute=$nBtBrute " +
      s"bitext_cand_lsh=$nBtCand bitext_pairs=$nBt planes=$btPlanes")

    // No silent -1: every skipped section records WHY it was skipped, in
    // the record itself — a bare sentinel reads as "not measured, reason
    // unknown" to a consumer who wasn't in the room. The reasons
    // are the same ones documented at each skip site above.
    val skipReasons = Seq(
      (skipWindowDedup, "window_dedup",
        "window (row_number) twin skipped: the struct-max agg is the scale path; the 94-375s-vs-2-4s contrast is on record at x10"),
      (skipSimhash, "simhash_phash",
        "pair count is answer-size-bound on the replicated corpus (~quadratic in factor, 59.5M pairs at x10); the answer, not the algorithm, dominates"),
      (skipCont, "containment_naive_contrast",
        "naive-candidate contrast stage is answer-size-bound (~quadratic in factor, 27.7M candidates at x10); prefix-filter path is the measured scale path"),
      (skipArtifact, "artifact_build_append",
        "artifact build/append/rebuild skipped by explicit env override (the r11 novel-shingle generator removed the old answer-size bound; unskipped is the default at every factor)"),
      (skipAnn, "ann_index_build_append",
        "ANN index build/append/rebuild skipped by explicit env override"),
      (skipSkew, "skew_salting_and_winnow",
        "skew + winnow adversary section: pair fan-out is quadratic in replication; the salted-vs-plain and df-cap max-task contrasts are on record at x10 (3-rep medians) — covers the skew_* and winnow_* rows"),
    ).collect { case (true, key, why) => s""""$key":"$why"""" }
      .mkString("{", ",", "}")

    val json = s"""{"metric":"stress_x$factor","skipped":$skipReasons,"profile_sec":$tProf,"src_rows":$nSrc,"full_rows":$nFull,"full_sec":$tFull,"dedup_rows":$nDedup,"dedup_sec":$tDedup,"dedup_agg_rows":$nAgg,"dedup_agg_sec":$tAgg,"asof_rows":$nAsof,"asof_sec":$tAsof,"skew_pairs":$nSkewPairs,"skew_plain_sec":$tSkewPlain,"skew_salt8_sec":$tSkewSalt,"skew_max_task_plain_ms":$maxTaskPlain,"skew_max_task_salt8_ms":$maxTaskSalt,"skew_dedup_first_pairs":$nDedupFirstPairs,"skew_dedup_first_sec":$tSkewDedupFirst,"skew_max_task_dedup_first_ms":$maxTaskDedupFirst,"skew_reps":$skewReps,"skew_cand_pairs":$nSkewCand,"skew_cand_plain_sec":$tCandPlain,"skew_cand_salt32_sec":$tCandSalt,"skew_cand_max_task_plain_ms":$maxTaskCandPlain,"skew_cand_max_task_salt32_ms":$maxTaskCandSalt,"winnow_plain_pairs":$nWinnowPlain,"winnow_plain_sec":$tWinnowPlain,"winnow_max_task_plain_ms":$maxTaskWinnowPlain,"winnow_capped_pairs":$nWinnowCap,"winnow_capped_sec":$tWinnowCap,"winnow_max_task_capped_ms":$maxTaskWinnowCap,"bpe512_merges":$nBpe,"bpe512_sec":$tBpe,"bpe64_b1_merges":$nBpeB1,"bpe64_b1_sec":$tBpeB1,"bpe64_b16_merges":$nBpeB16,"bpe64_b16_sec":$tBpeB16,"warc_plain_rows":$nWarc,"warc_plain_sec":$tWarc,"warc_gz_rows":$nWarcGz,"warc_gz_sec":$tWarcGz,"pref_pairs_rows":$nPref,"pref_pairs_sec":$tPref,"template_groups":$nTmpl,"template_dedup_sec":$tTmpl,"artifact_docs":$nArtDocs,"artifact_pairs":$nArtPairs,"artifact_build_sec":$tArtBuild,"artifact_append_sec":$tArtAppend,"artifact_rebuild_sec":$tArtRebuild,"ann_vecs":$nAnnVecs,"ann_ivf_build_sec":$tAnnBuild,"ann_ivf_append_sec":$tAnnAppend,"ann_ivf_rebuild_sec":$tAnnRebuild,"ann_ivfpq_build_sec":$tPqaBuild,"ann_ivfpq_append_sec":$tPqaAppend,"ann_ivfpq_rebuild_sec":$tPqaRebuild,"video_sample_rows":$nVs,"video_sample_sec":$tVs,"video_all_rows":$nVa,"video_all_sec":$tVa,"shard_sample_rows":$nSs,"shard_sample_sec":$tSs,"shard_all_rows":$nSa,"shard_all_sec":$tSa,"scan_sec":$tScan,"interval_pairs":$nPairs,"interval_sec":$tIvl,"cc_components":$nComp,"cc_sec":$tCc,"cc_rounds":$ccRounds,"cc_actions_per_round":1,"repetition_sec":$tRep,"decontaminate_sec":$tDec,"curate_sec":$tCur,"simhash_pairs_sec":$tSim,"simhash_hashed_pairs":$nSimH,"simhash_hashed_sec":$tSimH,"substring_sec":$tSub,"domain_cap_sec":$tCap,"sample_sec":$tSamp,"chunk_sec":$tChk,"pack_sec":$tPack,"pack_one_source_rows":$nPackOne,"pack_dist_sec":$tPackDist,"pack_dist_max_task_ms":$maxTaskPackDist,"pack_window_sec":$tPackWin,"pack_window_max_task_ms":$maxTaskPackWin,"tfidf_sec":$tTfi,"cms_counter_rows":$nCtr,"cms_counters_sec":$tCtr,"cms_topk_sec":$tCms,"cont_idx_build_sec":$tContBuild,"cont_cand_naive":$nCandNaive,"cont_cand_naive_sec":$tCandNaive,"cont_cand_prefix":$nCandPrefix,"cont_cand_prefix_sec":$tCandPrefix,"cont_hits":$nContHits,"cont_gate_sec":$tContGate,"snm_pairs":$nSnm,"snm_sec":$tSnm,"shuffle_rows":$nShuf,"shuffle_sec":$tShuf,"skyline_rows":$nSky,"skyline_sec":$tSky,"phash_pairs":$nPh,"phash_sec":$tPh,"group_split_rows":$nGs,"group_split_sec":$tGs,"decontam_rows":$nDe,"decontam_sec":$tDe,"hard_neg_rows":$nHn,"hard_neg_sec":$tHn,"retrieval_eval_rows":$nRev,"retrieval_eval_sec":$tRev,"label_audit_rows":$nLa,"label_audit_sec":$tLa,"divergence_rows":$nDiv,"divergence_sec":$tDiv,"drift_rows":$nDrift,"drift_sec":$tDrift,"recall_eval_rows":$nRec,"recall_eval_sec":$tRec,"bitext_cand_brute":$nBtBrute,"bitext_cand_lsh":$nBtCand,"bitext_cand_lsh_sec":$tBtCand,"bitext_pairs":$nBt,"bitext_lsh_sec":$tBt}"""
    println(json)
    // persist like Bench's BENCH_LOCAL.json: ×N numbers stay diffable
    // across rounds without log scraping. STRESS_OUT overrides the path.
    Util.writeJson("STRESS_OUT", s"STRESS_LOCAL_x$factor.json", json)
  }
}
