package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import graft.cdr.{CdrPipeline, CdrTables}
import graft.llm.{Dedup, Similarity, TrainingShards}
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
  *    (REBUILD_LOCAL_xN.json, REBUILD_OUT)
  *  - `compact [sfDir=sf0.01]` — small-files compaction
  *    (COMPACT_LOCAL.json, COMPACT_OUT; `COMPACT_BATCHES`, default 100)
  *  - `recall [sfDir=sf0.1]` — ANN recall@10 against brute force
  *    (RECALL_LOCAL.json, RECALL_OUT; `RECALL_ONLY=stored`)
  *  - `stream` — streaming state-store rows/s, HDFS-backed vs RocksDB
  *    (STREAMBENCH_LOCAL.json, STREAMBENCH_OUT; `SPARK_GRAFT_STATE_KEYS`,
  *    default 20000); CDR stream rows/s is `perfbench/run.py --workload
  *    cdr_stream`
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
      case "stream" => stream(_)
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

  /** The session, the one listener every measurement reads (the longest
    * task since the current [[phase]] began, a running Spark job count)
    * and the subcommand's record. [[timed]] and [[counted]] put each
    * metric under its key once and print it on the progress line; a
    * [[section]] named in `skip` (`SPARK_GRAFT_STRESS_SKIP`, a comma list)
    * records its keys as -1 and its reason under `skipped`, so a consumer
    * can tell a measured value from a substituted one. */
  private[graft] final class Probe(val spark: SparkSession, tag: String,
      skip: String = sys.env.getOrElse("SPARK_GRAFT_STRESS_SKIP", "")) {
    private val maxTask = new AtomicLong(0)
    private val jobs = new AtomicInteger(0)
    private val record = mutable.LinkedHashMap.empty[String, Any]
    private val skipped = mutable.LinkedHashMap.empty[String, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) maxTask.accumulateAndGet(t.taskInfo.duration, math.max(_, _))
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })

    def maxTaskMs: Long = maxTask.get()
    def jobsStarted: Int = jobs.get()

    /** Run `f` as one labelled phase (its jobs carry `what` as their
      * description) and return its result with its wall seconds. The
      * progress line shows a numeric result too. */
    def phase[T](what: String)(f: => T): (T, Double) = {
      maxTask.set(0)
      spark.sparkContext.setJobDescription(what)
      try {
        val t0 = System.nanoTime()
        val r = f
        val dt = (System.nanoTime() - t0) / 1e9
        val shown = r match { case n: Number => s" = $n"; case _ => "" }
        System.err.println(f"[$tag] $what%-30s $dt%8.2f s (max task ${maxTask.get()} ms)$shown")
        (r, dt)
      } finally spark.sparkContext.setJobDescription(null)
    }

    def put(key: String, value: Any): Unit = {
      require(!record.contains(key), s"$key recorded twice")
      record(key) = value
    }

    /** [[phase]], recording its seconds under `secKey`. */
    def timed[T](what: String, secKey: String)(f: => T): T = {
      val (r, dt) = phase(what)(f)
      put(secKey, dt)
      r
    }

    /** [[timed]] for a row count, recorded under `rowsKey`. */
    def counted(what: String, rowsKey: String, secKey: String)(f: => Long): Long = {
      val n = timed(what, secKey)(f)
      put(rowsKey, n)
      n
    }

    /** Run `body` unless `skip` names this section; a skipped section
      * records each of `keys` as -1 and `reason` (record key → why) under
      * `skipped`, which the first section adds to the record. */
    def section(name: String, reason: (String, String), keys: String*)(body: => Unit): Unit = {
      record.getOrElseUpdate("skipped", skipped)
      if (!skip.contains(name)) body
      else {
        keys.foreach(put(_, -1))
        skipped += reason
      }
    }

    /** Print the record as one JSON line and persist it to `out`'s path
      * (`out`'s env var overrides). */
    def emit(out: Option[(String, String)]): Unit = out match {
      case Some((envVar, path)) => Util.writeJson(envVar, path, record)
      case None => println(Util.json(record))
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
    p.put("metric", "skyline_ab")
    p.put("rows", n)
    p.put("exec_sec", Seq.fill(2)(p.phase("exec")(
      graft.operators.Skyline(pts, "x", "y").count())._2).min)
    p.put("dataset_sec", Seq.fill(2)(p.phase("dataset")(
      graft.operators.Skyline.viaDataset(pts, "x", "y").count())._2).min)
    p.emit(None)
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
      val (r, dt) = p.phase(name)(f)
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

  /** Streaming state scale: the flatMapGroupsWithState twins are where
    * streaming STATE scales with the key space. Measures StreamingCdc (the
    * O(1)-state-per-key twin) at K and 10K keys under the default
    * (HDFS-backed, on-heap) provider and under RocksDB — the production
    * store once keys outgrow the heap. Local caveat recorded with the
    * numbers: at these key counts both stores fit in memory, so RocksDB
    * shows its per-access overhead, not its scale win; the row exists to
    * pin that the twins RUN under RocksDB at 10× keys and what the
    * overhead costs, not to claim a local speedup. */
  private def stream(p: Probe): Unit = {
    import p.spark
    import spark.implicits._
    val baseKeys = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS", "20000").toLong
    p.put("metric", "stream_rows_per_sec")
    p.put("state_keys", baseKeys)
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
    Seq(("cdc_hdfs_rows_per_sec", None, 1), ("cdc_hdfs_x10keys_rows_per_sec", None, 10),
      ("cdc_rocksdb_rows_per_sec", Some(rocksDb), 1),
      ("cdc_rocksdb_x10keys_rows_per_sec", Some(rocksDb), 10)).foreach {
      case (key, provider, keyFactor) =>
        p.put(key, math.round(cdcStateBench(provider, baseKeys * keyFactor, 3)))
    }
    p.emit(Some("STREAMBENCH_OUT" -> "STREAMBENCH_LOCAL.json"))
  }

  /** Focused ×N stress for the array-payload packed writer (build +
    * append) and the band-fold MinHash LSH chain: sf0.1 is overhead-bound
    * (most rows run FASTER on 8 cores than 32), so scaling claims for
    * these kernels need executed ×N evidence, not plan structure alone.
    * The corpus is the salted ×N replica `scale` uses. */
  private def pack(p: Probe, sfDir: String, factor: Int): Unit = {
    import p.{spark, counted, timed}
    warmup(spark)
    p.put("metric", s"packstress_x$factor")
    p.put("factor", factor)
    val docsN = replicate(Tables.table(spark, sfDir, "documents"), factor,
      Seq("doc_id"), salt = true).localCheckpoint(true)
    p.put("n_docs", docsN.count())

    // the array-payload packed writer: build on 2/3, append 1/3 — the
    // doc_shards_packed_append_roundtrip shape at ×N
    val out = tmpDir("graft-stress15")
    timed(s"packed build x$factor", "build_sec") {
      TrainingShards.writePackedTokenShards(
        docsN.filter(col("doc_id") % 3 =!= 0), out,
        TrainingShards.PackedShardCount,
        graft.llm.BpeTrainer.MergeSteps, TrainingShards.PackedBudget)
    }
    timed(s"packed append x$factor", "append_sec") {
      TrainingShards.appendPackedTokenShards(
        docsN.filter(col("doc_id") % 3 === 0), out,
        TrainingShards.PackedShardCount)
    }
    counted(s"packed read x$factor", "n_packed", "read_sec") {
      TrainingShards.readPackedTokenShards(spark, out).count()
    }

    // the band-fold LSH chain: candidates and the full verified pair set
    // (candidatesOf rides bandValsOf — the in-row band fold — and the
    // verify join carries the size-ratio prefilter)
    counted(s"lsh candidates x$factor", "n_cand", "cand_sec") {
      Dedup.lshCandidates(docsN, 1).count()
    }
    counted(s"minhash pairs x$factor", "n_pairs", "pairs_sec") {
      Dedup.minhashLsh(docsN, 0.4).count()
    }
    p.put("cpus", Sessions.cpus)
    p.put("sf", sfDir)
    p.emit(Some("STRESS_OUT" -> s"PACKSTRESS_LOCAL_x$factor.json"))
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
    p.put("metric", s"rebuild_x$factor")
    val stressDir = s"/tmp/graft-rebuild-x$factor"
    replicate(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("text")), factor, Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$stressDir/docs.parquet")
    val docs = spark.read.parquet(s"$stressDir/docs.parquet")
    p.put("docs", docs.count())

    val store = s"$stressDir/store"
    // shard count ∝ corpus (the writer's own sizing rule would apply at a
    // real deployment; fixed-per-factor keeps the container size constant
    // across factors so walls compare)
    val nShards = 8 * factor
    p.put("n_shards", nShards)
    val (_, tBuild) = p.phase(s"packed build x$factor")(
      TrainingShards.writePackedTokenShards(docs, store, nShards,
        graft.llm.BpeTrainer.MergeSteps, 512))
    p.put("build_sec", tBuild)
    p.put("build_max_task_ms", p.maxTaskMs)

    // the RECORD posture: a ~3% takedown lands as metadata
    val doomed = docs.filter(col("doc_id") % 37 === 0).select("doc_id")
    timed("tombstone record", "tombstone_sec")(
      TrainingShards.addTombstones(spark, store, doomed, ingestBatch = 1L))
    val (totalTok, deadTok) = timed("active-span feed", "active_feed_sec") {
      p.put("active_spans", TrainingShards.activeSpans(spark, store).count())
      val m = TrainingShards.readPackedSpans(spark, store)
        .join(broadcast(TrainingShards.readTombstones(spark, store)
          .withColumn("dead", lit(1))), Seq("doc_id"), "left")
        .agg(sum(col("n_tokens")),
          coalesce(sum(when(col("dead") === 1, col("n_tokens"))), lit(0L)))
        .head()
      (m.getLong(0), m.getLong(1))
    }
    p.put("dead_frac", timed("debt gate", "gate_sec")(
      TrainingShards.packedStoreDeadFraction(spark, store)))
    p.put("total_tokens", totalTok)
    p.put("dead_tokens", deadTok)

    // the REBUILD posture: every surviving byte rewritten
    val (_, tRebuild) = p.phase(s"hard rebuild x$factor")(
      TrainingShards.rebuildPackedStore(spark, store, nShards))
    p.put("rebuild_sec", tRebuild)
    p.put("rebuild_max_task_ms", p.maxTaskMs)
    val (survTok, locOk) = timed("post-rebuild verify", "verify_sec") {
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
    p.put("rebuild_over_build", tRebuild / tBuild)
    require(survTok == totalTok - deadTok,
      s"rebuild lost tokens: $survTok != $totalTok - $deadTok")
    require(TrainingShards.packedStoreDeadFraction(spark, store) == 0.0,
      "rebuild left tombstone debt")
    require(locOk, "manifest-derived locations != decoded files after rebuild")
    p.emit(Some("REBUILD_OUT" -> s"REBUILD_LOCAL_x$factor.json"))
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
    p.put("metric", "compaction")
    p.put("n_batches", nBatches)
    p.put("sf", sfDir)
    // the median of three timed runs, in ms to one decimal
    def ms(what: String, key: String)(body: => Any): Unit =
      p.put(key, math.round(median(Seq.fill(3)(p.phase(what)(body)._2)) * 1e4) / 10.0)

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
    p.put("ivf_files_before", filesUnder(s"$idx/cells"))
    ms("ivf topk", "ivf_topk_ms_before")(topkRows())
    val ivfAnswer = topkRows()
    // explicit watermark: this harness ran every append synchronously, so
    // batch nBatches IS durably committed (the no-arg default excludes
    // the newest batch because a streaming maintainer's newest may be torn)
    Similarity.compactIvfIndex(spark, idx, upTo = nBatches.toLong)
    p.put("ivf_files_after", filesUnder(s"$idx/cells"))
    ms("ivf topk compacted", "ivf_topk_ms_after")(topkRows())
    require(topkRows() == ivfAnswer, "IVF answers changed across compaction")

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
    p.put("dedup_files_before", parts.map(part => filesUnder(s"$art/$part")).sum)
    val dedupRowsBefore = scanRows()
    ms("dedup scan", "dedup_scan_ms_before")(scanRows())
    Dedup.compactDedupArtifact(spark, art, upTo = nBatches.toLong)
    p.put("dedup_files_after", parts.map(part => filesUnder(s"$art/$part")).sum)
    ms("dedup scan compacted", "dedup_scan_ms_after")(scanRows())
    require(scanRows() == dedupRowsBefore, "dedup rows changed across compaction")

    p.emit(Some("COMPACT_OUT" -> "COMPACT_LOCAL.json"))
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
    p.put("metric", s"recall_at_$k")
    p.put("n_queries", nQ)
    p.put("sf", sfDir)
    def pairs(df: DataFrame): Set[(Long, Long)] = {
      import spark.implicits._
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    }
    val brute = pairs(Similarity.bruteForceTopK(emb, nQ, k))
    // recall@k of `df` against brute force, recorded under `key`
    def measure(key: String)(df: DataFrame): Double = {
      val r = math.round(10000.0 * (pairs(df) & brute).size / brute.size) / 10000.0
      System.err.println(f"[recall] $key%-26s $r%.4f")
      p.put(key, r)
      r
    }

    // RECALL_ONLY=stored — quick-iteration gate: run ONLY the stored-index
    // section and print (never overwrite RECALL_LOCAL.json with a partial
    // record — the bench's BENCH_ONLY convention).
    val onlyStored = sys.env.get("RECALL_ONLY").contains("stored")

    if (!onlyStored) {
      measure("lsh_fam1")(Similarity.lshTopK(emb, nQ, k))
      measure("lsh_fam2")(Similarity.lshTopKMulti(emb, nQ, k, 2))
      measure("lsh_fam4")(Similarity.lshTopKMulti(emb, nQ, k, 4))
      Seq(1, 2, 4, 8).foreach(probes =>
        measure(s"lsh_multiprobe$probes")(Similarity.lshTopKMultiprobe(emb, nQ, k, probes)))
      measure("ivf_np2_plain")(Similarity.ivfTopK(emb, nQ, k, nprobe = 2))
      measure("ivf_np2_kmeans1")(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 2, iters = 1))
      measure("ivf_np2_kmeans2")(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 2, iters = 2))
      measure("ivf_np2_kmeans3")(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 2, iters = 3))
      measure("ivf_np4_plain")(Similarity.ivfTopK(emb, nQ, k, nprobe = 4))
      measure("ivf_np4_kmeans2")(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 4, iters = 2))
      measure("ivf_np8_plain")(Similarity.ivfTopK(emb, nQ, k, nprobe = 8))
      measure("ivf_np8_kmeans2")(Similarity.ivfKmeansTopK(emb, nQ, k, nprobe = 8, iters = 2))
      // PQ-ADC scans COMPRESSED codes (4 ids vs 64 floats, ~64×): its knob
      // is codebook granularity — smaller codeMod ⇒ more codewords
      Seq(61, 23, 7).foreach(m =>
        measure(s"pq_mod$m")(Similarity.pqTopK(emb, nQ, k, codeMod = m)))
      // PQ + exact re-rank (FAISS refine): recall is "true neighbor in the
      // PQ top k·refine", the production fix for PQ's coarse ranking; the
      // refine ladder records how fast it converges and what it costs
      // (exact-vector reads per query = k·refine)
      Seq(4, 16, 64).foreach(rf =>
        measure(s"pq_refine$rf")(Similarity.pqRefineTopK(emb, nQ, k, refine = rf)))
      // IVFPQ composes both knobs: nprobe widens the scanned cells, codeMod
      // refines the residual codebook — at equal codeMod vs plain PQ the
      // delta is pure residual-quantization gain
      Seq(2, 4, 8).foreach(np =>
        measure(s"ivfpq_np$np")(Similarity.ivfPqTopK(emb, nQ, k, nprobe = np)))
      measure("ivfpq_np8_mod7")(Similarity.ivfPqTopK(emb, nQ, k, nprobe = 8, codeMod = 7))
      // IVF-PQ + exact re-rank: ceiling = the probed cells' coverage (the
      // IVF arm's own recall at the same nprobe) — refine recovers the PQ
      // quantization loss inside it
      Seq(16, 64).foreach(rf => measure(s"ivfpq_np8_refine$rf")(
        Similarity.ivfPqRefineTopK(emb, nQ, k, nprobe = 8, refine = rf)))
    }

    // The sized default path (ivfSizedParams): recall at the derived knobs
    // must clear the stated target — this row IS the gate the sized
    // defaults ship behind — plus the measured cost/recall frontier at the
    // sized nlist: scan fraction = candidate pairs / (nQ × corpus), so
    // every recall number carries the probe cost it was bought at.
    val nTot = emb.count()
    val corpusN = nTot - nQ
    if (!onlyStored) {
      val (nlist, cmod, sizedNp) = Similarity.ivfSizedParams(nTot, 0.8)
      (Seq(nlist / 8, nlist / 4, nlist / 2, sizedNp, nlist).map(math.max(1, _))
        ++ Seq(Similarity.ivfSizedParams(nTot, 0.9)._3)).distinct.sorted.foreach { np =>
        measure(s"ivf_sized_np$np")(Similarity.ivfKmeansTopK(emb, nQ, k, cmod, np, iters = 2))
        p.put(s"ivf_sized_np${np}_scan",
          math.round(10000.0 * Similarity.ivfCandidateCount(emb, nQ, cmod, np, 2) /
            (nQ.toDouble * corpusN)) / 10000.0)
      }
      p.put("ivf_sized_nlist", nlist)
      p.put("ivf_sized_cmod", cmod)
      p.put("ivf_sized_nprobe", sizedNp)
      p.put("ivf_sized_target", 0.8)
      measure("ivf_sized")(Similarity.ivfSizedTopK(emb, nQ, k))
    }

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
    p.put("ivfpq_sized_nprobe", prm.getAs[Int]("nprobe"))
    p.put("ivfpq_sized_refine", prm.getAs[Int]("refine"))
    p.put("ivfpq_sized_target", 0.8)
    Seq(4, 16, 32, 64).foreach(rf => measure(s"ivfpq_sized_refine$rf")(
      Similarity.ivfPqRefineAgainstIndex(qrs, idxDir, k, refineOverride = Some(rf))))
    measure("ivfpq_sized")(Similarity.ivfPqRefineAgainstIndex(qrs, idxDir, k))
    // the coverage ceiling at the stored nprobe: refine large enough that
    // every ADC candidate in the probed cells is exactly re-ranked — what
    // the refine stage can at best recover to
    measure("ivfpq_sized_ceiling")(Similarity.ivfPqRefineAgainstIndex(qrs, idxDir, k,
      refineOverride = Some((corpusN / k + 1).toInt)))

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
    val rIvfApp = measure("ivf_sized_appended_2x")(
      Similarity.ivfTopKAgainstIndexSized(qrs, ivfApp, k))
    measure("ivf_sized_rebuilt_at_2x")(Similarity.ivfTopKAgainstIndexSized(qrs, ivfReb, k))
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
    val rPqApp = measure("ivfpq_sized_appended_2x")(
      Similarity.ivfPqRefineAgainstIndex(qrs, pqApp, k))
    measure("ivfpq_sized_rebuilt_at_2x")(Similarity.ivfPqRefineAgainstIndex(qrs, pqReb, k))
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

    // the probe's temp indexes are measurement scratch, not artifacts —
    // delete them
    Seq(idxDir, ivfApp, ivfReb, pqApp, pqReb).foreach(d => FileUtils.deleteQuietly(new File(d)))
    p.emit(Option.when(!onlyStored)("RECALL_OUT" -> "RECALL_LOCAL.json"))
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
    import p.{spark, counted, timed, section}
    p.put("metric", s"stress_x$factor")

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
    counted("scan+derive count", "src_rows", "scan_sec")(ext.count())
    p.phase("range join only")(CdrPipeline.unknownJoin(ext, msIp).count())
    counted("argmax dedup (agg)", "dedup_agg_rows", "dedup_agg_sec")(
      CdrPipeline.dedupLatestAgg(CdrPipeline.unknownJoin(ext, msIp)).count())
    // the WINDOW-form dedup is the documented slow twin (kept to measure
    // the contrast vs the aggregation form: 94-375 s vs 2-4 s at ×10);
    // skip it at big factors where the contrast is already on record and
    // the full-chain sort would dominate the run
    section("windowdedup", "window_dedup" ->
        "window (row_number) twin skipped: the struct-max agg is the scale path; the 94-375s-vs-2-4s contrast is on record at x10",
        "dedup_rows", "dedup_sec") {
      counted("argmax dedup", "dedup_rows", "dedup_sec")(
        CdrPipeline.dedupLatest(CdrPipeline.unknownJoin(ext, msIp)).count())
      p.phase("argmax dedup (rpt)")(
        CdrPipeline.dedupLatest(CdrPipeline.unknownJoin(ext, msIp)).count())
    }
    // the as-of twin of the range-join+argmax chain (cdr_asof_enrich): one
    // hash exchange on (probe, ip) + per-partition sort, cost independent
    // of match fan-out — THE reason it's the 100 TB J3/J4+A1 replacement.
    // count(_imsi), not count(): a bare count lets Catalyst prune the
    // unused window payload and the measurement would skip the sort +
    // running-last entirely (the argmax-agg caveat). Counting the matched
    // payload column forces the full operator; asof_rows = matched rows.
    counted("asof enrich", "asof_rows", "asof_sec")(
      graft.operators.AsOfJoin.leftAsOf(
        CdrPipeline.explodeIps(ext.filter(col("imsi").isNull)),
        msIp, keys = Seq("probe", "ip"),
        leftTime = "start_time", rightTime = "start_time",
        payload = Seq("imsi" -> "_imsi", "msisdn" -> "_msisdn"))
        .agg(count(col("_imsi"))).head().getLong(0))
    p.phase("branch1 lookup")(
      CdrPipeline.knownBranch(ext, imsi, "left_outer").count())
    counted("full pipeline", "full_rows", "full_sec")(
      CdrPipeline.full(src, imsi, msIp).count())

    // r2 operators at the same ×N volume:
    // banded interval join over the scaled events (pairs grow linearly —
    // disjoint user ranges keep per-key density constant, like real growth)
    counted("interval join x" + factor, "interval_pairs", "interval_sec")(
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
    counted("conn comp " + nNodes + " nodes", "cc_components", "cc_sec") {
      val (lbl, stats) = graft.operators.ConnectedComponents.run(
        spark.range(nNodes).select(col("id")), edges)
      p.put("cc_rounds", stats.hashMinRounds)
      lbl.select(col("label")).distinct().count()
    }
    // fused convergence: actions per round == 1 (was 2 pre-r3)
    p.put("cc_actions_per_round", 1)

    // r3 curation operators over the salted ×N document corpus
    val docsBase = Tables.table(spark, sfDir, "documents")
    val docsN = replicate(docsBase, factor, Seq("doc_id"), salt = true)
      .localCheckpoint(true)
    timed("repetition x" + factor, "repetition_sec")(
      graft.llm.TextAnalysis.repetition(docsN).count())
    timed("decontaminate x" + factor, "decontaminate_sec")(
      graft.llm.TextAnalysis.decontaminate(docsN).count())
    timed("curate x" + factor, "curate_sec")(
      graft.llm.TextAnalysis.curate(docsN).count())
    // the simhash pair count is ANSWER-SIZE-bound on this dense synthetic
    // corpus (~quadratic in replication — 59.5M pairs at ×10); skip it for
    // large factors where the answer itself, not the algorithm, dominates
    val simhashSkip = "simhash_phash" ->
      "pair count is answer-size-bound on the replicated corpus (~quadratic in factor, 59.5M pairs at x10); the answer, not the algorithm, dominates"
    section("simhash", simhashSkip,
        "simhash_pairs_sec", "simhash_hashed_pairs", "simhash_hashed_sec") {
      timed("simhash pairs x" + factor, "simhash_pairs_sec")(
        Dedup.simhashPairs(docsN, 3).count())
      // the vocab-free twin at the same ×N volume — EXECUTED evidence that
      // the 100 TB branch runs at scale, not a race: pair counts differ by
      // design (different pseudo-bit family ⇒ different fingerprints ⇒
      // different collision structure on this dense synthetic corpus), and
      // on a corpus this small-vocabed the vocab path's sort is nearly free,
      // so wall times are answer-size-bound and NOT comparable. The hashed
      // path's advantage is structural: no corpus-wide distinct, no vocab
      // broadcast — the terms that explode at 10M+ distinct tokens.
      counted("simhash hashed x" + factor, "simhash_hashed_pairs", "simhash_hashed_sec")(
        Dedup.simhashPairsHashed(docsN, 3).count())
    }
    timed("substring dedup x" + factor, "substring_sec")(
      Dedup.substringDedup(docsN, 10).count())
    timed("domain cap x" + factor, "domain_cap_sec")(
      graft.llm.TextAnalysis.domainCap(docsN, 5).count())
    timed("sample weighted x" + factor, "sample_sec")(
      graft.llm.TextAnalysis.sampleWeighted(docsN).count())
    timed("chunk x" + factor, "chunk_sec")(
      graft.llm.TextAnalysis.chunk(docsN, 32, 4).count())
    timed("pack greedy x" + factor, "pack_sec")(
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
    val packWin = timed("pack window naive x" + factor, "pack_window_sec") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      forcePack(docsOne
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("cum_start",
          sum(col("n_tokens")).over(w) - col("n_tokens"))
        .select(col("doc_id"), expr("cum_start div 256").as("pack_id")))
    }
    p.put("pack_window_max_task_ms", p.maxTaskMs)
    val packDist = timed("pack prefix-sum dist x" + factor, "pack_dist_sec")(
      forcePack(graft.llm.TextAnalysis.packGreedy(docsOne, 256)))
    p.put("pack_dist_max_task_ms", p.maxTaskMs)
    p.put("pack_one_source_rows", packDist._1)
    require(packDist == packWin, s"prefix-sum rewrite changed the answer: $packDist vs $packWin")
    timed("tfidf topk x" + factor, "tfidf_sec")(
      graft.llm.TextAnalysis.tfidfTopK(docsN, 3).count())
    // CMS at ×N: the counter table must stay ≤ d·w rows no matter the
    // corpus (the require is the claim), and the top-k estimate join is
    // vocab-side work, not corpus-side — both timed on the xxhash64
    // production path (no vocab table anywhere)
    counted("cms counters x" + factor, "cms_counter_rows", "cms_counters_sec") {
      val n = graft.llm.Sketches.cmsCountersHashed(docsN).count()
      require(n <= graft.llm.Sketches.CmsDepth * graft.llm.Sketches.CmsWidth,
        s"CMS counter table grew past d*w: $n")
      n
    }
    timed("cms topk x" + factor, "cms_topk_sec")(
      graft.llm.Sketches.cmsHeavyHittersHashed(docsN, 20).count())

    // ---- containment prefix filter at ×N: increments (doc_id % 7 == 0)
    // probe the stored index built from the rest. Two measured claims:
    // the stored-index probe never rescans/reshuffles the corpus, and the
    // prefix filter cuts candidate pairs vs the naive any-shared-shingle
    // join — pruning evidence, not an argument.
    // skippable like simhash: the naive-candidate contrast stage is
    // ANSWER-SIZE-bound on this dense synthetic corpus (~quadratic in
    // replication — 27.7M candidate pairs at ×10), so at big factors the
    // answer, not the algorithm, dominates and the contrast is on record
    section("containment", "containment_naive_contrast" ->
        "naive-candidate contrast stage is answer-size-bound (~quadratic in factor, 27.7M candidates at x10); prefix-filter path is the measured scale path",
        "cont_idx_build_sec", "cont_cand_naive", "cont_cand_naive_sec",
        "cont_cand_prefix", "cont_cand_prefix_sec", "cont_hits", "cont_gate_sec") {
      val contIdx = s"/tmp/graft-stress-contidx-x$factor"
      val contIncs = docsN.filter(col("doc_id") % 7 === 0)
      val contCorp = docsN.filter(col("doc_id") % 7 =!= 0)
      timed("containment idx build", "cont_idx_build_sec")(
        Dedup.writeNearDupIndex(contCorp, contIdx))
      val incShid = Dedup.shingleIdsHashed(
        Dedup.tokenized(contIncs)).localCheckpoint(true)
      val incCn = incShid.groupBy(col("doc_id")).agg(count(lit(1)).as("cn"))
      counted("cont cand naive", "cont_cand_naive", "cont_cand_naive_sec")(
        incShid.select(col("doc_id").as("new_doc"), col("sid"))
          .join(spark.read.parquet(s"$contIdx/shingles")
            .select(col("doc_id").as("existing_doc"), col("sid")), Seq("sid"))
          .select("new_doc", "existing_doc").distinct().count())
      counted("cont cand prefix", "cont_cand_prefix", "cont_cand_prefix_sec")(
        Dedup.containmentPrefixCandidates(incShid, incCn, contIdx, 0.8).count())
      // broadcastCandidates = false: every increment doc here near-duplicates
      // ~9 sibling copies, so the candidate side is corpus-dense — the
      // documented escape-hatch regime
      counted("containment gate x" + factor, "cont_hits", "cont_gate_sec")(
        Dedup.containmentAgainstIndex(contIncs, contIdx, 0.8,
          broadcastCandidates = false).count())
    }

    // ---- adversarial LSH hot bucket: 10% of the ×N corpus is ONE identical
    // text, so one (band, bval) key per band carries every duplicate and its
    // pair fan-out is quadratic in the bucket. AQE's skew split keys on
    // shuffle-input BYTES and the hot bucket's input is tiny — it cannot
    // help — so the question is whether the grid salt bounds max task time.
    // A SparkListener records the longest task of each run.
    // SPARK_GRAFT_STRESS_SKEW_REPS > 1 repeats the whole skew section and
    // keeps per-metric MEDIANS — a stale/contended skew record once
    // contradicted SCALE.md; medians over 3 reps are the
    // reconciliation protocol (single runs of second-long stages swing >3×
    // under host contention)
    // clamped to >= 1: reps = 0 would crash the median over an empty vector
    // at the END of the run; skipping the section is SPARK_GRAFT_STRESS_SKIP
    val skewReps =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_STRESS_SKEW_REPS", "1").toInt)
    p.put("skew_reps", skewReps)
    // one (rows, sec, max-task ms) sample per arm
    def arm(what: String)(f: => Long): (Long, Double, Long) = {
      val (n, t) = p.phase(what)(f)
      (n, t, p.maxTaskMs)
    }
    // each arm's (rows, sec, max-task) keys; a salted arm's rows are its
    // plain twin's by the require below, so only the plain arm records them
    val skewKeys = Seq(
      (Some("skew_pairs"), "skew_plain_sec", "skew_max_task_plain_ms"),
      (None, "skew_salt8_sec", "skew_max_task_salt8_ms"),
      (Some("skew_cand_pairs"), "skew_cand_plain_sec", "skew_cand_max_task_plain_ms"),
      (None, "skew_cand_salt32_sec", "skew_cand_max_task_salt32_ms"),
      (Some("skew_dedup_first_pairs"), "skew_dedup_first_sec", "skew_max_task_dedup_first_ms"),
      (Some("winnow_plain_pairs"), "winnow_plain_sec", "winnow_max_task_plain_ms"),
      (Some("winnow_capped_pairs"), "winnow_capped_sec", "winnow_max_task_capped_ms"))
    section("skew", "skew_salting_and_winnow" ->
        "skew + winnow adversary section: pair fan-out is quadratic in replication; the salted-vs-plain and df-cap max-task contrasts are on record at x10 (3-rep medians) — covers the skew_* and winnow_* rows",
        skewKeys.flatMap { case (n, t, m) => n.toSeq :+ t :+ m }: _*) {
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
      runs.transpose.zip(skewKeys).foreach { case (r, (rowsKey, secKey, taskKey)) =>
        rowsKey.foreach(p.put(_, r.last._1))
        p.put(secKey, median(r.map(_._2)))
        p.put(taskKey, median(r.map(_._3)))
      }
    }

    // the one-pass column profiler over the full ×N events table (6 mixed
    // columns): linear work, two narrow keyed shuffles — wall time must
    // track the scan, not the distinct-value volume, and the (col, value)
    // count stage must absorb the ×N duplicate values map-side
    timed("table profile", "profile_sec")(
      graft.operators.TableProfile(ev)
        .write.format("noop").mode("overwrite").save())

    // r7 additions at ×N:
    // SNM — the block-prefix window must keep the sort partitioned
    // (wall tracks corpus volume, not a single-task global sort)
    counted("snm pairs x" + factor, "snm_pairs", "snm_sec")(
      Dedup.snmPairs(docsN, 3, 20).count())
    // shard shuffle — one keyed exchange; pos windows parallel by shard
    counted("shuffle shards x" + factor, "shuffle_rows", "shuffle_sec")(
      graft.llm.TextAnalysis.shuffleShards(docsN, Sessions.cpus).count())
    // skyline — the partition-local sweep must absorb the ×N volume with
    // no shuffle; only per-partition frontiers reach the gather
    counted("skyline x" + factor, "skyline_rows", "skyline_sec")(
      graft.operators.Skyline(
        ev.select(col("event_id"), col("user_id"), col("value")),
        "user_id", "value").count())

    // phash — banded fingerprint join; ANSWER-bound on the dense ×N corpus
    // like the simhash family (skipped with it at big factors)
    section("simhash", simhashSkip, "phash_pairs", "phash_sec") {
      counted("phash pairs x" + factor, "phash_pairs", "phash_sec")(
        graft.llm.Multimodal.phashPairs(docsN, 3).count())
    }
    // group-integrity split — fold over #groups, broadcast back, one scan
    counted("group split x" + factor, "group_split_rows", "group_split_sec")(
      graft.llm.TextAnalysis.groupSplit(docsN).count())
    // embedding gates at ×N: replicate embeddings with fresh vec_ids and a
    // per-copy coordinate nudge (real-growth shape: new vectors, not copies)
    val embBase = Tables.embeddings(spark, sfDir)
    val embN = replicate(embBase, factor, Seq("vec_id"), keepCopy = true)
      .withColumn("embedding", expr(
        "transform(embedding, (x, j) -> x + CAST(copy AS FLOAT) * CAST(j % 3 AS FLOAT) / 1000.0)"))
      .drop("copy")
      .localCheckpoint(true)
    counted("emb decontaminate x" + factor, "decontam_rows", "decontam_sec")(
      Similarity.embDecontaminate(embN, 97, 0.3).count())
    counted("hard negatives x" + factor, "hard_neg_rows", "hard_neg_sec")(
      Similarity.hardNegatives(embN, 5, 3).count())

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
    counted("bpe train k=512 b=32 wide", "bpe512_merges", "bpe512_sec")(
      graft.llm.BpeTrainer.train(wideDocs, 512, batch = 32)._1.length.toLong)
    // the batching claim, measured at depth on the same corpus: identical
    // merge count, 64 driver round-trips (B=1, the exact-greedy algorithm)
    // vs 4 (B=16) — the wall ratio IS the round-trip amortization
    counted("bpe train k=64 b=1 wide", "bpe64_b1_merges", "bpe64_b1_sec")(
      graft.llm.BpeTrainer.train(wideDocs, 64, batch = 1)._1.length.toLong)
    counted("bpe train k=64 b=16 wide", "bpe64_b16_merges", "bpe64_b16_sec")(
      graft.llm.BpeTrainer.train(wideDocs, 64, batch = 16)._1.length.toLong)

    // r9: WARC framing cost at volume — the same ×N corpus through the
    // plain and gzip-member containers. The claim under test: gz framing
    // (build: one deflate per record; parse: the lazy member walk + per-
    // member inflate) stays a constant-factor tax over plain, because both
    // are single mapPartitions passes — nothing shuffles differently.
    counted("warc ingest plain x" + factor, "warc_plain_rows", "warc_plain_sec")(
      graft.llm.WarcIngest.ingestReport(docsN).count())
    counted("warc ingest gz x" + factor, "warc_gz_rows", "warc_gz_sec")(
      graft.llm.WarcIngest.ingestReportGz(docsN).count())
    // r9: post-training preference surface at volume — pref_pairs is ONE
    // partial-aggregated struct-minmax pass (pool count stays fixed while
    // the corpus grows ×N, so output is constant-size and the cost is the
    // map-side combine); template dedup is the exact-dedup shape over the
    // normalized prefix key.
    counted("pref pairs x" + factor, "pref_pairs_rows", "pref_pairs_sec")(
      graft.llm.PrefData.prefPairs(docsN).count())
    counted("template dedup x" + factor, "template_groups", "template_dedup_sec")(
      graft.llm.PrefData.templateDedup(docsN).count())

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
    val artDir = s"/tmp/graft-stress-artifact-x$factor"
    val nArtDocs = 2000L * factor
    p.put("artifact_docs", nArtDocs)
    section("artifact", "artifact_build_append" ->
        "artifact build/append/rebuild skipped by explicit env override (the r11 novel-shingle generator removed the old answer-size bound; unskipped is the default at every factor)",
        "artifact_pairs", "artifact_build_sec", "artifact_append_sec", "artifact_rebuild_sec") {
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
      timed("artifact build 90% x" + factor, "artifact_build_sec")(
        Dedup.writeDedupArtifactHashed(docsOld, s"$artDir/a", 0.4))
      timed("artifact append 10% x" + factor, "artifact_append_sec")(
        Dedup.appendDedupArtifact(docsInc, s"$artDir/a"))
      timed("artifact rebuild 100% x" + factor, "artifact_rebuild_sec")(
        Dedup.writeDedupArtifactHashed(novelDocs, s"$artDir/b", 0.4))
      // the linear-answer claim, checked in the record itself: the planted
      // rate is one pair per 10 docs, so the appended artifact's pair
      // table must carry ≈ nArtDocs/10 rows (novel words add none)
      p.put("artifact_pairs", spark.read.parquet(s"$artDir/a/pairs").count())
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
    val annDir = s"/tmp/graft-stress-annidx-x$factor"
    section("annindex", "ann_index_build_append" ->
        "ANN index build/append/rebuild skipped by explicit env override",
        "ann_vecs", "ann_ivf_build_sec", "ann_ivf_append_sec", "ann_ivf_rebuild_sec",
        "ann_ivfpq_build_sec", "ann_ivfpq_append_sec", "ann_ivfpq_rebuild_sec") {
      p.put("ann_vecs", embN.count())
      val vOld = embN.filter(pmod(col("vec_id"), lit(10L)) =!= 9)
      val vInc = embN.filter(pmod(col("vec_id"), lit(10L)) === 9)
      timed("ivf index build 90% x" + factor, "ann_ivf_build_sec")(
        Similarity.writeIvfIndexSized(vOld, s"$annDir/ivf"))
      timed("ivf index append 10% x" + factor, "ann_ivf_append_sec")(
        Similarity.appendIvfIndex(vInc, s"$annDir/ivf"))
      timed("ivf index rebuild x" + factor, "ann_ivf_rebuild_sec")(
        Similarity.writeIvfIndexSized(embN, s"$annDir/ivf2"))
      timed("ivfpq index build 90% x" + factor, "ann_ivfpq_build_sec")(
        Similarity.writeIvfPqIndexSized(vOld, s"$annDir/pq"))
      timed("ivfpq index append 10% x" + factor, "ann_ivfpq_append_sec")(
        Similarity.appendIvfPqIndex(vInc, s"$annDir/pq"))
      timed("ivfpq index rebuild x" + factor, "ann_ivfpq_rebuild_sec")(
        Similarity.writeIvfPqIndexSized(embN, s"$annDir/pq2"))
    }

    // r8 continuation: the frame-sampling scale claim, measured — decoding
    // k sampled frames must cost ~k/n̄ of decoding the whole container
    // directory (n̄ ≈ 5 stored frames/doc). The container table scales
    // with the stress factor like every other metric (×100 = 500k real
    // GIFs); containers are encoded ONCE (localCheckpoint) so both runs
    // time pure seek-decode; k=8 ≥ max stored frames = decode-everything.
    val vmedia = graft.llm.Multimodal.realVideoTable(docsN)
      .localCheckpoint(true)
    counted("video sample k=2", "video_sample_rows", "video_sample_sec")(
      graft.llm.Multimodal.frameSampleReal(vmedia, 2).count())
    counted("video decode-all k=8", "video_all_rows", "video_all_sec")(
      graft.llm.Multimodal.frameSampleReal(vmedia, 8).count())
    vmedia.unpersist(blocking = false)
    // the INDEXED-container twin: ZIP shards (central-directory seek) must
    // show the k/n̄ win the GIF scan-bound rows can't — only sampled
    // entries are inflated+decoded, unsampled frames cost a directory row
    val smedia = graft.llm.Multimodal.realShardTable(docsN)
      .localCheckpoint(true)
    counted("shard sample k=2", "shard_sample_rows", "shard_sample_sec")(
      graft.llm.Multimodal.frameSampleShard(smedia, 2).count())
    counted("shard decode-all k=8", "shard_all_rows", "shard_all_sec")(
      graft.llm.Multimodal.frameSampleShard(smedia, 8).count())
    smedia.unpersist(blocking = false)

    // r8 continuation: the eval/audit family at ×N — the claims under
    // test: retrieval eval stays posting-probe-sized (term-selective, not
    // corpus-scan-sized) as the corpus grows; label audit & divergence
    // collapse to cell/|S|·|V| tables after ONE combining aggregation;
    // the hashed drift monitor is |S|·B-bounded regardless of volume;
    // ANN recall eval is nQueries·N on the truth side by design (the
    // sampled-query production knob, not a scale wall).
    counted("retrieval eval x" + factor, "retrieval_eval_rows", "retrieval_eval_sec")(
      graft.llm.TextAnalysis.retrievalEval(docsN,
        graft.llm.TextAnalysis.evalQuerySets).count())
    counted("label audit x" + factor, "label_audit_rows", "label_audit_sec")(
      graft.llm.TextAnalysis.labelAudit(docsN).count())
    counted("divergence x" + factor, "divergence_rows", "divergence_sec")(
      graft.llm.TextAnalysis.sourceDivergence(docsN).count())
    counted("drift hashed x" + factor, "drift_rows", "drift_sec")(
      graft.llm.TextAnalysis.driftVsReferenceHashed(
        docsN.filter(col("doc_id") % 2 === 1),
        docsN.filter(col("doc_id") % 2 === 0)).count())
    counted("ann recall eval x" + factor, "recall_eval_rows", "recall_eval_sec")(
      Similarity.annRecallEval(embN, 5, 10).count())

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
    p.put("bitext_cand_brute",
      embN.filter(col("vec_id") % 2 === 0).count() * embN.filter(col("vec_id") % 2 === 1).count())
    counted("bitext lsh candidates x" + factor, "bitext_cand_lsh", "bitext_cand_lsh_sec") {
      val bk = Similarity.lshBuckets(embN)
        .select(col("vec_id"), pmod(col("bucket"), lit(btCells)).as("cell"))
      bk.filter(col("vec_id") % 2 === 0).select(col("cell"))
        .join(bk.filter(col("vec_id") % 2 === 1).select(col("cell")), Seq("cell"))
        .count()
    }
    counted("bitext lsh mine x" + factor, "bitext_pairs", "bitext_lsh_sec")(
      Similarity.bitextMineLsh(embN, 4,
        Similarity.BitextMinPpm, coarsePlanes = btPlanes).count())

    // persist like Bench's BENCH_LOCAL.json: ×N numbers stay diffable
    // across rounds without log scraping. STRESS_OUT overrides the path.
    p.emit(Some("STRESS_OUT" -> s"STRESS_LOCAL_x$factor.json"))
  }
}
