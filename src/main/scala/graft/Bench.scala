package graft
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // JIT/classload warmup so the first measured query isn't charged for
    // session bootstrap (codegen compiler, parquet reader init, shuffle mgr)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.table(spark, sfDir, "region").count()
    // media-codec warmup, same principle: ImageIO/AudioSystem classload +
    // JIT costs seconds on a cold JVM and would otherwise be charged to
    // whichever mm_*_real query alphabetically runs first (observed as a
    // 2× swing on sub-2s queries); one tiny encode/decode of each codec
    // on the driver pays it once, outside every measurement
    graft.llm.Multimodal.imageBytes(0L)
    graft.llm.Multimodal.imageBytes(1L)
    graft.llm.Multimodal.audioBytes(0L)
    graft.llm.Multimodal.videoBytes(0L)
    Seq(0L, 1L).foreach { d =>
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        graft.llm.Multimodal.imageBytes(d)._1))
    }
    javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(graft.llm.Multimodal.audioBytes(0L)))
      .readAllBytes()
    // the GIF READ path is a separate plugin from ImageIO.read's decoders —
    // warm the reader (directory scan + indexed frame decode) too
    locally {
      val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(graft.llm.Multimodal.videoBytes(0L)))
      rd.setInput(iis, false, true)
      rd.getNumImages(true)
      rd.read(0)
      iis.close()
    }
    // Optional subset for local bisection: BENCH_ONLY=q1_agg,cdr_range_join.
    // Tokens are trimmed and must all resolve — a typo'd filter erroring
    // beats silently timing an empty subset.
    val only = sys.env.get("BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"BENCH_ONLY names not in the registry: $unknown")
    }
    val qs = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Reference timings from the committed self-baseline: used ONLY to decide
    // which queries get an anomaly re-run — see below. BENCH_BEST.json holds
    // per-query MINIMA folded across runs (written at the end of every run);
    // BENCH_LOCAL.json — the latest full run — is only the first-run seed.
    // A latest-run baseline decays whenever a noisy run lands (each stalled
    // sample raises the bar the next run is judged against); the fold keeps
    // the re-run gate anchored to the machine's demonstrated-fastest times.
    // Missing/unparsable file ⇒ no re-runs. A baseline recorded at another
    // scale factor would mis-gate every query (sf0.01 minima make every
    // sf0.1 sample look 10× regressed); a file with no sf field
    // (hand-authored override) is accepted as-is
    def sfMatches(rec: JsonNode): Boolean = Option(rec.get("sf")).forall(_.asText == sfDir)
    // a failed query's -1 is not a floor
    def times(rec: JsonNode): Map[String, Double] =
      Option(rec.get("queries")).toSeq.flatMap(_.properties.asScala)
        .map(e => e.getKey -> e.getValue)
        .collect { case (k, v) if v.isNumber && v.asDouble >= 0 => k -> v.asDouble }.toMap
    val baseline: Map[String, Double] =
      sys.env.get("BENCH_BASELINE").map(Seq(_)).getOrElse(
        // CWD-relative first (local iteration), repo-absolute fallback (a
        // driver running from elsewhere must not silently lose the baseline)
        Seq("BENCH_BEST.json", "/root/repo/BENCH_BEST.json",
          "BENCH_LOCAL.json", "/root/repo/BENCH_LOCAL.json"))
        .iterator.flatMap(Util.readJson).find(sfMatches)
        .map(times).getOrElse(Map.empty)
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // per-query hygiene: drop any storage blocks a previous query left
      // (localCheckpoint etc.) and compact the heap, so measurements are
      // independent rather than charged with a neighbor's memory pressure
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      // noop write forces EVERY output column and the final sort to
      // actually execute; count() would let Catalyst prune projections and
      // eliminate orderBy under the count aggregate — timing a row-count
      // scan while claiming to time the query
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // a failed query must be unmistakable in the JSON, not a fast success
      if (ok) dt else -1.0
    }
    val results = qs.toSeq.sortBy(_._1).map { case (name, fn) =>
      // BEST-OF-2 protocol (r14, verdict-directed): every query runs TWICE
      // in the same JVM and the recorded time is the MIN. Three straight
      // rounds of driver runs flagged rows (r12 emb family, r13
      // doc_cluster_terms + nine more) that were 2-6× their floor in-suite
      // and at-floor idle — suite-context inflation (GC pressure, codegen
      // cache, scheduler stalls piling onto whichever rows run after a
      // heavy neighbor), not plan regressions. A same-JVM second rep
      // collapses exactly that positional noise: a genuine plan regression
      // reproduces in BOTH reps (min stays high), a stall doesn't. The
      // second rep also prices memoized-fixture consumers at their
      // MARGINAL plan (the shared store builds once, in rep 1), which is
      // what their floors should regression-detect — the build itself is
      // its own row (doc_shards_store_build). Cost: one extra pass over
      // the suite, ~5 min at sf0.1.
      // rep 2 runs even if rep 1 FAILED: a transient rep-1 failure is
      // exactly the suite-context pressure this protocol absorbs, and the
      // errors contract is "no successful rep" (review-caught asymmetry)
      val first = timeOnce(name, fn)
      val second = timeOnce(name, fn)
      val best = Seq(first, second).filter(_ >= 0) match {
        case Nil => -1.0
        case ok => ok.min
      }
      // Anomaly third sample: if even the best-of-2 sits >1.5× the
      // committed best-of floor (and >0.1 s — sub-second rows are where
      // stalls land hardest in ratio terms), take one more; two
      // back-to-back stalls are rare, three vanishingly so.
      val dt = baseline.get(name) match {
        case Some(base) if best > base * 1.5 && best > 0.1 =>
          val third = timeOnce(name, fn)
          val all = Seq(first, second, third).filter(_ >= 0)
          System.err.println(
            f"[bench] $name%-24s rerun: ${all.map(t => f"$t%.2f").mkString("/")} -> min ${all.min}%.2f s")
          if (all.isEmpty) -1.0 else all.min
        case _ => best
      }
      System.err.println(f"[bench] $name%-24s $dt%8.2f s")
      name -> dt
    }
    val total = results.filter(_._2 >= 0).map(_._2).sum
    // errors = queries with NO successful rep (a query that succeeded in
    // one rep reports its time; the per-attempt failure list is stderr-only).
    // The line is also persisted: a bounded stdout capture keeps only a
    // tail, and at 76+ queries the one-line JSON outgrew it (BENCH_r03.json
    // arrived truncated mid-object with parsed=null). BENCH_OUT overrides
    // the path.
    Util.writeJson("BENCH_OUT", "BENCH_LOCAL.json", ListMap("metric" -> "total",
      "value" -> total, "unit" -> "sec", "protocol" -> "best-of-2-min",
      "queries" -> ListMap.from(results),
      "errors" -> results.collect { case (k, v) if v < 0 => k }, "sf" -> sfDir))
    // Fold this run's successful times into the best-of baseline (per-query
    // min). The stdout/BENCH_OUT JSON above stays the HONEST current-run
    // measurement; this file is only the re-run gate's reference. Queries no
    // longer in the registry are dropped so renames don't pin stale minima.
    val best = (baseline.view.filterKeys(SparkEntry.queries.keySet).toMap ++
      results.collect { case (k, v) if v >= 0 =>
        k -> math.min(v, baseline.getOrElse(k, Double.MaxValue)) }).toSeq.sortBy(_._1)
    // an explicit override is read-only, and a best file recorded at another
    // scale factor must not be clobbered by a local run at a different SF
    val bestPath = sys.env.getOrElse("BENCH_BEST_OUT", "BENCH_BEST.json")
    if (!sys.env.contains("BENCH_BASELINE") && Util.readJson(bestPath).forall(sfMatches))
      Util.writeJson("BENCH_BEST_OUT", "BENCH_BEST.json", ListMap("metric" -> "total",
        "value" -> best.map(_._2).sum, "unit" -> "sec",
        "queries" -> ListMap.from(best), "sf" -> sfDir), echo = false)
    spark.stop()
    if (results.exists(_._2 < 0)) sys.exit(1)
  }
}
