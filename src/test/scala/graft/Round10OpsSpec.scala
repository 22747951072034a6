package graft

import graft.llm.Similarity
import org.apache.spark.sql.DataFrame

/** Specs for the round-10 work: the recall-sized ANN default path
  * (ivfSizedParams / ivfSizedTopK / the sized stored index) and the
  * mine-once/report-many dedup report index. Fixture oracle parity stays
  * the driver's DuckDB gate; these pin the sizing arithmetic, the
  * probe-all anchor, and the stored-artifact contracts the oracle can't
  * isolate. */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  test("ivfSizedParams: exact knobs at the fixture sizes, ppm-snapped scan, monotone in target, probe-all at target 1.0") {
    // the values the oracle SQL must land on at each SF (hand-checked:
    // nlist = round(sqrt n), cmod = round(n/nlist), scan_ppm(0.8) = 471040)
    assert(Similarity.ivfSizedParams(2000L, 0.8) == ((45, 44, 22)))
    assert(Similarity.ivfSizedParams(500L, 0.8) == ((22, 23, 11)))
    assert(Similarity.ivfSizedParams(500L, 0.9) == ((22, 23, 17)))
    // target 1.0 caps scan at 1 => nprobe == nlist (probe-all)
    val (nl, _, np) = Similarity.ivfSizedParams(2000L, 1.0)
    assert(np == nl)
    // nprobe is monotone in the recall target; nlist/cmod are not affected
    val byTarget = Seq(0.5, 0.7, 0.8, 0.9, 1.0)
      .map(t => Similarity.ivfSizedParams(2000L, t))
    assert(byTarget.map(_._3) == byTarget.map(_._3).sorted)
    assert(byTarget.map(p => (p._1, p._2)).distinct.size == 1)
    // nlist grows ~ sqrt(n): 100x the corpus, ~10x the cells — the rule
    // that keeps per-cell population and the centroid broadcast sublinear
    val small = Similarity.ivfSizedParams(10000L, 0.8)._1
    val big = Similarity.ivfSizedParams(1000000L, 0.8)._1
    assert(big == 1000 && small == 100)
  }

  test("ivfSizedTopK at target 1.0 is exactly brute force (probe-all anchor)") {
    val emb = Tables.table(spark, sf, "embeddings")
    def rows(df: DataFrame) = df.as[(Long, Long, Double, Int)].collect().toSet
    // scan fraction 1.0 => nprobe == nlist >= surviving #cells, so every
    // cell is probed and the rescore set is the full corpus — the same
    // anchor trick as the stored-index probe-all spec
    assert(rows(Similarity.ivfSizedTopK(emb, 5, 10, targetRecall = 1.0)) ==
      rows(Similarity.bruteForceTopK(emb, 5, 10)))
  }

  test("sized stored IVF index: params parquet carries the derived knobs; the sized query path probes at the stored nprobe") {
    val emb = Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter($"vec_id" >= 5)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfidx-sized").toString
    Similarity.writeIvfIndexSized(corpus, idx)
    val p = spark.read.parquet(s"$idx/params")
      .select("nlist", "centroid_mod", "nprobe").head()
    val expected = Similarity.ivfSizedParams(corpus.count(), 0.8)
    assert((p.getInt(0), p.getInt(1), p.getInt(2)) == expected,
      s"stored params ${p} != derived $expected")
    val queries = emb.filter($"vec_id" < 5)
    def rows(df: DataFrame) = df.as[(Long, Long, Double, Int)].collect().toSet
    assert(rows(Similarity.ivfTopKAgainstIndexSized(queries, idx, 10)) ==
      rows(Similarity.ivfTopKAgainstIndex(queries, idx, 10, expected._3)))
  }

  test("pqRefineTopK at corpus-covering refine is exactly brute force (re-rank anchor)") {
    val emb = Tables.table(spark, sf, "embeddings")
    def rows(df: DataFrame) = df.as[(Long, Long, Double, Int)].collect().toSet
    // k·refine >= corpus => every vector is an ADC candidate, so the exact
    // re-rank sees the full corpus — same anchor trick as the IVF probe-all
    // spec: the approximate stage can only LOSE candidates, never reorder
    // the exact stage
    val n = emb.count().toInt
    assert(rows(Similarity.pqRefineTopK(emb, 5, 10, refine = n)) ==
      rows(Similarity.bruteForceTopK(emb, 5, 10)))
    // monotone-recovery law: widening refine can only ADD brute-force hits
    // (the candidate set grows monotonically and the exact re-rank keeps
    // any truth member it sees), so hit counts are non-decreasing in
    // refine and reach |truth| at corpus-covering refine. (The output SET
    // is not a subset chain — a lossy ADC stage can promote non-brute
    // neighbors into the top-k at small refine — so the law is on hits.)
    val truth = rows(Similarity.bruteForceTopK(emb, 5, 10)).map(r => (r._1, r._2))
    def hits(refine: Int): Int =
      rows(Similarity.pqRefineTopK(emb, 5, 10, refine = refine))
        .map(r => (r._1, r._2)).count(truth.contains)
    val ladder = Seq(hits(4), hits(16), hits(n))
    assert(ladder == ladder.sorted, s"hits not monotone in refine: $ladder")
    assert(ladder.last == truth.size)
  }

  test("stored IVF-PQ refine index: probe-all + refine-all anchors to brute force; params carry the contract") {
    val emb = Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter($"vec_id" >= 5)
    val queries = emb.filter($"vec_id" < 5)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString
    Similarity.writeIvfPqIndexSized(corpus, idx)
    val prm = spark.read.parquet(s"$idx/params").head()
    assert(prm.getAs[Int]("nlist") ==
      Similarity.ivfSizedParams(corpus.count(), 0.8)._1,
      "stored nlist != derived")
    // the refine contract is DERIVED from the target too (r11: refine=16
    // measured 0.55 at target 0.8 — the ivfPqSizedRefine calibration
    // replaced it; 60 at every target ≤ 0.97, 64 at target 1.0)
    assert(prm.getAs[Int]("refine") == Similarity.ivfPqSizedRefine(0.8),
      "stored refine != derived")
    assert(Similarity.ivfPqSizedRefine(0.8) == 60)
    assert(Similarity.ivfPqSizedRefine(1.0) == 64)
    // probe-all + corpus-covering refine: the ADC stage can only LOSE
    // candidates; with none lost, the exact re-rank IS brute force over
    // the index corpus — the strongest whole-chain anchor available
    val n = corpus.count().toInt
    def rows(df: DataFrame) = df.as[(Long, Long, Double, Int)].collect().toSet
    assert(rows(Similarity.ivfPqRefineAgainstIndex(queries, idx, 10,
        nprobeOverride = Some(n), refineOverride = Some(n))) ==
      rows(Similarity.bruteForceTopK(emb, 5, 10)))
    // the stored default contract serves k deterministic rows per query
    val d = Similarity.ivfPqRefineAgainstIndex(queries, idx, 10)
    assert(d.groupBy("query_id").count().collect().forall(_.getLong(1) == 10L))
  }

  test("appendable hashed artifact: build(A) + append(B) == rebuild(A union B), bit-identical parts") {
    val docs = Tables.documents(spark, sf)
    val a = docs.filter($"doc_id" % 7 =!= 0)
    val b = docs.filter($"doc_id" % 7 === 0)
    val p1 = java.nio.file.Files.createTempDirectory("graft-dedup-app").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft-dedup-reb").toString
    graft.llm.Dedup.writeDedupArtifactHashed(a, p1, 0.3)
    graft.llm.Dedup.appendDedupArtifact(b, p1)
    graft.llm.Dedup.writeDedupArtifactHashed(docs, p2, 0.3)
    // ingest_batch is provenance, not content: the append path lands B in
    // partition 1 while the rebuild holds everything in partition 0 — the
    // law is over the CONTENT columns
    def rows(p: String, part: String) =
      spark.read.parquet(s"$p/$part").drop("ingest_batch")
        .collect().map(_.toString).sorted.toSeq
    for (part <- Seq("pairs", "clusters", "counts", "nodes"))
      assert(rows(p1, part) == rows(p2, part), s"append != rebuild on $part")
    // crash-replay idempotency: re-applying the SAME increment under the
    // SAME ingest_batch id (what Structured Streaming does after a crash
    // between sink write and checkpoint commit) must change nothing —
    // the partition is dynamically overwritten, the corpus side excludes
    // it on read, and the re-mined pairs dedupe against the stored table
    val before = Seq("pairs", "clusters", "counts", "nodes").map(rows(p1, _))
    graft.llm.Dedup.appendDedupArtifact(b, p1, ingestBatch = 1L)
    val after = Seq("pairs", "clusters", "counts", "nodes").map(rows(p1, _))
    assert(after == before, "replayed append mutated the artifact")
    // non-vacuity: the law must be exercised by real pairs, including at
    // least one STRADDLING the increment boundary (the case only the
    // append path's stored-band join can find)
    val pairs = spark.read.parquet(s"$p1/pairs")
    assert(pairs.count() > 0, "fixture produced no pairs — law vacuous")
    assert(pairs.filter(($"doc_a" % 7 === 0) =!= ($"doc_b" % 7 === 0)).count() > 0,
      "no pair straddles the increment split — straddle arm untested")
  }

  test("streaming artifact maintenance: stream of micro-batches == one-shot rebuild over everything delivered") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val seed = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1).as[(Long, String)].collect().toSeq
    val b2 = docs.filter($"doc_id" % 3 === 2).as[(Long, String)].collect().toSeq
    val p = java.nio.file.Files.createTempDirectory("graft-stream-art").toString
    graft.llm.Dedup.writeDedupArtifactHashed(seed, p, 0.3)
    val mem = MemoryStream[(Long, String)](spark)
    val q = streaming.Maintenance.dedupArtifact(mem.toDF().toDF("doc_id", "text"), p,
      java.nio.file.Files.createTempDirectory("graft-stream-art-ckpt").toString)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val p2 = java.nio.file.Files.createTempDirectory("graft-stream-art-reb").toString
    graft.llm.Dedup.writeDedupArtifactHashed(docs, p2, 0.3)
    def rows(path: String, part: String) =
      spark.read.parquet(s"$path/$part").drop("ingest_batch")
        .collect().map(_.toString).sorted.toSeq
    for (part <- Seq("pairs", "clusters", "counts", "nodes"))
      assert(rows(p, part) == rows(p2, part), s"streamed artifact != rebuild on $part")
    assert(spark.read.parquet(s"$p/pairs").count() > 0)
  }

  test("mine once, report many: every dedup_stored_* consumer is row- and schema-equal to its recompute form") {
    for ((stored, orig) <- graft.llm.Dedup.storedOracleAlias) {
      val a = SparkEntry.queries(stored)(spark, sf)
      val b = SparkEntry.queries(orig)(spark, sf)
      assert(a.columns.toSeq == b.columns.toSeq, s"$stored schema != $orig")
      assert(a.collect().map(_.toString).toSeq ==
        b.collect().map(_.toString).toSeq, s"$stored rows != $orig")
    }
  }

  test("stored consumers never re-shingle: plans read the parquet artifact, no band join, no tokenize") {
    // force the artifact build once so the plans below are pure-consumer
    graft.llm.Dedup.dedupArtifact(spark, sf, 0.4)
    for (name <- graft.llm.Dedup.storedOracleAlias.keys if name != "dedup_artifact") {
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      val plan = qe.optimizedPlan.toString
      // the mining chain's unmistakable markers: the LSH band-join key and
      // the shingle tokenizer — a consumer plan containing either has
      // silently regressed to a re-mine
      assert(!plan.contains("bval"), s"$name re-mines (band join):\n$plan")
      // keep_best (quality score) and terms (tf explode) legitimately read
      // text; every other consumer must not touch it at all
      if (name != "dedup_stored_keep_best" && name != "dedup_stored_terms")
        assert(!plan.toLowerCase.contains("split(text"),
          s"$name re-tokenizes the corpus:\n$plan")
      // the physical plan's FileScan prints the artifact location (the
      // logical printout elides paths); consumers whose iteration machinery
      // localCheckpoints the edge list (CC/PageRank) read the artifact
      // upstream of the checkpoint, so accept the materialized-scan form
      val phys = qe.executedPlan.toString
      assert(phys.contains("graft-dedup-artifact") ||
        phys.contains("Scan ExistingRDD"),
        s"$name does not read the stored artifact:\n$phys")
    }
  }
}
