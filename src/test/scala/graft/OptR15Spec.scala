package graft


/** Focused equivalence specs for the round-15 OPTIMIZATION pass:
  *  - the MinHash verify join gained an exact size-ratio prefilter
  *    (|A∩B| ≤ min ⇒ J ≤ min/max — guide §3.2), which must never change
  *    the pair set;
  *  - winnowFingerprints gained the bounded-collect vocab + the hashed
  *    twin behind the shingleIds switch point;
  *  - retrievalEval's arms now share ONE postings/stats build, which must
  *    be invisible in the report (including under overlapping term sets);
  *  - the packed append folded its driver metadata actions into one.
  * Each law pins the optimized form against an independently-derived
  * reference on the fixture, so drift fails here, not at the oracle. */
class OptR15Spec extends SparkSpec {
  import spark.implicits._
  import graft.llm.{Dedup, TextAnalysis, TrainingShards}

  private def docs = Tables.documents(spark, sf)
    .select($"doc_id", $"source", $"text")

  test("minhashLsh size-bound prefilter loses no pair: τ-filter == post-hoc filter of the τ=0 (prune-free) run") {
    // at τ = 0 the prefilter keeps every candidate (round(min/max,6) ≥ 0),
    // so that run IS the unpruned reference; re-filtering its exact
    // jaccards at τ must reproduce the pruned run bit-for-bit
    val all = Dedup.minhashLsh(docs, 0.0)
      .collect().map(_.toString).toSeq.sorted
    assert(all.nonEmpty)
    for (t <- Seq(0.3, 0.4, 0.7)) {
      val pruned = Dedup.minhashLsh(docs, t)
        .collect().map(_.toString).toSeq.sorted
      val reference = Dedup.minhashLsh(docs, 0.0)
        .filter($"jaccard" >= t).collect().map(_.toString).toSeq.sorted
      assert(pruned == reference, s"pair set drift at threshold $t")
    }
  }

  test("minhashLsh prefilter prunes without loss where it must fire: τ=1 keeps exactly the identical-shingle-set pairs") {
    // near-identical docs band-collide with probability ~1, but only the
    // EXACT-set pairs may survive τ=1 — and any pair of different set
    // sizes is pruned before the verify join ever sees it
    val d = Seq(
      (1L, "s", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "s", "alpha beta gamma delta epsilon zeta eta theta"),       // == 1
      (3L, "s", "alpha beta gamma delta epsilon zeta eta theta iota"),  // superset
      (4L, "s", "alpha beta gamma delta epsilon zeta eta theta")        // == 1
    ).toDF("doc_id", "source", "text")
    val got = Dedup.minhashLsh(d, 1.0)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("winnowing guarantee holds in BOTH vocab regimes: a shared run ≥ window+2 tokens shares a fingerprint") {
    val shared = (1 to 12).map(i => s"run$i").mkString(" ")
    val d = Seq(
      (1L, "s", s"unique1 opening words here $shared trailing one"),
      (2L, "s", s"$shared totally different tail text two"),
      (3L, "s", "no overlap at all with anything else three")
    ).toDF("doc_id", "source", "text")
    for (bound <- Seq(Dedup.ExactVocabBound, 0L)) {
      val pairs = Dedup.winnowPairs(d, 4, 1L, Dedup.WinnowStopDf, bound)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)), s"shared run lost at bound=$bound")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
        s"phantom overlap at bound=$bound")
    }
  }

  test("winnow hashed twin selects with ~1/window density (the fingerprint table stays sub-linear)") {
    val fpH = Dedup.winnowFingerprints(docs, 4, 0L)
    val fpE = Dedup.winnowFingerprints(docs, 4)
    val nH = fpH.count()
    val nE = fpE.count()
    // same selection mechanism, different hash family: row counts land in
    // the same density band (both ≈ shingles/…·(2/(w+1)) up to hash noise)
    assert(nH > 0 && nE > 0)
    assert(math.abs(nH - nE).toDouble / nE < 0.2,
      s"hashed twin density drifted: exact=$nE hashed=$nH")
  }

  test("retrievalEval shared-postings build == per-query builds, under OVERLAPPING term sets") {
    // each singleton call builds its own postings/stats (the old shape);
    // the multi-query call shares one build — reports must be identical,
    // including when queries share a term (the df-independence argument)
    val sets = Seq(
      "svs" -> Seq("spark", "vector", "scan"),
      "vs" -> Seq("vector", "shuffle"),
      "hs" -> Seq("hash", "shuffle"))
    val together = TextAnalysis.retrievalEval(docs, sets)
      .collect().map(_.toString).toSeq.sorted
    val separate = sets.map(s => TextAnalysis.retrievalEval(docs, Seq(s)))
      .reduce(_ unionByName _).collect().map(_.toString).toSeq.sorted
    assert(together.nonEmpty && together == separate)
  }

  test("packed append ad-hoc form (folded metadata pass) == explicit-batch form, bit-identical store") {
    def build(out: String, adHoc: Boolean): Unit = {
      val d = docs
      TrainingShards.writePackedTokenShards(d.filter($"doc_id" % 3 =!= 0),
        out, 4, 3, 32)
      val inc = d.filter($"doc_id" % 3 === 0)
      if (adHoc) TrainingShards.appendPackedTokenShards(inc, out, 4)
      else TrainingShards.appendPackedTokenShards(inc, out, 4, ingestBatch = 1L)
    }
    val a = java.nio.file.Files.createTempDirectory("graft-r15a").toString
    val b = java.nio.file.Files.createTempDirectory("graft-r15b").toString
    build(a, adHoc = true)
    build(b, adHoc = false)
    val ra = TrainingShards.readPackedTokenShards(spark, a)
      .collect().map(_.toString).toSeq.sorted
    val rb = TrainingShards.readPackedTokenShards(spark, b)
      .collect().map(_.toString).toSeq.sorted
    assert(ra.nonEmpty && ra == rb)
  }
}
