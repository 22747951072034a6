package graft

import graft.llm.{Dedup, Multimodal, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.functions._

/** Unit coverage for the training-data pipeline operators over crafted
  * micro-corpora with hand-checkable answers, plus structural invariants on
  * the real fixtures. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(texts: (Long, String)*) =
    texts.toDF("doc_id", "text").withColumn("lang", lit("en"))

  test("exact dedup groups identical texts, keeper is min doc_id") {
    val out = Dedup.exact(docsDf(1L -> "a b c", 2L -> "a b c", 3L -> "x y z"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("ngram Jaccard: identical docs score 1.0, disjoint docs don't pair") {
    val out = Dedup.ngramJaccard(docsDf(
      1L -> "the quick brown fox jumps",
      2L -> "the quick brown fox jumps",
      3L -> "entirely different words here now"), 0.4)
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("minhash LSH candidates: identical docs always collide; verified jaccard == exact") {
    val docs = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "alpha beta gamma delta epsilon eta", // 1 shingle differs
      4L -> "one two three four five six")
    val lsh = Dedup.minhashLsh(docs, 0.0).as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val exact = Dedup.ngramJaccard(docs, 0.0).as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(lsh.contains((1L, 2L)) && lsh((1L, 2L)) == 1.0)
    // every LSH-surfaced pair carries the exact Jaccard value
    lsh.foreach { case (k, v) => assert(exact(k) == v) }
  }

  test("containment: a fully-quoted excerpt is caught even where Jaccard misses it") {
    // doc 2 is doc 1's text embedded verbatim in a much larger page:
    // containment(1 in 2) = 1.0 while Jaccard stays far below any useful
    // threshold — the case this operator exists for
    val quote = "alpha beta gamma delta epsilon"
    val page = quote + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = docsDf(1L -> quote, 2L -> page, 3L -> "unrelated words entirely here")
    val out = Dedup.containmentPairs(docs, 0.9)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 1.0, out.head._4)), s"got ${out.toSeq}")
    assert(out.head._4 < 0.1, "the big page must NOT be contained in the quote")
    val jac = Dedup.minhashLsh(docs, 0.4).as[(Long, Long, Double)].collect()
    assert(!jac.exists(r => r._1 == 1L && r._2 == 2L),
      "fixture invalid: Jaccard found the pair, so containment proves nothing")
  }

  test("prefix-filtered containment index: equals the recompute form; quote-in-page caught; prefix really prunes") {
    val docs = Tables.table(spark, sf, "documents")
    val idx = java.nio.file.Files.createTempDirectory("graft-contidx").toString
    Dedup.writeNearDupIndex(docs.filter($"doc_id" % 7 =!= 0), idx)
    val viaIndex = Dedup.containmentAgainstIndex(docs.filter($"doc_id" % 7 === 0), idx, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // reference semantics: full recompute restricted to straddling pairs,
    // forced onto the SAME hashed encoding the index stores
    val recompute = Dedup.incrementalContainment(docs, 0.5, 7L, exactVocabBound = 0L)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex.nonEmpty, "vacuous: no straddling containment on the fixture")
    assert(viaIndex == recompute,
      s"prefix filter lost recall or changed scores: idx=${viaIndex.size} re=${recompute.size}")
    // the dense-increment escape hatch changes the plan, never the answer
    val shuffled = Dedup.containmentAgainstIndex(docs.filter($"doc_id" % 7 === 0), idx, 0.5,
        broadcastCandidates = false)
      .as[(Long, Long, Double)].collect().toSet
    assert(shuffled == viaIndex, "broadcastCandidates=false changed the answer")
    // the motivating asymmetric case: an increment doc fully quoted inside
    // a much larger indexed page — Jaccard ~0.07, containment 1.0
    val quote = "alpha beta gamma delta epsilon"
    val page = quote + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val idx2 = java.nio.file.Files.createTempDirectory("graft-contidx2").toString
    Dedup.writeNearDupIndex(docsDf(1L -> page), idx2)
    val hit = Dedup.containmentAgainstIndex(docsDf(7L -> quote), idx2, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(hit.toSeq == Seq((7L, 1L, 1.0)), s"got ${hit.toSeq}")
    // pruning is real: at tau = 0.9 the probe may use ~10% of the quote's
    // shingles + 1 — for 3 shingles that is exactly one probe row, and the
    // verify must still report the full intersection
    val probeBudget = 3 - math.ceil(3 * 0.9).toInt + 1
    assert(probeBudget == 1, "fixture arithmetic drifted")
  }

  test("gopher rules: each rule trips on its own pathological doc, clean doc passes all") {
    val filler = (1 to 26).map(i => s"word$i").mkString(" ")
    val clean = s"the a $filler word27 word28"                       // 30 words, 2 stops
    val short = "the a tiny doc here"                                // 5 words
    val symbols = s"the a #### ... #x ... ## $filler"                // 7 '#' + 2 '...' in 33 words
    val numeric = s"the a ${(1 to 10).map(_ => "12345").mkString(" ")} $filler" // 10/38 non-alpha... 28 alpha of 38
    val noStops = s"$filler word27 word28 word29 word30"             // 30 words, 0 stops
    val out = TextAnalysis.gopherRules(
        docsDf(1L -> clean, 2L -> short, 3L -> symbols, 4L -> numeric, 5L -> noStops),
        minWords = 25, minMeanLen = 4)
      .select($"doc_id", $"wc_ok", $"mwl_ok", $"sym_ok", $"alpha_ok", $"stop_ok", $"gopher_ok")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(out(0) == (1L, true, true, true, true, true, true), s"clean: ${out(0)}")
    assert(!out(1)._2 && !out(1)._7, s"short must fail wc: ${out(1)}")
    assert(!out(2)._4 && !out(2)._7, s"symbols must fail sym: ${out(2)}")
    assert(!out(3)._5 && !out(3)._7, s"numeric must fail alpha: ${out(3)}")
    assert(out(4)._2 && !out(4)._6 && !out(4)._7, s"noStops must fail stop only via stop_ok: ${out(4)}")
  }

  test("BPE training: hand-computed merge sequence, early exhaustion, deterministic tie-break, apply counts") {
    import graft.llm.BpeTrainer
    // word freqs aaab:2, ab:1 — step1 (a,a) 4 (overlapping pairs), step2
    // (a,b) 3, step3 (aa,ab) 2, then no pairs remain
    val (merges, _) = BpeTrainer.train(docsDf(1L -> "aaab aaab ab"), 4)
    assert(merges.map(m => (m.step, m.a, m.b, m.count)) ==
      Seq((1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)),
      s"got $merges")
    // left-to-right non-overlap: after merging (a,a), "aaab" is [aa, a, b]
    // — NOT [a, aa, b] — which is why step2's winner is (a,b), not (aa,a)
    val counts = BpeTrainer.bpeTokenCounts(docsDf(1L -> "aaab aaab ab"), 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(counts == Seq((1L, 3L, 3L)), s"got $counts")
    // count tie resolves to the lexicographically smallest pair
    val (tied, _) = BpeTrainer.train(docsDf(1L -> "ba ba ca ca"), 1)
    assert(tied.map(m => (m.a, m.b, m.count)) == Seq(("b", "a", 2L)), s"got $tied")
  }

  test("bigram LM: deterministic transitions score 1.0, per-doc mean is the exact micro-unit mean") {
    // corpus: "a b" occurs 3x and is a's only continuation -> P(b|a) = 1;
    // "c d" and "c e" split c's continuations -> P = 1/2 each
    val out = TextAnalysis.bigramLm(docsDf(
      1L -> "a b", 2L -> "a b", 3L -> "a b",
      4L -> "c d", 5L -> "c e")).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, 1000000L)) && out(2L) == ((1L, 1000000L)) &&
      out(3L) == ((1L, 1000000L)))
    assert(out(4L) == ((1L, 500000L)) && out(5L) == ((1L, 500000L)))
    // mixed doc: transitions 1.0 ("a b") and 0.5 ("c d"-shape) average exactly
    val mixed = TextAnalysis.bigramLm(docsDf(
      1L -> "a b", 2L -> "a b",
      6L -> "c d", 7L -> "c e"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(mixed(6L) == 500000L && mixed(1L) == 1000000L)
  }

  test("simhash: identical docs get identical fingerprints; fingerprints are 32-bit") {
    val out = Dedup.simhash(docsDf(1L -> "a b c d", 2L -> "a b c d", 3L -> "w x y z"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    assert(out.values.forall(v => v >= 0 && v < (1L << 32)))
    assert(out(1L) != out(3L), "disjoint docs should differ in a 32-bit space")
  }

  test("brute-force ANN: self-similar vector ranks first with cosine 1.0") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (5L, Array(1.0f, 0.0f, 0.0f)),  // identical to query 0
      (6L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, 1, 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(out(0) == ((0L, 5L, 1.0, 1)))
    assert(out(1)._2 == 6L && math.abs(out(1)._3) < 1e-9)
  }

  test("LSH ANN: identical vectors share a bucket, so top-1 survives bucketing") {
    val emb = Seq(
      (0L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (5L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (6L, Array.tabulate(8)(i => -(i + 1).toFloat))
    ).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(emb, 1, 2).as[(Long, Long, Double, Int)].collect()
    assert(out.exists(r => r._1 == 0L && r._2 == 5L && r._3 == 1.0 && r._4 == 1))
  }

  test("IVF ANN: identical vectors land in the same cell, top-1 survives probing") {
    // vec 0 is the only centroid (0 % 37 == 0) ⇒ one cell holds everything;
    // the identical vector must come back at rank 1 with cosine 1.0
    val emb = Seq(
      (0L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (5L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (6L, Array.tabulate(8)(i => (8 - i).toFloat))
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(emb, 1, 2).as[(Long, Long, Double, Int)].collect()
    assert(out.exists(r => r._1 == 0L && r._2 == 5L && r._3 == 1.0 && r._4 == 1))
  }

  test("PQ-ADC ANN: m codes per vector, equal vectors share codes, zero-distance self-match ranks first, fixture recall") {
    val a = Array.tabulate(64)(i => math.sin(i + 1.0).toFloat)
    val b = Array.tabulate(64)(i => math.cos(i + 1.0).toFloat)
    val crafted = Seq((0L, a), (61L, a), (62L, b)).toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(crafted)
      .as[(Long, Int, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    assert(codes.keySet == Set(0L, 61L, 62L) && codes.values.forall(_.size == Similarity.PqSubspaces),
      s"every vector needs exactly m codes: $codes")
    assert(codes(0L) == codes(61L), "equal vectors must encode identically")
    // query 0 == corpus vector 61 == a codeword seed: its ADC distance is
    // exactly 0 in every subspace, so it must rank first at 0 micro
    val out = Similarity.pqTopK(crafted, 1, 2)
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    assert(out.head == ((0L, 61L, 0L, 1)), s"got ${out.toSeq}")
    // fixture recall vs exact brute force (5 queries, k=10): PQ with a
    // 9-codeword sample codebook is coarse — pin a floor, not a race
    val emb = Tables.table(spark, sf, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, 5, 10))
    val pq = pairs(Similarity.pqTopK(emb, 5, 10))
    val recall = (pq & brute).size.toDouble / brute.size
    info(s"PQ recall@10 vs brute: $recall")
    assert(recall >= 0.1, s"PQ recall collapsed: $recall")
  }

  test("SemDeDup: within-cluster near-identical pair drops the larger id, distinct vectors survive, fixture keep count") {
    // vec 0 is the only %37 centroid ⇒ one cluster holds all three; 5 is an
    // exact semantic dup of 0 (cos 1.0) and must be the dropped side
    // (keeper = smaller vec_id); 6 is near-orthogonal (cos ≈ 0.1) and kept
    val a = Array.tabulate(8)(i => (i + 1).toFloat)
    val emb = Seq(
      (0L, a),
      (5L, a),
      (6L, Array.tabulate(8)(i => ((i % 2) * 2 - 1).toFloat))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, 0.9).as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(out == Map(0L -> true, 5L -> false, 6L -> true), s"keep flags: $out")
    // real fixture at the query threshold: every drop must be justified by
    // a smaller-id vector in the SAME final cell clearing the threshold —
    // cross-checked against an independently computed within-cell pair set
    val embF = Tables.table(spark, sf, "embeddings")
    val sd = Similarity.semDedup(embF, 0.35)
    val dropped = sd.filter(!$"keep").as[(Long, Long, Boolean)].collect()
    val cells = sd.select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val vecs = embF.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    def cos(x: Array[Double], y: Array[Double]): Double = {
      val d = x.indices.map(i => x(i) * y(i)).sum
      BigDecimal(d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def witness(id: Long, cid: Long): Boolean = cells.exists { case (other, ocid) =>
      ocid == cid && other < id && cos(vecs(other), vecs(id)) >= 0.35 }
    dropped.foreach { case (id, cid, _) =>
      assert(witness(id, cid), s"vec $id dropped without a smaller-id witness in cell $cid")
    }
    // and the converse: every kept vector with a witness would be a miss
    sd.filter($"keep").as[(Long, Long, Boolean)].collect().foreach { case (id, cid, _) =>
      assert(!witness(id, cid), s"vec $id kept despite a witness in cell $cid")
    }
    assert(dropped.nonEmpty, "fixture threshold produced no drops (vacuous)")
  }

  test("SemDeDup stored index: increments gate against kept members without re-clustering") {
    val embF = Tables.table(spark, sf, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft-semidx").toString
    Similarity.writeSemDedupIndex(embF, idx, 0.35)
    // increment: re-idd copies of corpus vectors 0..9 plus one basis vector
    // the corpus is nowhere near
    val novel = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val inc = embF.filter($"vec_id" < 10)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
      .unionByName(Seq((20000L, novel)).toDF("vec_id", "embedding"))
    val out = Similarity.semDedupAgainstIndex(inc, idx, 0.35)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out.size == 11)
    // a copy of ANY corpus vector must drop: if the original was kept it is
    // its own witness (cos 1.0); if it was dropped, its smaller-id witness
    // is in the members table and scores >= tau against the copy too
    (10000L to 10009L).foreach(id =>
      assert(!out(id), s"corpus-duplicate increment $id survived the gate"))
    // ground truth for the novel vector: its best cosine against ALL kept
    // members (cell restriction only removes comparisons, so a global max
    // under tau forces keep)
    val kept = spark.read.parquet(s"$idx/members")
      .select($"vec_id", $"v").as[(Long, Array[Double])].collect()
    val nd = novel.map(_.toDouble)
    def cosRaw(x: Array[Double], y: Array[Double]) = {
      val d = x.indices.map(i => x(i) * y(i)).sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val best = kept.map(m => cosRaw(nd, m._2)).max
    assert(best < 0.349, s"fixture invalid: novel vector's best kept-cosine $best")
    assert(out(20000L), "novel vector must pass the incremental gate")
  }

  test("IVF-PQ ANN: residual of a codebook seed encodes to itself, zero-distance self-match ranks first, recall >= plain PQ") {
    // one cell (vec 0 is the only %37 centroid), codebook seeds 0 and 61:
    // vec 61 == vec 0 == the centroid, so its residual is the zero vector
    // and IS codeword 0's residual — query 0 must match it at exactly 0
    val a = Array.tabulate(64)(i => math.sin(i + 1.0).toFloat)
    val b = Array.tabulate(64)(i => math.cos(i + 1.0).toFloat)
    val crafted = Seq((0L, a), (61L, a), (62L, b)).toDF("vec_id", "embedding")
    val out = Similarity.ivfPqTopK(crafted, 1, 2)
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    assert(out.head == ((0L, 61L, 0L, 1)), s"got ${out.toSeq}")
    // composition sanity on the real fixture, apples-to-apples: at
    // PROBE-ALL (nprobe >= #cells, the ivfTopKAgainstIndex anchor trick)
    // the cell restriction vanishes and the ONLY delta vs raw-vector PQ is
    // quantizing residuals instead of vectors — which must not hurt
    // (residuals cluster near 0, so the shared codebook covers them
    // better; the reason IVFPQ quantizes residuals at all). nprobe=2 is
    // NOT comparable to plain PQ: it scores 2 of ~14 cells by design.
    val emb = Tables.table(spark, sf, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, 5, 10))
    val probeAll = pairs(Similarity.ivfPqTopK(emb, 5, 10, nprobe = 10000))
    val pq = pairs(Similarity.pqTopK(emb, 5, 10))
    val np2 = pairs(Similarity.ivfPqTopK(emb, 5, 10))
    val rAll = (probeAll & brute).size.toDouble / brute.size
    val rPq = (pq & brute).size.toDouble / brute.size
    val rNp2 = (np2 & brute).size.toDouble / brute.size
    info(s"IVFPQ recall@10 vs brute: probe-all=$rAll nprobe2=$rNp2 (plain PQ: $rPq)")
    assert(rAll >= rPq, s"residual PQ under-performed raw PQ at probe-all: $rAll < $rPq")
    assert(rNp2 > 0.0, s"nprobe=2 IVFPQ found nothing")
  }

  test("multiprobe LSH: flip-1-bit probing never lowers recall vs exact-bucket LSH (fixtures)") {
    val emb = Tables.table(spark, sf, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, 5, 10))
    val single = pairs(Similarity.lshTopK(emb, 5, 10))
    val multi = pairs(Similarity.lshTopKMultiprobe(emb, 5, 10))
    // candidates(multi) ⊇ candidates(single) per query, and a true top-k
    // neighbor can only be displaced by another true top-k neighbor, so
    // recall against brute force is monotone in the probe set
    assert((multi & brute).size >= (single & brute).size,
      s"multiprobe lost recall: multi=${(multi & brute).size} single=${(single & brute).size}")
    assert(multi.size >= single.size)
    // probeBits = 0 degenerates to exactly the single-bucket table
    assert(pairs(Similarity.lshTopKMultiprobe(emb, 5, 10, probeBits = 0)) == single)
  }

  test("kmeans IVF: one Lloyd's step moves the centroid to the cell's exact integer-micro mean") {
    val e = Seq(
      (0L, Array(1.0, 0.0)),  // the only mod-37 seed
      (1L, Array(1.0, 0.0)),
      (2L, Array(0.0, 1.0))).toDF("vec_id", "v")
      .withColumn("nrm", sqrt(expr("aggregate(v, 0d, (a, x) -> a + x * x)")))
    val cent = Similarity.kmeansCentroids(e, 37, 1)
      .select("cid", "cv").as[(Long, Seq[Double])].collect()
    assert(cent.length == 1 && cent.head._1 == 0L)
    // mean of the three member vectors, in rounded integer micro-units
    assert(cent.head._2 == Seq(0.666667, 0.333333), s"got ${cent.head._2}")
  }

  test("stored IVF index: probe-all equals brute force; default probes lose only recall, never precision (fixtures)") {
    val emb = Tables.table(spark, sf, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    // build from the corpus side only — queries arrive later, the
    // production shape (the index must not have trained on them)
    llm.Similarity.writeIvfIndex(emb.filter($"vec_id" >= 5), idx)
    val queries = emb.filter($"vec_id" < 5)
    val nCells = spark.read.parquet(s"$idx/centroids").count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    // probing every stored cell IS brute force: each corpus vector sits in
    // exactly one cell and every cell is probed, so the rescore set is the
    // full corpus and the shared ranking contract does the rest
    val viaIndex = rows(llm.Similarity.ivfTopKAgainstIndex(queries, idx, 10, nprobe = nCells))
    val brute = rows(llm.Similarity.bruteForceTopK(emb, 5, 10))
    assert(viaIndex == brute,
      s"probe-all index path diverged from brute force: ${viaIndex.size} vs ${brute.size}")
    // a narrow probe returns a subset of candidates scored by the same
    // contract: every returned (query, neighbor, cosine) is the brute pair
    // (possibly at a later brute rank — recall loss only, never a wrong score)
    val narrow = rows(llm.Similarity.ivfTopKAgainstIndex(queries, idx, 10, nprobe = 1))
    val bruteScores = brute.map(r => (r._1, r._2) -> r._3).toMap ++
      rows(llm.Similarity.bruteForceTopK(emb, 5, 2000)).map(r => (r._1, r._2) -> r._3)
    narrow.foreach { case (q, n, c, _) =>
      assert(bruteScores.get((q, n)).contains(c),
        s"index path produced a score brute force disagrees with: ($q, $n, $c)")
    }
  }

  test("text metrics: token counts and quality on a crafted doc") {
    val out = TextAnalysis.tokenCounts(docsDf(1L -> "the cat, sat!"))
      .as[(Long, Int, Int, Int)].head()
    // ws tokens: [the, cat,, sat!]; regex: the|cat|,|sat|!
    assert(out == ((1L, 3, 5, 13)))
    val q = TextAnalysis.quality(docsDf(1L -> "the cat sat"))
      .select("n_tokens", "stopword_ratio").as[(Int, Double)].head()
    assert(q._1 == 3 && math.abs(q._2 - 0.3333) < 1e-4)
  }

  test("langId: stopword markers dominate; CJK short-circuits to zh") {
    val out = TextAnalysis.langId(docsDf(
      1L -> "the cat and the dog of a house",
      2L -> "der hund und die katze ist hier",
      3L -> "le chat et la maison les arbres",
      4L -> "中文文本 the the the"))
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "zh"))
  }

  test("fingerprint: order-sensitive (permuted docs differ), duplicates agree") {
    val out = TextAnalysis.fingerprint(docsDf(
      1L -> "a b c", 2L -> "a b c", 3L -> "c b a"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L) && out(1L) != out(3L))
  }

  test("vec_dot: SQL registration works and matches the lambda formulation") {
    val out = spark.sql(
      "SELECT vec_dot(array(1d, 2d, 3d), array(4d, 5d, 6d)) AS d").as[Double].head()
    assert(out == 32.0)
    // null propagation
    val n = spark.sql("SELECT vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1d)) AS d")
      .collect().head.isNullAt(0)
    assert(n)
    // mismatched lengths and null elements are NULL, not a truncated sum
    assert(spark.sql("SELECT vec_dot(array(1d, 2d, 3d), array(1d, 1d)) AS d")
      .collect().head.isNullAt(0))
    assert(spark.sql("SELECT vec_dot(array(1d, NULL), array(1d, 1d)) AS d")
      .collect().head.isNullAt(0))
    // wrong arity is an analysis error naming the function, not an IOOBE
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_dot(array(1d)) AS d").collect()
    }
    assert(err.getMessage.contains("vec_dot requires exactly 2 arguments"))
  }

  test("audio frames: hand-checked framing — full frames of 32, one ragged tail, exact energy") {
    // 70 samples -> frames of 32, 32, 6
    val docs = Seq((2L, "ab" * 35, "en")).toDF("doc_id", "text", "lang")
    val out = Multimodal.audioFrames(docs, 32)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(out.map(r => (r._2, r._3)).toSeq == Seq((0L, 32L), (1L, 32L), (2L, 6L)),
      s"framing wrong: ${out.toSeq}")
    // 'a'-96 = 1, 'b'-96 = 2 -> per full frame 16·(1+4) = 80; tail 3·(1+4) = 15
    assert(out.map(_._4).toSeq == Seq(80L, 80L, 15L), s"energy wrong: ${out.toSeq}")
  }

  test("vec_sum_long aggregate: bit-identical to the explode form; ragged/null inputs fail loudly") {
    import graft.functions.VectorSumAgg.vecSumLong
    // exact twin equality on the real fixture, across forced partial merges
    val e = Tables.embeddings(spark, sf).repartition(7)
    val viaAgg = Similarity.labelCentroidsVec(e)
      .as[(Int, Int, Double, Long)].collect().toSet
    val viaExplode = Similarity.labelCentroids(e)
      .as[(Int, Int, Double, Long)].collect().toSet
    assert(viaAgg == viaExplode, "native aggregate diverged from the explode form")
    // NULL arrays skip; an all-NULL group is NULL
    val withNulls = Seq(
      (1L, Some(Seq(1L, 2L))), (1L, None), (2L, None)
    ).toDF("k", "v")
    val r = withNulls.groupBy("k").agg(vecSumLong(col("v")).as("s"))
      .orderBy("k").collect()
    assert(r(0).getSeq[Long](1) == Seq(1L, 2L), s"got ${r.toSeq}")
    assert(r(1).isNullAt(1), s"all-NULL group must be NULL: ${r.toSeq}")
    // ragged vectors throw with both lengths named — via the update check
    // (same-partition rows) or the merge check (partials of different dims)
    val ragged = intercept[Exception] {
      Seq((1L, Seq(1L, 2L)), (1L, Seq(1L, 2L, 3L))).toDF("k", "v")
        .groupBy("k").agg(vecSumLong(col("v"))).collect()
    }
    assert(ragged.getMessage.contains("vec_sum_long"), ragged.getMessage)
  }

  test("multimodal: REAL ImageIO decode recovers the generative image spec") {
    val docs = Tables.table(spark, sf, "documents").limit(50)
    val media = Multimodal.realMediaTable(docs)
    val dec = Multimodal.decodeBatch(media)
    // decoded geometry/bands == the arithmetic the images were generated from
    val decl = docs.select(
      col("doc_id"),
      expr("CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END").as("format"),
      expr("CAST(16 + doc_id % 17 AS INT)").as("width"),
      expr("CAST(16 + (doc_id * 7) % 13 AS INT)").as("height"),
      expr("CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END").as("channels"))
    val got = dec.select("doc_id", "format", "width", "height", "channels")
    assert(got.exceptAll(decl).count() == 0 && decl.exceptAll(got).count() == 0)
    assert(dec.count() == 50)
    // PNG luma round-trip is EXACT (lossless): every decoded sample equals
    // the pixel function
    val png = Multimodal.realMediaTable(docs.filter(col("doc_id") % 2 === 0))
    val bad = Multimodal.decodeLuma(png)
      .select(col("doc_id"), col("w"), posexplode(col("lumas")).as(Seq("pos", "v")))
      .filter(col("v") =!= expr(
        "CAST((doc_id * 31 + (pos % w) * 7 + (pos div w) * 13) % 256 AS INT)"))
    assert(bad.count() == 0, "decoded PNG luma diverged from the generative pixel function")
  }

  test("invariant: minhash pairs at threshold are a subset of exact ngram pairs (fixtures)") {
    val docs = Tables.table(spark, sf, "documents")
    val lsh = Dedup.minhashLsh(docs, 0.4).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val full = Dedup.ngramJaccard(docs, 0.4).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(full))
  }

  test("hashed shingle ids: forced switch engages, 100TB path matches the base encoding (fixtures)") {
    val docs = Tables.table(spark, sf, "documents")
    val tok = Dedup.tokenized(docs)
    // exactVocabBound = 0 forces every vocab past the switch — the branch
    // the 2.1M-token auto-switch takes at real scale, executed here
    val forced = Dedup.shingleIds(tok, exactVocabBound = 0L)
      .select("doc_id", "sid").as[(Long, Long)].collect().toSet
    val hashed = Dedup.shingleIdsHashed(tok)
      .select("doc_id", "sid").as[(Long, Long)].collect().toSet
    assert(forced == hashed, "forced switch did not take the hashed path")
    // injectivity-up-to-collisions: per-doc distinct id counts agree with
    // the base encoding, so Jaccard over hashed ids == Jaccard over shingles
    val cBase = Dedup.shingleIds(tok).groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val cHash = hashed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(cBase == cHash, "hashed ids collided on the fixture")
    // end-to-end: the full LSH pipeline over hashed ids emits the same
    // verified pair set with the same jaccard values
    val base = Dedup.minhashLsh(docs, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val viaHashed = Dedup.minhashLsh(docs, 0.4, exactVocabBound = 0L)
      .as[(Long, Long, Double)].collect().toSet
    assert(base.nonEmpty, "fixture produced no verified pairs — vacuous check")
    assert(viaHashed == base,
      s"hashed-id pipeline diverged: base=${base.size} hashed=${viaHashed.size}")
  }

  test("dedup pipeline: exact copies collapse before LSH, keeper absorbs both kinds of duplicate") {
    val out = Dedup.dedupPipeline(docsDf(
      1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "a b c d e f", // exact copies
      4L -> "a b c d e g",                                          // near-dup of 1 (J=0.6)
      5L -> "x y z w"), 0.4)                                        // unrelated
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // cluster {1,4}: 2 distinct texts, 4 original docs; {5}: singleton
    assert(out == Map(1L -> ((2L, 4L)), 5L -> ((1L, 1L))), s"got $out")
  }

  test("near-dup index: stored bands+shingles reproduce the recompute form bit-for-bit (fixtures)") {
    val docs = Tables.table(spark, sf, "documents")
    // the repo-wide increment convention: doc_id % 7 == 0 is "today"
    val existing = docs.filter($"doc_id" % 7 =!= 0)
    val incoming = docs.filter($"doc_id" % 7 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft-ndidx").toString
    Dedup.writeNearDupIndex(existing, idx)
    val viaIndex = Dedup.incrementalAgainstIndex(incoming, idx, 0.4)
      .as[(Long, Long, Long, Double)].collect().toSet
    // reference semantics: the full recompute restricted to straddling
    // pairs, forced onto the SAME (hashed) id encoding the index must use
    val recompute = Dedup.incrementalMinhash(docs, 0.4, 7L, exactVocabBound = 0L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaIndex.nonEmpty, "vacuous: no straddling near-dups on the fixture")
    assert(viaIndex == recompute,
      s"index path diverged from recompute: ${viaIndex.size} vs ${recompute.size}")
    // and the corpus side is served from disk: the index dir holds
    // everything the increment needs (bands + shingles, both non-empty)
    assert(spark.read.parquet(s"$idx/bands").count() > 0)
    assert(spark.read.parquet(s"$idx/shingles").count() > 0)
  }

  test("salted band join: grid salt spreads hot buckets, pair set is bit-identical (fixtures)") {
    val docs = Tables.table(spark, sf, "documents")
    val plain = Dedup.minhashLsh(docs, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val salted = Dedup.minhashLsh(docs, 0.4, Dedup.ExactVocabBound, saltBuckets = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(plain.nonEmpty, "vacuous: fixture produced no pairs")
    assert(salted == plain,
      s"salting changed the answer: plain=${plain.size} salted=${salted.size}")
    // an all-identical micro-corpus (the adversarial shape): every pair
    // must still be found exactly once under the salt
    val dup = docsDf((1L to 20L).map(i => i -> "alpha beta gamma delta epsilon"): _*)
    val pairs = Dedup.minhashLsh(dup, 0.9, Dedup.ExactVocabBound, saltBuckets = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.length == pairs.distinct.length, "pair emitted twice under salt")
    assert(pairs.length == 190, s"expected C(20,2)=190 pairs, got ${pairs.length}")
  }

  test("KMV distinct sketch: exact below k; both hash families land near the true count (fixtures)") {
    import graft.llm.Sketches
    // below k the sketch IS the exact count
    val small = docsDf(1L -> "a b c", 2L -> "c d")
    val o = Sketches.kmvDistinct(small).as[(String, Long, Long)].collect()
    assert(o.toSeq == Seq(("en", 4L, 4L)), s"got ${o.toSeq}")
    // fixture: the estimate must track the exact per-lang vocabulary for
    // the oracle hash AND the xxhash64 production twin (k=64 ⇒ σ≈12.5%;
    // bounds are ~4σ)
    val docs = Tables.table(spark, sf, "documents")
    val exact = docs.select($"lang", explode(split($"text", " ")).as("token"))
      .distinct().groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    for ((name, est) <- Seq(
        "vocab-id" -> Sketches.kmvDistinct(docs),
        "xxhash64" -> Sketches.kmvDistinctHashed(docs))) {
      val m = est.select("lang", "est_distinct").as[(String, Long)].collect().toMap
      assert(m.keySet == exact.keySet)
      for ((lang, ex) <- exact) {
        val r = m(lang).toDouble / ex
        assert(r > 0.5 && r < 1.7,
          s"$name estimate off for $lang: est=${m(lang)} exact=$ex ratio=$r")
      }
    }
  }

  test("HLL distinct sketch: calibrated-range accuracy both hash families; disjoint-slice merge == single pass") {
    import graft.llm.Sketches
    // 4000 distinct tokens across 40 docs — well above the ~2.5m raw-HLL
    // bias floor; m=64 ⇒ σ≈13%, bounds are ~3σ
    val big = docsDf((0 until 40).map(i =>
      (i + 1).toLong -> (0 until 100).map(j => s"tok${i}_$j").mkString(" ")): _*)
    for ((name, est) <- Seq(
        "oracle-mix" -> Sketches.hllDistinct(big),
        "xxhash64" -> Sketches.hllDistinctHashed(big))) {
      val e = est.select("est_distinct").as[Long].head()
      assert(e > 2400 && e < 5600, s"$name estimate off: $e for 4000 true")
    }
    // production merge: registers built over disjoint halves, max-merged,
    // must equal the single-pass register table (and thus the estimate)
    val halfA = big.filter($"doc_id" <= 20)
    val halfB = big.filter($"doc_id" > 20)
    val merged = Sketches.hllMerge(
      Sketches.hllRegistersHashed(halfA), Sketches.hllRegistersHashed(halfB))
      .as[(String, Long, Int)].collect().toSet
    val single = Sketches.hllRegistersHashed(big)
      .as[(String, Long, Int)].collect().toSet
    assert(merged == single, "merged sketch must equal the single-pass sketch")
    // small-range bias is real and documented: tiny corpora overestimate
    val small = Sketches.hllDistinct(docsDf(1L -> "a b c d e"))
      .select("est_distinct").as[Long].head()
    assert(small >= 5, s"estimate must not undercount a tiny set: $small")
  }

  test("CountMin heavy hitters: overestimate-only, top-k == exact on a skewed corpus, disjoint-slice merge == single pass") {
    import graft.llm.Sketches
    // Zipf-ish corpus: 'hot' appears 60×, 'warm' 25×, a tail of 200 singletons
    val docs = docsDf(
      1L -> (("hot " * 60) + ("warm " * 25)).trim,
      2L -> (0 until 200).map(i => s"tail$i").mkString(" "))
    for ((name, hh) <- Seq(
        "oracle-mix" -> Sketches.cmsHeavyHitters(docs, 5),
        "xxhash64" -> Sketches.cmsHeavyHittersHashed(docs, 5))) {
      val top = hh.as[(Long, String, Long)].collect().sortBy(_._1)
      assert(top.length == 5, s"$name: expected 5 rows, got ${top.length}")
      // the two true heavy hitters lead, in order
      assert(top(0)._2 == "hot" && top(1)._2 == "warm",
        s"$name: top-2 should be hot/warm, got ${top.toSeq}")
      // CMS never undercounts: est >= exact for the known-frequency tokens
      assert(top(0)._3 >= 60L, s"$name: hot underestimated: ${top(0)._3}")
      assert(top(1)._3 >= 25L, s"$name: warm underestimated: ${top(1)._3}")
      // with 202 distinct tokens vs 4×512 counters the error bound ε·N
      // (N=285) allows slack but a 2× blow-up would mean broken hashing
      assert(top(0)._3 <= 120L && top(1)._3 <= 60L,
        s"$name: estimates blew past the error bound: ${top.toSeq}")
    }
    // production merge: counters over disjoint halves, sum-merged, must
    // equal the single-pass counter table
    val halfA = docs.filter($"doc_id" === 1L)
    val halfB = docs.filter($"doc_id" === 2L)
    val merged = Sketches.cmsMerge(
      Sketches.cmsCountersHashed(halfA), Sketches.cmsCountersHashed(halfB))
      .as[(Int, Long, Long)].collect().toSet
    val single = Sketches.cmsCountersHashed(docs)
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == single, "sum-merged sketch must equal the single-pass sketch")
    // the sketch is d·w rows max regardless of corpus size
    assert(single.size <= Sketches.CmsDepth * Sketches.CmsWidth)
  }

  test("quantile sketch: bounded relative error vs exact, merge == single-pass, fixed size") {
    import graft.llm.Sketches
    val docs = Tables.documents(spark, sf)
    val est = Sketches.lengthQuantiles(docs)
      .as[(String, Long, Long, Long)].collect()
    assert(est.nonEmpty)
    // exact per-language percentiles (ceil-rank convention, same as sketch)
    val exact = docs.select($"lang", $"n_chars").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    est.foreach { case (lang, q, nTotal, estLen) =>
      val vs = exact(lang)
      assert(nTotal == vs.length.toLong, s"$lang: sketch total != corpus count")
      val rank = ((q * nTotal + 99) / 100).toInt // ceil(q*N/100)
      val truth = vs(rank - 1) max 1L
      // rep is the bucket lower bound: est <= truth always, and the
      // relative error is < 1/QSub + one sub-bucket rounding step
      assert(estLen <= truth, s"$lang p$q: lower-bound rep $estLen above exact $truth")
      assert((truth - estLen).toDouble / truth <= 2.0 / Sketches.QSub,
        s"$lang p$q: est $estLen vs exact $truth breaks the 2/QSub bound")
    }
    // production merge: histograms over disjoint halves, sum-merged, must
    // equal the single-pass histogram (the mergeable-state contract)
    val halfA = docs.filter($"doc_id" % 2 === 0)
    val halfB = docs.filter($"doc_id" % 2 =!= 0)
    val merged = Sketches.quantileMerge(
      Sketches.lengthHistogram(halfA), Sketches.lengthHistogram(halfB))
      .as[(String, Long, Long, Long)].collect().toSet
    val single = Sketches.lengthHistogram(docs)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(merged == single, "sum-merged histogram must equal single-pass")
    // fixed size: <= 64 octaves * QSub sub-buckets rows per language
    single.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.size <= 64 * Sketches.QSub, s"$lang histogram exceeded fixed bound")
    }
  }

  test("CCNet buckets: per-language exact thirds, score-monotone head >= middle >= tail") {
    import graft.llm.TextAnalysis
    val out = TextAnalysis.ccnetBuckets(Tables.table(spark, sf, "documents"))
      .as[(Long, String, Long, String)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val n = rows.length
      val byB = rows.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      assert(byB.getOrElse("head", Array.empty[Long]).length == n / 3,
        s"$lang: head must be floor(n/3) of $n")
      assert(byB.getOrElse("middle", Array.empty[Long]).length == 2 * n / 3 - n / 3,
        s"$lang: middle boundary wrong for n=$n")
      for {h <- byB.get("head"); m <- byB.get("middle")}
        assert(h.min >= m.max, s"$lang: head score below middle")
      for {m <- byB.get("middle"); t <- byB.get("tail")}
        assert(m.min >= t.max, s"$lang: middle score below tail")
    }
  }

  test("DSIR importance: target-like raw docs outrank junk in both the oracle and hashed bucketings") {
    import graft.llm.TextAnalysis
    // target distribution: en docs over the alpha/beta/gamma bigram family;
    // raw pool: one doc re-using those bigrams, one of never-seen-in-target
    // junk bigrams — the former must score higher and win the keep slot
    val docs = Seq(
      (1L, "alpha beta gamma delta alpha beta gamma", "en"),
      (2L, "beta gamma delta alpha beta gamma delta", "en"),
      (10L, "alpha beta gamma delta alpha beta", "xx"),
      (11L, "junk1 junk2 junk3 junk4 junk5 junk6", "xx")
    ).toDF("doc_id", "text", "lang")
    for ((name, out) <- Seq(
        "oracle-bucket" -> TextAnalysis.dsirSample(docs, perLang = 1),
        "hashed-bucket" -> TextAnalysis.dsirSampleHashed(docs, perLang = 1))) {
      val r = out.as[(Long, String, Long, Long, Boolean)].collect()
        .map(x => x._1 -> (x._4, x._5)).toMap
      assert(r.keySet == Set(10L, 11L), s"$name: raw pool rows wrong: $r")
      assert(r(10L)._1 > r(11L)._1,
        s"$name: target-like doc must outscore junk: $r")
      assert(r(10L)._2 && !r(11L)._2, s"$name: keep slot misassigned: $r")
    }
    // smoothing keeps never-seen buckets finite: junk-only doc still scores
    val junkOnly = TextAnalysis.dsirSample(docs, perLang = 1)
      .filter($"doc_id" === 11L).select("imp_micro").as[Long].head()
    assert(junkOnly > 0L, s"smoothed score must stay positive: $junkOnly")
  }

  test("feature hashing: identical texts share vectors, distinct texts diverge, weights count signed occurrences") {
    import graft.llm.Sketches
    val docs = docsDf(
      1L -> "x y z x", 2L -> "x y z x", 3L -> "totally different words here")
    val vecs = Sketches.featureHashEmbed(docs, 16)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    assert(vecs(1L) == vecs(2L), "identical texts must share a vector")
    assert(vecs(1L) != vecs(3L), "distinct texts collapsed")
    // signed occurrence counting: total |weight| mass ≤ token count, and
    // doc 1's mass reflects the duplicated 'x' (4 tokens)
    assert(vecs(1L).values.map(math.abs).sum <= 4)
    assert(vecs(1L).values.map(math.abs).sum > 0)
  }

  test("temperature mix (α=1/2): low-resource share rises, arithmetic integer-exact") {
    import graft.llm.Sketches
    val docs = ((1L to 90L).map(i => (i, s"t$i", "en")) ++
      (91L to 100L).map(i => (i, s"t$i", "fr")))
      .toDF("doc_id", "text", "lang")
    val out = Sketches.temperatureMix(docs, 100L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // weights √90=9, √10=3 ⇒ targets 100·9/12=75, 100·3/12=25:
    // fr's 10% raw share becomes 25% — flattened toward uniform
    assert(out("en") == ((90L, 9L, 75L)), s"got ${out("en")}")
    assert(out("fr") == ((10L, 3L, 25L)), s"got ${out("fr")}")
  }

  test("multi-family embedding pairs: family 0 is the single table, recall only grows (fixtures)") {
    val emb = Tables.table(spark, sf, "embeddings")
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = pset(Dedup.embeddingPairsLsh(emb, 0.35))
    val one = pset(Dedup.embeddingPairsLshMulti(emb, 0.35, nFamilies = 1))
    assert(one == single, "nFamilies=1 must reproduce the single-family table")
    val multi = pset(Dedup.embeddingPairsLshMulti(emb, 0.35, nFamilies = 2))
    assert(single.subsetOf(multi),
      s"a further family may only ADD pairs: single=${single.size} multi=${multi.size}")
    val brute = pset(Dedup.embeddingPairs(emb, 0.35))
    assert(multi.subsetOf(brute), "multi-family emitted a non-qualifying pair")
  }

  test("embedding pairs LSH: identical vectors collide and pair; output ⊆ brute pairs") {
    val emb = Seq(
      (0L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (5L, Array.tabulate(8)(i => (i + 1).toFloat)),   // identical to 0
      (6L, Array.tabulate(8)(i => -(i + 1).toFloat)))  // antipodal — opposite buckets
      .toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingPairsLsh(emb, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == Set((0L, 5L, 1.0)))
    // fixtures: every LSH pair is a brute pair with the same cosine
    val fEmb = Tables.table(spark, sf, "embeddings")
    val l = Dedup.embeddingPairsLsh(fEmb, 0.2).as[(Long, Long, Double)].collect().toSet
    val b = Dedup.embeddingPairs(fEmb, 0.2).as[(Long, Long, Double)].collect().toSet
    assert(l.subsetOf(b))
  }

  test("connected components: chain collapses to min label, isolates keep their own") {
    // 1-2-3-4 is a 3-hop chain (diameter > 1 exercises the iteration),
    // 5-6 a pair, 7 isolated
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val nodes = (1L to 7L).toDF("id")
    val out = graft.operators.ConnectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("dedup clusters: exact duplicates share a cluster, cluster id is member min") {
    val out = Dedup.dedupClusters(docsDf(
      1L -> "the quick brown fox jumps over dogs",
      2L -> "the quick brown fox jumps over dogs",
      5L -> "the quick brown fox jumps over dogs",
      3L -> "entirely different words in this one here"), 0.4)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(5L) == 1L && out(3L) == 3L)
  }

  test("embedding clusters: identical vectors cluster to min id, others stay singleton") {
    val emb = Seq(
      (1L, Array(1.0, 0.0, 0.0)),
      (4L, Array(1.0, 0.0, 0.0)),  // identical to 1 -> same bucket, cosine 1
      (7L, Array(-1.0, 0.0, 0.0))) // opposite: cosine -1, never pairs
      .toDF("vec_id", "embedding")
    val out = graft.llm.Dedup.embeddingClusters(emb, 0.9)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 4L -> 1L, 7L -> 7L), s"got $out")
  }

  test("repetition: counts are exact and the gate fires on dup-heavy docs only") {
    val out = graft.llm.TextAnalysis.repetition(docsDf(
      1L -> "a a a a b",                  // dup 3/5, top 4
      2L -> "one two three four five six", // all distinct, top 1
      3L -> "x"))                          // single token: no bigrams
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5))).toMap
    assert(out(1L) == ((5, 2, 2, 4, true)))   // bigrams: "a a", "a b"
    assert(out(2L) == ((6, 6, 5, 1, false)))
    assert(out(3L) == ((1, 1, 0, 1, false)))  // below the n>=5 floor: not flagged
  }

  test("decontaminate: eval-overlapping docs are reported with exact shingle counts") {
    // doc 0 is the eval doc (0 % 101 == 0); 1 is a full copy (5 shared
    // 3-grams), 2 shares exactly one 3-gram, 3 is disjoint
    val out = graft.llm.TextAnalysis.decontaminate(docsDf(
      0L -> "the quick brown fox jumps over dogs",
      1L -> "the quick brown fox jumps over dogs",
      2L -> "we saw the quick brown cat yesterday",
      3L -> "entirely different words in this one here"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((5L, true)))
    assert(out(2L) == ((1L, false)))
    assert(!out.contains(3L) && !out.contains(0L), s"got $out")
  }

  test("curate: every gate fires for its own reason; eval docs are excluded") {
    // 40 'the'-bearing diverse tokens -> lang en, quality high, not repetitive
    val good = (1 to 8).flatMap(i => Seq("the", s"w$i", s"x$i", s"y$i", s"z$i")).mkString(" ")
    val out = graft.llm.TextAnalysis.curate(docsDf(
      0L  -> good,                                // eval doc (0 % 101 == 0): excluded
      1L  -> good,                                // keeper, all gates pass... but
      2L  -> good,                                // duplicate of 1: loses keeper election
      3L  -> ("spam " * 40).trim,                 // repetitive: top token = all
      4L  -> "zz!! ?!? #@! xq%"))                 // short, no stopwords, punct-heavy
      .collect().map(r => (r.getLong(0),
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
         r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(!out.contains(0L), "eval doc must be excluded")
    // doc 1 is contaminated (shares shingles with eval doc 0) — the gate works
    assert(out(1L) == ((true, true, true, false, true, false)), s"got ${out(1L)}")
    assert(out(2L)._5 == false && out(2L)._6 == false, "dup loses keeper election")
    assert(out(3L)._3 == false && out(3L)._6 == false, "repetition gate")
    assert(out(4L)._2 == false && out(4L)._6 == false, "quality gate")
  }

  test("substring dedup: shared windows are flagged, short docs drop out, keep gates at half") {
    // window=3: doc 1 = [abc][def], doc 2 shares [abc] exactly, doc 3 all
    // unique, doc 4 too short to have a single window
    val out = Dedup.substringDedup(docsDf(
      1L -> "a b c d e f",
      2L -> "a b c x y z",
      3L -> "p q r s t u",
      4L -> "too short"), 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((2L, 1L, 0.5, true)))   // [abc] dup, [def] unique: exactly half
    assert(out(2L) == ((2L, 1L, 0.5, true)))
    assert(out(3L) == ((2L, 0L, 0.0, true)))
    assert(!out.contains(4L), "docs below one window have no segments")
    // a doc that is ALL duplicated windows fails the keep gate
    val all = Dedup.substringDedup(docsDf(
      5L -> "a b c", 6L -> "a b c"), 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(all == Map(5L -> false, 6L -> false))
  }

  test("segment rewrite: first occurrence survives, later copies are cut, tail span kept") {
    // window=3: doc 1 = [a b c][d e f]; doc 2 repeats [a b c] (cut) and adds
    // its own tail [x y] (short tail span — still covered by the rewrite);
    // doc 3 is an exact copy of doc 1 and loses everything; doc 4 repeats a
    // span WITHIN itself — second occurrence cut even though same doc
    val out = Dedup.segmentDedupRewrite(docsDf(
      1L -> "a b c d e f",
      2L -> "a b c x y",
      3L -> "a b c d e f",
      4L -> "p q r p q r"), 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((2L, 2L, "a b c d e f")), "untouched doc reassembles to its original text")
    assert(out(2L) == ((2L, 1L, "x y")))
    assert(out(3L) == ((2L, 0L, "")), "full duplicate is rewritten to empty")
    assert(out(4L) == ((2L, 1L, "p q r")), "self-repeat keeps only the first occurrence")
  }

  test("bloom incremental spans: exact counts survive any fpp, zero-hit docs included") {
    // doc 7 (increment: 7 % 7 == 0) shares its first window with corpus
    // doc 1 and repeats it twice — both occurrences count; doc 14 shares
    // nothing and must still appear with 0 hits
    val docs = docsDf(
      1L  -> "a b c d e f",
      7L  -> "a b c a b c x y z",
      14L -> "p q r s t u")
    val out = Dedup.bloomIncrementalSpans(docs, 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(7L -> ((3L, 2L)), 14L -> ((2L, 0L))))
    // exactness is fpp-independent: a deliberately saturated sketch (tiny
    // capacity, huge fpp -> nearly every probe is a false positive) must
    // produce the identical result because the exact join kills every FP
    val saturated = Dedup.bloomIncrementalSpans(docs, 3, expectedItems = 2, fpp = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(saturated == out, "bloom sketch must only change the plan, never the answer")
  }

  test("bloom prefilter prunes the probe side on the sf fixture") {
    val docs = Tables.table(spark, sf, "documents")
    val out = Dedup.bloomIncrementalSpans(docs, 10)
    val agg = out.agg(
      sum(col("n_spans")).as("spans"), sum(col("n_hit_spans")).as("hits")).collect()(0)
    val (spans, hits) = (agg.getLong(0), agg.getLong(1))
    assert(hits > 0, "fixture must make the membership check non-vacuous")
    assert(hits < spans, "not everything may hit or the prefilter proves nothing")
    // the sketch itself must reject the clean bulk: probe the corpus sketch
    // with every increment span and count survivors — they should be within
    // fpp-slack of the true hits, far below the unfiltered span count
    import org.apache.spark.sql.functions.{expr => e}
    val seg = Dedup.tokenized(docs).filter(size(col("words")) >= 10)
      .select(col("doc_id"), explode(e(
        "transform(sequence(1, size(words) div 10), i -> concat_ws(' ', slice(words, (i-1)*10+1, 10)))"))
        .as("segment"))
    val corp = seg.filter(col("doc_id") % 7 =!= 0).select("segment").distinct()
    val sketch = corp.select(xxhash64(col("segment")).as("h")).stat.bloomFilter("h", 1L << 20, 0.01)
    val incHashes = seg.filter(col("doc_id") % 7 === 0)
      .select(xxhash64(col("segment")).as("h")).as[Long].collect()
    val survivors = incHashes.count(sketch.mightContainLong)
    // no false negatives: every true hit survives the sketch
    assert(survivors >= hits)
    // and the clean bulk is rejected: survivors ≈ hits + fpp·clean, which at
    // fpp=1% must stay under half the unfiltered probe volume
    assert(survivors * 2 < incHashes.length,
      s"sketch passed $survivors of ${incHashes.length} spans — not pruning")
  }

  test("bloom incremental spans: shuffled-join escape hatch matches the broadcast plan (fixtures)") {
    val docs = Tables.table(spark, sf, "documents")
    val bcast = Dedup.bloomIncrementalSpans(docs, 10)
      .as[(Long, Long, Long)].collect().toSet
    val shuffled = Dedup.bloomIncrementalSpans(docs, 10, broadcastCandidates = false)
      .as[(Long, Long, Long)].collect().toSet
    assert(bcast.nonEmpty && shuffled == bcast,
      "dense-increment fallback must be plan-only, never answer-changing")
  }

  test("vocab-free simhash: forced switch engages; banded pairs keep the pigeonhole recall (fixtures)") {
    val docs = Tables.table(spark, sf, "documents")
    // exactVocabBound = 0 forces the auto-switch down the hashed branch —
    // the path a tens-of-millions-token vocabulary takes at 100 TB
    val forced = Dedup.simhash(docs, exactVocabBound = 0L)
      .as[(Long, Long)].collect().toMap
    val hashed = Dedup.simhashHashed(docs).as[(Long, Long)].collect().toMap
    assert(forced == hashed, "forced switch did not take the vocab-free path")
    assert(hashed.values.forall(v => v >= 0 && v < (1L << 32)))
    // the hashed space must not be degenerate on the fixture (a constant
    // fingerprint would make every downstream claim vacuous)
    assert(hashed.values.toSet.size > hashed.size / 2,
      s"hashed fingerprints collapsed: ${hashed.values.toSet.size} distinct of ${hashed.size}")
    // pigeonhole recall: the banded join must find EXACTLY the pairs a
    // brute-force Hamming<=3 scan over the same fingerprints finds — the
    // 4x8-bit banding algebra is encoding-blind
    val fps = hashed.toSeq
    val brute = (for {
      (a, ha) <- fps; (b, hb) <- fps
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb).toLong)).toSet
    val banded = Dedup.simhashPairsHashed(docs, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded.nonEmpty, "vacuous: no hashed near-dup pairs on the fixture")
    assert(banded == brute,
      s"banding lost recall: banded=${banded.size} brute=${brute.size}")
  }

  test("hashed segment keys: substring dedup and rewrite are identical under xxhash64 keys (fixtures)") {
    val docs = Tables.table(spark, sf, "documents")
    val subStr = Dedup.substringDedup(docs, 10)
      .as[(Long, Long, Long, Double, Boolean)].collect().toSet
    val subHash = Dedup.substringDedup(docs, 10, hashedKeys = true)
      .as[(Long, Long, Long, Double, Boolean)].collect().toSet
    assert(subStr.nonEmpty && subHash == subStr,
      "substringDedup diverged under 8-byte span keys")
    val rwStr = Dedup.segmentDedupRewrite(docs, 10)
      .as[(Long, Long, Long, String)].collect().toSet
    val rwHash = Dedup.segmentDedupRewrite(docs, 10, hashedKeys = true)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(rwStr.nonEmpty && rwHash == rwStr,
      "segmentDedupRewrite diverged under 8-byte span keys")
  }

  test("segment rewrite: packing-bound violations raise instead of silently colliding") {
    def allMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    // hash-scale doc_id (the xxhash64-as-doc_id CorpusIngest pattern) is
    // outside the packing bound — 9223372036854 would overflow at
    // pos >= 775808, so the bound must already reject it
    val badId = intercept[Exception] {
      Dedup.segmentDedupRewrite(
        docsDf(9223372036854L -> "a b c d"), 2).collect()
    }
    assert(allMessages(badId).contains("packing bounds"), allMessages(badId))
    // the extreme negative id must hit the guard's raise, not abs() overflow
    val minId = intercept[Exception] {
      Dedup.segmentDedupRewrite(docsDf(Long.MinValue -> "a b c d"), 2).collect()
    }
    assert(allMessages(minId).contains("packing bounds"), allMessages(minId))
    // in-bounds corpora are untouched by the guard (bound is tight: this
    // id is safe for every pos < 1e6)
    assert(Dedup.segmentDedupRewrite(docsDf(9223372036853L -> "a b"), 2).count() == 1)
  }

  test("domain cap: top-k per source by quality, rank ties break by doc_id") {
    val docs = Seq(
      (1L, "the of and to a word word word word word", "s1"),
      (2L, "the of and to a word word word word word", "s1"), // same score as 1
      (3L, "zz!! ?!? #@!", "s1"),                             // low quality
      (4L, "the of and to a word word word word word", "s2"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val out = TextAnalysis.domainCap(docs, 2)
      .select("doc_id", "source", "rk").as[(Long, String, Int)].collect().toSet
    // s1 keeps 1 and 2 (tie -> doc_id order), drops 3; s2 keeps its only doc
    assert(out == Set((1L, "s1", 1), (2L, "s1", 2), (4L, "s2", 1)))
  }

  test("sample weighted: copies follow the per-lang rate, decision is doc_id-pure") {
    val docs = Seq((1L, "x", "en"), (2L, "x", "zh"), (3L, "x", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.sampleWeighted(docs)
      .select("doc_id", "lang", "bucket", "n_copies").as[(Long, String, Long, Int)]
      .collect().map(r => r._1 -> r).toMap
    // zh always gets >= 2 copies (250 % rate), de exactly 1 (100 %)
    assert(out(2L)._4 >= 2 && out(2L)._4 <= 3)
    assert(out(3L)._4 == 1)
    // en copies are 0/1 gated at bucket < 30
    assert(out(1L)._4 == (if (out(1L)._3 < 30) 1 else 0))
    // pure function of doc_id: recomputing on a repartitioned frame agrees
    val again = TextAnalysis.sampleWeighted(docs.repartition(7))
      .select("doc_id", "n_copies").as[(Long, Int)].collect().toMap
    assert(out.view.mapValues(_._4).toMap == again)
  }

  test("chunk: windows overlap by the stride, remainder kept, short docs get one chunk") {
    // size=4, overlap=1 -> stride=3; 8 tokens: starts 0,3,6 -> 3 chunks
    val out = TextAnalysis.chunk(docsDf(1L -> "a b c d e f g h", 2L -> "x y"), 4, 1)
      .select("doc_id", "chunk_idx", "chunk", "n_chunk_tokens")
      .as[(Long, Int, String, Int)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      (1L, 0, "a b c d", 4),
      (1L, 1, "d e f g", 4),   // overlaps previous by 1 token ("d")
      (1L, 2, "g h", 2),       // trailing remainder kept
      (2L, 0, "x y", 2)))      // short doc: exactly one chunk
    // exact-fit doc produces exactly one chunk, no empty tail
    val fit = TextAnalysis.chunk(docsDf(3L -> "p q r s"), 4, 1).count()
    assert(fit == 1)
  }

  test("pack greedy: cumulative cut within source, shards pack independently") {
    val docs = Seq(
      (1L, "a b c", "s1"),   // 3 tokens, cum_start 0  -> pack 0 off 0
      (2L, "d e f g", "s1"), // 4 tokens, cum_start 3  -> pack 0 off 3
      (3L, "h i", "s1"),     // 2 tokens, cum_start 7  -> pack 1 off 2 (budget 5)
      (4L, "z", "s2"))       // new shard: cum resets  -> pack 0 off 0
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val out = TextAnalysis.packGreedy(docs, 5)
      .select("doc_id", "pack_id", "pack_offset").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(1L -> ((0L, 0L)), 2L -> ((0L, 3L)), 3L -> ((1L, 2L)),
      4L -> ((0L, 0L))), s"got $out")
  }

  test("tfidf: rare terms outrank common ones, tf counts in-doc occurrences") {
    // "rare" appears in 1 doc, "the" in all 3 -> idf 4/2=2 vs 4/4=1
    val out = TextAnalysis.tfidfTopK(docsDf(
      1L -> "the rare rare word",
      2L -> "the common word",
      3L -> "the word again"), 2)
      .select("doc_id", "token", "tf", "score", "rk")
      .as[(Long, String, Long, Double, Int)].collect()
      .map(r => (r._1, r._5) -> ((r._2, r._3, r._4))).toMap
    // doc 1 top term: "rare" tf=2, idf=(3+1)/(1+1)=2 -> score 4.0
    assert(out((1L, 1)) == (("rare", 2L, 4.0)), s"got ${out((1L, 1))}")
    // "the" in doc 1: tf=1, idf=(3+1)/(3+1)=1 -> 1.0; beaten by rare=4.0
    assert(out((1L, 2))._3 <= 4.0)
    // every doc yields exactly k=2 ranked terms (docs have >= 2 distinct)
    assert(out.keySet == Set((1L,1),(1L,2),(2L,1),(2L,2),(3L,1),(3L,2)))
  }

  test("multi-table LSH: recall between single-family and brute, pairs scored once") {
    val fEmb = Tables.table(spark, sf, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val single = pairs(Similarity.lshTopK(fEmb, 5, 10))
    val multi = pairs(Similarity.lshTopKMulti(fEmb, 5, 10))
    val brute = pairs(Similarity.bruteForceTopK(fEmb, 5, 10))
    // dedup before rescoring: no pair may be emitted twice
    assert(multi.length == multi.toSet.size, "duplicate scored pairs")
    // a second independent table can only ADD candidates
    assert(single.toSet.size <= multi.toSet.size,
      s"multi-table recall regressed: ${single.length} vs ${multi.length}")
    assert(multi.toSet.size <= brute.toSet.size)
    // the dense-corpus escape hatch (shuffled rescoring join instead of
    // broadcasting the collision-bound pair side) is result-identical
    val multiNoBc = pairs(Similarity.lshTopKMulti(fEmb, 5, 10,
      broadcastCandidates = false))
    assert(multiNoBc.toSet == multi.toSet, "broadcast opt-out changed the result")
    // identical vectors still collide in every family
    val emb2 = Seq(
      (0L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (5L, Array.tabulate(8)(i => (i + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshTopKMulti(emb2, 1, 2)
      .as[(Long, Long, Double, Int)].collect()
    assert(out.exists(r => r._1 == 0L && r._2 == 5L && r._3 == 1.0 && r._4 == 1))
  }

  test("label centroids: element-wise mean per label with exact counts") {
    val emb = Seq(
      (1L, Array(1.0f, 3.0f), 0),
      (2L, Array(3.0f, 5.0f), 0),
      (3L, Array(0.0f, 8.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(emb)
      .as[(Int, Int, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out == Map((0, 0) -> ((2.0, 2L)), (0, 1) -> ((4.0, 2L)),
      (1, 0) -> ((0.0, 1L)), (1, 1) -> ((8.0, 1L))), s"got $out")
  }

  test("label purity: fraction of top-k neighbors sharing the query's label") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 7),   // query
      (5L, Array(1.0f, 0.0f), 7),   // same label, cosine 1
      (6L, Array(0.9f, 0.1f), 3))   // near but different label
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelPurity(emb, 1, 2)
      .as[(Long, Int, Long, Long, Double)].collect()
    assert(out.toSeq == Seq((0L, 7, 1L, 2L, 0.5)), s"got ${out.toSeq}")
  }

  test("incremental dedup: only new-vs-existing pairs survive, keeper is min partner") {
    // newMod=7: docs 7 and 14 are "today's increment". 7 dups existing 1
    // and 2; 14 dups nothing; the 1-2 pair (existing-existing) and any
    // intra-increment pair must not be reported
    val docs = docsDf(
      1L -> "the quick brown fox jumps over dogs",
      2L -> "the quick brown fox jumps over dogs",
      7L -> "the quick brown fox jumps over dogs",
      14L -> "entirely different words in this one here",
      3L -> "another unrelated document text body here")
    val rows = Dedup.incrementalMinhash(docs, 0.4)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSet == Set(7L), s"got ${rows.toSeq}")
    // dup_of must be the partner ACHIEVING best_jaccard (tie -> min id)
    assert(rows.head == ((7L, 2L, 1L, 1.0)), s"got ${rows.head}")
  }

  test("sample exact: exactly N per stratum, stable under repartitioning") {
    val docs = Tables.table(spark, sf, "documents")
    val out = TextAnalysis.sampleExact(docs, 5)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val perLang = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perLang.values.forall(_ == 5), s"got $perLang")
    val again = TextAnalysis.sampleExact(docs.repartition(13), 5)
      .select("doc_id", "lang").as[(Long, String)].collect()
    assert(out.toSet == again.toSet, "selection must be partition-invariant")
  }

  test("NB classifier: hand-checked smoothed-posterior weights, tie-at-threshold keeps") {
    // pos seed = src0. "good": n_pos=3 (doc1 ×2, doc2 ×1), n_neg=1 (doc4)
    //   → w = round(1e6·(3+1)/(3+1+2)) = 666667
    // "bad":  n_pos=1 (doc2), n_neg=3 (doc3 ×2, doc4) → w = 333333
    val docs = Seq(
      (1L, "good good", "src0"), (2L, "good bad", "src0"),
      (3L, "bad bad", "src9"), (4L, "good bad", "src9")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.nbClassify(docs)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(out(1L) == (666667L, true), s"got $out")
    assert(out(3L) == (333333L, false), s"got $out")
    // mean(666667, 333333) = 500000 — exactly the threshold, kept (>=)
    assert(out(2L) == (500000L, true) && out(4L) == (500000L, true), s"got $out")
  }

  test("NB classifier: hashed twin matches word-keyed on a collision-free vocab; stored weights replay exactly") {
    import org.apache.spark.sql.Row
    val docs = Seq(
      (1L, "good good", "src0"), (2L, "good bad", "src0"),
      (3L, "bad bad", "src9"), (4L, "good bad", "src9")
    ).toDF("doc_id", "text", "source")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
      df.select("doc_id", "n_tokens", "nb_micro", "quality_pred").collect().toSet
    val wordKeyed = rows(TextAnalysis.nbClassify(docs))
    val hashed = rows(TextAnalysis.nbClassifyHashed(docs))
    assert(hashed == wordKeyed, "2-word vocab in 2^18 buckets cannot collide")
    // train-once-score-forever: stored table replays the direct run
    val w = java.nio.file.Files.createTempDirectory("graft-nbw").toString
    TextAnalysis.writeNbWeights(docs, w)
    assert(rows(TextAnalysis.nbScoreAgainstWeights(docs, w)) == hashed)
    // a doc of words the seed never saw scores the smoothed coin flip
    val unseen = TextAnalysis.nbScoreAgainstWeights(
      Seq((9L, "zork quux blart", "srcX")).toDF("doc_id", "text", "source"), w)
      .select("nb_micro").as[Long].head()
    assert(unseen == 500000L, s"OOV default must be 500000 micro, got $unseen")
  }

  test("NB classifier: fixture separation — curated-seed docs outscore the pool on average") {
    val docs = Tables.table(spark, sf, "documents")
    val scored = TextAnalysis.nbClassify(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy($"source".isin("src0", "src1").as("pos"))
      .agg(avg($"nb_micro").as("m"))
      .as[(Boolean, Double)].collect().toMap
    assert(scored(true) > scored(false),
      s"seed-positive mean ${scored(true)} must exceed pool mean ${scored(false)}")
  }

  test("CDC chunking: boundaries re-align after a front edit; fixed-stride chunks don't") {
    val base = "the quick brown fox jumps over the lazy dog today and tomorrow forever more"
    val edited = s"INSERTED $base" // one token prepended
    val out = TextAnalysis.cdcChunks(docsDf(1L -> base, 2L -> edited))
      .select("doc_id", "chunk_text").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the CDC property: all boundaries past the edit's 4-token horizon are
    // content-decided, so the suffix chunks are byte-identical across docs
    val shared = out(1L) intersect out(2L)
    assert(shared.nonEmpty, s"no chunk survived a 1-token front edit: $out")
    // fixed-stride chunking (same docs, chunkSize 8 no overlap) shares NOTHING
    val fixedShared = TextAnalysis.chunk(docsDf(1L -> base, 2L -> edited), 8, 0)
      .select("doc_id", "chunk").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fixedShared(1L) intersect fixedShared(2L)).isEmpty,
      "fixed stride should shift every window — that's the contrast")
  }

  test("CDC chunking: chunks tile the doc exactly; short docs yield one whole-text chunk") {
    val docs = docsDf(1L -> "a b c", 2L -> "one two three four five six seven eight nine ten")
    val rows = TextAnalysis.cdcChunks(docs)
      .select("doc_id", "chunk_idx", "start_tok", "end_tok")
      .as[(Long, Long, Long, Long)].collect().groupBy(_._1)
    // 3 tokens < the 4-token window: exactly one chunk covering 1..3
    assert(rows(1L).map(r => (r._2, r._3, r._4)).toSeq == Seq((1L, 1L, 3L)))
    // every doc: chunk k starts where k-1 ended + 1, first at 1, last at n
    for ((_, rs) <- rows) {
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._3 == 1L)
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray))
        assert(b._3 == a._4 + 1, s"gap between chunks: $a -> $b")
    }
  }

  test("CDC dedup: a shared passage is found across docs, short chunks filtered") {
    // 40 tokens — long enough that several content-decided boundaries fall
    // INSIDE the passage in both docs, so whole chunks re-align despite the
    // different prefix offsets (verified against the DuckDB twin)
    val passage = "lambda epsilon phi gamma sigma mu beta rho beta xi gamma gamma " +
      "xi green delta theta phi copper tau nu stone beta gold kappa epsilon delta " +
      "kappa green zeta tau phi mu sigma gamma beta eta chi xi lambda tau"
    val docs = docsDf(
      1L -> s"intro words here $passage closing remarks",
      2L -> s"$passage totally different tail content now",
      3L -> "unrelated text with no shared passage at all whatsoever")
    val out = TextAnalysis.cdcDedup(docs)
      .as[(String, Long, Long, Long)].collect()
    assert(out.nonEmpty, "the shared 12-token passage must surface")
    assert(out.forall(_._2 == 1L), s"keeper must be min doc_id: ${out.toSeq}")
    assert(out.forall(r => r._1.split(" ").length >= 3), "minTokens filter")
  }

  test("SQ8: per-dim extremes map to 0/255, hand-checked codes, quantized ranking preserves the obvious order") {
    val emb = Seq(
      (0L, Array(0.0, 0.0, 0.0, 0.0)),
      (10L, Array(0.1, 0.1, 0.1, 0.1)),
      (11L, Array(10.0, 10.0, 10.0, 10.0))
    ).toDF("vec_id", "embedding")
    val codes = Similarity.sq8Codes(emb)
      .as[(Long, Int, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._3).toSet).toMap
    // mn=0 → 0, mx=10 → 255, 0.1 → floor(0.01·255) = 2, every dim alike
    assert(codes(0L) == Set(0L) && codes(11L) == Set(255L) && codes(10L) == Set(2L),
      s"got $codes")
    val tk = Similarity.sq8TopK(emb, 1, 2)
      .select("query_id", "neighbor_id", "dist_sq8", "rk")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    assert(tk.map(r => (r._2, r._3)).toSeq == Seq((10L, 4L * 2 * 2), (11L, 4L * 255 * 255)),
      s"got ${tk.toSeq}")
    // fixture-level invariants: codes stay in byte range, every dimension's
    // min and max vector hit the 0 and 255 levels exactly
    val fix = Similarity.sq8Codes(Tables.table(spark, sf, "embeddings"))
    val span = fix.agg(min($"code"), max($"code")).as[(Long, Long)].head()
    assert(span == ((0L, 255L)), s"got $span")
    val perDim = fix.groupBy($"dim").agg(min($"code").as("mn"), max($"code").as("mx"))
      .filter($"mn" =!= 0L || $"mx" =!= 255L).count()
    assert(perDim == 0L, "every dim must attain both extreme levels")
  }

  test("BPE apply-from-store: unseen words replay the stored merges; training corpus round-trips exactly") {
    import graft.llm.BpeTrainer
    // training corpus makes (a, b) the clear top pair
    val train = docsDf(1L -> "ab ab ab cd", 2L -> "ab ab xy")
    val store = java.nio.file.Files.createTempDirectory("graft-bpe-store").toString
    BpeTrainer.writeBpeMerges(train, store, 1)
    // "abab" never occurred in training: chars a,b,a,b + stored (a,b) merge
    // → 2 tokens; "ba" has no match → 2 chars stay 2 tokens
    val newDocs = docsDf(9L -> "abab ba")
    val out = BpeTrainer.bpeTokensAgainstMerges(newDocs, store)
      .as[(Long, Long, Long)].collect().head
    assert(out == ((9L, 4L, 2L)), s"abab→2 + ba→2 tokens over 2 words, got $out")
    // round trip: the training corpus against its own store == direct count
    val direct = BpeTrainer.bpeTokenCounts(train, 1)
      .as[(Long, Long, Long)].collect().toSet
    val replayed = BpeTrainer.bpeTokensAgainstMerges(train, store)
      .as[(Long, Long, Long)].collect().toSet
    assert(replayed == direct, s"store replay drifted: $replayed vs $direct")
  }

  test("lshBuckets: over-64-dim embeddings fail loudly per row, not silently bucket-0") {
    val bad = Seq((1L, Array.fill(65)(0.5))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      graft.llm.Similarity.lshBuckets(bad).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("65-dim")), s"got: ${msgs(ex)}")
  }

  test("BM25: tf raises, length normalization lowers, non-matching docs absent") {
    val docs = docsDf(
      1L -> "rare a a a",          // tf=1, dl=4
      2L -> "rare rare a a",       // tf=2, dl=4 — must outrank doc 1
      3L -> "rare a a a a a a a",  // tf=1, dl=8 — longer, must rank below doc 1
      4L -> "a b")                 // no query term — must not appear
    val out = TextAnalysis.bm25TopK(docs, Seq("rare"), 10)
      .orderBy("rk").as[(Long, Long, Long, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(2L, 1L, 3L), s"rank order wrong: ${out.toSeq}")
    assert(out.forall(_._2 == 1L), s"n_match must be 1 for a 1-term query: ${out.toSeq}")
    assert(out.map(_._4).toSeq == Seq(1, 2, 3))
    assert(out(0)._3 > out(1)._3 && out(1)._3 > out(2)._3,
      s"scores must strictly decrease: ${out.toSeq}")
  }

  test("snapshot diff: added/removed/changed classified by content hash, unchanged silent") {
    val oldSnap = docsDf(1L -> "gone", 2L -> "same", 3L -> "before")
    val newSnap = docsDf(2L -> "same", 3L -> "after", 4L -> "fresh")
    val out = TextAnalysis.snapshotDiffOf(oldSnap, newSnap)
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "removed", 3L -> "changed", 4L -> "added"),
      s"got $out")
  }

  test("length buckets: power-of-two bounds and padding waste, integer-exact") {
    val docs = docsDf(
      1L -> "a",            // n=1 → bucket 0 [1,2): waste 1
      2L -> "a b",          // n=2 → bucket 1 [2,4): waste 2
      3L -> "a b c",        // n=3 → bucket 1: waste 1
      4L -> "a b c d e f g h") // n=8 → bucket 3 [8,16): waste 8
    val out = TextAnalysis.lengthBuckets(docs)
      .orderBy("bucket_log2").as[(Int, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (0, 1L, 2L, 1L, 1L, 1L),
      (1, 2L, 4L, 2L, 5L, 3L),
      (3, 8L, 16L, 1L, 8L, 8L)), s"got ${out.toSeq}")
  }

  test("JL projection: hand-checked signed sums; identical vectors are JL-distance 0") {
    import graft.llm.Similarity
    val one = Seq((0L, Array(1.0f, -0.5f))).toDF("vec_id", "embedding")
    val pj = Similarity.jlProject(one, 2).as[(Long, Int, Long)].collect().sortBy(_._2)
    // i=0 micro=+1e6, i=1 micro=-5e5; signs: (i*31 + j*17) % 2 == 0 → +
    // j=0: +1e6 - (-5e5) = 1.5e6;  j=1: -1e6 + (-5e5) = -1.5e6
    assert(pj.toSeq == Seq((0L, 0, 1500000L), (0L, 1, -1500000L)), s"got ${pj.toSeq}")

    val base = Array.tabulate(8)(i => (if (i % 2 == 0) 0.5f else -0.25f))
    val far = base.map(x => -x)
    val emb = Seq((0L, base), (5L, base), (6L, far)).toDF("vec_id", "embedding")
    val top = Similarity.jlTopK(emb, 4, 5, 2)
      .orderBy("rk").as[(Long, Long, Long, Int)].collect()
    assert(top.head._2 == 5L && top.head._3 == 0L,
      s"identical vector must rank first at distance 0: ${top.toSeq}")
    assert(top(1)._2 == 6L && top(1)._3 > 0L, s"got ${top.toSeq}")
  }

  test("PCA power iteration: collinear data recovers the line, scores order along it") {
    import graft.llm.Similarity
    // every centered point lies on the (1,1) axis, so ONE matvec already
    // lands on the exact principal direction (1,1)/sqrt(2)
    val emb = Seq(
      0L -> Array(1.0f, 1.0f), 1L -> Array(2.0f, 2.0f),
      2L -> Array(-1.0f, -1.0f), 3L -> Array(3.0f, 3.0f))
      .toDF("vec_id", "embedding")
    val comp = Similarity.pcaPower(emb, 3).orderBy("dim")
      .as[(Int, Double)].collect()
    assert(comp.length == 2)
    assert(comp.forall(c => math.abs(c._2 - 0.707107) < 1e-4),
      s"component must be (1,1)/sqrt(2) with the v0=ones sign: ${comp.toSeq}")
    val scores = Similarity.pcaScores(emb, 3).as[(Long, Double)].collect().toMap
    // projections order the points along the line; mean removal centers them
    assert(scores(3L) > scores(1L) && scores(1L) > scores(0L) && scores(0L) > scores(2L),
      s"scores must order along the principal axis: $scores")
    assert(math.abs(scores.values.sum) < 1e-4,
      s"centered projections must sum to ~0: $scores")
  }

  test("k-center: farthest-first order on a hand-built line, radii non-increasing") {
    import graft.llm.Similarity
    // points on a line at 0, 1, 10, 4: seed=0, then farthest-first picks
    // 10 (d²=100), then 4 (min-dist to {0,10}: 16), then 1 (1)
    val emb = Seq(
      0L -> Array(0.0f), 1L -> Array(1.0f), 2L -> Array(10.0f), 3L -> Array(4.0f))
      .toDF("vec_id", "embedding")
    val out = Similarity.kCenter(emb, 4).orderBy("rank")
      .as[(Int, Long, Long)].collect()
    val t = 1000000L * 1000000L // micro² per unit²
    assert(out.toSeq == Seq((1, 0L, 0L), (2, 2L, 100L * t), (3, 3L, 16L * t),
      (4, 1L, 1L * t)), s"selection trajectory wrong: ${out.toSeq}")
    // coverage radius (dist at selection) never increases after round 2
    val radii = out.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"radii must be non-increasing: ${radii.toSeq}")
  }

  test("PMI: an exclusive pair outranks a frequent-word pair; hapax pairs are gated") {
    // "rare gem" co-occurs always and its words appear nowhere else —
    // maximal PMI; "the cat" words are frequent everywhere — low PMI
    val docs = docsDf(
      1L -> "rare gem the cat the dog", 2L -> "rare gem the cat the dog",
      3L -> "rare gem the cat the dog", 4L -> "rare gem the cat the dog",
      5L -> "rare gem the cat the dog", 6L -> "once only the dog the cat")
    val out = TextAnalysis.pmiTopK(docs, 5, 10)
      .orderBy("rk").as[(String, String, Long, Long, Int)].collect()
    assert(out.head._1 == "rare" && out.head._2 == "gem",
      s"exclusive collocation must rank first: ${out.toSeq}")
    assert(!out.exists(r => r._1 == "once"), s"hapax pair must be count-gated: ${out.toSeq}")
    assert(out.forall(_._3 >= 5), "minCount gate leaked")
  }

  test("hybrid RRF: a doc ranked well by both lists beats single-list docs; missing list contributes 0") {
    // doc 1 matches the keyword AND is the closest vector; doc 2 only
    // matches keywords; doc 3 is only vector-close; doc 0 is the query vec
    val docs = docsDf(
      0L -> "query stub", 1L -> "hit hit hit", 2L -> "hit hit hit hit", 3L -> "nothing here")
    val emb = Seq(
      0L -> Array(1.0f, 0.0f), 1L -> Array(0.9f, 0.1f),
      2L -> Array(-1.0f, 0.0f), 3L -> Array(0.8f, 0.2f))
      .toDF("vec_id", "embedding")
    val out = TextAnalysis.hybridSearch(docs, emb, Seq("hit"), 10)
      .orderBy("rk").as[(Long, java.lang.Integer, java.lang.Integer, Long, Int)].collect()
    assert(out.head._1 == 1L, s"dual-list doc must fuse to the top: ${out.toSeq}")
    val d3 = out.find(_._1 == 3L).get
    assert(d3._2 == null && d3._3 != null,
      s"keyword-less doc must carry a null bm rank and a real ann rank: $d3")
    // its fused score is exactly the single reciprocal term
    assert(d3._4 == math.round(1e6 / (60 + d3._3.toInt)), s"missing list must contribute 0: $d3")
  }

  test("fuzzy pairs: bound drops band-colliding far pairs; kept distances == unbounded levenshtein") {
    // 1~2: one-word edit inside a shared shingle bed (tiny distance).
    // 3~4: identical 8-word prefix (bands collide: J = 6/16 shingles shared
    // means some band of 2 minhashes likely agrees — asserted below via the
    // maxDist=1000 run), but the suffixes differ by ~60 chars of edits.
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = docsDf(
      1L -> (base + " iota kappa"),
      2L -> (base + " iotb kappa"),
      3L -> (base + " one two three four five six seven eight"),
      4L -> (base + " uno dos tres cuatro cinco seis siete ocho"),
      5L -> "entirely unrelated words in this document here")
    val wide = Dedup.fuzzyPairs(docs, 1000)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(wide.contains((1L, 2L)) && wide((1L, 2L)) == 1L, s"got $wide")
    assert(wide.contains((3L, 4L)) && wide((3L, 4L)) > 20L,
      s"3~4 must band-collide with a large distance, got $wide")
    // the bounded run keeps ONLY the close pair — the early-exit -1 path
    val tight = Dedup.fuzzyPairs(docs, 5)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(tight == Map((1L, 2L) -> 1L), s"got $tight")
    // kept distances agree with the unbounded two-arg levenshtein
    wide.foreach { case ((a, b), d) =>
      val Seq(ta, tb) = Seq(a, b).map(i =>
        docs.filter(col("doc_id") === i).select("text").as[String].head())
      val exact = spark.range(1)
        .select(levenshtein(lit(ta), lit(tb)).cast("long")).as[Long].head()
      assert(d == exact, s"pair ($a,$b): bounded $d != unbounded $exact")
    }
  }

  test("dedup eval: report invariants — found within truth, counts reconcile, planted dup found") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = docsDf(
      1L -> (base + " one two"), 2L -> (base + " one two"), // exact dup: must be found
      3L -> "totally different words in this one here now")
    val r = Dedup.dedupEval(docs, 0.4)
      .as[(Long, Long, Long, Long)].collect().head
    val (nTrue, nFound, nMissed, recall) = r
    assert(nTrue >= 1 && nFound >= 1, s"planted dup not counted: $r")
    assert(nMissed == nTrue - nFound, s"counts must reconcile: $r")
    assert(recall == nFound * 1000000L / nTrue, s"recall formula drifted: $r")
    assert(nFound <= nTrue, s"found must be within truth (precision 1): $r")
  }

  test("kmv overlap: exact below k; union sketch merges exactly; estimator within KMV error above k") {
    // two 'langs' with known sets: A = 30 tokens, B = 30, |A∩B| = 10 —
    // all below k=64, so every estimate is the exact cardinality
    val a = (1 to 30).map(i => s"tok$i").mkString(" ")
    val b = ((21 to 30) ++ (101 to 120)).map(i => s"tok$i").mkString(" ")
    val small = Seq((1L, a, "aa"), (2L, b, "bb")).toDF("doc_id", "text", "lang")
    val ex = Sketches.kmvOverlap(small)
      .as[(String, String, Long, Long, Long, Long)].collect().head
    assert(ex == (("aa", "bb", 30L, 30L, 50L, 10L)), s"exact path wrong: $ex")
    // estimator path: 600 distinct tokens per lang, 200 shared. The
    // inclusion-exclusion estimate compounds three KMV estimators
    // (σ ≈ est/√(k−2) each), so the band is wide; the sharp property is
    // MERGE EXACTNESS, asserted below
    val bigA = (1 to 600).map(i => s"w$i").mkString(" ")
    val bigB = (401 to 1000).map(i => s"w$i").mkString(" ")
    val big = Seq((1L, bigA, "aa"), (2L, bigB, "bb")).toDF("doc_id", "text", "lang")
    val est = Sketches.kmvOverlap(big)
      .as[(String, String, Long, Long, Long, Long)].collect().head
    assert(math.abs(est._6 - 200L) <= 250,
      s"overlap estimate out of band (true 200): $est")
    // merge exactness: the union sketch built from the two bottom-k sets
    // must equal the sketch of the union built from scratch — a third
    // 'lang' carrying A∪B verbatim measures the from-scratch side
    val withUnion = big.union(Seq(
      (3L, (1 to 1000).map(i => s"w$i").mkString(" "), "cc"))
      .toDF("doc_id", "text", "lang"))
    val fromScratch = Sketches.kmvDistinct(withUnion)
      .as[(String, Long, Long)].collect()
      .find(_._1 == "cc").get._3
    assert(est._5 == fromScratch,
      s"union sketch (${est._5}) must equal the from-scratch union sketch ($fromScratch)")
  }

  test("winnowing: a shared run of w+k-1 tokens guarantees a shared fingerprint; disjoint docs share none") {
    // window 4 over 3-gram shingles: guarantee threshold = 4+3-1 = 6 tokens
    val run = "s1 s2 s3 s4 s5 s6"
    val docs = docsDf(
      1L -> s"p1 p2 p3 $run a1 a2 a3",
      2L -> s"q1 q2 q3 $run b1 b2 b3",
      3L -> "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12")
    val pairs = Dedup.winnowPairs(docs, 4, 1)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 2L)), s"winnowing guarantee violated: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"disjoint doc must share nothing: $pairs")
    // the fingerprint set is a real compression of the shingle set
    val nFp = Dedup.winnowFingerprints(docs, 4).count()
    val nSh = Dedup.shingles(Dedup.tokenized(docs)).count()
    assert(nFp < nSh, s"fingerprints ($nFp) must undercut shingles ($nSh)")
  }

  test("cluster terms: each duplicate family's signature term ranks first; singletons excluded") {
    val docs = docsDf(
      1L -> "special special special alpha beta gamma delta epsilon zeta eta",
      2L -> "special special special alpha beta gamma delta epsilon zeta theta",
      3L -> "common common common one two three four five six seven",
      4L -> "common common common one two three four five six eight",
      5L -> "entirely unrelated words appear in this one document here now")
    val out = Dedup.clusterTerms(docs, 0.4, 3)
      .as[(Long, String, Long, Long, Double, Long)].collect()
    val byCluster = out.groupBy(_._1)
    assert(byCluster.keySet == Set(1L, 4L) || byCluster.keySet.size == 2,
      s"exactly the two multi-doc families report: ${out.toSeq}")
    // the family-signature term (tf 6, df 1 → score 6.0) tops each cluster
    val tops = byCluster.values.map(_.minBy(_._6)).map(r => r._2 -> r._5).toMap
    assert(tops == Map("special" -> 6.0, "common" -> 6.0), s"got ${out.toSeq}")
    assert(out.forall(_._6 <= 3), s"rank cap violated: ${out.toSeq}")
    assert(!out.exists(r => r._2 == "unrelated"),
      s"singleton terms must not appear: ${out.toSeq}")
  }

  test("zscore outliers: the off-bulk vector ranks first; k bounds the output") {
    // ten bulk vectors spread ±0.01 around 0.1 on both dims, one planted
    // far out on dim 0. The bulk must be LARGE relative to the outlier
    // count: in a tiny sample the outlier inflates its own dimension's
    // variance until its z² caps near n — the normalization working as
    // designed — so separation needs the bulk to dominate the moments.
    val bulk0 = (0 until 10).map(i => 0.090f + 0.002f * i)
    val bulk1 = bulk0.reverse // no bulk vector extreme on both dims at once
    val emb = (bulk0.zip(bulk1).zipWithIndex.map { case ((a, b), i) =>
      (i + 1).toLong -> Array(a, b)
    } :+ (11L -> Array(0.5f, 0.099f))).toDF("vec_id", "embedding")
    val out = Similarity.zscoreOutliers(emb, 3).as[(Long, Long)].collect()
    assert(out.length == 3, s"k must bound the output: ${out.toSeq}")
    assert(out.head._1 == 11L, s"the planted outlier must rank first: ${out.toSeq}")
    assert(out.head._2 > out(1)._2 * 2,
      s"outlier score must dominate the bulk: ${out.toSeq}")
  }

  test("triangle counts: a 3-clique scores one triangle per member, an open edge none") {
    // 1,2,3 pairwise near-identical (one word apart) → a 3-clique;
    // 4~5 an isolated edge; 6 unrelated (absent from the output)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota"
    val docs = docsDf(
      1L -> (base + " one"), 2L -> (base + " two"), 3L -> (base + " three"),
      4L -> "uno dos tres cuatro cinco seis siete ocho nueve diez",
      5L -> "uno dos tres cuatro cinco seis siete ocho nueve once",
      6L -> "entirely unrelated words in this document right here")
    val out = Dedup.triangleCounts(docs, 0.4)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out == Map(
      1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((2L, 1L)),
      4L -> ((1L, 0L)), 5L -> ((1L, 0L))), s"got $out")
  }

  test("bpe applyMerges loop == applyMerge fold on adversarial arrays (overlap, repeats, batch order)") {
    import graft.llm.BpeTrainer
    import org.apache.spark.sql.functions.{col, expr}
    // words chosen to stress the left-to-right non-overlap rule: "aaa"
    // (overlapping candidates), "abab" (alternation), merged-output
    // adjacency ("aab" after (a,a) holds [aa, b])
    val words = Seq(("aaa", 1L), ("abab", 2L), ("aab", 3L), ("ba", 4L), ("b", 5L))
      .toDF("word", "f")
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    val batch = Seq(("a", "a"), ("a", "b"))
    val viaLoop = BpeTrainer.applyMerges(words, batch)
      .select("word", "syms").as[(String, Seq[String])].collect().toMap
    val viaFold = batch.foldLeft(words) { case (w, (a, b)) =>
        w.withColumn("syms", BpeTrainer.applyMerge(col("syms"), a, b))
      }.select("word", "syms").as[(String, Seq[String])].collect().toMap
    assert(viaLoop == viaFold, s"loop/fold divergence: $viaLoop vs $viaFold")
    assert(viaLoop("aaa") == Seq("aa", "a") && viaLoop("abab") == Seq("ab", "ab"))
  }

  test("dedupScopedEval: scoped dominates global per source; both bounded by pool size; policy arms nest") {
    import graft.llm.Dedup
    import org.apache.spark.sql.functions.col
    val docs = Tables.table(spark, sf, "documents")
    val ev = Dedup.dedupScopedEval(docs, 0.4)
    // scoped-only dedup can never drop a doc global dedup keeps (same-source
    // pairs are a subset of all pairs), so survivors nest per source
    val bad = ev.filter(col("n_survive_scoped") < col("n_survive_global") ||
      col("n_survive_global") > col("n_docs") ||
      col("n_survive_scoped") > col("n_docs"))
    assert(bad.count() == 0L)
    // the contrast must actually exist on the fixture (near-dups are
    // overwhelmingly cross-source by construction)
    val t = ev.agg(org.apache.spark.sql.functions.sum("n_survive_scoped").as("s"),
      org.apache.spark.sql.functions.sum("n_survive_global").as("g")).head()
    assert(t.getLong(0) > t.getLong(1),
      "degenerate fixture: scoped and global dedup keep identical sets")
  }
}
