package graft.llm

import graft.{Tables, Util}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    O(|Q|·|C|) pairs; fine when |Q| is small (scoring fans out across
  *    partitions of the candidate side, a per-partition top-k heap +
  *    driver merge of k·partitions rows via TakeOrderedAndProject).
  *  - [[lshTopK]]: random-hyperplane LSH — the 100 TB path. One linear pass
  *    computes an 8-bit signature per vector (deterministic pseudo-random
  *    planes from an LCG, so the oracle reproduces them); the join touches
  *    only same-bucket pairs (expected |pairs| / 2^8 of brute force).
  *    At real scale: multiple independent tables to raise recall, and the
  *    bucket join hash-partitions on the signature — no broadcast needed.
  *
  * All dot products are accumulated in Double in array order on both
  * engines; displayed cosines are rounded to 6 dp and ranking uses the
  * rounded value with id tie-breaks, so cross-engine ULP noise cannot flip
  * the output.
  */
object Similarity {

  /** Normalized (id, v: array<double>, nrm) projection. The cast and the
    * [[graft.functions.DotProduct]] norm are both codegen'd — no interpreted
    * lambda in the kernel. */
  private[llm] def normed(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.vecNorm(col("v")))

  /** The rounded-cosine contract every scorer of the library shares:
    * `round(dot(a, b) / (na · nb), 6)` over the named vector and norm
    * columns. */
  private[llm] def roundedCosine(a: String, b: String, na: String, nb: String): Column =
    round(VectorFunctions.vecDot(col(a), col(b)) / (col(na) * col(nb)), 6)

  /** THE ranking contract, shared by every top-k surface (brute/LSH/IVF and
    * the multimodal embed query): scored cosine rounded to 6 dp, ranked by
    * (rounded cosine DESC, neighbor_id ASC) so cross-engine ULP noise can't
    * flip the output. `q` must carry (query_id, va, na); `c`
    * (neighbor_id, vb, nb); `joinKeys` restricts candidates (LSH bucket /
    * IVF cell), empty = full cross. */
  private[llm] def cosineTopK(q: DataFrame, c: DataFrame, k: Int,
                              joinKeys: Seq[String] = Nil): DataFrame =
    rankTopK(if (joinKeys.isEmpty) q.join(c) else q.join(c, joinKeys), k)

  /** [[cosineTopK]] with an arbitrary join predicate (e.g. the
    * label-exclusion condition of [[hardNegatives]]) — same contract. */
  private[llm] def cosineTopKOn(q: DataFrame, c: DataFrame, k: Int,
                                cond: org.apache.spark.sql.Column): DataFrame =
    rankTopK(q.join(c, cond), k)

  private def rankTopK(joined: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    joined
      .withColumn("cosine", roundedCosine("va", "vb", "na", "nb"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk"))
  }

  /** Embedding-space decontamination: flag every training vector whose
    * cosine against ANY held-out eval vector clears `threshold`, with its
    * best witness — the semantic sibling of
    * [[TextAnalysis.decontaminate]]'s n-gram overlap gate. N-gram checks
    * miss paraphrased leakage (reworded eval questions, translated
    * benchmarks); the embedding check is the standard second gate.
    *
    * Eval membership is `vec_id % evalMod == 0` — the same deterministic
    * holdout convention as the containment increment split. Output: one
    * row per contaminated train vector, `(vec_id, eval_id, cosine)` of its
    * strongest witness (rounded-cosine DESC, eval_id ASC — the
    * [[cosineTopK]] ranking contract).
    *
    * Scale shape: eval sets are small and FIXED-SIZE (benchmarks, not
    * corpora), so the eval side broadcasts and the scan is one linear
    * pass over the corpus — |eval| dot products per row, no shuffle
    * before the per-vector argmax (which keys on vec_id, the scan's
    * natural key, and the threshold filter runs BEFORE it, so only
    * contaminated rows reach the exchange). A benchmark suite too big to
    * broadcast would go through the stored IVF index
    * ([[ivfTopKAgainstIndex]]) instead — same answer, probe-sized work. */
  def embDecontaminate(emb: DataFrame, evalMod: Long, threshold: Double): DataFrame = {
    require(evalMod >= 2, s"embDecontaminate: evalMod must be >= 2, got $evalMod")
    val e = normed(emb)
    val ev = e.filter(col("vec_id") % evalMod === 0)
      .select(col("vec_id").as("eval_id"), col("v").as("vb"), col("nrm").as("nb"))
    val tr = e.filter(col("vec_id") % evalMod =!= 0)
      .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("eval_id").asc)
    tr.join(broadcast(ev))
      .withColumn("cosine", roundedCosine("va", "vb", "na", "nb"))
      .filter(col("cosine") >= threshold)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("eval_id"), col("cosine"))
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * (vec_id < nAnchors), the k nearest neighbors with a DIFFERENT label —
    * the "hardest negatives" a triplet/InfoNCE batch builder pairs with
    * each anchor. Same-label neighbors are excluded in the JOIN (before
    * scoring), so the rank is over true negatives only; ranking is the
    * [[cosineTopK]] contract (rounded cosine DESC, neighbor_id ASC).
    *
    * Scale shape: identical to [[bruteForceTopK]] — the anchor set is the
    * small side (a training batch, not the corpus) and broadcasts; per
    * corpus row the work is |anchors| dot products; the per-anchor top-k
    * window keys on the anchor id. The label filter PRUNES the scored set
    * before the exchange. The bucketed variants (LSH/IVF) compose the same
    * way when the anchor set grows — same join, bucket keys added. */
  def hardNegatives(emb: DataFrame, nAnchors: Int, k: Int): DataFrame = {
    val e = normed(emb).join(emb.select(col("vec_id"), col("label")), "vec_id")
    val q = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("query_id"), col("v").as("va"),
        col("nrm").as("na"), col("label").as("la"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"),
      col("nrm").as("nb"), col("label").as("lb"))
    cosineTopKOn(broadcast(q), c, k, col("la") =!= col("lb"))
  }

  /** Exact top-k cosine neighbors for each query vector (vec_id < nQueries)
    * among the rest of the corpus. */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = normed(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("na"))
    val c = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nb"))
    cosineTopK(q, c, k)
  }

  /** 8-plane random-hyperplane signature per vector. Plane weights come from
    * the same LCG on both engines: w(p,i) = lcg(p*64+i)/2^31 - 0.5. The
    * planes are materialized driver-side (8×64 doubles — constants by
    * construction) and broadcast, so the projection is one codegen'd
    * [[graft.functions.DotProduct]] per (vector, plane) instead of an
    * interpreted index-lambda. */
  def lshBuckets(emb: DataFrame): DataFrame = lshBucketsFamily(emb, 0)

  /** [[lshBuckets]] for plane family `family`: weights come from the same
    * LCG stream at offset family*512, so family 0 is bit-for-bit the
    * original table and each further family is an independent draw —
    * the multi-table recall knob. */
  def lshBucketsFamily(emb: DataFrame, family: Int): DataFrame =
    bucketsFromNormed(normed(emb), family)

  private[llm] def bucketsFromNormed(e: DataFrame, family: Int): DataFrame = {
    val session = e.sparkSession
    import session.implicits._
    // planes are built at the full 64-dim seed width and sliced per row to
    // the vector's actual dimension (the LCG indexes weights as p*64+i, so
    // the slice is the same weight stream bit-for-bit — no driver-side
    // head() round trip to discover the corpus dim). A silent width
    // mismatch would make vec_dot return NULL and the CASE below fold
    // every vector into bucket 0 — the N² degeneration must be impossible,
    // not quiet: an over-64-dim vector raises per row instead.
    val planes = (0 until 8).map { p =>
      (p.toLong, (0 until 64).map { i =>
        ((1103515245L * (family * 512 + p * 64 + i) + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5
      }.toArray)
    }.toDF("p", "w")
    e.crossJoin(broadcast(planes))
      .withColumn("proj",
        when(size(col("v")) <= 64,
          VectorFunctions.vecDot(col("v"), slice(col("w"), lit(1), size(col("v")))))
        .otherwise(raise_error(concat(
          lit("lshBuckets: the LCG hyperplane family is seeded for <= 64 dims, embeddings are "),
          size(col("v")).cast("string"), lit("-dim"))).cast("double")))
      .groupBy(col("vec_id"), col("v"), col("nrm"))
      .agg(sum(expr("CASE WHEN proj >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END")).as("bucket"))
  }

  /** ANN top-k: exact rescoring restricted to same-LSH-bucket candidates. */
  def lshTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val b = lshBuckets(emb)
    val q = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("na"), col("bucket"))
    val c = b.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nb"), col("bucket"))
    cosineTopK(q, c, k, Seq("bucket"))
  }

  /** Multi-table LSH ANN: candidates are the UNION of same-bucket pairs
    * across `nFamilies` independent hyperplane families, deduplicated
    * before rescoring — the standard recall knob (a pair missed by one
    * 8-bit signature has an independent chance in each further table;
    * recall → 1 exponentially in the table count while join work grows
    * only linearly). Candidate mining stays an equi-join per family on
    * (family, bucket); the distinct pair set then joins the normed sides
    * by id, so each surviving pair is rescored exactly once.
    *
    * The (query vector × candidate pair) side is BROADCAST into the
    * rescoring join by default: it is bounded by the collision count, so
    * the corpus-vector side streams in place and is never shuffled by
    * neighbor_id. The collision count is corpus-dependent, though — on a
    * dense near-dup corpus (the ×10 synthetic yields ~60M simhash pairs)
    * it can blow past driver/broadcast limits, so
    * `broadcastCandidates = false` falls back to a shuffled equi-join on
    * neighbor_id (the tfidfTopK escape-hatch pattern). The normed
    * projection is recomputed per consumer rather than checkpointed —
    * linear codegen'd scans are cheaper at corpus scale than pinning
    * corpus-sized vector blocks in executor storage. */
  def lshTopKMulti(emb: DataFrame, nQueries: Int, k: Int,
                   nFamilies: Int = 2,
                   broadcastCandidates: Boolean = true): DataFrame = {
    val e = normed(emb)
    val fams = (0 until nFamilies).map { f =>
      bucketsFromNormed(e, f)
        .select(col("vec_id"), col("bucket"), lit(f).as("fam"))
    }.reduce(_.unionByName(_))
    val cand = fams.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("fam"), col("bucket"))
      .join(fams.filter(col("vec_id") >= nQueries)
        .select(col("vec_id").as("neighbor_id"), col("fam"), col("bucket")),
        Seq("fam", "bucket"))
      .select("query_id", "neighbor_id").distinct()
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("na"))
      .join(cand, "query_id")
    val c = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nb"))
    cosineTopK(if (broadcastCandidates) broadcast(q) else q, c, k, Seq("neighbor_id"))
  }

  /** Multi-probe LSH ANN — the recall knob that reuses ONE signature pass:
    * each query probes its own bucket plus the `probeBits` buckets at
    * Hamming distance 1 (flip one signature bit), because a near neighbor
    * that missed the exact bucket most likely sits one flipped hyperplane
    * away. Compare [[lshTopKMulti]]: extra families multiply the
    * *signature* cost (another 8-plane projection over the whole corpus
    * per family); multiprobe multiplies only the probe fan-out on the
    * query side — the corpus is scanned and bucketed exactly once, and the
    * join stays an equi-join on the probed bucket value. A neighbor's
    * single bucket can match at most one of a query's distinct probes, so
    * each candidate pair is scored exactly once without a distinct. */
  def lshTopKMultiprobe(emb: DataFrame, nQueries: Int, k: Int,
                        probeBits: Int = 8): DataFrame = {
    require(probeBits >= 0 && probeBits <= 8,
      s"lshTopKMultiprobe: signatures have 8 bits, got probeBits=$probeBits")
    val b = lshBuckets(emb)
    val probes = col("bucket") +:
      (0 until probeBits).map(z => expr(s"bucket ^ ${1L << z}"))
    val q = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("va"),
        col("nrm").as("na"), explode(array(probes: _*)).as("bucket"))
    val c = b.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("v").as("vb"),
        col("nrm").as("nb"), col("bucket"))
    cosineTopK(q, c, k, Seq("bucket"))
  }

  /** ANN recall evaluation: recall@k of the bucketed retrieval paths
    * against the exact [[bruteForceTopK]] ground truth, per query — the
    * metric that decides whether an index's probe budget is adequate
    * before it ships. One row per (method, query): truth size, hit count
    * (|approx ∩ truth|), and exact-BIGINT `recall_ppm`. Methods: `lsh`
    * (single 8-bit table) and `multiprobe` (same table + 8 flip-one-bit
    * probes) — the pair exposes the recall ladder a probe-budget choice
    * walks. A query whose approximate result is empty (no bucket
    * collision) still reports, with n_hit = 0 (LEFT join from truth).
    *
    * Scale shape: ground truth is deliberately exact — O(|queries|·N)
    * dot products — so `nQueries` IS the cost knob; the production form
    * evaluates a sampled query set against the full corpus exactly as
    * here (the [[graft.llm.Dedup.dedupEval]] sampling convention). The
    * approx sides are the production operators themselves, unmodified;
    * hit-matching joins on (query_id, neighbor_id) — top-k-sized, tiny. */
  def annRecallEval(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    // localCheckpoint: the truth table joins into all three method arms,
    // which union into ONE action — without it the brute-force all-pairs
    // plan evaluates three times per run (guide §1.2: don't recompute).
    // Bounded: nQueries × k rows by construction.
    val truth = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(eager = true)
    def recallOf(method: String, approx: DataFrame): DataFrame =
      truth
        .join(approx.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hit"))
        .select(lit(method).as("method"), col("query_id"), col("n_truth"),
          col("n_hit"),
          expr("(n_hit * CAST(1000000 AS BIGINT)) div n_truth").as("recall_ppm"))
    recallOf("lsh", lshTopK(emb, nQueries, k))
      .unionByName(recallOf("multiprobe", lshTopKMultiprobe(emb, nQueries, k)))
      // the quantized-family production path: PQ-ADC candidates + exact
      // re-rank — recall here is oracle-CHECKED, not just probe-measured
      .unionByName(recallOf("pq_refine", pqRefineTopK(emb, nQueries, k)))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the LASER /
    * CCMatrix criterion): align two corpus halves by scoring each
    * cross-half pair with its cosine RELATIVE to the two endpoints' k-NN
    * neighborhoods, `margin(x,y) = cos(x,y) / ((avgNNₖ(x) + avgNNₖ(y))/2)`,
    * and keeping mutual-best pairs above a margin threshold. Raw-cosine
    * thresholds fail at mining because hub vectors are close to
    * everything; the margin denominator cancels hubness out — a pair only
    * survives if the two vectors are close to each other *specifically*.
    *
    * Sides are the even/odd `vec_id` halves (the [[embDriftRef]] split
    * convention — deterministic, fixture-independent). Determinism: the
    * cosine snaps ONCE to integer micros (`round(cos·10⁶)` BIGINT) and
    * everything downstream — ranking, k-NN sums, the margin ratio — is
    * exact integer arithmetic; `margin_ppm = 2·c·10⁶·k div (Σₖᴬ + Σₖᴮ)`,
    * so no double ever crosses the engine boundary after the snap. For a
    * mutual-best pair the margin is ≥ 1.0 by construction (its cosine is
    * the max of both top-k sets), so `minPpm` > 10⁶ is where the knob
    * starts discriminating.
    *
    * Plan shape: ONE linear pipeline — score candidates, then two window
    * passes (rank + conditional k-NN sum share each partitioning, so
    * Spark sorts once per side: exactly 2 exchanges over the candidate
    * set, no self-join back for the sums, no multi-consumer re-compute.
    *
    * Scale (100 TB): `candidates` is the knob. [[bitextMine]] passes the
    * full bipartite cross — exact, |A|·|B|, the correctness baseline
    * (and the right call when one side is small: a query batch against a
    * corpus). [[bitextMineLsh]] passes only coarse-LSH-cell-sharing pairs
    * (16 cells from the low 4 hyperplanes — the coarse-quantizer framing),
    * which is the production shape: candidate volume drops to
    * Σ_cell |A_cell|·|B_cell|, the join hash-partitions on the cell, and
    * the margin denominators are computed over the SAME candidate set, so
    * the approximation stays internally consistent (bucketed k-NN is what
    * FAISS-sharded mining pipelines use too). Recall recovers via more
    * probe cells / plane families exactly like [[lshTopKMulti]]. */
  private def marginMine(candidates: DataFrame, k: Int, minPpm: Long): DataFrame = {
    require(k >= 1, s"bitext margin needs k >= 1, got $k")
    val scored = candidates.withColumn("cos_micro",
      expr("CAST(round(cos_raw * 1000000) AS BIGINT)")).drop("cos_raw")
    val byA = Window.partitionBy("src_id")
    val byB = Window.partitionBy("tgt_id")
    val ranked = scored
      .withColumn("rka", row_number().over(
        byA.orderBy(col("cos_micro").desc, col("tgt_id").asc)))
      .withColumn("sa", sum(when(col("rka") <= k, col("cos_micro"))).over(byA))
      .withColumn("rkb", row_number().over(
        byB.orderBy(col("cos_micro").desc, col("src_id").asc)))
      .withColumn("sb", sum(when(col("rkb") <= k, col("cos_micro"))).over(byB))
    // mutual best only; positive score and positive neighborhood mass (a
    // non-positive denominator means the halves share no alignment signal
    // at all — nothing there can clear a >1.0 margin gate meaningfully)
    ranked
      .filter(col("rka") === 1 && col("rkb") === 1 &&
        col("cos_micro") > 0 && col("sa") + col("sb") > 0)
      .withColumn("margin_ppm",
        expr(s"(2 * cos_micro * 1000000 * $k) div (sa + sb)"))
      .filter(col("margin_ppm") >= minPpm)
      .select(col("src_id"), col("tgt_id"), col("cos_micro"), col("margin_ppm"))
  }

  /** Even/odd halves of the normalized corpus, as (src|tgt)-labeled sides. */
  private def bitextSides(emb: DataFrame): (DataFrame, DataFrame) = {
    val n = normed(emb)
    (n.filter(col("vec_id") % 2 === 0)
       .select(col("vec_id").as("src_id"), col("v").as("va"), col("nrm").as("na")),
     n.filter(col("vec_id") % 2 === 1)
       .select(col("vec_id").as("tgt_id"), col("v").as("vb"), col("nrm").as("nb")))
  }

  private val cosRaw = (VectorFunctions.vecDot(col("va"), col("vb")) /
    (col("na") * col("nb"))).as("cos_raw")

  /** Exact bitext mining: full bipartite candidate cross. */
  def bitextMine(emb: DataFrame, k: Int, minPpm: Long): DataFrame = {
    val (a, b) = bitextSides(emb)
    marginMine(a.join(b).select(col("src_id"), col("tgt_id"), cosRaw), k, minPpm)
  }

  /** Bucketed bitext mining: candidates restricted to pairs sharing a
    * coarse LSH cell (low `coarsePlanes` hyperplanes of the family-0
    * table), margins computed over the same bucketed candidate set.
    *
    * SIZE THE QUANTIZER TO THE CORPUS: candidate volume is O(|A|·|B| /
    * cells) for balanced cells, so a cell count chosen at one corpus size
    * is quadratically wrong at another — IVF's nlist ∝ √N rule applies
    * verbatim (measured: 16 cells = 7.7M candidates at the ×10 stress but
    * ~770M at ×100, which is a window-sort heap death; 256 cells restores
    * it). The 8-plane cap is this fixture family's bucket-table width —
    * a production build sizes the plane family to ~log2(√(|A|·|B|)). */
  def bitextMineLsh(emb: DataFrame, k: Int, minPpm: Long,
                    coarsePlanes: Int = 4): DataFrame = {
    require(coarsePlanes >= 1 && coarsePlanes <= 8,
      s"coarsePlanes must be in [1,8], got $coarsePlanes")
    val cells = 1L << coarsePlanes
    val bk = lshBuckets(emb).withColumn("cell", pmod(col("bucket"), lit(cells)))
    val a = bk.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("src_id"), col("v").as("va"), col("nrm").as("na"), col("cell"))
    val b = bk.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("tgt_id"), col("v").as("vb"), col("nrm").as("nb"), col("cell"))
    marginMine(a.join(b, Seq("cell")).select(col("src_id"), col("tgt_id"), cosRaw),
      k, minPpm)
  }

  /** Embedding-space drift monitor: chi² of each label group's LSH-cell
    * occupancy distribution (the 256 8-plane buckets) against the
    * even-vec_id reference half — [[graft.llm.TextAnalysis.driftVsReference]]
    * applied to the embedding modality. The standing question it answers:
    * "has this slice's embedding geometry shifted enough that the IVF/LSH
    * index needs re-training?" — cell-occupancy drift is exactly the
    * signal that degrades bucketed-probe recall. Buckets come from the
    * LCG hyperplane table, so the oracle mirrors them bit-for-bit (the
    * ann_lsh convention); smoothing, closed-form unobserved mass and
    * micro-snapping are the shared drift core. */
  def embDriftRef(emb: DataFrame): DataFrame = {
    val b = lshBuckets(emb).select(col("vec_id"), col("bucket"))
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    val ref = b.filter(col("vec_id") % 2 === 0)
      .groupBy("bucket").agg(count(lit(1)).as("ref_n"))
    graft.llm.TextAnalysis.driftVsReference(
      b.filter(col("vec_id") % 2 === 1)
        .select(concat(lit("label_"), col("label")).as("source"), col("bucket")),
      ref, 256)
      .select(col("source").as("grp"), col("n_s"), col("n_hit"), col("chi2_micro"))
  }

  /** Lloyd's-refined IVF centroids, `iters` k-means steps from the
    * deterministic sample seed. Each step is the linear IVF assignment pass
    * itself (broadcast centroid table + codegen'd dot + max(struct) argmax
    * — no window over the corpus) followed by one map-side-combining
    * per-(cell, dim) mean in EXACT integer micro-units (the
    * [[labelCentroids]] machinery: order-independent integer sums, so both
    * engines land on identical centroids regardless of partial-agg order).
    * Emptied cells drop out; surviving centroids keep their seed id.
    * Per-step cost at 100 TB: one corpus scan + a #cells×dim-sized shuffle
    * — the standard distributed Lloyd's shape, bounded by `iters`. */
  private[graft] def kmeansCentroids(e: DataFrame, centroidMod: Int,
                                     iters: Int): DataFrame = {
    var cent = e.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    for (_ <- 0 until iters) {
      val assigned = e.crossJoin(broadcast(cent))
        .withColumn("csim", roundedCosine("v", "cv", "nrm", "cnrm"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("csim"), (-col("cid")).as("ncid"), col("v"))).as("w"))
        .select((-col("w.ncid")).as("cid"), col("w.v").as("v"))
      // whole-vector mean via the native array-sum aggregate: |assigned|
      // rows through the agg instead of |assigned|·dim, and no
      // collect_list/array_sort re-assembly; identical integer micro sums
      // ⇒ identical centroids (the unrolled SQL oracle still matches)
      cent = assigned
        .select(col("cid"),
          expr("transform(v, x -> CAST(round(x * 1000000) AS BIGINT))").as("vm"))
        .groupBy(col("cid"))
        .agg(graft.functions.VectorSumAgg.vecSumLong(col("vm")).as("sm"),
          count(lit(1)).as("n"))
        .select(col("cid"), expr(
          "transform(sm, s -> round(CAST(s AS DOUBLE) / n / 1000000.0, 6))").as("cv"))
        .withColumn("cnrm", VectorFunctions.vecNorm(col("cv")))
        // tiny table (#cells × dim); materialize so the next step's
        // broadcast doesn't re-run the whole previous assignment lineage
        .localCheckpoint(true)
    }
    cent
  }

  /** [[ivfTopK]] with k-means-refined centroids: `iters` Lloyd's steps
    * tighten the cells around the data's actual clusters, which lifts
    * recall at the SAME nprobe/join work — the knob that improves the
    * index instead of widening the probe. */
  def ivfKmeansTopK(emb: DataFrame, nQueries: Int, k: Int,
                    centroidMod: Int = 37, nprobe: Int = 2,
                    iters: Int = 2): DataFrame = {
    val e = normed(emb).localCheckpoint(true) // feeds training + both sides
    ivfFrom(e, kmeansCentroids(e, centroidMod, iters), nQueries, k, nprobe)
  }

  /** Corpus-sized IVF parameters — `(nlist, centroidMod, nprobe)` derived
    * from the corpus size `n` and a recall target, replacing hand-picked
    * knobs with the rule a production index would ship:
    *
    *  - `nlist = max(4, round(√n))` — the FAISS nlist ∝ √N sizing (the r9
    *    bitext-quantizer lesson, [[bitextMineLsh]]): cells grow with the
    *    corpus so per-cell population stays √N-ish and neither the
    *    centroid broadcast nor the largest cell becomes quadratic.
    *  - `centroidMod = max(1, round(n / nlist))` — the deterministic
    *    mod-sample seed stride that yields ≈nlist seeds.
    *  - `nprobe = max(1, ceil(nlist · min(1, 1.15 · target⁴)))` — the scan
    *    fraction calibrated on the WORST case, an unstructured corpus
    *    (this fixture's embeddings have no cluster structure: measured
    *    within-label mean cosine ≈ cross-label ≈ 0), where the measured
    *    recall-vs-scan frontier fits recall ≈ scan^(1/4); real-world
    *    clustered embeddings reach the target at a smaller scan, so the
    *    rule errs safe. Measured here (RECALL_LOCAL.json `ivf_sized_*`):
    *    target 0.8 → recall@10 = 0.85 at scan 0.48 on sf0.1.
    *
    * The scan fraction is snapped to integer ppm BEFORE the ceil so the
    * JVM and DuckDB land on the same nprobe regardless of libm pow ulps. */
  def ivfSizedParams(n: Long, targetRecall: Double): (Int, Int, Int) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0,1], got $targetRecall")
    val nlist = math.max(4L, math.round(math.sqrt(n.toDouble)))
    val cmod = math.max(1L, math.round(n.toDouble / nlist))
    val scanPpm = math.min(1000000L,
      math.round(1.15 * math.pow(targetRecall, 4) * 1000000))
    val nprobe = math.max(1L, (nlist * scanPpm + 999999L) / 1000000L)
    (nlist.toInt, cmod.toInt, nprobe.toInt)
  }

  /** The production-default ANN path: [[ivfKmeansTopK]] with EVERY knob
    * derived from the corpus by [[ivfSizedParams]] — the caller states a
    * recall target, not index internals. One extra corpus count() at
    * index-build time buys the sizing; at 100 TB that count rides the
    * parquet footer statistics. Gated by [[annRecallEval]] /
    * `graft.Tools recall`: the sized defaults must measure ≥ the stated target
    * on the fixture before they ship. */
  def ivfSizedTopK(emb: DataFrame, nQueries: Int, k: Int,
                   targetRecall: Double = 0.8, iters: Int = 2): DataFrame = {
    val (_, cmod, nprobe) = ivfSizedParams(emb.count(), targetRecall)
    val e = normed(emb).localCheckpoint(true)
    ivfFrom(e, kmeansCentroids(e, cmod, iters), nQueries, k, nprobe)
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus into cells by
    * nearest centroid, probe only the query's `nprobe` best cells, rescore
    * exactly inside them.
    *
    * Centroids are a deterministic corpus sample (`vec_id % centroidMod`) —
    * [[ivfKmeansTopK]] refines them with Lloyd's steps; the *index shape*
    * is the same either way: a linear assignment pass against a broadcast
    * centroid table (the codegen'd dot kernel), then a hash-partitioned
    * cell join. Expected join work is |corpus| × nprobe / #cells of brute
    * force. Complements [[lshTopK]]: IVF gives tunable recall via nprobe,
    * LSH gives constant-time signatures; both avoid the N² cross.
    */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int,
              centroidMod: Int = 37, nprobe: Int = 2): DataFrame = {
    val e = normed(emb)
    val cent = e.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    ivfFrom(e, cent, nQueries, k, nprobe)
  }

  private def centroidScored(side: DataFrame, cent: DataFrame) =
    side.crossJoin(broadcast(cent))
      .withColumn("csim", roundedCosine("v", "cv", "nrm", "cnrm"))

  /** Corpus-side cell assignment: an aggregation argmax, not a window —
    * max(struct(csim, -cid)) == argmax by (csim DESC, cid ASC); -cid is
    * unique so comparison never reaches the payload fields, and the plan
    * avoids sorting the corpus×centroid cross by the whole chain (same
    * lesson as CdrPipeline.dedupLatestAgg / SCALE.md "argmax at scale"). */
  private[graft] def assignToCells(side: DataFrame, cent: DataFrame): DataFrame =
    centroidScored(side, cent)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cid")).as("ncid"),
        col("v"), col("nrm"))).as("w"))
      .select(col("vec_id").as("neighbor_id"), col("w.v").as("vb"),
        col("w.nrm").as("nb"), (-col("w.ncid")).as("cid"))

  /** Query-side probe list: top-nprobe cells per query (a window — the
    * query side is small by nature). */
  private def probesOf(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val cw = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid").asc)
    centroidScored(q, cent)
      .withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("va"),
        col("nrm").as("na"), col("cid"))
  }

  /** Shared IVF probe/assign/rescore given a centroid table. */
  private def ivfFrom(e: DataFrame, cent: DataFrame, nQueries: Int, k: Int,
                      nprobe: Int): DataFrame =
    cosineTopK(
      probesOf(e.filter(col("vec_id") < nQueries), cent, nprobe),
      assignToCells(e.filter(col("vec_id") >= nQueries), cent),
      k, Seq("cid"))

  /** Diagnostic for `graft.Tools recall`'s cost/recall frontier: the
    * number of (query, candidate) pairs the IVF probe join actually scores
    * at the given knobs — the measured probe cost the recall is bought at
    * (scan fraction = this / (nQueries × corpus)). */
  private[graft] def ivfCandidateCount(emb: DataFrame, nQueries: Int,
                                       centroidMod: Int, nprobe: Int,
                                       iters: Int): Long = {
    val e = normed(emb).localCheckpoint(true)
    val cent = kmeansCentroids(e, centroidMod, iters)
    probesOf(e.filter(col("vec_id") < nQueries), cent, nprobe)
      .join(assignToCells(e.filter(col("vec_id") >= nQueries), cent), Seq("cid"))
      .count()
  }

  /** Materialize the reusable IVF index — the [[graft.llm.Dedup.writeNearDupIndex]]
    * pattern for the ANN path: k-means-refined centroids and the corpus's
    * cell assignment, both parquet. The corpus is scanned once at
    * index-build time (`iters` + 1 linear passes); afterwards EVERY query
    * batch costs a broadcast probe against the tiny centroid table plus one
    * cell equi-join against the stored cells — the corpus is READ, never
    * re-assigned, which is what makes ANN affordable against a 100 TB
    * corpus that queries arrive against continuously. */
  def writeIvfIndex(corpus: DataFrame, path: String,
                    centroidMod: Int = 37, iters: Int = 2): Unit = {
    // a (re)build invalidates any stored measured-recall row: the row was
    // measured against the OLD centroids/cells, and an in-place rebuild
    // back to the same row count would otherwise keep satisfying the
    // gate's at-size check forever (review-caught)
    dropRecallRow(corpus.sparkSession, path)
    val e = normed(corpus).localCheckpoint(true)
    val cent = kmeansCentroids(e, centroidMod, iters)
    // fail the BUILD, not the first query: a corpus whose vec_ids never
    // hit the seed stride (ids not ~uniform mod centroidMod) would
    // otherwise write an index with zero cells silently
    require(!cent.isEmpty,
      s"empty centroid table: no corpus vec_id % $centroidMod == 0 — " +
        "re-key vec_id or pass a different centroidMod")
    cent.write.mode("overwrite").parquet(s"$path/centroids")
    // per-vector parts (cells / codes / vectors) follow the
    // ArtifactCompaction ingest_batch protocol; every query path projects
    // its columns explicitly, so the partition column never reaches an
    // output
    ArtifactCompaction.writeBatch(assignToCells(e, cent), s"$path/cells",
      batch = 0L, dynamic = false)
  }

  /** [[writeIvfIndex]] with [[ivfSizedParams]] defaults: the index is
    * built at the corpus-derived nlist and the derived nprobe is stored
    * WITH the index (a one-row `params` parquet), so query batches probe
    * at the recall the index was sized for without the caller re-deriving
    * knobs — the index artifact carries its own contract. `build_n` (the
    * corpus size the centroids were trained on) rides along for the
    * [[ivfIndexNeedsRebuild]] drift trigger. */
  def writeIvfIndexSized(corpus: DataFrame, path: String,
                         targetRecall: Double = 0.8, iters: Int = 2): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = corpus.count()
    val (nlist, cmod, nprobe) = ivfSizedParams(n, targetRecall)
    writeIvfIndex(corpus, path, cmod, iters)
    Seq((nlist, cmod, nprobe, targetRecall, n))
      .toDF("nlist", "centroid_mod", "nprobe", "target_recall", "build_n")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Fold a vector increment into a stored sized IVF index at INCREMENT
    * cost: the new vectors are assigned against the STORED centroids (the
    * [[semDedupAgainstIndex]] shape — one broadcast probe + argmax per new
    * vector; the indexed corpus is never read, never re-clustered) and
    * land as one `ingest_batch` partition of the cells part via dynamic
    * partition overwrite — the replay-idempotent write. This is what makes
    * a daily-growing corpus's ANN index maintainable at 100 TB: the
    * alternative re-trains centroids and re-assigns every stored vector
    * per increment.
    *
    * Correctness law (spec-asserted bit-identical): cell assignment is
    * per-vector against a fixed centroid table, so append(B) after
    * build(A) holds exactly the rows assign-against-the-same-centroids
    * would produce over A ∪ B. Centroids DRIFT as the corpus grows — the
    * index stores `build_n` and [[ivfIndexNeedsRebuild]] trips once the
    * indexed total exceeds `rebuildFactor ×` it (then rebuild re-trains
    * Lloyd's over everything, the one full-corpus pass the append path
    * amortizes away). */
  def appendIvfIndex(newVecs: DataFrame, path: String): Unit =
    appendIvfIndex(newVecs, path,
      ArtifactCompaction.nextBatch(newVecs.sparkSession, s"$path/cells", 0L))

  def appendIvfIndex(newVecs: DataFrame, path: String, ingestBatch: Long): Unit = {
    val cent = newVecs.sparkSession.read.parquet(s"$path/centroids")
    ArtifactCompaction.writeBatch(assignAgainst(newVecs, cent), s"$path/cells",
      ingestBatch, dynamic = true)
  }

  /** Compact the appendable IVF index's cells part — merge every
    * `ingest_batch <= upTo` partition into one right-sized partition (the
    * [[ArtifactCompaction]] offline contract; batches > upTo keep replay
    * semantics). Queries are bit-identical before/after by construction:
    * every read path projects its columns, ingest_batch never reaches an
    * output (spec-pinned, including an append landing after). */
  def compactIvfIndex(spark: SparkSession, path: String): Unit =
    compactIvfIndex(spark, path,
      ArtifactCompaction.defaultWatermark(spark, s"$path/cells"))

  def compactIvfIndex(spark: SparkSession, path: String, upTo: Long): Unit = {
    ArtifactCompaction.compactPart(spark, s"$path/cells", upTo)
    ()
  }

  /** Cell assignment of raw (vec_id, embedding) rows against a fixed
    * centroid table — the per-vector operation [[appendIvfIndex]] appends
    * and the append≡rebuild spec recomputes over the union. */
  private[graft] def assignAgainst(vecs: DataFrame, cent: DataFrame): DataFrame =
    assignToCells(normed(vecs), cent)

  /** Residual-PQ codes of raw vectors against fixed centroid + codebook
    * tables — [[appendIvfPqIndex]]'s per-vector operation, exposed for the
    * append≡rebuild spec. */
  private[graft] def pqCodesAgainst(vecs: DataFrame, cent: DataFrame,
                                    cbr: DataFrame): DataFrame =
    encodeResiduals(residualSubs(normed(vecs), cent), cbr)

  /** Default drift-trigger factors, RE-DERIVED in r12 from MEASURED
    * appended-index recall instead of the r11 rule-of-thumb 2.0: a sized
    * index built at N/2 and appended to N (exactly 2× build_n) served
    * recall@10 0.780 (IVF) / 0.744 (IVF-PQ) at the stored 0.8-target
    * contract, vs 0.844 / 0.818 rebuilt at N (RECALL_LOCAL
    * `*_appended_2x` / `*_rebuilt_at_2x`) — i.e. by 2× growth both
    * indexes have already fallen BELOW the target they were sized for.
    * Linear interpolation between contract recall at build (g=1) and the
    * measured recall at g=2 puts the target crossing at g≈1.69 (IVF) and
    * g≈1.24 (IVF-PQ — residual codes quantize against stale centroids,
    * so PQ drifts faster); the defaults snap just under those crossings.
    * The old 2.0 let a maintained index silently serve under-target
    * recall for the last third of its growth window. */
  val IvfRebuildFactor = 1.6
  val IvfPqRebuildFactor = 1.2

  /** Centroid-drift rebuild trigger: true once the indexed corpus has
    * outgrown the centroids it was clustered under (`rebuildFactor ×` the
    * stored build size — default [[IvfRebuildFactor]], measured r12).
    * Appends keep the index CORRECT at any growth (assignment is exact
    * against the stored centroids) but cell balance and probe recall
    * degrade as the data distribution outruns the frozen cell structure —
    * the standard IVF maintenance rule. The count rides parquet footer
    * statistics, not a scan. */
  def ivfIndexNeedsRebuild(spark: SparkSession, path: String,
                           rebuildFactor: Double = IvfRebuildFactor): Boolean =
    indexNeedsRebuild(spark, path, "cells", rebuildFactor)

  private def indexNeedsRebuild(spark: SparkSession, path: String,
                                part: String, rebuildFactor: Double): Boolean = {
    val prm = spark.read.parquet(s"$path/params")
      .select(col("build_n").cast("long"), col("target_recall")).head()
    val (buildN, target) = (prm.getLong(0), prm.getDouble(1))
    val n = spark.read.parquet(s"$path/$part").count()
    // measured gate first: a recall row recorded AT the current size is
    // direct evidence — an index measured under target needs a rebuild no
    // matter what the growth ratio says, and one measured AT target holds
    // off the ratio heuristic (the ratio is an extrapolation; the
    // measurement is the thing it extrapolates). A stale measurement
    // (recorded at a smaller size) falls back to the growth gate.
    measuredRecall(spark, path) match {
      case Some((r, atN)) if atN == n => r < target
      case _ => n > rebuildFactor * buildN
    }
  }

  /** Persist a MEASURED recall-at-stored-contract row with the index —
    * what `graft.Tools recall` writes after measuring a stored index, so
    * [[ivfIndexNeedsRebuild]]/[[ivfPqIndexNeedsRebuild]] can gate on
    * measured drift instead of only the growth-ratio extrapolation.
    * `measuredAtN` is the per-vector part's row count at measurement time
    * (the probe's own count); the gate treats the row as evidence only
    * while the index is still that size. */
  def recordMeasuredRecall(spark: SparkSession, path: String,
                           recall: Double, measuredAtN: Long): Unit = {
    import spark.implicits._
    Seq((recall, measuredAtN)).toDF("measured_recall", "measured_at_n")
      .write.mode("overwrite").parquet(s"$path/recall")
  }

  /** The stored measured-recall row, if any probe ever wrote one. A
    * missing part AND a present-but-rowless part (a torn overwrite) both
    * degrade to None — the gate must fall back to the growth heuristic,
    * never crash a maintainer's poll loop (review-caught). */
  def measuredRecall(spark: SparkSession,
                     path: String): Option[(Double, Long)] =
    // columns selected BY NAME: reading by ordinal would silently depend
    // on the parquet file's column order, and a writer-side reorder of
    // recordMeasuredRecall's toDF would swap recall and size — corrupting
    // the rebuild gate with no error (advisor r13); indexNeedsRebuild's
    // params read follows the same discipline
    ArtifactCompaction.readOptional(spark, s"$path/recall").flatMap(
      _.select(col("measured_recall").cast("double"),
        col("measured_at_n").cast("long"))
        .limit(1).collect()
        .headOption.map(r => (r.getDouble(0), r.getLong(1))))

  /** Delete a stored recall row — every index (re)build starts here. */
  private def dropRecallRow(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/recall")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) require(fs.delete(p, true),
      s"stale recall row at $p could not be deleted")
  }

  /** ANN top-k against a [[writeIvfIndexSized]] index at the stored
    * nprobe — the stored-index twin of [[ivfSizedTopK]]. */
  def ivfTopKAgainstIndexSized(queries: DataFrame, path: String,
                               k: Int): DataFrame = {
    val nprobe = queries.sparkSession.read.parquet(s"$path/params")
      .select("nprobe").head().getInt(0)
    ivfTopKAgainstIndex(queries, path, k, nprobe)
  }

  /** ANN top-k for a fresh query batch against a stored [[writeIvfIndex]]
    * index. Same ranking contract as every other top-k surface. With
    * `nprobe` = the stored cell count this is EXACTLY brute force over the
    * indexed corpus (every vector sits in exactly one cell and every cell
    * is probed — spec-asserted), which anchors the index path's
    * correctness independent of recall tuning. */
  def ivfTopKAgainstIndex(queries: DataFrame, path: String, k: Int,
                          nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    val cent = spark.read.parquet(s"$path/centroids")
    val cells = spark.read.parquet(s"$path/cells")
    cosineTopK(probesOf(normed(queries), cent, nprobe), cells, k, Seq("cid"))
  }

  /** Refine factor for the sized IVF-PQ index, derived from the recall
    * target the same way [[ivfSizedParams]] derives nprobe — from a
    * measured worst-case calibration, in drift-proof integer ppm.
    *
    * Requirement: coverage(nprobe) · recovery(refine) ≥ target. The nprobe
    * rule already routes the target through the scan fraction (coverage ≈
    * scan^(1/4) on the worst-case fixture), so the recovery the refine
    * stage must supply is the near-constant ratio target/coverage. The
    * measured recovery curve at the sized nprobe (RECALL_LOCAL.json
    * `ivfpq_sized_refine{4,16,32,64}`: 0.25 / 0.55 / 0.70 / 0.83 of a
    * 0.846 ceiling) is bounded BELOW by recovery(r) ≥ √(r/64) — the safe
    * fit — giving refine = ceil(64 · (target/coverage)²). Structurally the
    * target cancels (both terms scale with it), so the derivation lands on
    * 60–64 for every target: PQ's quantization loss at this 4×16 geometry
    * is what refine pays for, and that loss does not shrink with the
    * target. Real-world clustered embeddings saturate earlier, so the rule
    * errs safe — the [[ivfSizedParams]] worst-case convention. */
  def ivfPqSizedRefine(targetRecall: Double): Int = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0,1], got $targetRecall")
    val scanPpm = math.min(1000000L,
      math.round(1.15 * math.pow(targetRecall, 4) * 1000000))
    // coverage ≈ scan^(1/4), snapped to ppm before any comparison so JVM
    // and DuckDB pow ulps can't flip the ceil (the ivfSizedParams rule);
    // clamped ≥ 1 — at targets below ~0.026 scanPpm rounds to 0 and the
    // ceil-div below would divide by zero (review-caught; the sibling
    // ivfSizedParams clamps its degenerate nprobe to 1 the same way)
    val covPpm = math.max(1L,
      math.round(math.pow(scanPpm / 1000000.0, 0.25) * 1000000))
    val tgtPpm = math.round(targetRecall * 1000000)
    val fPpm = math.min(1000000L, (tgtPpm * 1000000L + covPpm - 1) / covPpm)
    ((64L * fPpm * fPpm + 999999999999L) / 1000000000000L).toInt
  }

  /** Stored IVF-PQ(+refine) index — the memory-bound serving path
    * (FAISS `IVFPQ,RFlat` persisted): the ADC scan reads centroids +
    * 4-int codes + the residual codebook (together ~30× smaller than the
    * vectors), and the exact vectors live in a SEPARATE on-disk part the
    * query path touches only for the k·refine candidates per query — the
    * ranged-read shape. Every knob is corpus-derived ([[ivfSizedParams]] /
    * [[ivfPqSizedRefine]]) and stored WITH the index (`params`), so query
    * batches serve at the contract the index was built for — measured at
    * that exact contract in RECALL_LOCAL.json (`ivfpq_sized`). Coarse
    * cells and residual codebook are the same deterministic constructions
    * as [[ivfPqTopK]], computed over the CORPUS only (an index can't see
    * future queries). */
  def writeIvfPqIndexSized(corpus: DataFrame, path: String,
                           targetRecall: Double = 0.8,
                           codeMod: Int = 61): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // a (re)build invalidates any stored measured-recall row (the
    // writeIvfIndex rule)
    dropRecallRow(spark, path)
    // counted ONCE and reused for build_n below — a second count() is a
    // full corpus job, and on a non-deterministic input plan it could
    // even disagree with the n the knobs were derived from (review-caught)
    val n = corpus.count()
    val (nlist, cmod, nprobe) = ivfSizedParams(n, targetRecall)
    val refine = ivfPqSizedRefine(targetRecall)
    // k-means-refined centroids, same as [[writeIvfIndexSized]]: the sizing
    // rule's measured recall frontier (ivfSizedParams scaladoc) was
    // calibrated on Lloyd's-refined cells — a plain mod-sample centroid
    // table caps coverage well below the rule's assumption at the same
    // nprobe (measured r11: stored contract served 0.354 at target 0.8
    // before this fix; RECALL_LOCAL.json ivfpq_sized_* carries the after)
    val e = normed(corpus).localCheckpoint(eager = true)
    val cent = kmeansCentroids(e, cmod, iters = 2)
      .localCheckpoint(eager = true)
    require(!cent.isEmpty,
      s"empty centroid table: no corpus vec_id % $cmod == 0 — " +
        "re-key vec_id (the writeIvfIndex empty-seed guard)")
    cent.write.mode("overwrite").parquet(s"$path/centroids")
    val rsub = residualSubs(e, cent).localCheckpoint(eager = true)
    val cbr = residualCodebook(rsub, codeMod).localCheckpoint(eager = true)
    require(!cbr.isEmpty,
      s"empty PQ codebook: no corpus vec_id % $codeMod == 0")
    cbr.write.mode("overwrite").parquet(s"$path/codebook")
    ArtifactCompaction.writeBatch(encodeResiduals(rsub, cbr), s"$path/codes",
      batch = 0L, dynamic = false)
    // refine's exact vectors: a separate part the ADC scan never reads
    ArtifactCompaction.writeBatch(
      e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nb")),
      s"$path/vectors", batch = 0L, dynamic = false)
    Seq((nlist, cmod, nprobe, targetRecall, codeMod, refine, n))
      .toDF("nlist", "centroid_mod", "nprobe", "target_recall", "code_mod",
        "refine", "build_n")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Residual subvectors of every vector in `e` against its own best cell
    * of `cent` — (vec_id, cid, s, sub, xx). Shared by the sized index
    * build and [[appendIvfPqIndex]], so build/append parity is structural,
    * not coincidental (the Dedup stored-consumer convention). */
  private[graft] def residualSubs(e: DataFrame, cent: DataFrame): DataFrame =
    subResiduals(assignToCells(e, cent), cent, col("neighbor_id").as("vec_id"), "vb")

  /** Residual subvectors of each row's vector column `v` against its cell
    * `cid` of `cent`, keyed by `id` — (id, cid, s, sub, xx). The one split
    * of both sides: corpus rows carry their own best cell, query rows one
    * row per probed cell. */
  private def subResiduals(cells: DataFrame, cent: DataFrame, id: Column,
                           v: String): DataFrame = {
    val subs = cells.sparkSession.range(PqSubspaces).select(col("id").cast("int").as("s"))
    val rv = cells.join(broadcast(cent.select(col("cid"), col("cv"))), "cid")
      .select(id, col("cid"), zip_with(col(v), col("cv"), (a, b) => a - b).as("rv"))
    rv.crossJoin(broadcast(subs))
      .select(col(rv.columns.head), col("cid"), col("s"),
        slice(col("rv"), col("s") * PqSubDim + 1, lit(PqSubDim)).as("sub"))
      .withColumn("xx", VectorFunctions.vecDot(col("sub"), col("sub")))
  }

  /** The residual codebook: the deterministic `vec_id % codeMod == 0`
    * sample of the residual subvectors, as (s, code, cv, cc). */
  private def residualCodebook(rsub: DataFrame, codeMod: Int): DataFrame =
    rsub.filter(col("vec_id") % codeMod === 0)
      .select(col("s"), col("vec_id").as("code"), col("sub").as("cv"), col("xx").as("cc"))

  /** ADC distances from the queries `q` (vec_id, v, nrm) to the residual
    * `codes` of their `nprobe` best cells: each query's residual per
    * PROBED cell (the table is relative to each probed centroid) against
    * the codebook `cbr`, summed per (query, neighbor) in exact micros. */
  private def adcDistances(q: DataFrame, cent: DataFrame, nprobe: Int,
                           cbr: DataFrame, codes: DataFrame): DataFrame = {
    val qtab = subResiduals(probesOf(q, cent, nprobe), cent, col("query_id"), "va")
      .join(broadcast(cbr), Seq("s"))
      .select(col("query_id"), col("cid"), col("s"), col("code"), pqDistMicro.as("qdm"))
    codes.join(broadcast(qtab), Seq("cid", "s", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qdm")).as("approx_dist_micro"))
  }

  /** Residual-PQ encode against a FIXED codebook — per-(vector, subspace)
    * integer-micro argmin, carrying the cell id. Shared by build and
    * append: an increment encodes against the STORED codebook verbatim. */
  private[graft] def encodeResiduals(rsub: DataFrame, cbr: DataFrame): DataFrame =
    rsub.join(broadcast(cbr), Seq("s"))
      .withColumn("dm", pqDistMicro)
      .groupBy(col("vec_id"), col("cid"), col("s"))
      .agg(min(struct(col("dm"), col("code"))).as("w"))
      .select(col("vec_id").as("neighbor_id"), col("cid"), col("s"),
        col("w.code").as("code"))

  /** Fold a vector increment into a stored sized IVF-PQ index at
    * INCREMENT cost — the [[appendIvfIndex]] law extended through the PQ
    * chain: new vectors are assigned against the STORED centroids,
    * residual-encoded against the STORED codebook (both per-vector
    * operations against fixed broadcast tables, so append ≡
    * assign-against-the-same-tables rebuild, spec-asserted bit-identical),
    * and land as one `ingest_batch` partition of codes AND vectors via
    * dynamic partition overwrite (replay-idempotent). Codebook drift
    * follows centroid drift — [[ivfPqIndexNeedsRebuild]] trips at the
    * same `rebuildFactor ×` build_n rule. */
  def appendIvfPqIndex(newVecs: DataFrame, path: String): Unit =
    appendIvfPqIndex(newVecs, path,
      ArtifactCompaction.nextBatch(newVecs.sparkSession, s"$path/vectors", 0L))

  def appendIvfPqIndex(newVecs: DataFrame, path: String,
                       ingestBatch: Long): Unit = {
    val spark = newVecs.sparkSession
    val cent = spark.read.parquet(s"$path/centroids")
      .localCheckpoint(eager = true)
    val cbr = spark.read.parquet(s"$path/codebook")
      .localCheckpoint(eager = true)
    val e = normed(newVecs).localCheckpoint(eager = true)
    ArtifactCompaction.writeBatch(encodeResiduals(residualSubs(e, cent), cbr),
      s"$path/codes", ingestBatch, dynamic = true)
    ArtifactCompaction.writeBatch(
      e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nb")),
      s"$path/vectors", ingestBatch, dynamic = true)
  }

  /** [[compactIvfIndex]] for the IVF-PQ index: codes AND vectors (its two
    * per-vector parts) merge in the same pass. */
  def compactIvfPqIndex(spark: SparkSession, path: String): Unit =
    compactIvfPqIndex(spark, path,
      ArtifactCompaction.defaultWatermark(spark, s"$path/vectors"))

  def compactIvfPqIndex(spark: SparkSession, path: String,
                        upTo: Long): Unit =
    Seq("codes", "vectors").foreach(p =>
      ArtifactCompaction.compactPart(spark, s"$path/$p", upTo))

  /** [[ivfIndexNeedsRebuild]] for the IVF-PQ index (the vectors part is
    * its per-vector unit). */
  def ivfPqIndexNeedsRebuild(spark: SparkSession, path: String,
                             rebuildFactor: Double = IvfPqRebuildFactor): Boolean =
    indexNeedsRebuild(spark, path, "vectors", rebuildFactor)

  /** ANN top-k against a [[writeIvfPqIndexSized]] index at the stored
    * contract (override knobs for the probe-all/refine-all anchor spec):
    * query residual ADC tables vs the stored codebook for the probed
    * cells, one equi-join against the stored codes, exact re-rank of the
    * k·refine candidates against the stored vectors part. */
  def ivfPqRefineAgainstIndex(queries: DataFrame, path: String, k: Int,
                              nprobeOverride: Option[Int] = None,
                              refineOverride: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    val prm = spark.read.parquet(s"$path/params").head()
    val nprobe = nprobeOverride.getOrElse(prm.getAs[Int]("nprobe"))
    val refine = refineOverride.getOrElse(prm.getAs[Int]("refine"))
    val cent = spark.read.parquet(s"$path/centroids")
    val cbr = spark.read.parquet(s"$path/codebook").localCheckpoint(eager = true)
    val q = normed(queries).localCheckpoint(eager = true)
    val approx = adcDistances(q, cent, nprobe, cbr, spark.read.parquet(s"$path/codes"))
    val cand = rankByApprox(approx, k * refine)
      .select("query_id", "neighbor_id")
    val qv = q.select(col("vec_id").as("query_id"), col("v").as("va"),
      col("nrm").as("na"))
    rankTopK(cand.join(qv, "query_id")
      .join(spark.read.parquet(s"$path/vectors"), "neighbor_id"), k)
  }

  /** Per-JVM memoized [[writeIvfPqIndexSized]] store keyed on corpus dir —
    * the [[graft.llm.Dedup.dedupArtifact]] convention for the ANN serving
    * path: the first `ann_ivfpq_sized` query of a Verify/Bench/test
    * session builds and writes, every later call reads parquet. Same
    * staleness hazard as that memo: a session that regenerates the fixture
    * at the same path would serve an index built from the old corpus —
    * acceptable for the harness (fixtures are immutable per session); a
    * production deployment keys the index path on a corpus fingerprint. */
  private val ivfPqIndexDirs =
    scala.collection.mutable.HashMap.empty[String, String]
  def ivfPqSizedIndex(s: SparkSession, dir: String): String =
    ivfPqIndexDirs.synchronized {
      ivfPqIndexDirs.getOrElseUpdate(dir, {
        val p = java.nio.file.Files
          .createTempDirectory("graft-ivfpq-index").toString
        writeIvfPqIndexSized(
          Tables.embeddings(s, dir).filter(col("vec_id") >= 5), p)
        p
      })
    }

  /** Product-quantization geometry: m = 4 subspaces × 16 dims (the corpus
    * is 64-dim). */
  val PqSubspaces = 4
  val PqSubDim = 16

  /** Per-subspace PQ codebooks from a deterministic corpus sample
    * (`vec_id % codeMod`): (s, cid, cv, cc) where cv is the seed vector's
    * s-th subvector and cc its squared norm. K-means refinement per
    * subspace is the [[kmeansCentroids]] machinery and orthogonal to the
    * PQ encode/ADC algebra demonstrated here. */
  private def pqCodebook(e: DataFrame, codeMod: Int): DataFrame = {
    val subs = e.sparkSession.range(PqSubspaces).select(col("id").cast("int").as("s"))
    e.filter(col("vec_id") % codeMod === 0)
      .select(col("vec_id").as("cid"), col("v"))
      .crossJoin(broadcast(subs))
      .select(col("s"), col("cid"),
        slice(col("v"), col("s") * PqSubDim + 1, lit(PqSubDim)).as("cv"))
      .withColumn("cc", VectorFunctions.vecDot(col("cv"), col("cv")))
  }

  /** (vec_id, s, sub, xx) — each vector split into its m subvectors with
    * per-subvector squared norms (one codegen'd pass, no shuffle). */
  private def pqSubvectors(e: DataFrame): DataFrame = {
    val subs = e.sparkSession.range(PqSubspaces).select(col("id").cast("int").as("s"))
    e.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(subs))
      .select(col("vec_id"), col("s"),
        slice(col("v"), col("s") * PqSubDim + 1, lit(PqSubDim)).as("sub"))
      .withColumn("xx", VectorFunctions.vecDot(col("sub"), col("sub")))
  }

  /** Squared-L2 in integer micro-units via the codegen'd dot kernel:
    * ‖x−c‖² = xx + cc − 2·x·c — three array-order accumulations and one
    * fixed-order combination, so both engines produce the identical double
    * before the single micro rounding. */
  private val pqDistMicro =
    round((col("xx") + col("cc") - lit(2.0) * VectorFunctions.vecDot(col("sub"), col("cv"))) * 1e6)
      .cast("long")

  /** PQ ENCODE: assignment is an aggregation argmin
    * (min(struct(dist_micro, cid)) — never a sort of the vector×codeword
    * cross), distances in integer micro-units end-to-end. */
  private def pqEncode(side: DataFrame, cb: DataFrame): DataFrame =
    side.join(broadcast(cb), Seq("s"))
      .withColumn("dm", pqDistMicro)
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("dm"), col("cid"))).as("w"))
      .select(col("vec_id"), col("s"), col("w.cid").as("cid"))

  /** PQ codes for every vector — m small integers in place of 64 floats
    * (≈64× smaller, the reason PQ is the memory-bound ANN path at 100 TB:
    * a billion-vector corpus's codes fit in executor memory where its
    * vectors cannot). */
  def pqCodes(emb: DataFrame, codeMod: Int = 61): DataFrame = {
    val e = normed(emb)
    pqEncode(pqSubvectors(e), pqCodebook(e, codeMod))
      .select(col("vec_id"), col("s"), col("cid").as("code"))
  }

  /** PQ-ADC ANN top-k (Jégou et al. 2011, the FAISS IndexPQ shape):
    * queries never touch corpus VECTORS — each query computes one m×K
    * distance table against the codebooks (asymmetric distance
    * computation), the corpus contributes only its CODES, and the approx
    * distance is a m-term integer table-lookup sum. The scan is linear in
    * the corpus but over 4-int codes, not 64-float vectors; the table join
    * is an equi-join on (s, cid) with the (queries × m × K)-row table
    * broadcast. Exact-integer micro-unit distances everywhere — the sum of
    * m table entries is exact Long arithmetic, so no float summation order
    * exists and ranking (approx ASC, neighbor ASC) is deterministic. */
  def pqTopK(emb: DataFrame, nQueries: Int, k: Int, codeMod: Int = 61): DataFrame =
    pqTopKFrom(normed(emb), nQueries, k, codeMod)

  private def pqTopKFrom(e: DataFrame, nQueries: Int, k: Int, codeMod: Int): DataFrame = {
    val cb = pqCodebook(e, codeMod)
    val codes = pqEncode(pqSubvectors(e.filter(col("vec_id") >= nQueries)), cb)
      .select(col("vec_id").as("neighbor_id"), col("s"), col("cid"))
    val qtab = pqSubvectors(e.filter(col("vec_id") < nQueries))
      .join(broadcast(cb), Seq("s"))
      .select(col("vec_id").as("query_id"), col("s"), col("cid"), pqDistMicro.as("qdm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_dist_micro").asc, col("neighbor_id").asc)
    codes.join(broadcast(qtab), Seq("s", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("qdm")).as("approx_dist_micro"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("approx_dist_micro"), col("rk"))
  }

  /** PQ-ADC with EXACT re-rank (the FAISS IndexRefineFlat composition —
    * Jégou et al. 2011 §V.A "re-ranking with source coding"): the PQ code
    * scan is a cheap FILTER, not the final ranking. Stage 1 ranks the
    * whole corpus by approximate ADC distance and keeps `k·refine`
    * candidates per query; stage 2 rescores ONLY those candidates with
    * exact cosine and re-ranks under the shared [[cosineTopK]] contract.
    * This is the standard production fix for PQ's coarse top-k (4
    * subspaces of 16-dim codes can't order close neighbors): recall is
    * set by "is the true neighbor anywhere in the PQ top k·refine", which
    * converges to 1 far faster than PQ@k itself, while exact-vector reads
    * stay k·refine per query instead of corpus-sized.
    *
    * Scale shape: stage 1 is the linear code scan (corpus contributes
    * 4-int codes only); stage 2 joins the (queries × k·refine) candidate
    * table — broadcast-sized by construction — against the corpus vectors
    * on vec_id, so full vectors are read exactly for candidates, the
    * ranked-retrieval analogue of the LSH verify join. Output schema and
    * tie rules are [[bruteForceTopK]]'s, so recall eval slots in
    * unchanged. */
  def pqRefineTopK(emb: DataFrame, nQueries: Int, k: Int,
                   codeMod: Int = 61, refine: Int = 16): DataFrame = {
    // localCheckpoint: the normed corpus feeds the PQ stage (codebook,
    // encode, query tables) AND the exact rescore — one materialization
    val e = normed(emb).localCheckpoint(eager = true)
    val cand = pqTopKFrom(e, nQueries, k * refine, codeMod)
      .select(col("query_id"), col("neighbor_id"))
    exactReRank(e, cand, nQueries, k)
  }

  /** IVF-PQ ANN top-k (the FAISS IVFPQ composition): IVF's coarse cells
    * bound WHICH vectors are scored (nprobe/#cells of the corpus) and PQ
    * bounds WHAT is read per scored vector (m codes, not the vector) — the
    * two knobs compose, which is why this is the billion-vector default in
    * practice. PQ here quantizes the RESIDUAL v − centroid(cell(v)) rather
    * than v itself: residuals concentrate near 0 so a shared codebook
    * covers them far better than raw vectors (Jégou et al. 2011, §IV).
    *
    * Everything stays exact-integer deterministic: residuals are exact IEEE
    * subtractions (zip_with), per-subspace distances round ONCE to micros,
    * encode is an aggregation argmin, and the ADC distance is an exact
    * BIGINT m-term sum. The final join carries the cell id, so a neighbor
    * is scored only inside probed cells — candidate work is
    * |corpus| × nprobe / #cells rows of 4-int codes. */
  def ivfPqTopK(emb: DataFrame, nQueries: Int, k: Int,
                centroidMod: Int = 37, nprobe: Int = 2,
                codeMod: Int = 61): DataFrame =
    rankByApprox(ivfPqApproxFrom(normed(emb).localCheckpoint(eager = true),
      nQueries, centroidMod, nprobe, codeMod), k)

  /** IVF-PQ + exact re-rank — the FAISS IVFPQ,RFlat composition, the
    * billion-vector production default: coarse cells bound WHICH vectors
    * are scored, PQ codes bound WHAT is read per scored vector, and the
    * exact re-rank of the top k·refine ADC candidates recovers the
    * quantization loss (recall ceiling = the probed cells' coverage, i.e.
    * the IVF arm's own recall — refine buys back everything PQ coarseness
    * lost inside it). Same candidate/re-rank mechanics as
    * [[pqRefineTopK]]; exact-vector reads stay k·refine per query. */
  def ivfPqRefineTopK(emb: DataFrame, nQueries: Int, k: Int,
                      centroidMod: Int = 37, nprobe: Int = 2,
                      codeMod: Int = 61, refine: Int = 16): DataFrame = {
    val e = normed(emb).localCheckpoint(eager = true)
    val cand = rankByApprox(
        ivfPqApproxFrom(e, nQueries, centroidMod, nprobe, codeMod), k * refine)
      .select(col("query_id"), col("neighbor_id"))
    exactReRank(e, cand, nQueries, k)
  }

  /** Shared (approx ASC, neighbor ASC) top-k over an ADC distance table —
    * the quantized-family ranking contract (PQ / IVF-PQ, plain and
    * refine). */
  private def rankByApprox(approx: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_dist_micro").asc, col("neighbor_id").asc)
    approx
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("approx_dist_micro"), col("rk"))
  }

  /** Shared exact-rescore stage for the refine family: join the (small by
    * construction) candidate table back to the full vectors on vec_id and
    * re-rank under the [[cosineTopK]] contract. */
  private def exactReRank(e: DataFrame, cand: DataFrame,
                          nQueries: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("na"))
    val c = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nb"))
    rankTopK(cand.join(q, "query_id").join(c, "neighbor_id"), k)
  }

  private def ivfPqApproxFrom(e: DataFrame, nQueries: Int,
                              centroidMod: Int, nprobe: Int,
                              codeMod: Int): DataFrame = {
    val cent = e.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    // every vector's residual against its OWN best cell (the codebook
    // trains on these, so it must cover queries too — both engines filter
    // the same deterministic sample out of the same assignment)
    val rsub = residualSubs(e, cent)
    val cbr = residualCodebook(rsub, codeMod)
      .localCheckpoint(eager = true) // tiny; feeds both encode joins
    adcDistances(e.filter(col("vec_id") < nQueries), cent, nprobe, cbr,
      encodeResiduals(rsub.filter(col("vec_id") >= nQueries), cbr))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): drop documents that are
    * semantic near-duplicates of another document in the SAME k-means
    * cluster. The published recipe exactly: cluster the embedding space
    * (here the [[kmeansCentroids]] Lloyd's refinement over a deterministic
    * seed), then compare pairs only WITHIN a cluster and drop the larger
    * vec_id of every over-threshold pair — a deterministic stand-in for
    * the paper's keep-the-low-centroid-similarity rule, same keeper
    * convention as [[Dedup.embeddingKeep]].
    *
    * Drop semantics are PAIR-LOCAL, not group-wise: a vector is dropped
    * if ANY smaller-id cell-mate clears the threshold, even when that
    * witness was itself dropped. Pair-local drops are neither a superset
    * nor a subset of connected-component keep-min retention: on a chain
    * A~B, B~C (ids A<B<C, A!~C) both readings drop B AND C (CC groups
    * {A,B,C}, keeps min-id A); but on edges (1,3),(2,3) pair-local keeps
    * 2 while CC drops it. (A sequential kept-witness scan — drop only
    * against surviving witnesses — is the reading that would keep C on
    * the chain; that is a different, order-dependent algorithm, not CC.)
    * This is deliberate: pair-local drops are one equi-join — group-wise
    * retention needs connected components per cell (the
    * [[graft.operators.ConnectedComponents]] machinery, available
    * downstream via [[Dedup.embeddingClusters]] / `embeddingKeep` when
    * group-wise retention matters). Near the threshold, transitivity is
    * a weak assumption anyway: every dropped vector sits within ε of
    * SOME witness. The oracle pins exactly these pair-local semantics.
    *
    * Scale shape — the whole point of SemDeDup vs all-pairs: the quadratic
    * term is per-CLUSTER, (N/k)² × k instead of N², and k grows with the
    * corpus so cluster sizes stay bounded (the paper runs k = 11k clusters
    * on LAION). The pair join is a hash equi-join partitioned on the
    * cluster id (plan-audited: no cartesian, no broadcast of the corpus);
    * centroid assignment is the broadcast-centroid linear pass every IVF
    * query here shares. A pathologically hot cluster (mass duplication)
    * degrades like the LSH hot bucket — and the same mitigation applies:
    * exact-dedup FIRST (SCALE.md's measured 5.7× pipeline ordering), since
    * identical texts are identical vectors. */
  def semDedup(emb: DataFrame, threshold: Double,
               centroidMod: Int = 37, iters: Int = 2): DataFrame = {
    val e = normed(emb).localCheckpoint(true) // feeds training + assignment
    semDedupAssign(e, kmeansCentroids(e, centroidMod, iters), threshold)
      .select(col("vec_id"), col("cid"), col("keep"))
  }

  /** The semDedup core: cell assignment + keep decision, vectors kept in
    * the output so the index writer can persist members. */
  private def semDedupAssign(e: DataFrame, cent: DataFrame,
                             threshold: Double): DataFrame = {
    val asg = assignToCells(e, cent)
      .select(col("neighbor_id").as("vec_id"), col("vb").as("v"),
        col("nb").as("nrm"), col("cid"))
      .localCheckpoint(true) // both pair sides + the output read it
    val a = asg.select(col("cid"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = asg.select(col("cid"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", roundedCosine("va", "vb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    asg.join(dropped.withColumn("dup", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"),
        (!coalesce(col("dup"), lit(false))).as("keep"))
  }

  /** SSL-prototypes pruning (Sorscher et al.; the second half of the D4
    * recipe, after [[semDedup]]): cluster with the same Lloyd's-refined
    * k-means, rank each vector by closeness to its cluster centroid, and
    * drop the `dropPct`% MOST prototypical per cell — the easy, redundant
    * core of each cluster that contributes least to training. Ranking key
    * is the 6-dp-rounded cosine (ties broken by vec_id), the drop count is
    * exact integer floor `(n_cell · dropPct) div 100`, so the keep set is
    * engine-reproducible.
    *
    * Scale shape: centroid training + assignment are the shared IVF
    * machinery (broadcast centroid table, one linear pass); the rank and
    * the cell-size count ride ONE cid-keyed window shuffle, and cells are
    * (N/k)-sized by construction — the window never sees an unpartitioned
    * corpus. */
  def prototypesPrune(emb: DataFrame, dropPct: Int = 25,
                      centroidMod: Int = 37, iters: Int = 2): DataFrame = {
    require(dropPct >= 0 && dropPct <= 100,
      s"prototypesPrune: dropPct must be in [0,100], got $dropPct")
    val e = normed(emb).localCheckpoint(true)
    val cent = kmeansCentroids(e, centroidMod, iters)
    val asg = centroidScored(e, cent)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), (-col("cid")).as("ncid"))).as("w"))
      .select(col("vec_id"), (-col("w.ncid")).as("cid"), col("w.csim").as("csim"))
    val rw = Window.partitionBy(col("cid"))
      .orderBy(col("csim").desc, col("vec_id").asc)
    // no similarity column in the output: a 1-ulp round(x,6) divergence
    // between engines (DuckDB rounds via a double multiply) would flip the
    // 6th decimal — the RANK is the operator's contract, values are not
    asg
      .withColumn("rk", row_number().over(rw).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .withColumn("keep", col("rk") > expr(s"(n_cell * $dropPct) div 100"))
      .select(col("vec_id"), col("cid"), col("rk"), col("n_cell"), col("keep"))
  }

  /** Materialize the reusable semantic-dedup index — the
    * [[writeIvfIndex]]/[[graft.llm.Dedup.writeNearDupIndex]] pattern for
    * the SemDeDup family: the refined centroid table plus every KEPT
    * vector's cell assignment, both parquet. The corpus pays the k-means
    * training and its own within-cluster dedup ONCE; afterwards each
    * increment batch is gated by [[semDedupAgainstIndex]] without
    * re-clustering or re-reading the corpus. */
  def writeSemDedupIndex(corpus: DataFrame, path: String, threshold: Double,
                         centroidMod: Int = 37, iters: Int = 2): Unit = {
    val e = normed(corpus).localCheckpoint(true)
    val cent = kmeansCentroids(e, centroidMod, iters)
    cent.write.mode("overwrite").parquet(s"$path/centroids")
    semDedupAssign(e, cent, threshold).filter(col("keep"))
      .select(col("cid"), col("vec_id"), col("v"), col("nrm"))
      .write.mode("overwrite").parquet(s"$path/members")
  }

  /** Incremental SemDeDup: gate new vectors against the STORED index — a
    * new vector is assigned to its nearest stored centroid (broadcast
    * probe of the tiny centroid table) and dropped iff some KEPT corpus
    * member of that cell clears the cosine threshold (one cid equi-join
    * against the stored members, the corpus itself is read, never
    * re-clustered). Returns (vec_id, cid, keep) for the increment — the
    * same contract as [[semDedup]], decided against the indexed corpus
    * instead of within the batch. */
  def semDedupAgainstIndex(newEmb: DataFrame, path: String,
                           threshold: Double): DataFrame = {
    val session = newEmb.sparkSession
    val cent = session.read.parquet(s"$path/centroids")
    val members = session.read.parquet(s"$path/members")
      .select(col("cid"), col("v").as("mv"), col("nrm").as("mnrm"))
    val asg = assignToCells(normed(newEmb), cent)
      .select(col("neighbor_id").as("vec_id"), col("vb").as("v"),
        col("nb").as("nrm"), col("cid"))
    val dropped = asg.join(members, Seq("cid"))
      .withColumn("cos", roundedCosine("v", "mv", "nrm", "mnrm"))
      .filter(col("cos") >= threshold)
      .select(col("vec_id")).distinct()
    asg.join(dropped.withColumn("dup", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"),
        (!coalesce(col("dup"), lit(false))).as("keep"))
  }

  /** Per-label element-wise centroids — the class-prototype / k-means-step
    * computation (a real IVF index trains its coarse quantizer exactly
    * like this). One explode to (label, dim, x) rows, one
    * map-side-combining aggregation: the shuffle carries
    * #labels × dim partial (sum, count) pairs per mapper, never vectors.
    * The mean accumulates in EXACT integer micro-units (sum of
    * round(x·10⁶)), not avg(double): Spark's partial-aggregation summation
    * order differs from DuckDB's sequential scan, so a floating sum can
    * land on opposite sides of a round-half boundary between engines —
    * the same latent flake corpusStats/qualityPercentiles hit. Integer
    * sums are order-independent; the final divide is two IEEE
    * correctly-rounded ops over identical operands on both engines. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("x") * 1e6).cast("long")).as("sum_micros"),
        count(lit(1)).as("n_vectors"))
      .withColumn("centroid",
        round(col("sum_micros").cast("double") / col("n_vectors") / 1e6, 6))
      .select(col("label"), col("dim"), col("centroid"), col("n_vectors"))

  /** [[labelCentroids]] through the native [[graft.functions.VectorSumAgg]]
    * aggregate instead of posexplode: vectors aggregate WHOLE — the
    * ObjectHashAggregate buffer is one 8·dim-byte long array per group, the
    * shuffle carries one buffer per (partition, label) instead of dim rows
    * per vector, and the aggregation input is |vectors| rows, not
    * |vectors|·dim. Same integer micro-unit sums ⇒ bit-identical output to
    * the explode form (spec-asserted) and to the shared DuckDB oracle.
    * This is the custom-native-AGGREGATE rung of the extension ladder (the
    * scalar rung is [[graft.functions.DotProduct]]); at 64 dims it turns an
    * N·64-row aggregation into an N-row one — measured 1.5× wall over the
    * (already codegen'd) explode form at 200k vectors on local[32], with
    * the gap growing with dim since the explode volume does. */
  def labelCentroidsVec(emb: DataFrame): DataFrame =
    emb.select(col("label"), expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("vm"))
      .groupBy("label")
      .agg(graft.functions.VectorSumAgg.vecSumLong(col("vm")).as("sums"),
        count(lit(1)).as("n_vectors"))
      .select(col("label"), posexplode(col("sums")).as(Seq("dim", "sum_micros")),
        col("n_vectors"))
      .withColumn("centroid",
        round(col("sum_micros").cast("double") / col("n_vectors") / 1e6, 6))
      .select(col("label"), col("dim"), col("centroid"), col("n_vectors"))

  /** Embedding-space quality diagnostic: for each query vector, the
    * fraction of its exact top-k cosine neighbors that share its label
    * (kNN label purity). A collapsing embedding space shows up here before
    * it shows up in training. Reuses the shared [[cosineTopK]] ranking
    * contract. The top-k result is ≤ nQueries·k rows BY CONSTRUCTION, so
    * it is broadcast into both label joins explicitly — the planner's
    * size estimate for the windowed query×corpus subplan is far too large
    * to pick the broadcast itself, and without the hint both joins would
    * shuffle the full corpus-scale (vec_id, label) projection to enrich a
    * few hundred rows. */
  def labelPurity(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val lbl = emb.select(col("vec_id"), col("label"))
    // re-hint after the first join: a broadcast hint does not propagate
    // through the join node it fed
    val withQ = broadcast(bruteForceTopK(emb, nQueries, k))
      .join(lbl.select(col("vec_id").as("query_id"), col("label").as("qlabel")), "query_id")
    broadcast(withQ)
      .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")), "neighbor_id")
      .groupBy(col("query_id"), col("qlabel").as("label"))
      .agg(sum(when(col("nlabel") === col("qlabel"), 1).otherwise(0)).as("n_same"),
        count(lit(1)).as("n_neighbors"))
      .withColumn("purity", round(col("n_same") / col("n_neighbors"), 6))
      .select(col("query_id"), col("label"), col("n_same"),
        col("n_neighbors"), col("purity"))
  }

  /** Embedding outlier scoring — diagonal-Mahalanobis (per-dimension
    * z-score) distance from the corpus mean, top-k highest. The embedding
    * QA question this answers: which vectors sit farthest from the bulk of
    * the space (corrupt inputs, encoder failures, off-distribution
    * content) — the per-dimension variance normalization is what makes a
    * large deviation on a tight dimension count more than the same
    * deviation on a naturally wide one (the full-covariance Mahalanobis
    * needs Σ⁻¹; the diagonal form is the standard train-free first rung).
    *
    * Two passes over the exploded coordinates, one broadcast each: pass 1
    * aggregates per-dim (n, Σx) → means; pass 2 aggregates per-dim
    * Σ(x−μ)² → variances; scoring joins both 64-row tables broadcast, so
    * vectors never shuffle. All arithmetic is EXACT integer micro-units
    * (the [[labelCentroids]] convention): x in [-0.6, 0.6] ⇒ |d| ≤ 1.2·10⁶,
    * d²·10⁴ ≤ 1.5·10¹⁶ — far from Long overflow; score_q is the z² sum in
    * 10⁻⁴ units (integer floor-div per dim, both engines truncate toward
    * zero). Top-k lowers to TakeOrderedAndProject — per-partition heap,
    * never a global sort. */
  def zscoreOutliers(emb: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorSumAgg.vecSumLong
    // whole-vector moment passes (the [[labelCentroidsVec]] argument):
    // each pass aggregates |vectors| rows through one long-array buffer
    // instead of |vectors|·dim exploded rows, and the per-vector score is
    // an in-row fold — identical integer arithmetic per dimension, so the
    // result (and the oracle) is unchanged from the exploded formulation
    val xm = emb.select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("xm"))
      .localCheckpoint(true) // three consumers; encode once
    val mu = xm.agg(vecSumLong(col("xm")).as("sm"), count(lit(1)).as("n"))
      .select(expr("transform(sm, s -> s div n)").as("mu"))
    val dev = xm.crossJoin(broadcast(mu))
      .select(col("vec_id"), expr("zip_with(xm, mu, (a, b) -> a - b)").as("d"))
      .localCheckpoint(true) // feeds the variance pass and the scorer
    val vr = dev
      .select(expr("transform(d, e -> e * e)").as("dd"))
      .agg(vecSumLong(col("dd")).as("ss"), count(lit(1)).as("n"))
      .select(expr("transform(ss, s -> s div n)").as("v"))
    dev.crossJoin(broadcast(vr))
      // a constant dimension (v = 0) carries no z-score signal: contributes 0
      .select(col("vec_id"), expr(
        """aggregate(zip_with(d, v, (dd, vv) ->
          |  CASE WHEN vv > 0 THEN (dd * dd * 10000) div vv ELSE CAST(0 AS BIGINT) END),
          |  CAST(0 AS BIGINT), (acc, t) -> acc + t)""".stripMargin).as("score_q"))
      .orderBy(col("score_q").desc, col("vec_id").asc)
      .limit(k)
  }

  /** SQ8 scalar quantization (the FAISS IndexScalarQuantizer QT_8bit
    * shape): per-DIMENSION min/max over the corpus define 256 uniform
    * levels and every coordinate stores as one byte-range integer —
    * 8× smaller than float64 work vectors, 4× smaller than the float32
    * on disk, with NO codebook training (the contrast to [[pqCodes]]:
    * PQ compresses harder but needs k-means codebooks; SQ8 is the
    * train-free first rung of the quantization ladder).
    *
    * Determinism: `floor((x − mn)/(mx − mn) · 255)` is one IEEE divide +
    * multiply + floor per coordinate — both engines produce the identical
    * double and therefore the identical integer code; a constant
    * dimension (mx = mn) codes to 0 instead of dividing by zero. Stats
    * are selections (min/max), not accumulations, so partial-aggregation
    * order cannot move them. */
  def sq8Codes(emb: DataFrame): DataFrame = {
    val x = emb.select(col("vec_id"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    val mm = x.groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    x.join(broadcast(mm), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 255)
            .cast("long")).as("code"))
  }

  /** Brute-force top-k over SQ8 codes — the memory-bound linear-scan twin
    * of [[bruteForceTopK]]: squared-L2 in CODE space is an exact integer
    * sum (≤ 64·255², no float summation order exists), so ranking
    * (dist ASC, neighbor ASC) is deterministic. The corpus side ships
    * 64 small ints per vector instead of 64 doubles; at 100 TB the code
    * table plays the [[pqTopK]] role — resident where the vectors can't
    * be — with better fidelity per dimension and zero training. The
    * per-vector code ARRAY is rebuilt via a sort-free argmax-style
    * collect: array_sort(collect_list(struct(dim, code))) is
    * order-insensitive to partial-aggregation order. */
  def sq8TopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val arrs = sq8Codes(emb)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(dim, code))), s -> s.code)")
        .as("codes"))
    val q = arrs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"))
    val c = arrs.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("codes").as("cc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist_sq8").asc, col("neighbor_id").asc)
    c.join(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        expr("aggregate(zip_with(qc, cc, (a, b) -> (a - b) * (a - b)), 0L, (acc, y) -> acc + y)")
          .as("dist_sq8"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003, "Database-
    * friendly random projections": a ±1 sign matrix preserves pairwise
    * distances in expectation as well as a Gaussian one): d-dim embedding →
    * `outDims` integer coordinates. The sign matrix is a deterministic
    * hash of (input dim i, output dim j) — `(i·31 + j·17) mod 2` — so no
    * materialized matrix is shipped anywhere and both engines derive the
    * identical projection from arithmetic alone.
    *
    * Integer-exact: each input coordinate snaps to micro-units
    * (round(x·10⁶) as BIGINT) BEFORE the signed sum, so the fold over
    * input dims is integer addition — no FP summation order exists, on
    * either engine.
    *
    * Scale shape: pure in-row array work (zip_with + aggregate inside
    * whole-stage codegen), zero shuffle, scan pruned to (vec_id,
    * embedding). This is the dim-reduction pass that runs BEFORE ANN
    * indexing at 100 TB — a 64→16 projection cuts every downstream
    * distance computation and shuffle 4×. */
  def jlProject(emb: DataFrame, outDims: Int): DataFrame = {
    require(outDims >= 1, s"jlProject: outDims must be >= 1, got $outDims")
    emb.select(col("vec_id"), posexplode(jlArray(outDims)).as(Seq("dim_j", "proj_micro")))
  }

  /** The projected integer vector as an array<bigint> column expression. */
  private def jlArray(outDims: Int) = expr(
    s"""transform(sequence(0, ${outDims - 1}), j ->
       |  aggregate(
       |    zip_with(embedding, sequence(0, size(embedding) - 1), (x, i) ->
       |      CASE WHEN (i * 31 + j * 17) % 2 = 0
       |           THEN CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
       |           ELSE -CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) END),
       |    CAST(0 AS BIGINT), (acc, v) -> acc + v))""".stripMargin)

  /** Brute-force top-k in [[jlProject]]ed space: squared-L2 over the
    * 16 integer coordinates — an exact BIGINT sum (max |coord| ≤ d·10⁶ =
    * 6.4e7, so Σ diff² ≤ 16·(1.28e8)² ≈ 2.6e17, well inside BIGINT), fully
    * deterministic ranking (dist ASC, neighbor ASC). The JL twin of
    * [[sq8TopK]]: SQ8 compresses per-coordinate precision at full
    * dimensionality, JL compresses dimensionality at full precision —
    * at scale the projected table is the one small enough to broadcast
    * or pin, and candidates it surfaces re-rank in full space exactly
    * like the IVF/PQ paths. */
  def jlTopK(emb: DataFrame, outDims: Int, nQueries: Int, k: Int): DataFrame = {
    val p = emb.select(col("vec_id"), jlArray(outDims).as("pv"))
    val q = p.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("pv").as("qv"))
    val c = p.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("pv").as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist_jl").asc, col("neighbor_id").asc)
    c.join(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        expr("aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, y) -> acc + y)")
          .as("dist_jl"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Top principal component by POWER ITERATION (the classic matvec loop:
    * v ← normalize(X̃ᵀ(X̃v)), X̃ mean-centered) — the data-dependent
    * counterpart of [[jlProject]]: JL preserves distances obliviously,
    * PCA finds the direction the corpus actually varies in (embedding
    * drift monitoring, whitening, 1-D ordering for layout).
    *
    * Deterministic and cross-engine exact at every step, the
    * [[kmeansCentroids]] discipline: the per-dim mean and the per-dim
    * matvec accumulation Σ_r y_r·x̃_r[i] snap to integer micro-units
    * before their row-wise sums (no FP summation order); the normalized
    * component rounds to 6 dp each iteration; v₀ = all-ones (fixed, so
    * the sign of the result is pinned); `iters` is a FIXED count, not a
    * convergence test — both engines run the identical unrolled
    * computation.
    *
    * Scale shape: each iteration is one pass over the centered corpus —
    * a broadcast of the 1-row v table, a codegen'd in-row fold for
    * y_r = ⟨x̃_r, v⟩, then a (dim)-keyed map-side-combining aggregation
    * into 64 cells; the centered corpus is computed once
    * (localCheckpoint) and re-scanned, never re-derived. Nothing ever
    * shuffles more than #dims rows. */
  def pcaPower(emb: DataFrame, iters: Int = 3): DataFrame =
    pcaVector(emb, iters)
      .select(posexplode(col("vv")).as(Seq("dim", "component")))

  /** Per-vector projection onto the [[pcaPower]] component (6-dp): the
    * 1-D corpus ordering / whitening coordinate. */
  def pcaScores(emb: DataFrame, iters: Int = 3): DataFrame = {
    val (centered, v) = pcaParts(emb, iters)
    centered.crossJoin(broadcast(v))
      .select(col("vec_id"), round(dotFold("cx", "vv"), 6).as("pc1"))
  }

  private def pcaVector(emb: DataFrame, iters: Int): DataFrame =
    pcaParts(emb, iters)._2

  /** Ordered in-row dot product fold (sequential over dims, the same
    * evaluation order as DuckDB's list_sum ∘ list_transform). */
  private def dotFold(a: String, b: String) = expr(
    s"aggregate(zip_with($a, $b, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")

  private def pcaParts(emb: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, s"pcaPower: iters must be >= 1, got $iters")
    val x = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("xd"))
    // whole-vector mean via the native array-sum aggregate (same integer
    // micro sums as the explode form it replaces — oracle unchanged)
    val mu = x.select(expr("transform(xd, xv -> CAST(round(xv * 1000000) AS BIGINT))").as("xm"))
      .agg(graft.functions.VectorSumAgg.vecSumLong(col("xm")).as("sm"),
        count(lit(1)).as("n"))
      .select(expr("transform(sm, s -> round(CAST(s AS DOUBLE) / n / 1000000.0, 6))").as("mu"))
    val centered = x.crossJoin(broadcast(mu))
      .select(col("vec_id"), expr("zip_with(xd, mu, (a, b) -> a - b)").as("cx"))
      .localCheckpoint(true) // one materialization feeds every iteration
    var v = mu.select(expr("transform(mu, z -> CAST(1.0 AS DOUBLE))").as("vv"))
    for (_ <- 0 until iters) {
      val y = centered.crossJoin(broadcast(v))
        .select(col("vec_id"), col("cx"), dotFold("cx", "vv").as("y"))
      v = y.select(expr("transform(cx, c -> CAST(round(y * c * 1000000) AS BIGINT))").as("wm_arr"))
        .agg(graft.functions.VectorSumAgg.vecSumLong(col("wm_arr")).as("wm"))
        .select(expr("transform(wm, w -> CAST(w AS DOUBLE) / 1000000.0)").as("wd"))
        .select(expr(
          "transform(wd, x -> round(x / sqrt(aggregate(transform(wd, z -> z * z), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)), 6))")
          .as("vv"))
        .localCheckpoint(true) // 1-row vector; truncate the iteration lineage
    }
    (centered, v)
  }

  /** Greedy k-center coreset selection (farthest-point traversal — the
    * 2-approximation of Gonzalez 1985, the diversity objective of
    * Sener & Savarese ICLR'18 "Active learning for CNNs: a core-set
    * approach"): pick the seed, then `k−1` times pick the vector FARTHEST
    * from everything selected so far. The selected rows are the most
    * mutually-diverse k-subset a greedy pass can find — the
    * data-SELECTION primitive (which k docs to label / keep / inspect),
    * where [[kmeansCentroids]] is the data-SUMMARY one.
    *
    * Exact integer arithmetic end-to-end: coordinates snap to micro-units
    * once ([[jlProject]]'s convention), squared-L2 distances are BIGINT
    * sums (≤ d·(2·10⁶)² ≈ 2.6e14), the argmax tie-breaks on min vec_id —
    * no FP anywhere, so both engines select the identical sequence.
    *
    * Scale shape: each round is ONE corpus pass against ONE broadcast
    * center — the running `dmin` column carries the min distance to all
    * previously-selected centers (k·N distance evaluations total, not
    * k²·N/2), and the argmax is a global max(struct) aggregate (map-side
    * partial, one row per partition to the final reduce). The state is
    * localCheckpointed per round so round r+1 never re-derives rounds
    * 1..r. At 100 TB the standard play is running it on the
    * [[jlProject]]ed or [[sq8Codes]] table — same operator, 4–8× less
    * data per pass. */
  def kCenter(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"kCenter: k must be >= 1, got $k")
    val session = emb.sparkSession
    import session.implicits._
    val m = emb.select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
      .as("mv")).localCheckpoint(true)
    // incremental invariant: `state.dmin` is the min distance to the
    // ALREADY-selected set, so each round folds in only the NEWEST center
    // — k·N distance evaluations total, not k²·N/2 (the textbook
    // farthest-first bookkeeping, here as a checkpointed running column).
    // Seed = vec_id 0 (fixed, so the whole trajectory is deterministic);
    // one bounded head() — the centers are embedding-dim driver rows by
    // the algorithm's own definition, so the newest center enters the
    // next round as a LITERAL array instead of a broadcast crossJoin, and
    // the farthest-first argmax rides the dmin checkpoint job as an
    // Observation (the ConnectedComponents convergence-fuse pattern):
    // ONE action per round instead of three (crossJoin'd state
    // checkpoint + argmax checkpoint + final union scan), same
    // (dmin, -vec_id, mv) struct-max argmax bit for bit.
    var center: scala.collection.Seq[Long] = {
      val seed = m.filter(col("vec_id") === 0L).head()
      seed.getSeq[Long](seed.fieldIndex("mv"))
    }
    var state = m.withColumn("dmin", lit(Long.MaxValue))
    val selected = Seq.newBuilder[(Int, Long, Long)]
    selected += ((1, 0L, 0L))
    for (r <- 2 to k) {
      val cv = array(center.toSeq.map(lit(_)): _*)
      val obs = org.apache.spark.sql.Observation(s"kcenter_$r")
      state = state
        .select(col("vec_id"), col("mv"), least(col("dmin"),
          aggregate(zip_with(col("mv"), cv, (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, t) => acc + t)).as("dmin"))
        // ties to the smaller vec_id (an all-duplicates corpus would
        // re-pick the seed at dmin 0 — degenerate input, exact-dedup first)
        .observe(obs, max(struct(col("dmin"), (-col("vec_id")).as("nid"),
          col("mv"))).as("w"))
        .localCheckpoint(true)
      val w = obs.get("w").asInstanceOf[org.apache.spark.sql.Row]
      selected += ((r, -w.getLong(1), w.getLong(0)))
      center = w.getSeq[Long](w.fieldIndex("mv"))
    }
    selected.result().toDF("rank", "sel_id", "dist_micro2")
  }

  // ------------------------------------------------------------- registry

  private def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_brute" -> ((s, dir) => Util.orderAll(bruteForceTopK(emb(s, dir), 5, 10))),
    "ann_lsh"   -> ((s, dir) => Util.orderAll(lshTopK(emb(s, dir), 5, 10))),
    "ann_lsh_multi" -> ((s, dir) => Util.orderAll(lshTopKMulti(emb(s, dir), 5, 10))),
    "ann_lsh_multiprobe" -> ((s, dir) => Util.orderAll(lshTopKMultiprobe(emb(s, dir), 5, 10))),
    "ann_recall_eval" -> ((s, dir) => Util.orderAll(annRecallEval(emb(s, dir), 5, 10))),
    "emb_bitext_mine" -> ((s, dir) => Util.orderAll(bitextMine(emb(s, dir), 4, BitextMinPpm))),
    "emb_bitext_lsh" -> ((s, dir) => Util.orderAll(bitextMineLsh(emb(s, dir), 4, BitextMinPpm))),
    "emb_drift_ref" -> ((s, dir) => Util.orderAll(embDriftRef(emb(s, dir)))),
    "ann_ivf"   -> ((s, dir) => Util.orderAll(ivfTopK(emb(s, dir), 5, 10))),
    "ann_ivf_kmeans" -> ((s, dir) => Util.orderAll(ivfKmeansTopK(emb(s, dir), 5, 10))),
    "ann_ivf_sized" -> ((s, dir) => Util.orderAll(ivfSizedTopK(emb(s, dir), 5, 10))),
    "ann_pq"    -> ((s, dir) => Util.orderAll(pqTopK(emb(s, dir), 5, 10))),
    "ann_pq_refine" -> ((s, dir) => Util.orderAll(pqRefineTopK(emb(s, dir), 5, 10))),
    "ann_ivfpq" -> ((s, dir) => Util.orderAll(ivfPqTopK(emb(s, dir), 5, 10))),
    "ann_ivfpq_refine" -> ((s, dir) => Util.orderAll(ivfPqRefineTopK(emb(s, dir), 5, 10))),
    // the stored serving path at its OWN stored contract (sized nprobe +
    // derived refine against the memoized writeIvfPqIndexSized artifact) —
    // the oracle re-derives every knob from count(*) and replays the whole
    // chain, so the params the index carries are themselves checked
    "ann_ivfpq_sized" -> ((s, dir) => Util.orderAll(ivfPqRefineAgainstIndex(
      emb(s, dir).filter(col("vec_id") < 5), ivfPqSizedIndex(s, dir), 10))),
    // threshold 0.35: the fixture's highest within-cell cosine is 0.472
    // (same argument as doc_dedup_embedding_lsh) — 0.5 would be vacuous
    "doc_dedup_semantic" -> ((s, dir) => Util.orderAll(semDedup(emb(s, dir), 0.35))),
    "emb_centroids"    -> ((s, dir) => Util.orderAll(labelCentroids(emb(s, dir)))),
    "emb_centroids_vec" -> ((s, dir) => Util.orderAll(labelCentroidsVec(emb(s, dir)))),
    "emb_label_purity" -> ((s, dir) => Util.orderAll(labelPurity(emb(s, dir), 50, 10))),
    "emb_quantize"     -> ((s, dir) => Util.orderAll(sq8Codes(emb(s, dir)))),
    "ann_sq8"          -> ((s, dir) => Util.orderAll(sq8TopK(emb(s, dir), 5, 10))),
    "emb_project"      -> ((s, dir) => Util.orderAll(jlProject(emb(s, dir), 16))),
    "ann_jl"           -> ((s, dir) => Util.orderAll(jlTopK(emb(s, dir), 16, 5, 10))),
    "emb_pca"          -> ((s, dir) => Util.orderAll(pcaPower(emb(s, dir)))),
    "emb_pca_scores"   -> ((s, dir) => Util.orderAll(pcaScores(emb(s, dir)))),
    "emb_kcenter"      -> ((s, dir) => Util.orderAll(kCenter(emb(s, dir), 8))),
    "emb_outliers"     -> ((s, dir) => Util.orderAll(zscoreOutliers(emb(s, dir), 20))),
    // mod 97 → 6 eval vectors on the sf0.01 fixture; 0.3 sits between the
    // cross-split cosine bulk and its 0.467 max, so the gate discriminates
    "emb_decontaminate" -> ((s, dir) => Util.orderAll(embDecontaminate(emb(s, dir), 97, 0.3))),
    "emb_hard_negatives" -> ((s, dir) => Util.orderAll(hardNegatives(emb(s, dir), 5, 3))),
    "emb_prototypes" -> ((s, dir) => Util.orderAll(prototypesPrune(emb(s, dir)))),
  )

  private val normCte =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
      |)
      |""".stripMargin

  private val annCols = Seq("query_id", "neighbor_id", "cosine", "rk")

  /** The PQ-ADC chain (subvectors → codebook → integer-micro distance
    * tables → per-subspace argmin codes → BIGINT ADC sums) as CTEs ending
    * in `approx(query_id, neighbor_id, approx_dist_micro)` — ONE
    * definition consumed by both the ann_pq and ann_pq_refine oracles so
    * the quantization arithmetic can't drift between them. */
  private val pqChainCte =
    s""", ss AS (SELECT unnest(range(0, $PqSubspaces)) AS s)
       |, sp AS (
       |  SELECT vec_id, s,
       |    list_slice(v, s * $PqSubDim + 1, s * $PqSubDim + $PqSubDim) AS sub,
       |    list_sum(list_transform(list_slice(v, s * $PqSubDim + 1, s * $PqSubDim + $PqSubDim),
       |      x -> x * x)) AS xx
       |  FROM n, ss
       |), cb AS (
       |  SELECT s, vec_id AS cid,
       |    list_slice(v, s * $PqSubDim + 1, s * $PqSubDim + $PqSubDim) AS cv,
       |    list_sum(list_transform(list_slice(v, s * $PqSubDim + 1, s * $PqSubDim + $PqSubDim),
       |      x -> x * x)) AS cc
       |  FROM n, ss WHERE vec_id % 61 = 0
       |), alldist AS (
       |  SELECT sp.vec_id, sp.s, cb.cid,
       |    CAST(round((sp.xx + cb.cc - 2 * list_sum(list_transform(range(1, $PqSubDim + 1),
       |      i -> sp.sub[i] * cb.cv[i]))) * 1000000) AS BIGINT) AS dm
       |  FROM sp JOIN cb ON sp.s = cb.s
       |), codes AS (
       |  SELECT vec_id AS neighbor_id, s, cid FROM (
       |    SELECT vec_id, s, cid,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dm ASC, cid ASC) AS rk
       |    FROM alldist WHERE vec_id >= 5) t
       |  WHERE rk = 1
       |), qtab AS (
       |  SELECT vec_id AS query_id, s, cid, dm AS qdm
       |  FROM alldist WHERE vec_id < 5
       |), approx AS (
       |  SELECT query_id, neighbor_id, CAST(sum(qdm) AS BIGINT) AS approx_dist_micro
       |  FROM codes JOIN qtab USING (s, cid)
       |  GROUP BY 1, 2
       |)
       |""".stripMargin

  /** The IVF-PQ chain (coarse cells -> residual subvectors -> residual
    * codebook -> integer-micro tables -> per-cell ADC sums) as CTEs
    * ending in `approx(query_id, neighbor_id, approx_dist_micro)` -- ONE
    * definition consumed by the ann_ivfpq and ann_ivfpq_refine oracles. */
  private val ivfpqChainCte =
    s""", cent AS (
         |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 37 = 0
         |), ranked AS (
         |  SELECT vec_id, v, nrm, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS crk
         |  FROM (
         |    SELECT n.vec_id, n.v, n.nrm, cent.cid,
         |      round(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * cent.cv[i]))
         |        / (n.nrm * cent.cnrm), 6) AS csim
         |    FROM n CROSS JOIN cent
         |  ) s
         |), ss AS (SELECT unnest(range(0, $PqSubspaces)) AS s)
         |, rsub AS (
         |  SELECT r.vec_id, r.cid, ss.s,
         |    list_slice(rv, ss.s * $PqSubDim + 1, ss.s * $PqSubDim + $PqSubDim) AS sub,
         |    list_sum(list_transform(list_slice(rv, ss.s * $PqSubDim + 1, ss.s * $PqSubDim + $PqSubDim),
         |      x -> x * x)) AS xx
         |  FROM (
         |    SELECT ranked.vec_id, ranked.cid,
         |      list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS rv
         |    FROM ranked JOIN cent USING (cid) WHERE crk = 1
         |  ) r, ss
         |), cbr AS (
         |  SELECT s, vec_id AS code, sub AS cv, xx AS cc FROM rsub WHERE vec_id % 61 = 0
         |), codes AS (
         |  SELECT vec_id AS neighbor_id, cid, s, code FROM (
         |    SELECT r.vec_id, r.cid, r.s, c.code,
         |      row_number() OVER (PARTITION BY r.vec_id, r.s ORDER BY
         |        CAST(round((r.xx + c.cc - 2 * list_sum(list_transform(range(1, $PqSubDim + 1),
         |          i -> r.sub[i] * c.cv[i]))) * 1000000) AS BIGINT) ASC, c.code ASC) AS rk
         |    FROM rsub r JOIN cbr c ON r.s = c.s WHERE r.vec_id >= 5) t
         |  WHERE rk = 1
         |), qsub AS (
         |  SELECT q.query_id, q.cid, ss.s,
         |    list_slice(rv, ss.s * $PqSubDim + 1, ss.s * $PqSubDim + $PqSubDim) AS sub,
         |    list_sum(list_transform(list_slice(rv, ss.s * $PqSubDim + 1, ss.s * $PqSubDim + $PqSubDim),
         |      x -> x * x)) AS xx
         |  FROM (
         |    SELECT ranked.vec_id AS query_id, ranked.cid,
         |      list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS rv
         |    FROM ranked JOIN cent USING (cid) WHERE vec_id < 5 AND crk <= 2
         |  ) q, ss
         |), qtab AS (
         |  SELECT q.query_id, q.cid, q.s, c.code,
         |    CAST(round((q.xx + c.cc - 2 * list_sum(list_transform(range(1, $PqSubDim + 1),
         |      i -> q.sub[i] * c.cv[i]))) * 1000000) AS BIGINT) AS qdm
         |  FROM qsub q JOIN cbr c ON q.s = c.s
         |), approx AS (
         |  SELECT query_id, neighbor_id, CAST(sum(qdm) AS BIGINT) AS approx_dist_micro
         |  FROM codes JOIN qtab USING (cid, s, code)
         |  GROUP BY 1, 2
         |)
         |""".stripMargin

  /** Margin gate for the bitext queries (ppm of the margin ratio). Mutual-
    * best pairs have margin ≥ 1.0 by construction, so the knob only starts
    * discriminating above 10⁶; 1.10 sits inside the fixture's mutual-best
    * margin spread at every SF — measured brute spreads [1.063, 1.421]
    * (sf0.001), [1.039, 1.464] (sf0.01), [1.018, 1.472] (sf0.1) — so the
    * gate provably drops some pairs and keeps some (spec-asserted). */
  private[graft] val BitextMinPpm = 1100000L

  /** The shared margin-mining oracle chain: `candFrom` supplies the
    * candidate FROM/JOIN clause over sides a (even vec_id) / b (odd);
    * k = 4 top-neighbor sums, mutual-best + margin gate as in
    * [[marginMine]]. */
  private def bitextMarginSql(candFrom: String): String =
    s""", sc AS (
       |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
       |    CAST(round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS cos_micro
       |  $candFrom
       |), rk AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY src_id ORDER BY cos_micro DESC, tgt_id ASC) AS rka,
       |    row_number() OVER (PARTITION BY tgt_id ORDER BY cos_micro DESC, src_id ASC) AS rkb
       |  FROM sc
       |), ag AS (
       |  SELECT *,
       |    sum(CASE WHEN rka <= 4 THEN cos_micro END) OVER (PARTITION BY src_id) AS sa,
       |    sum(CASE WHEN rkb <= 4 THEN cos_micro END) OVER (PARTITION BY tgt_id) AS sb
       |  FROM rk
       |)
       |""".stripMargin + Util.wrap(
      s"""SELECT src_id, tgt_id, cos_micro,
         |  CAST((2 * cos_micro * 1000000 * 4) // (sa + sb) AS BIGINT) AS margin_ppm
         |FROM ag WHERE rka = 1 AND rkb = 1 AND cos_micro > 0 AND sa + sb > 0
         |  AND (2 * cos_micro * 1000000 * 4) // (sa + sb) >= $BitextMinPpm""".stripMargin,
      Seq("src_id", "tgt_id"))

  /** 8-plane LCG signature chain (buck + nb), appended to [[normCte]] —
    * shared by the single-table and multiprobe LSH oracles. */
  private val lshChainCte =
    """, buck AS (
      |  SELECT vec_id,
      |    sum(CASE WHEN proj >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS bucket
      |  FROM (
      |    SELECT vec_id, p,
      |      list_sum(list_transform(range(1, 65),
      |        i -> (CAST((1103515245 * (p * 64 + (i - 1)) + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5) * v[i])) AS proj
      |    FROM n CROSS JOIN (SELECT unnest(range(0, 8)) AS p) pp
      |  ) pr GROUP BY vec_id
      |), nb AS (
      |  SELECT n.vec_id, v, nrm, bucket FROM n JOIN buck ON n.vec_id = buck.vec_id
      |)
      |""".stripMargin

  /** One unrolled Lloyd's step, centroids `cin` → `cout`. Mirrors
    * [[kmeansCentroids]] bit-for-bit: rounded-cosine argmax assignment
    * (csim DESC, cid ASC), then per-(cell, dim) means in exact integer
    * micro-units (CAST pins DuckDB's HUGEINT sum), list rebuilt in dim
    * order and the norm recomputed over it. */
  private def lloydIter(cin: String, asg: String, cout: String,
                        src: String = "n"): String =
    s""", $asg AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT n.vec_id, n.v, c.cid,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm), 6) DESC,
       |        c.cid ASC) AS rk
       |    FROM $src n CROSS JOIN $cin c
       |  ) t WHERE rk = 1
       |), $cout AS (
       |  SELECT cid, list(cx ORDER BY dim) AS cv,
       |    sqrt(list_sum(list_transform(list(cx ORDER BY dim), x -> x * x))) AS cnrm
       |  FROM (
       |    SELECT cid, dim,
       |      round(CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0, 6) AS cx
       |    FROM (SELECT cid, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS dim FROM $asg) u
       |    GROUP BY cid, dim
       |  ) m GROUP BY cid
       |)
       |""".stripMargin

  private lazy val centroidsOracle: String = Util.wrap(
    """SELECT label, i - 1 AS dim,
      |  round(CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0, 6) AS centroid,
      |  count(*) AS n_vectors
      |FROM (
      |  SELECT label,
      |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
      |    unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings) t
      |GROUP BY label, i - 1""".stripMargin,
    Seq("label", "dim", "centroid", "n_vectors"))

  def oracle: Map[String, String] = Map(
    // pairs thresholded FIRST, then ranked — identical gate order to the
    // Spark side (equivalent to rank-then-filter since ranking is by the
    // same rounded cosine, but structural identity costs nothing)
    "emb_decontaminate" -> (normCte + Util.wrap(
      """SELECT vec_id, eval_id, cosine FROM (
        |  SELECT vec_id, eval_id, cosine,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cosine DESC, eval_id ASC) AS rk
        |  FROM (
        |    SELECT t.vec_id, q.vec_id AS eval_id,
        |      round(list_sum(list_transform(range(1, len(t.v) + 1), i -> t.v[i] * q.v[i])) / (t.nrm * q.nrm), 6) AS cosine
        |    FROM n t JOIN n q ON t.vec_id % 97 <> 0 AND q.vec_id % 97 = 0
        |  ) p WHERE cosine >= 0.3
        |) z WHERE rk = 1""".stripMargin,
      Seq("vec_id", "eval_id", "cosine"))),

    // same join-time label exclusion, same ranking contract
    "emb_hard_negatives" -> (normCte + Util.wrap(
      """SELECT query_id, neighbor_id, cosine, rk FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
        |               c.vec_id ASC) AS rk
        |  FROM (SELECT n.*, e.label FROM n JOIN embeddings e USING (vec_id)) q
        |  JOIN (SELECT n.*, e.label FROM n JOIN embeddings e USING (vec_id)) c
        |    ON q.vec_id < 5 AND q.label <> c.label
        |) t WHERE rk <= 3""".stripMargin, annCols)),

    "ann_brute" -> (normCte + Util.wrap(
      """SELECT query_id, neighbor_id, cosine, rk FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
        |               c.vec_id ASC) AS rk
        |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id >= 5
        |) t WHERE rk <= 10""".stripMargin, annCols)),

    // PQ-ADC: subvector slices + squared norms per (vector, subspace); the
    // codebook is the vec_id % 61 sample's subvectors; dm is the identical
    // xx + cc − 2·x·c combination rounded ONCE to integer micros; encode =
    // per-(vector, subspace) argmin; approx distance = exact BIGINT sum of
    // the m table entries (chain shared with ann_pq_refine: pqChainCte)
    "ann_pq" -> (normCte + pqChainCte + Util.wrap(
        """SELECT query_id, neighbor_id, approx_dist_micro, rk FROM (
          |  SELECT query_id, neighbor_id, approx_dist_micro,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY approx_dist_micro ASC, neighbor_id ASC) AS rk
          |  FROM approx) t WHERE rk <= 10""".stripMargin,
        Seq("query_id", "neighbor_id", "approx_dist_micro", "rk"))),

    // PQ + exact re-rank: the same pqChainCte picks k·refine = 160 ADC
    // candidates per query (PQ's tie rules), then exact cosine over ONLY
    // those candidates re-ranks under the ann_brute contract
    "ann_pq_refine" -> (normCte + pqChainCte +
      """, cand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY approx_dist_micro ASC, neighbor_id ASC) AS prk
        |    FROM approx) t WHERE prk <= 160
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT cand.query_id, cand.neighbor_id,
          |    round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine,
          |    row_number() OVER (PARTITION BY cand.query_id
          |      ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
          |               cand.neighbor_id ASC) AS rk
          |  FROM cand
          |  JOIN n q ON q.vec_id = cand.query_id
          |  JOIN n c ON c.vec_id = cand.neighbor_id
          |) t WHERE rk <= 10""".stripMargin, annCols)),

    // IVF-PQ: ann_ivf's cent/ranked chain supplies cell assignment (crk=1)
    // and probe lists (crk<=2); residuals are exact IEEE subtractions
    // against the cell centroid; then the ann_pq chain runs on residual
    // subvectors with the cell id carried through the code/table join so a
    // neighbor is scored only inside probed cells
    "ann_ivfpq" -> (normCte + ivfpqChainCte + Util.wrap(
        """SELECT query_id, neighbor_id, approx_dist_micro, rk FROM (
          |  SELECT query_id, neighbor_id, approx_dist_micro,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY approx_dist_micro ASC, neighbor_id ASC) AS rk
          |  FROM approx) t WHERE rk <= 10""".stripMargin,
        Seq("query_id", "neighbor_id", "approx_dist_micro", "rk"))),

    // IVF-PQ + exact re-rank: same ivfpqChainCte candidates (top k·refine
    // = 160 by ADC distance), exact cosine re-rank under the brute contract
    "ann_ivfpq_refine" -> (normCte + ivfpqChainCte +
      """, cand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY approx_dist_micro ASC, neighbor_id ASC) AS prk
        |    FROM approx) t WHERE prk <= 160
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT cand.query_id, cand.neighbor_id,
          |    round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine,
          |    row_number() OVER (PARTITION BY cand.query_id
          |      ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
          |               cand.neighbor_id ASC) AS rk
          |  FROM cand
          |  JOIN n q ON q.vec_id = cand.query_id
          |  JOIN n c ON c.vec_id = cand.neighbor_id
          |) t WHERE rk <= 10""".stripMargin, annCols)),

    // the STORED sized IVF-PQ serving path, replayed end-to-end: corpus =
    // vec_id >= 5 (an index can't see future queries); every knob is
    // re-derived from count(*) — nlist/cmod/nprobe via the ann_ivf_sized
    // arithmetic, refine via the ivfPqSizedRefine integer-ppm chain
    // (coverage = scan^(1/4) ppm-snapped, f = ceil-div target/coverage,
    // refine = ceil(64·f²)) — then two corpus-only Lloyd's steps, the
    // residual-PQ encode/ADC chain at the derived nprobe, and the exact
    // re-rank of the top k·refine candidates under the brute contract
    "ann_ivfpq_sized" -> (normCte +
      """, nc AS (SELECT vec_id, v, nrm FROM n WHERE vec_id >= 5)
        |, prm AS (
        |  SELECT nlist, cmod, nprobe,
        |    (64 * f_ppm * f_ppm + 999999999999) // 1000000000000 AS refine
        |  FROM (
        |    SELECT nlist, cmod, nprobe,
        |      least(1000000, (CAST(800000 AS BIGINT) * 1000000 + cov_ppm - 1) // cov_ppm) AS f_ppm
        |    FROM (
        |      SELECT nlist,
        |        greatest(1, CAST(round(cnt / nlist) AS BIGINT)) AS cmod,
        |        greatest(1, (nlist * scan_ppm + 999999) // 1000000) AS nprobe,
        |        CAST(round(pow(scan_ppm / 1000000.0, 0.25) * 1000000) AS BIGINT) AS cov_ppm
        |      FROM (
        |        SELECT greatest(4, CAST(round(sqrt(cnt)) AS BIGINT)) AS nlist, cnt,
        |          least(1000000, CAST(round(1.15 * pow(0.8, 4) * 1000000) AS BIGINT)) AS scan_ppm
        |        FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nc) c0
        |      ) c1
        |    ) c2
        |  ) c3
        |), cent0 AS (
        |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM nc, prm
        |  WHERE vec_id % prm.cmod = 0
        |)
        |""".stripMargin +
      lloydIter("cent0", "pqasg1", "pqcent1", src = "nc") +
      lloydIter("pqcent1", "pqasg2", "pqcent2", src = "nc") +
      s""", ranked AS (
         |  SELECT vec_id, v, nrm, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS crk
         |  FROM (
         |    SELECT n.vec_id, n.v, n.nrm, c.cid,
         |      round(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]))
         |        / (n.nrm * c.cnrm), 6) AS csim
         |    FROM n CROSS JOIN pqcent2 c
         |  ) s
         |), ss AS (SELECT unnest(range(0, $PqSubspaces)) AS s)
         |, rsub AS (
         |  SELECT r.vec_id, r.cid, ss.s,
         |    list_slice(rv, ss.s * $PqSubDim + 1, ss.s * $PqSubDim + $PqSubDim) AS sub,
         |    list_sum(list_transform(list_slice(rv, ss.s * $PqSubDim + 1, ss.s * $PqSubDim + $PqSubDim),
         |      x -> x * x)) AS xx
         |  FROM (
         |    SELECT ranked.vec_id, ranked.cid,
         |      list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS rv
         |    FROM ranked JOIN pqcent2 USING (cid) WHERE vec_id >= 5 AND crk = 1
         |  ) r, ss
         |), cbr AS (
         |  SELECT s, vec_id AS code, sub AS cv, xx AS cc FROM rsub WHERE vec_id % 61 = 0
         |), codes AS (
         |  SELECT vec_id AS neighbor_id, cid, s, code FROM (
         |    SELECT r.vec_id, r.cid, r.s, c.code,
         |      row_number() OVER (PARTITION BY r.vec_id, r.s ORDER BY
         |        CAST(round((r.xx + c.cc - 2 * list_sum(list_transform(range(1, $PqSubDim + 1),
         |          i -> r.sub[i] * c.cv[i]))) * 1000000) AS BIGINT) ASC, c.code ASC) AS rk
         |    FROM rsub r JOIN cbr c ON r.s = c.s) t
         |  WHERE rk = 1
         |), qsub AS (
         |  SELECT q.query_id, q.cid, ss.s,
         |    list_slice(rv, ss.s * $PqSubDim + 1, ss.s * $PqSubDim + $PqSubDim) AS sub,
         |    list_sum(list_transform(list_slice(rv, ss.s * $PqSubDim + 1, ss.s * $PqSubDim + $PqSubDim),
         |      x -> x * x)) AS xx
         |  FROM (
         |    SELECT ranked.vec_id AS query_id, ranked.cid,
         |      list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS rv
         |    FROM ranked JOIN pqcent2 USING (cid), prm
         |    WHERE vec_id < 5 AND crk <= prm.nprobe
         |  ) q, ss
         |), qtab AS (
         |  SELECT q.query_id, q.cid, q.s, c.code,
         |    CAST(round((q.xx + c.cc - 2 * list_sum(list_transform(range(1, $PqSubDim + 1),
         |      i -> q.sub[i] * c.cv[i]))) * 1000000) AS BIGINT) AS qdm
         |  FROM qsub q JOIN cbr c ON q.s = c.s
         |), approx AS (
         |  SELECT query_id, neighbor_id, CAST(sum(qdm) AS BIGINT) AS approx_dist_micro
         |  FROM codes JOIN qtab USING (cid, s, code)
         |  GROUP BY 1, 2
         |), cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY approx_dist_micro ASC, neighbor_id ASC) AS prk
         |    FROM approx) t, prm WHERE prk <= 10 * prm.refine
         |)
         |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT cand.query_id, cand.neighbor_id,
          |    round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine,
          |    row_number() OVER (PARTITION BY cand.query_id
          |      ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
          |               cand.neighbor_id ASC) AS rk
          |  FROM cand
          |  JOIN n q ON q.vec_id = cand.query_id
          |  JOIN n c ON c.vec_id = cand.neighbor_id
          |) t WHERE rk <= 10""".stripMargin, annCols)),

    "ann_lsh" -> (normCte + lshChainCte + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
          |               c.vec_id ASC) AS rk
          |  FROM nb q JOIN nb c ON q.bucket = c.bucket AND q.vec_id < 5 AND c.vec_id >= 5
          |) t WHERE rk <= 10""".stripMargin, annCols)),

    // multiprobe: each query's probe set is its own bucket plus the 8
    // flip-one-bit buckets (DuckDB xor; Spark's ^), then the same equi-join
    // + rank chain — a neighbor's single bucket matches at most one probe,
    // so no DISTINCT is needed before ranking
    "ann_lsh_multiprobe" -> (normCte + lshChainCte +
      """, probes AS (
        |  SELECT vec_id, v, nrm,
        |    CASE WHEN z = 0 THEN bucket
        |         ELSE xor(bucket, CAST(power(2, z - 1) AS BIGINT)) END AS bucket
        |  FROM nb CROSS JOIN (SELECT unnest(range(0, 9)) AS z) zz
        |  WHERE vec_id < 5
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
          |               c.vec_id ASC) AS rk
          |  FROM probes q JOIN nb c ON q.bucket = c.bucket AND c.vec_id >= 5
          |) t WHERE rk <= 10""".stripMargin, annCols)),

    // LSH-cell occupancy drift per label group vs the even-half reference:
    // the doc_drift_ref chain over the LCG bucket table, B = 256
    "emb_drift_ref" -> (normCte + lshChainCte +
      """, bl AS (
        |  SELECT nb.vec_id, bucket, label
        |  FROM nb JOIN embeddings e ON nb.vec_id = e.vec_id
        |), refc AS (
        |  SELECT bucket, count(*) AS ref_n FROM bl WHERE vec_id % 2 = 0 GROUP BY 1
        |), obs AS (
        |  SELECT 'label_' || CAST(label AS VARCHAR) AS grp, bucket, count(*) AS o
        |  FROM bl WHERE vec_id % 2 = 1 GROUP BY 1, 2
        |)
        |""".stripMargin
      // chi² chain is graft.Util.chi2DriftSql — the ONE source this oracle
      // shares with doc_drift_ref so the two drift definitions cannot diverge
      + Util.chi2DriftSql("grp", "obs", "refc", nBuckets = 256)),

    // recall@10 of the lsh and multiprobe paths vs the exact brute top-10;
    // LEFT join keeps bucket-miss queries with n_hit = 0; ppm is exact
    // BIGINT division on both engines
    "ann_recall_eval" -> (normCte + lshChainCte + pqChainCte +
      """, probes AS (
        |  SELECT vec_id, v, nrm,
        |    CASE WHEN z = 0 THEN bucket
        |         ELSE xor(bucket, CAST(power(2, z - 1) AS BIGINT)) END AS bucket
        |  FROM nb CROSS JOIN (SELECT unnest(range(0, 9)) AS z) zz
        |  WHERE vec_id < 5
        |), tr AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
        |                 c.vec_id ASC) AS rk
        |    FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id >= 5
        |  ) t WHERE rk <= 10
        |), ap1 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
        |                 c.vec_id ASC) AS rk
        |    FROM nb q JOIN nb c ON q.bucket = c.bucket AND q.vec_id < 5 AND c.vec_id >= 5
        |  ) t WHERE rk <= 10
        |), ap2 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
        |                 c.vec_id ASC) AS rk
        |    FROM probes q JOIN nb c ON q.bucket = c.bucket AND c.vec_id >= 5
        |  ) t WHERE rk <= 10
        |), rcand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY approx_dist_micro ASC, neighbor_id ASC) AS prk
        |    FROM approx) t WHERE prk <= 160
        |), ap3 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT rcand.query_id, rcand.neighbor_id,
        |      row_number() OVER (PARTITION BY rcand.query_id
        |        ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
        |                 rcand.neighbor_id ASC) AS rk
        |    FROM rcand
        |    JOIN n q ON q.vec_id = rcand.query_id
        |    JOIN n c ON c.vec_id = rcand.neighbor_id
        |  ) t WHERE rk <= 10
        |)
        |""".stripMargin + Util.wrap(
        """SELECT 'lsh' AS method, t.query_id,
          |  CAST(count(*) AS BIGINT) AS n_truth,
          |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
          |  (CAST(count(a.neighbor_id) AS BIGINT) * CAST(1000000 AS BIGINT))
          |    // CAST(count(*) AS BIGINT) AS recall_ppm
          |FROM tr t LEFT JOIN ap1 a
          |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
          |GROUP BY t.query_id
          |UNION ALL
          |SELECT 'multiprobe' AS method, t.query_id,
          |  CAST(count(*) AS BIGINT) AS n_truth,
          |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
          |  (CAST(count(a.neighbor_id) AS BIGINT) * CAST(1000000 AS BIGINT))
          |    // CAST(count(*) AS BIGINT) AS recall_ppm
          |FROM tr t LEFT JOIN ap2 a
          |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
          |GROUP BY t.query_id
          |UNION ALL
          |SELECT 'pq_refine' AS method, t.query_id,
          |  CAST(count(*) AS BIGINT) AS n_truth,
          |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
          |  (CAST(count(a.neighbor_id) AS BIGINT) * CAST(1000000 AS BIGINT))
          |    // CAST(count(*) AS BIGINT) AS recall_ppm
          |FROM tr t LEFT JOIN ap3 a
          |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
          |GROUP BY t.query_id""".stripMargin,
        Seq("method", "query_id", "n_truth", "n_hit", "recall_ppm"))),

    // margin chain: cosine snapped ONCE to integer micros, then ranking,
    // k-NN sums and the margin ratio are exact integer arithmetic (`//` on
    // positive BIGINTs ≡ Spark's `div`); mutual-best + positive-mass gate
    // identical to the Spark side
    "emb_bitext_mine" -> (normCte + bitextMarginSql(
      "FROM n a JOIN n b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1")),

    "emb_bitext_lsh" -> (normCte + lshChainCte + bitextMarginSql(
      "FROM nb a JOIN nb b ON a.bucket % 16 = b.bucket % 16 " +
        "AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1")),

    // parallel unnests zip positionally in DuckDB; dim mirrors posexplode's
    // 0-based position. Mean is an exact integer micro-unit sum divided
    // back out — summation order can't flip a round-half tie (see
    // labelCentroids scaladoc)
    // integer micro-unit z² in 1e-4 quanta; both engines truncate integer
    // division toward zero, so every per-dim term matches exactly. ORDER BY
    // + LIMIT mirrors the Spark top-k; the outer wrap re-sorts for the
    // driver's hash compare
    "emb_outliers" -> Util.wrap(
      """SELECT vec_id, score_q FROM (
        |  SELECT vec_id, CAST(sum((d * d * 10000) // v) AS BIGINT) AS score_q
        |  FROM (
        |    SELECT vec_id, dim, xm - mu AS d, v
        |    FROM (
        |      SELECT vec_id, i - 1 AS dim, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xm
        |      FROM (
        |        SELECT vec_id, unnest(embedding) AS x,
        |          unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings) e0
        |    ) x
        |    JOIN (
        |      SELECT dim, sum(xm) // count(*) AS mu FROM (
        |        SELECT i - 1 AS dim, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xm
        |        FROM (
        |          SELECT unnest(embedding) AS x,
        |            unnest(range(1, len(embedding) + 1)) AS i
        |          FROM embeddings) e1) m0
        |      GROUP BY dim) mu USING (dim)
        |    JOIN (
        |      SELECT dim, sum(d * d) // count(*) AS v FROM (
        |        SELECT dim, xm - sum(xm) OVER (PARTITION BY dim) // count(*) OVER (PARTITION BY dim) AS d
        |        FROM (
        |          SELECT i - 1 AS dim, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xm
        |          FROM (
        |            SELECT unnest(embedding) AS x,
        |              unnest(range(1, len(embedding) + 1)) AS i
        |            FROM embeddings) e2) m1) d0
        |      GROUP BY dim) vr USING (dim)
        |    WHERE v > 0
        |  ) z
        |  GROUP BY vec_id
        |  ORDER BY score_q DESC, vec_id ASC
        |  LIMIT 20
        |) topk""".stripMargin,
      Seq("vec_id", "score_q")),

    "emb_centroids" -> centroidsOracle,
    // the native-aggregate twin computes the IDENTICAL integer sums
    "emb_centroids_vec" -> centroidsOracle,

    // same brute top-k chain as ann_brute (nQueries=50, k=10), then label
    // joins and the purity rollup; CAST pins DuckDB's HUGEINT sum to BIGINT
    "emb_label_purity" -> (normCte +
      """, tk AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
        |                 c.vec_id ASC) AS rk
        |    FROM n q JOIN n c ON q.vec_id < 50 AND c.vec_id >= 50
        |  ) t WHERE rk <= 10
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, ql.label AS label,
          |  CAST(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
          |  count(*) AS n_neighbors,
          |  round(CAST(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS purity
          |FROM tk
          |JOIN embeddings ql ON ql.vec_id = query_id
          |JOIN embeddings nl ON nl.vec_id = neighbor_id
          |GROUP BY query_id, ql.label""".stripMargin,
        Seq("query_id", "label", "n_same", "n_neighbors", "purity"))),

    // same signature arithmetic as ann_lsh with the plane index offset by
    // fam*512; candidates are the deduplicated union over both families
    "ann_lsh_multi" -> (normCte +
      """, buck AS (
        |  SELECT vec_id, fam,
        |    sum(CASE WHEN proj >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS bucket
        |  FROM (
        |    SELECT vec_id, fam, p,
        |      list_sum(list_transform(range(1, 65),
        |        i -> (CAST((1103515245 * (fam * 512 + p * 64 + (i - 1)) + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5) * v[i])) AS proj
        |    FROM n
        |    CROSS JOIN (SELECT unnest(range(0, 8)) AS p) pp
        |    CROSS JOIN (SELECT unnest(range(0, 2)) AS fam) ff
        |  ) pr GROUP BY vec_id, fam
        |), cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM buck q JOIN buck c ON q.fam = c.fam AND q.bucket = c.bucket
        |    AND q.vec_id < 5 AND c.vec_id >= 5
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT query_id, neighbor_id,
          |    round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
          |               neighbor_id ASC) AS rk
          |  FROM cand JOIN n q ON q.vec_id = query_id JOIN n c ON c.vec_id = neighbor_id
          |) t WHERE rk <= 10""".stripMargin, annCols)),

    "ann_ivf" -> (normCte +
      """, cent AS (
        |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 37 = 0
        |), ranked AS (
        |  SELECT vec_id, v, nrm, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS crk
        |  FROM (
        |    SELECT n.vec_id, n.v, n.nrm, cent.cid,
        |      round(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * cent.cv[i]))
        |        / (n.nrm * cent.cnrm), 6) AS csim
        |    FROM n CROSS JOIN cent
        |  ) s
        |), cells AS (
        |  SELECT vec_id AS neighbor_id, v AS vb, nrm AS nb, cid
        |  FROM ranked WHERE vec_id >= 5 AND crk = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, v AS va, nrm AS na, cid
        |  FROM ranked WHERE vec_id < 5 AND crk <= 2
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT query_id, neighbor_id,
          |    round(list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])) / (na * nb), 6) AS cosine,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY round(list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])) / (na * nb), 6) DESC,
          |               neighbor_id ASC) AS rk
          |  FROM probes JOIN cells USING (cid)
          |) t WHERE rk <= 10""".stripMargin, annCols)),

    // two unrolled Lloyd's steps from the mod-37 seed (the PageRank
    // unrolled-CTE pattern), then the standard cells/probes/rescore chain
    // over the refined centroid table
    "ann_ivf_kmeans" -> (normCte +
      """, cent0 AS (
        |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 37 = 0
        |)
        |""".stripMargin +
      lloydIter("cent0", "asg1", "cent1") +
      lloydIter("cent1", "asg2", "cent2") +
      """, ranked AS (
        |  SELECT vec_id, v, nrm, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS crk
        |  FROM (
        |    SELECT n.vec_id, n.v, n.nrm, c.cid,
        |      round(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]))
        |        / (n.nrm * c.cnrm), 6) AS csim
        |    FROM n CROSS JOIN cent2 c
        |  ) s
        |), cells AS (
        |  SELECT vec_id AS neighbor_id, v AS vb, nrm AS nb, cid
        |  FROM ranked WHERE vec_id >= 5 AND crk = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, v AS va, nrm AS na, cid
        |  FROM ranked WHERE vec_id < 5 AND crk <= 2
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT query_id, neighbor_id,
          |    round(list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])) / (na * nb), 6) AS cosine,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY round(list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])) / (na * nb), 6) DESC,
          |               neighbor_id ASC) AS rk
          |  FROM probes JOIN cells USING (cid)
          |) t WHERE rk <= 10""".stripMargin, annCols)),

    // the sized default path: every knob derived from count(*) inside the
    // query — nlist = max(4, round(sqrt(n))), seed stride = round(n/nlist),
    // nprobe = ceil(nlist * scan_ppm/1e6) with scan_ppm = the ppm-snapped
    // 1.15*0.8^4 calibration — then the ann_ivf_kmeans chain (two unrolled
    // Lloyd's steps) at those derived knobs. Integer ppm + integer-ceil
    // division keep both engines on identical (cmod, nprobe) at every SF.
    "ann_ivf_sized" -> (normCte +
      """, prm AS (
        |  SELECT nlist,
        |    greatest(1, CAST(round(cnt / nlist) AS BIGINT)) AS cmod,
        |    greatest(1, (nlist * least(1000000, CAST(round(1.15 * pow(0.8, 4) * 1000000) AS BIGINT)) + 999999) // 1000000) AS nprobe
        |  FROM (
        |    SELECT greatest(4, CAST(round(sqrt(cnt)) AS BIGINT)) AS nlist, cnt
        |    FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM n) c0
        |  ) c1
        |), cent0 AS (
        |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n, prm
        |  WHERE vec_id % prm.cmod = 0
        |)
        |""".stripMargin +
      lloydIter("cent0", "sasg1", "scent1") +
      lloydIter("scent1", "sasg2", "scent2") +
      """, ranked AS (
        |  SELECT vec_id, v, nrm, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS crk
        |  FROM (
        |    SELECT n.vec_id, n.v, n.nrm, c.cid,
        |      round(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]))
        |        / (n.nrm * c.cnrm), 6) AS csim
        |    FROM n CROSS JOIN scent2 c
        |  ) s
        |), cells AS (
        |  SELECT vec_id AS neighbor_id, v AS vb, nrm AS nb, cid
        |  FROM ranked WHERE vec_id >= 5 AND crk = 1
        |), probes AS (
        |  SELECT vec_id AS query_id, v AS va, nrm AS na, cid
        |  FROM ranked, prm WHERE vec_id < 5 AND crk <= prm.nprobe
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT query_id, neighbor_id,
          |    round(list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])) / (na * nb), 6) AS cosine,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY round(list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])) / (na * nb), 6) DESC,
          |               neighbor_id ASC) AS rk
          |  FROM probes JOIN cells USING (cid)
          |) t WHERE rk <= 10""".stripMargin, annCols)),

    // SemDeDup: the ann_ivf_kmeans centroid chain (two unrolled Lloyd's
    // steps) supplies the final cluster assignment; pairs join within a
    // cluster only, and a vector is dropped iff a smaller-id vector in its
    // cluster clears the cosine threshold
    "doc_dedup_semantic" -> (normCte +
      """, cent0 AS (
        |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 37 = 0
        |)
        |""".stripMargin +
      lloydIter("cent0", "asg1", "cent1") +
      lloydIter("cent1", "asg2", "cent2") +
      """, asgF AS (
        |  SELECT vec_id, v, nrm, cid FROM (
        |    SELECT n.vec_id, n.v, n.nrm, c.cid,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        round(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm), 6) DESC,
        |        c.cid ASC) AS rk
        |    FROM n CROSS JOIN cent2 c
        |  ) t WHERE rk = 1
        |), dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM asgF a JOIN asgF b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.35
        |)
        |""".stripMargin + Util.wrap(
        """SELECT asgF.vec_id, asgF.cid,
          |  asgF.vec_id NOT IN (SELECT vec_id FROM dropped) AS keep
          |FROM asgF""".stripMargin, Seq("vec_id", "cid", "keep"))),

    // the doc_dedup_semantic centroid chain (two unrolled Lloyd's steps),
    // then the prototypicality rank: csim DESC ties vec_id ASC within each
    // cell, integer-floor drop count, keep = rk past the drop prefix
    "emb_prototypes" -> (normCte +
      """, cent0 AS (
        |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 37 = 0
        |)
        |""".stripMargin +
      lloydIter("cent0", "asg1", "cent1") +
      lloydIter("cent1", "asg2", "cent2") +
      """, asgP AS (
        |  SELECT vec_id, cid, csim FROM (
        |    SELECT n.vec_id, c.cid,
        |      round(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm), 6) AS csim,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        round(list_sum(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm), 6) DESC,
        |        c.cid ASC) AS rk
        |    FROM n CROSS JOIN cent2 c
        |  ) t WHERE rk = 1
        |), rked AS (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY cid ORDER BY csim DESC, vec_id ASC) AS rk,
        |    count(*) OVER (PARTITION BY cid) AS n_cell
        |  FROM asgP
        |)
        |""".stripMargin + Util.wrap(
        """SELECT vec_id, cid, rk, n_cell,
          |  rk > (n_cell * 25) // 100 AS keep FROM rked""".stripMargin,
        Seq("vec_id", "cid", "rk", "n_cell", "keep"))),

    "emb_quantize" -> (sq8Cte + Util.wrap(
      "SELECT vec_id, i - 1 AS dim, code FROM qc",
      Seq("vec_id", "dim", "code"))),

    // symmetric quantized squared-L2: exact BIGINT 64-term sum, then the
    // ann-family window (dist ASC, neighbor ASC)
    "ann_sq8" -> (sq8Cte +
      """, d AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(sum((q.code - c.code) * (q.code - c.code)) AS BIGINT) AS dist_sq8
        |  FROM qc q JOIN qc c ON q.i = c.i
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5
        |  GROUP BY q.vec_id, c.vec_id
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, dist_sq8, rk FROM (
          |  SELECT query_id, neighbor_id, dist_sq8,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY dist_sq8 ASC, neighbor_id ASC) AS rk
          |  FROM d) t WHERE rk <= 10""".stripMargin,
        Seq("query_id", "neighbor_id", "dist_sq8", "rk"))),

    "emb_project" -> (jlCte + Util.wrap(
      "SELECT vec_id, j AS dim_j, proj_micro FROM pj",
      Seq("vec_id", "dim_j", "proj_micro"))),

    "ann_jl" -> (jlCte +
      """, pv AS (
        |  SELECT vec_id, list(proj_micro ORDER BY j) AS pvv FROM pj GROUP BY vec_id
        |), d AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      t -> (q.pvv[t] - c.pvv[t]) * (q.pvv[t] - c.pvv[t]))) AS BIGINT) AS dist_jl
        |  FROM pv q JOIN pv c ON q.vec_id < 5 AND c.vec_id >= 5
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, dist_jl, rk FROM (
          |  SELECT query_id, neighbor_id, dist_jl,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY dist_jl ASC, neighbor_id ASC) AS rk
          |  FROM d) t WHERE rk <= 10""".stripMargin,
        Seq("query_id", "neighbor_id", "dist_jl", "rk"))),

    "emb_pca" -> (pcaCte + Util.wrap(
      """SELECT dim - 1 AS dim, component FROM (
        |  SELECT unnest(vv) AS component,
        |    unnest(range(1, len(vv) + 1)) AS dim FROM v3) u""".stripMargin,
      Seq("dim", "component"))),

    "emb_pca_scores" -> (pcaCte + Util.wrap(
      """SELECT vec_id,
        |  round(list_sum(list_transform(range(1, len(cxv) + 1),
        |    i -> cxv[i] * vv[i])), 6) AS pc1
        |FROM cxt CROSS JOIN v3""".stripMargin,
      Seq("vec_id", "pc1"))),

    "emb_kcenter" -> (kcCte + Util.wrap(
      "SELECT CAST(1 AS INT) AS rank, CAST(0 AS BIGINT) AS sel_id, " +
        "CAST(0 AS BIGINT) AS dist_micro2" +
        (2 to 8).map(r =>
          s"\nUNION ALL SELECT CAST($r AS INT), sel_id, dmin FROM p$r").mkString,
      Seq("rank", "sel_id", "dist_micro2"))),
  )

  /** One farthest-first step: `p$r` = argmax of the running min-distance
    * table `st${r-1}` (ties to min vec_id), `st$r` = that table with the
    * new center folded in — mirroring [[kCenter]]'s incremental loop. */
  private def kcStep(r: Int): String =
    s""", p$r AS (
       |  SELECT vec_id AS sel_id, mv, dmin FROM st${r - 1}
       |  ORDER BY dmin DESC, vec_id ASC LIMIT 1
       |), st$r AS (
       |  SELECT s.vec_id, s.mv, least(s.dmin,
       |    CAST(list_sum(list_transform(range(1, len(s.mv) + 1),
       |      i -> (s.mv[i] - p.mv[i]) * (s.mv[i] - p.mv[i]))) AS BIGINT)) AS dmin
       |  FROM st${r - 1} s CROSS JOIN p$r p
       |)
       |""".stripMargin

  /** Micro-snapped coordinates, the seed (vec 0) distance table, and
    * seven unrolled farthest-first selections. */
  private lazy val kcCte: String =
    """WITH m AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS mv
      |  FROM embeddings
      |), c1 AS (SELECT mv AS cv FROM m WHERE vec_id = 0
      |), st1 AS (
      |  SELECT vec_id, mv,
      |    CAST(list_sum(list_transform(range(1, len(mv) + 1),
      |      i -> (mv[i] - cv[i]) * (mv[i] - cv[i]))) AS BIGINT) AS dmin
      |  FROM m CROSS JOIN c1
      |)
      |""".stripMargin + (2 to 8).map(kcStep).mkString

  /** One unrolled power-iteration step `vin` → `v$k`: ordered in-row dot
    * for y, per-dim matvec snapped to integer micros before the row sum,
    * 6-dp normalized component — mirroring [[pcaParts]] bit-for-bit. */
  private def pcaIter(vin: String, k: Int): String =
    s""", y$k AS (
       |  SELECT vec_id, cxv,
       |    list_sum(list_transform(range(1, len(cxv) + 1), i -> cxv[i] * vv[i])) AS y
       |  FROM cxt CROSS JOIN $vin
       |), w$k AS (
       |  SELECT list(wd ORDER BY dim) AS wd FROM (
       |    SELECT dim, CAST(sum(CAST(round(y * c * 1000000) AS BIGINT)) AS DOUBLE)
       |      / 1000000.0 AS wd
       |    FROM (SELECT y, unnest(cxv) AS c,
       |          unnest(range(1, len(cxv) + 1)) AS dim FROM y$k) u
       |    GROUP BY dim) t
       |), v$k AS (
       |  SELECT list_transform(wd, x -> round(x /
       |    sqrt(list_sum(list_transform(wd, z -> z * z))), 6)) AS vv FROM w$k
       |)
       |""".stripMargin

  /** Mean-centering + v₀ = ones + three unrolled power iterations —
    * the shared chain both PCA oracles read (`cxt`, `v3`). */
  private lazy val pcaCte: String =
    """WITH x AS (
      |  SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS xd
      |  FROM embeddings
      |), muv AS (
      |  SELECT list(m ORDER BY dim) AS mu FROM (
      |    SELECT dim,
      |      round(CAST(sum(CAST(round(xv * 1000000) AS BIGINT)) AS DOUBLE)
      |        / count(*) / 1000000.0, 6) AS m
      |    FROM (SELECT unnest(xd) AS xv,
      |          unnest(range(1, len(xd) + 1)) AS dim FROM x) u
      |    GROUP BY dim) t
      |), cxt AS (
      |  SELECT vec_id, list_transform(range(1, len(xd) + 1), i -> xd[i] - mu[i]) AS cxv
      |  FROM x CROSS JOIN muv
      |), v0 AS (
      |  SELECT list_transform(mu, z -> CAST(1.0 AS DOUBLE)) AS vv FROM muv
      |)
      |""".stripMargin +
      pcaIter("v0", 1) + pcaIter("v1", 2) + pcaIter("v2", 3)

  /** The signed-sum JL projection table in DuckDB SQL — micro-snap each
    * coordinate, THEN the integer signed sum, mirroring [[jlArray]]'s
    * zip_with/aggregate fold exactly (16 output dims). */
  private lazy val jlCte: String =
    """WITH ex AS (
      |  SELECT vec_id, i - 1 AS i,
      |    CAST(round(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS m
      |  FROM (SELECT vec_id, unnest(embedding) AS e,
      |        unnest(range(1, len(embedding) + 1)) AS i FROM embeddings) u
      |), pj AS (
      |  SELECT vec_id, j,
      |    CAST(sum(CASE WHEN (i * 31 + j * 17) % 2 = 0 THEN m ELSE -m END)
      |      AS BIGINT) AS proj_micro
      |  FROM ex CROSS JOIN (SELECT unnest(range(0, 16)) AS j) jj
      |  GROUP BY vec_id, j
      |)
      |""".stripMargin

  /** The SQ8 code table in DuckDB SQL — per-dim min/max levels, the single
    * floor((x−mn)/(mx−mn)·255) rounding both sq8 oracles interpolate,
    * mirroring [[sq8Codes]] (constant dims code to 0, 1-based i). */
  private lazy val sq8Cte: String =
    """WITH x AS (
      |  SELECT vec_id,
      |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
      |    unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings
      |), mm AS (
      |  SELECT i, min(x) AS mn, max(x) AS mx FROM x GROUP BY i
      |), qc AS (
      |  SELECT vec_id, i,
      |    CAST(CASE WHEN mx = mn THEN 0
      |              ELSE floor((x - mn) / (mx - mn) * 255) END AS BIGINT) AS code
      |  FROM x JOIN mm USING (i)
      |)
      |""".stripMargin
}
