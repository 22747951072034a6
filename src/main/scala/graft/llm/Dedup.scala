package graft.llm

import graft.{Tables, Util}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * All hashing is arithmetic over *vocabulary ids* (dense_rank over the
  * distinct token set) instead of engine hash functions, so the DuckDB
  * oracle reproduces results bit-for-bit. Every vocab consumer has a
  * vocab-FREE xxhash64 twin for the unbounded-vocabulary regime
  * ([[shingleIdsHashed]], [[simhashHashed]]) behind the same injectable
  * switch point, so no operator in this family needs a corpus-wide
  * vocabulary broadcast at 100 TB.
  *
  * Scale notes (100 TB):
  *  - exact dedup: single hash-shuffle on the text key (at scale: group on a
  *    fingerprint of the text, e.g. xxhash64, to avoid shuffling full texts);
  *  - ngram Jaccard is the *quadratic* baseline (shingle-inverted-index
  *    self-join) — correct but O(pairs sharing a shingle). MinHash+LSH is the
  *    scale path: signatures are linear in corpus size, the band join only
  *    pairs up near-duplicates, and the exact-Jaccard verify touches
  *    candidates only;
  *  - the band join hashes on (band, band_value) — good key distribution by
  *    construction; a pathological all-identical corpus would skew one
  *    bucket, the classic mitigation (salt by prefix of doc_id) applies.
  */
object Dedup {

  /** (doc_id, words array) — whitespace tokenization, shared by all. */
  def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("words"))

  /** token → dense integer id, 1-based (== dense_rank over the distinct
    * token set). Implemented as a *distributed* sort + zipWithIndex instead
    * of an unpartitioned dense_rank window: the window form funnels the
    * whole vocabulary through one partition (Spark even warns "No Partition
    * Defined for Window operation"), which at 100 TB — tens of millions of
    * distinct tokens — is a single-task bottleneck. sortBy range-partitions
    * the sort and zipWithIndex assigns contiguous ranks from per-partition
    * offsets, so every stage stays parallel. Ids are identical (tokens are
    * distinct, so dense_rank == row_number == zipWithIndex + 1). */
  def vocab(tok: DataFrame): DataFrame = {
    val session = tok.sparkSession
    import session.implicits._
    tok.select(explode(col("words")).as("token")).distinct()
      .as[String].rdd
      // sort in UTF8String (binary/code-point) order, NOT Java String
      // order: String.compareTo ranks surrogate pairs (non-BMP chars)
      // below U+E000..U+FFFF, which would diverge from Spark SQL's and
      // DuckDB's collation for such tokens
      .sortBy(org.apache.spark.unsafe.types.UTF8String.fromString)(
        Ordering.ordered[org.apache.spark.unsafe.types.UTF8String],
        scala.reflect.classTag[org.apache.spark.unsafe.types.UTF8String])
      .zipWithIndex()
      .map { case (t, i) => (t, i + 1) }
      .toDF("token", "tid")
      // materialize: consumers (broadcast join + vocab-size count) would
      // otherwise each re-run the whole sort+zipWithIndex RDD lineage
      .localCheckpoint(true)
  }

  /** Distinct word-3-gram shingles per doc (string form). Per-doc
    * distinctness comes from `array_distinct` *inside* the row — no
    * corpus-wide distinct shuffle is needed. */
  def shingles(tok: DataFrame): DataFrame =
    tok.filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(words) - 2), i -> concat_ws(' ', words[i-1], words[i], words[i+1]))")))
        .as("shingle"))

  /** Distinct shingle *ids* per doc: base-(V+1) encoding of the three token
    * ids — injective, so Jaccard over ids == Jaccard over strings.
    *
    * One shuffle (the per-doc collect_list); the sliding triple and the
    * per-doc dedup happen inside the token array (`transform` +
    * `array_distinct`), replacing the previous window-lead + global
    * distinct formulation (two shuffles + a partition-wide sort) with a
    * per-row array sort over ~|doc| tokens. */
  /** Largest vocab (exclusive of the +1 base) for which base-(V+1) shingle
    * encoding fits a Long: v^3 < 2^63 ⇒ v ≤ 2^21 − 1. */
  val ExactVocabBound: Long = 2097151L

  def shingleIds(tok: DataFrame): DataFrame = shingleIds(tok, ExactVocabBound)

  /** `exactVocabBound` injects the encoding switch point — production keeps
    * the default; tests force the hashed path on a small fixture with
    * `exactVocabBound = 0` so the 100 TB branch has executed evidence
    * instead of only engaging past 2.1M distinct tokens. */
  /** Cheap branch decision for the vocab/hashed switch: approx distinct
    * (map-side HLL — no distributed sort, no zipWithIndex, no checkpoint)
    * with a 10% safety margin. Past the bound the full vocabulary pipeline
    * must not run AT ALL — avoiding it is the hashed path's whole point,
    * and building it just to count-and-discard would pay the very cost the
    * switch exists to skip. Over-switching near the boundary is harmless
    * (hashed ids are always correct); an HLL under-estimate is caught by
    * the exact recheck on the vocab the exact path builds anyway. */
  private def vocabOverBound(tok: DataFrame, bound: Long): Boolean = {
    val approx = tok.select(explode(col("words")).as("token"))
      .agg(approx_count_distinct(col("token")).as("a")).head().getLong(0)
    approx + 1 > bound - bound / 10
  }

  /** The bounded-collect vocabulary behind every exact-encoding consumer
    * ([[shingleIds]], [[winnowFingerprints]], [[simhash]]) — `Some((token →
    * tid table, vBase))` or `None` past `bound`, where the caller must run
    * its hashed twin instead.
    *
    * The exact path's vocabulary is ≤ bound (~2.1M) rows BY THE BRANCH
    * GUARD, i.e. bounded driver state by construction — the LSH-plane
    * bounded-collect convention. So the id table is built with ONE
    * distinct+collect job and a driver-side UTF8String sort, replacing
    * the distributed vocab()'s sortBy sample job + zipWithIndex count job
    * + localCheckpoint materialization + exact count() (4 jobs → 1; the
    * broadcast the consumer join ships is the same table either way, and
    * at 2.1M×~10B the array is tens of MB — far inside the driver the
    * broadcast relation already had to hold). Ids identical to vocab():
    * dense 1-based ranks over the same UTF8 binary collation (exact count
    * check preserved: an HLL under-estimate past the bound still falls
    * back to hashed ids before any driver array is sized — the collect
    * itself is capped by the guard's 0.9×bound acceptance).
    * base-(V+1) ids reproduce the DuckDB oracle bit-for-bit but sid < v^3
    * must fit a Long, so v must stay under 2^21 (~2.1M distinct tokens).
    * Beyond that — tens of millions of distinct tokens is exactly the
    * 100 TB regime — the hashed twins take over: consumers only need id
    * equality (Jaccard over ids == Jaccard over shingles for any
    * injective-up-to-collisions map). */
  private def boundedVocab(tok: DataFrame, bound: Long): Option[(DataFrame, Long)] = {
    if (vocabOverBound(tok, bound)) return None
    val session = tok.sparkSession
    val tokens: Array[String] = tok
      .select(explode(col("words")).as("token")).distinct()
      .collect().map(_.getString(0))
    val vBase = tokens.length.toLong + 1
    if (vBase > bound) None
    else {
      import org.apache.spark.unsafe.types.UTF8String
      // binary/code-point order — the vocab() sortBy collation, and what
      // Spark SQL's and DuckDB's string comparisons use for such tokens
      java.util.Arrays.sort(tokens, (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
      import session.implicits._
      Some((tokens.toSeq.zipWithIndex
        .map { case (t, i) => (t, i.toLong + 1) }.toDF("token", "tid"), vBase))
    }
  }

  def shingleIds(tok: DataFrame, exactVocabBound: Long): DataFrame =
    boundedVocab(tok, exactVocabBound) match {
      case None => shingleIdsHashed(tok)
      case Some((v, vBase)) =>
        val pos = tok.select(col("doc_id"), posexplode(col("words")).as(Seq("pos", "token")))
          .join(broadcast(v), "token")
        pos.groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("pos"), col("tid")))).as("pt"))
          .filter(size(col("pt")) >= 3)
          .select(col("doc_id"), explode(expr(
            s"array_distinct(transform(sequence(1, size(pt) - 2), i -> (pt[i-1].tid * ${vBase}L + pt[i].tid) * ${vBase}L + pt[i+1].tid))"))
            .as("sid"))
    }

  /** Hashed shingle ids: `xxhash64` over the shingle string — the
    * unbounded-vocabulary path. No vocab table, no broadcast, no driver
    * count: one linear codegen'd pass. Ids collide with probability ~2⁻⁶⁴,
    * below any corpus's pair count, so Jaccard over these ids equals
    * Jaccard over the shingle strings for every practical purpose; the
    * tradeoff is that ids are engine-specific (xxhash64 seed), which is why
    * the oracle-checked small-scale path keeps the base-(V+1) encoding. */
  def shingleIdsHashed(tok: DataFrame): DataFrame =
    shingles(tok).select(col("doc_id"), xxhash64(col("shingle")).as("sid"))

  /** Exact duplicate groups: one keeper (min doc_id) + copy count per
    * distinct text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"))

  /** Exact dedup, fingerprint-grouped (the 100 TB shape): group on
    * `xxhash64(text)` so the shuffle carries an 8-byte key + doc_id instead
    * of whole documents. Same groups as [[exact]] up to a ~2^-64 collision;
    * the oracle is the text-grouped query — identical output. */
  def exactByHash(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("_h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"))

  /** Shared exact-Jaccard verification: intersection counts + per-doc set
    * sizes → rounded Jaccard ≥ threshold. One definition on the Spark side
    * (both ngram and MinHash paths) mirroring the single `jaccardVerify`
    * CTE on the oracle side — the rounding/threshold contract can't drift
    * between the two queries. */
  private def jaccardVerified(inter: DataFrame, cnt: DataFrame,
                              threshold: Double): DataFrame =
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("c").as("ca")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("c").as("cb")), "doc_b")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("ca") + col("cb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Quadratic-baseline near-dup: word-3-gram Jaccard ≥ threshold via a
    * shingle inverted-index self-join. */
  def ngramJaccard(docs: DataFrame, threshold: Double): DataFrame = {
    // materialize the shingle set once: three consumers (both join sides +
    // cnt) would otherwise each re-evaluate the interpreted 3-gram transform
    val sh = shingles(tokenized(docs)).localCheckpoint(eager = true)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    jaccardVerified(inter, cnt, threshold)
  }

  /** Scoped-vs-global dedup policy evaluation — the FineWeb finding
    * (Penedo et al. 2024, "The FineWeb Datasets") as a query: deduping
    * each snapshot/source INDIVIDUALLY retains far more data than one
    * global pass, and the retained tail is disproportionately the
    * high-quality cross-snapshot boilerplate survivors. Per source this
    * reports corpus size and survivor counts under BOTH policies, using
    * the pairwise keeper rule (a doc is dropped iff a verified neighbor
    * with a smaller doc_id exists; the scoped arm only sees same-source
    * neighbors). One verified pair table feeds both arms — the policy is
    * a FILTER on the pair set, not a second mining pass, which is also
    * the honest cost statement at 100 TB: scoped dedup prunes the
    * candidate join by the source key, never re-shingles. Fixture
    * contrast is real: at sf0.01, 25 verified pairs exist and only 1 is
    * same-source, so the scoped arm keeps ~24 extra docs. */
  def dedupScopedEval(docs: DataFrame, threshold: Double = 0.4): DataFrame = {
    // the LSH-banded pair table, not the quadratic ngram baseline — this
    // is a policy-evaluation operator, so its pair mining must be the
    // production (linear-signature, band-join) path
    val pairs = minhashLsh(docs, threshold).select(col("doc_a"), col("doc_b"))
      .localCheckpoint(eager = true) // two policy arms read it; mine once
    scopedEvalFromPairs(pairs, docs)
  }

  /** [[dedupScopedEval]] body over an ALREADY-MINED pair table — the
    * consumer form of the mine-once/report-many convention
    * ([[writeDedupArtifact]]): policy evaluation over a 100 TB corpus is
    * two filters over a stored parquet artifact, never a re-mine. */
  def scopedEvalFromPairs(pairsIn: DataFrame, docs: DataFrame): DataFrame = {
    val pairs = pairsIn.select(col("doc_a"), col("doc_b"))
    val src = docs.select(col("doc_id"), col("source"))
    val bySrc = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
    val dropGlobal = pairs.select(col("doc_b").as("doc_id")).distinct()
      .withColumn("drop_g", lit(1L))
    val dropScoped = bySrc.filter(col("src_a") === col("src_b"))
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("drop_s", lit(1L))
    src.join(dropGlobal, Seq("doc_id"), "left")
      .join(dropScoped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("drop_g").isNull, 1L).otherwise(0L)).as("n_survive_global"),
        sum(when(col("drop_s").isNull, 1L).otherwise(0L)).as("n_survive_scoped"))
  }

  /** MinHash signatures (16 hashes over shingle ids) → LSH banding (8 bands
    * × 2 rows) → candidate pairs → exact-Jaccard verification. The scale
    * path: linear signature pass, join only on colliding bands. */
  def minhashLsh(docs: DataFrame, threshold: Double): DataFrame =
    minhashLsh(docs, threshold, ExactVocabBound)

  def minhashLsh(docs: DataFrame, threshold: Double,
                 exactVocabBound: Long): DataFrame =
    minhashLsh(docs, threshold, exactVocabBound, saltBuckets = 1)

  /** `saltBuckets > 1` turns on the degenerate-bucket mitigation named in
    * the header note: an adversarial corpus (thousands of IDENTICAL texts)
    * funnels one (band, bval) key to one reducer whose join OUTPUT is
    * quadratic in the bucket size. AQE's skew-join split cannot help —
    * it keys on shuffle-input bytes, and the hot bucket's input is tiny;
    * the blow-up is in the fan-out. The grid salt spreads it: each right
    * row gets salt = pmod(xxhash64(doc_b), R), the left band table is
    * replicated once per salt value, and the join keys on
    * (band, bval, salt_b) — the hot bucket's pair generation lands on R
    * reducers, max task work drops ~R×, and every (a,b) pair is still
    * found exactly once per band (b's salt is a function of b). The pair
    * set is bit-identical to the unsalted plan (spec-asserted); the cost
    * is R× shuffle volume on the band table, which is why it's a knob and
    * not the default. */
  def minhashLsh(docs: DataFrame, threshold: Double,
                 exactVocabBound: Long, saltBuckets: Int): DataFrame = {
    // localCheckpoint (not cache): materializes once, truncates the 3-stage
    // shingleIds lineage so the three downstream consumers don't recompute
    // it, and the blocks are dropped with the RDD when the plan is GC'd —
    // no unpersist bookkeeping leaking executor memory across queries.
    val shid = shingleIds(tokenized(docs), exactVocabBound)
      .localCheckpoint(eager = true)
    pairsFromShid(shid, threshold, saltBuckets)
  }

  /** Candidate (doc_a, doc_b) pairs from the banded signatures ALONE — the
    * stage the grid salt acts on, exposed so the skew stress can measure
    * the mitigation at the stage it targets. The full [[minhashLsh]] wall
    * time is dominated by the verify join over the candidate ANSWER (which
    * both the salted and unsalted plans pay identically), so a whole-chain
    * contrast understates a salt that is in fact bounding the hot bucket's
    * band-join task — measured r11, the reconciliation of the flat
    * salted-vs-plain ×10 rows in STRESS_LOCAL_x10.json. */
  def lshCandidates(docs: DataFrame, saltBuckets: Int): DataFrame = {
    val shid = shingleIds(tokenized(docs), ExactVocabBound)
      .localCheckpoint(eager = true)
    candidatesOf(shid, saltBuckets)
  }

  /** Mine → verify over an already-materialized shingle-id table — the
    * [[minhashLsh]] body, shared with the hashed/appendable artifact path
    * so the candidate/verify arithmetic exists once.
    *
    * Size-bound prefilter (guide §3.2 — reduce the big side before
    * shuffling it): |A∩B| ≤ min(|A|,|B|) gives the EXACT Jaccard upper
    * bound J ≤ min(c_a,c_b)/max(c_a,c_b), so a candidate whose rounded
    * bound already misses the threshold can never pass the verify —
    * rounding is monotone, hence round(J,6) ≤ round(min/max,6) <
    * threshold. The set-size table is doc-level (tiny next to the
    * shingle-id table), and the two cnt joins MOVE from the verified
    * intersections (where jaccardVerified paid them) to the candidate
    * set, so the join count is unchanged while the shingle-id verify join
    * — the expensive corpus-sized one — only runs over candidates that
    * can still win. The pair set is bit-identical: the bound is exact,
    * not approximate. */
  private def pairsFromShid(shid: DataFrame, threshold: Double,
                            saltBuckets: Int): DataFrame = {
    val cand = candidatesOf(shid, saltBuckets)
    val cnt = shid.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val candB = cand
      .join(cnt.select(col("doc_id").as("doc_a"), col("c").as("ca")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("c").as("cb")), "doc_b")
      .filter(round(least(col("ca"), col("cb")).cast("double") /
        greatest(col("ca"), col("cb")), 6) >= threshold)
    val xa = shid.select(col("doc_id").as("doc_a"), col("sid"))
    val xb = shid.select(col("doc_id").as("doc_b"), col("sid"))
    candB.join(xa, "doc_a").join(xb, Seq("doc_b", "sid"))
      .groupBy("doc_a", "doc_b", "ca", "cb").agg(count(lit(1)).as("inter"))
      // the jaccardVerified arithmetic verbatim, over the pre-joined sizes
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("ca") + col("cb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash signatures: 16 (doc_id, h, mh) rows per doc. Stays in
    * whole-stage-codegen'd hash aggregation: the ×16 hash fan-out looks
    * like it inflates the shuffle, but min() partial-aggregates map-side,
    * so each mapper emits ≤16 rows per doc — cheaper end-to-end than
    * collecting sids per doc and folding interpreted array lambdas in-row
    * (measured 2× slower at sf0.1).
    * pmod BEFORE the multiply: base-encoded sids are positive and < 2^63 so
    * the reduction is an identity on the oracle-checked values ((a·b) mod m
    * == (a·(b mod m)) mod m), but hashed sids span the full signed 64-bit
    * range — (2h+3)·sid would overflow under ANSI arithmetic, and pmod also
    * pins the negatives into [0, m) so both encodings share one expression. */
  private def signaturesOf(shid: DataFrame): DataFrame =
    wideMinhash(shid).select(col("doc_id"),
        posexplode(array((0 until 16).map(h => col(s"mh$h")): _*)).as(Seq("h", "mh")))
      .select(col("doc_id"), col("h").cast("long").as("h"), col("mh"))

  /** The ONE aggregation with 16 primitive min buffers behind both the
    * signature and band tables — not a ×16 crossJoin fan-out into a
    * (doc_id, h) hash-aggregate. The fan-out's shuffle was already
    * partial-combined, so the win is CPU-side only (no 16× materialized
    * rows, no aggregate probing per (doc, h)): measured a modest ~8% on
    * the sf0.1 minhash family (2.8→2.6 s) — the shingle build and the
    * band join dominate, not the signature pass — kept because the plan
    * is also structurally simpler (one HashAggregate in whole-stage
    * codegen). Same hash family bit-for-bit:
    * (2h+3)·(sid mod p) + 7919h + 13 mod p. */
  private def wideMinhash(shid: DataFrame): DataFrame =
    shid.withColumn("smod", pmod(col("sid"), lit(1000003L)))
      .groupBy(col("doc_id"))
      .agg(min(expr("(3 * smod + 13) % 1000003")).as("mh0"),
        (1 until 16).map(h =>
          min(expr(s"(${2 * h + 3} * smod + ${7919 * h + 13}) % 1000003")).as(s"mh$h")): _*)

  /** 8 bands × 2 rows: (doc_id, band, bval) — the joinable LSH key table. */
  private def bandsOf(sig: DataFrame): DataFrame =
    sig.groupBy(col("doc_id"), expr("h div 2").as("band"))
      .agg(sum(expr("mh * (CASE WHEN h % 2 = 0 THEN 1000003 ELSE 1 END)")).as("bval"))

  /** The band table computed straight from [[wideMinhash]]'s per-doc row —
    * `bandsOf(signaturesOf(shid))` minus the per-(doc, h) explode and the
    * second (doc_id, band) hash aggregation: ONE keyed exchange builds the
    * band table instead of two (optimization guide §2.4 — two operations
    * keyed the same way share one exchange; here the second aggregation
    * folds into the first as in-row arithmetic). Bit-identical rows:
    * bandsOf's sum-with-case over h ∈ {2b, 2b+1} is exactly
    * mh(2b)·1000003 + mh(2b+1). */
  private def bandValsOf(shid: DataFrame): DataFrame =
    wideMinhash(shid).select(col("doc_id"),
        posexplode(array((0 until 8).map(b =>
          expr(s"mh${2 * b} * 1000003 + mh${2 * b + 1}")): _*))
          .as(Seq("band", "bval")))
      .select(col("doc_id"), col("band").cast("long").as("band"), col("bval"))

  /** LSH banding → distinct candidate pairs; see the [[minhashLsh]]
    * saltBuckets scaladoc for the skew grid. */
  private def candidatesOf(shid: DataFrame, saltBuckets: Int): DataFrame =
    candidatesFromBands(bandValsOf(shid), saltBuckets)

  /** [[candidatesOf]] body over an already-built band table — kept
    * separate because the sketch-estimate path mines candidates from its
    * CHECKPOINTED signature table (bands via [[bandsOf]]) rather than
    * re-touching the shingle-id table. */
  private def candidatesFromBands(bands: DataFrame, saltBuckets: Int): DataFrame = {
    val ba = bands.select(col("doc_id").as("doc_a"), col("band"), col("bval"))
    val bb = bands.select(col("doc_id").as("doc_b"), col("band"), col("bval"))
    (if (saltBuckets <= 1) {
      ba.join(bb, Seq("band", "bval"))
    } else {
      val grid = bands.sparkSession.range(saltBuckets)
        .select(col("id").as("salt_b"))
      ba.crossJoin(broadcast(grid))
        .join(bb.withColumn("salt_b", pmod(xxhash64(col("doc_b")), lit(saltBuckets.toLong))),
          Seq("band", "bval", "salt_b"))
    }).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Asymmetric CONTAINMENT near-dup: cont_a = |A∩B| / |A| and
    * cont_b = |A∩B| / |B| — "how much of this document is inside the
    * other". Jaccard systematically misses an excerpt quoted inside a much
    * larger document (the union term dominates: a fully-contained 40-token
    * quote in a 4 000-token page has J ≈ 0.01); containment is the Broder
    * resemblance twin built for exactly that, and a training-data pipeline
    * runs it to catch boilerplate/quotation duplication that symmetric
    * dedup passes over. A pair is emitted when EITHER direction reaches
    * `threshold` (both rounded values are reported).
    *
    * Candidate mining is the shingle INVERTED-INDEX join (the
    * [[ngramJaccard]] shape), deliberately NOT the Jaccard-tuned MinHash
    * banding: an 8×2 band collides with probability 1−(1−J²)⁸, which at
    * the motivating J ≈ 0.01 is ~8·10⁻⁴ — the banding would drop
    * precisely the contained pairs this operator exists to find. The
    * index join is recall-COMPLETE for any threshold > 0 (a τ-containment
    * pair shares ≥ τ·|A| ≥ 1 shingles, so it always meets in the index);
    * cost is output-proportional on shared shingles — quadratic on a hot
    * shingle, like ngramJaccard, which is why production prunes stop-
    * shingles first. The sub-linear 100 TB path is containment-aware LSH
    * (LSH Ensemble, Zhu et al. VLDB'16: partition by set size, re-tune
    * bands per partition) — a documented non-goal here; the exact index
    * join is the correctness baseline it would be verified against. */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val shid = shingleIds(tokenized(docs)).localCheckpoint(eager = true)
    val cnt = shid.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val xa = shid.select(col("doc_id").as("doc_a"), col("sid"))
    val xb = shid.select(col("doc_id").as("doc_b"), col("sid"))
    xa.join(xb, Seq("sid")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(cnt.select(col("doc_id").as("doc_a"), col("c").as("ca")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("c").as("cb")), "doc_b")
      .withColumn("cont_a", round(col("inter").cast("double") / col("ca"), 6))
      .withColumn("cont_b", round(col("inter").cast("double") / col("cb"), 6))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"))
  }

  /** Oracle-checkable recompute form of increment-vs-corpus CONTAINMENT:
    * which documents of the increment (doc_id % `newMod` == 0) have
    * |A∩B| / |A| ≥ threshold against some existing-corpus document — "this
    * new document is mostly already in the corpus", the asymmetric gate
    * [[incrementalMinhash]]'s Jaccard misses when the corpus partner is
    * much larger. The production shape is [[containmentAgainstIndex]]
    * (prefix-filtered probe against the stored index, spec-asserted
    * equivalent); this form is the DuckDB-checkable semantics. */
  def incrementalContainment(docs: DataFrame, threshold: Double,
                             newMod: Long = 7L,
                             exactVocabBound: Long = ExactVocabBound): DataFrame = {
    val shid = shingleIds(tokenized(docs), exactVocabBound)
      .localCheckpoint(eager = true)
    val incs = shid.filter(col("doc_id") % newMod === 0)
    val corp = shid.filter(col("doc_id") % newMod =!= 0)
    val cn = incs.groupBy("doc_id").agg(count(lit(1)).as("cn"))
    val inter = incs.select(col("doc_id").as("new_doc"), col("sid"))
      .join(corp.select(col("doc_id").as("existing_doc"), col("sid")), Seq("sid"))
      .groupBy("new_doc", "existing_doc").agg(count(lit(1)).as("inter"))
    inter.join(cn.select(col("doc_id").as("new_doc"), col("cn")), "new_doc")
      .withColumn("containment", round(col("inter").cast("double") / col("cn"), 6))
      .filter(col("containment") >= threshold)
      .select(col("new_doc"), col("existing_doc"), col("containment"))
  }

  /** Increment-vs-corpus containment at per-increment cost — the PREFIX
    * FILTER (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07), the
    * standard set-similarity-join optimization, specialized to the
    * asymmetric gate where it is EXACT with no partner-size bookkeeping:
    * containment |A∩B|/|A| ≥ τ means overlap ≥ o = ceil(τ·|A|), and by
    * pigeonhole ANY (|A| − o + 1)-size subset of A must intersect A∩B —
    * so each increment doc probes the stored shingle index with only its
    * `|A| − ceil(τ·|A|) + 1` rarest shingles (≈ (1−τ)·|A|), and recall is
    * COMPLETE by construction, not tuned. Rarity ordering (by the corpus
    * document-frequency table the index stores) is purely a
    * candidate-minimization: any canonical subset preserves correctness,
    * the rarest-first one just collides least — and increment shingles the
    * corpus has never seen (df 0) fill prefix slots while generating zero
    * candidates. Per-increment cost: one broadcast-probed scan of the
    * stored frequency table, the prefix-reduced candidate join, and the
    * candidate-only verify — the corpus is read, never shuffled. */
  def containmentAgainstIndex(newDocs: DataFrame, path: String,
                              threshold: Double,
                              broadcastCandidates: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentAgainstIndex: threshold must be in (0, 1], got $threshold")
    val spark = newDocs.sparkSession
    val corpusShid = spark.read.parquet(s"$path/shingles")
    val newShid = shingleIdsHashed(tokenized(newDocs)).localCheckpoint(eager = true)
    val cn = newShid.groupBy("doc_id").agg(count(lit(1)).as("cn"))
    val cand = containmentPrefixCandidates(newShid, cn, path, threshold)
    // (candidate pair × increment shingle) side: broadcast by default (an
    // ordinary increment's survivors are few), but on a DUPLICATE-DENSE
    // increment candidates ≈ increment × siblings and the broadcast blows
    // the driver result cap (measured: 1.85 GiB at ×10 stress) — the same
    // failure mode lshTopKMulti's escape hatch exists for; false degrades
    // to a shuffled join, answer unchanged (spec-asserted)
    val candShingles = cand
      .join(newShid.select(col("doc_id").as("new_doc"), col("sid")), "new_doc")
    val inter = (if (broadcastCandidates) broadcast(candShingles) else candShingles)
      .join(corpusShid.select(col("doc_id").as("existing_doc"), col("sid")),
        Seq("existing_doc", "sid"))
      .groupBy("new_doc", "existing_doc").agg(count(lit(1)).as("inter"))
    inter.join(cn.select(col("doc_id").as("new_doc"), col("cn")), "new_doc")
      .withColumn("containment", round(col("inter").cast("double") / col("cn"), 6))
      .filter(col("containment") >= threshold)
      .select(col("new_doc"), col("existing_doc"), col("containment"))
  }

  /** The prefix-filtered candidate stage of [[containmentAgainstIndex]],
    * exposed so the stress harness can measure prefix pruning (candidate
    * pairs vs the naive any-shared-shingle join) as executed evidence.
    * Given the increment's hashed shingles and per-doc counts: rank each
    * doc's shingles by stored corpus document frequency (never-seen
    * shingles rank first at df 0), keep the (1−τ)·|A|+1 prefix, and join
    * only the prefix against the stored corpus shingle table. */
  private[graft] def containmentPrefixCandidates(newShid: DataFrame, cn: DataFrame,
                                                 path: String,
                                                 threshold: Double): DataFrame = {
    val spark = newShid.sparkSession
    val corpusShid = spark.read.parquet(s"$path/shingles")
    val sidFreq = spark.read.parquet(s"$path/sidfreq")
    // corpus df per increment shingle: inner broadcast probe of the stored
    // frequency table + anti-join for never-seen shingles (df 0) — the big
    // table streams once, nothing corpus-sized shuffles
    val seen = sidFreq.join(broadcast(newShid), Seq("sid"))
      .select(col("doc_id"), col("sid"), col("df"))
    val unseen = newShid.join(
        broadcast(seen.select("sid").distinct()), Seq("sid"), "left_anti")
      .withColumn("df", lit(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("sid").asc)
    val prefix = seen.unionByName(unseen)
      .join(cn, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("cn") - ceil(col("cn") * threshold).cast("long") + 1)
      .select(col("doc_id").as("new_doc"), col("sid"))
    prefix
      .join(corpusShid.select(col("doc_id").as("existing_doc"), col("sid")), Seq("sid"))
      .select("new_doc", "existing_doc").distinct()
  }

  /** Sketch-only Jaccard ESTIMATE for LSH candidate pairs: the fraction of
    * the 16 MinHash components on which the two documents agree is an
    * unbiased estimator of their Jaccard similarity — no shingle-set
    * intersection, no second look at the documents. This is the 100 TB
    * triage mode: exact verification ([[minhashLsh]]) re-joins the shingle
    * sets (corpus-sized), the estimate touches only the 16-row signatures
    * (collision-sized); a pipeline estimates first and verifies only the
    * band near the decision threshold. `minAgree` gates output at
    * minAgree/16 estimated similarity. */
  def minhashEstimate(docs: DataFrame, minAgree: Int = 8): DataFrame = {
    require(minAgree >= 1 && minAgree <= 16,
      s"minhashEstimate: minAgree must be in [1, 16], got $minAgree")
    val shid = shingleIds(tokenized(docs)).localCheckpoint(eager = true)
    // signatures feed candidate mining AND both estimate sides
    val sig = signaturesOf(shid).localCheckpoint(eager = true)
    val sa = sig.select(col("doc_id").as("doc_a"), col("h"), col("mh").as("mh_a"))
    val sb = sig.select(col("doc_id").as("doc_b"), col("h"), col("mh").as("mh_b"))
    candidatesFromBands(bandsOf(sig), 1)
      .join(sa, "doc_a").join(sb, Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L)).as("n_agree"))
      .filter(col("n_agree") >= minAgree)
      .withColumn("est_jaccard", round(col("n_agree") / 16.0, 6))
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("est_jaccard"))
  }

  /** 32-bit SimHash fingerprint per document from token-id pseudo-bits.
    *
    * Per-doc token distinctness is `array_distinct` inside the row (no
    * corpus-wide distinct shuffle); the 32 bit-sums are 32 codegen'd
    * conditional `sum(CASE …)` columns in ONE map-side-combining
    * aggregation — one shuffle total, and no interpreted higher-order
    * lambdas in the hot path (the previous nested `aggregate(...)` fold
    * evaluated outside whole-stage codegen). 32 bits matter at corpus
    * scale: a 16-bit space saturates at ~10⁵ docs, collapsing banded
    * blocking toward N²; 32 bits keep band buckets selective into the
    * billions. The token id is reduced mod 3037000493 (largest prime below
    * √2⁶³) before the multiply so ANSI arithmetic cannot overflow at
    * tens-of-millions-token vocabularies — same guard as
    * [[TextAnalysis.stratifiedSplit]], mirrored in the oracle. */
  def simhash(docs: DataFrame): DataFrame = simhash(docs, ExactVocabBound)

  /** `exactVocabBound` injects the encoding switch exactly like
    * [[shingleIds]]: production keeps the default; tests force the hashed
    * path on a small fixture with `exactVocabBound = 0` so the 100 TB
    * branch has executed evidence. */
  def simhash(docs: DataFrame, exactVocabBound: Long): DataFrame = {
    val tok = tokenized(docs)
    // the same switch as shingleIds ([[boundedVocab]]): past ~2M distinct
    // tokens the vocab table stops being "tiny" and the broadcast stops
    // being acceptable — derive the pseudo-bits from xxhash64(token)
    // instead (no vocab at all). Below it, keep the vocabulary-id
    // arithmetic the DuckDB oracle reproduces bit-for-bit.
    boundedVocab(tok, exactVocabBound) match {
      case None => simhashHashed(docs)
      case Some((v, _)) =>
        val dt = tok.select(col("doc_id"), explode(array_distinct(col("words"))).as("token"))
          .join(broadcast(v), "token")
        packSimhashBits(dt, j =>
          expr(s"CASE WHEN ((tid % 3037000493) * 2654435761 + $j * 40503) % 65536 >= 32768" +
            s" THEN 1 ELSE -1 END"))
    }
  }

  /** Vocab-free SimHash — the unbounded-vocabulary (100 TB) twin, removing
    * the last corpus-wide vocabulary broadcast in the operator family: bit
    * `j`'s pseudo-random sign for a token is bit `j` of `xxhash64(token)`,
    * so the fingerprint needs ONE linear codegen'd pass — no vocab table,
    * no broadcast, no per-query corpus-wide distinct, no driver count. The
    * 64-bit hash supplies 32 independent fair coin flips per token (bits of
    * a well-mixed hash are pairwise unbiased), which is precisely the
    * pseudo-bit contract the vocab-id arithmetic in [[simhash]] emulates;
    * the banding algebra downstream ([[simhashPairsOf]]) is encoding-blind,
    * operating on the packed 32-bit fingerprint only. Fingerprint VALUES are
    * engine-specific (xxhash64 seed), which is why the oracle-checked
    * queries keep the vocab path — the spec asserts the hashed path's
    * banded pairs obey the same pigeonhole recall guarantee. */
  def simhashHashed(docs: DataFrame): DataFrame = {
    val dt = tokenized(docs)
      .select(col("doc_id"), explode(array_distinct(col("words"))).as("token"))
      .withColumn("h", xxhash64(col("token")))
    packSimhashBits(dt, j =>
      expr(s"CASE WHEN (shiftright(h, $j) & 1) = 1 THEN 1 ELSE -1 END"))
  }

  /** Shared 32-bit packing: per-doc signed bit sums (32 codegen'd
    * conditional columns in ONE map-side-combining aggregation) → sign →
    * packed BIGINT fingerprint. `bitExpr(j)` yields the ±1 pseudo-bit of
    * the current token for bit j — the only thing the two encodings vary. */
  private def packSimhashBits(dt: DataFrame, bitExpr: Int => org.apache.spark.sql.Column): DataFrame = {
    val bitSums = (0 until 32).map { j => sum(bitExpr(j)).as(s"s$j") }
    dt.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", (0 until 32).map { j =>
        when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _))
      .select(col("doc_id"), col("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found by
    * banded blocking: split the 32-bit fingerprint into 4 bands of 8 bits;
    * by pigeonhole any pair within distance 3 agrees exactly on ≥ 1 band, so
    * the join only touches same-band-value candidates — the linear-pass /
    * bucket-join scale shape (same as MinHash LSH), never the N² cross. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashPairsOf(simhash(docs), maxHamming)

  /** [[simhashPairs]] over vocab-free fingerprints ([[simhashHashed]]) —
    * same banding, no vocabulary anywhere in the plan. */
  def simhashPairsHashed(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashPairsOf(simhashHashed(docs), maxHamming)

  /** Banded pair mining over any (doc_id, simhash) frame — encoding-blind:
    * the pigeonhole argument is about the 32-bit fingerprint alone. */
  private[graft] def simhashPairsOf(sh: DataFrame, maxHamming: Int): DataFrame = {
    // pigeonhole over 4 bands only guarantees full recall for distance ≤ 3;
    // a larger bound would silently miss pairs, so refuse it
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs: 4-band blocking guarantees recall only for maxHamming <= 3, got $maxHamming")
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bval", expr("(simhash div CAST(power(2, band * 8) AS BIGINT)) % 256"))
    val a = bands.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
      col("band"), col("bval"))
    val b = bands.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
      col("band"), col("bval"))
    // Hamming filter BEFORE the dedup: the xor+bit_count is codegen'd and
    // cheap per collision, while distinct() is a shuffle — filtering first
    // shrinks the shuffled set from every band collision to qualifying
    // pairs only. Same result: hamming is a pure function of the pair.
    a.join(b, Seq("band", "bval")).filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming")).distinct()
  }

  /** Incremental dedup — the daily-ingest shape: which documents of a NEW
    * increment (doc_id ≡ 0 mod `newMod`, standing in for today's batch)
    * near-duplicate the EXISTING corpus, with — per new document — the
    * match count, the best Jaccard, and `dup_of` = the existing partner
    * that ACHIEVES that best Jaccard (ties broken toward the smaller
    * doc_id); the two output columns describe the same pair, not
    * independent aggregates. Pairs inside the increment or inside
    * the existing corpus are NOT reported — those are the batch dedup's
    * job; this operator answers "what of today's data is already in the
    * corpus".
    *
    * Production incremental shape: the existing corpus's MinHash band
    * table is PRECOMPUTED and stored alongside it, so the per-increment
    * cost is signatures for the increment + one band join against the
    * stored table + verification against the stored shingle sets — never
    * a recompute over the corpus. Semantically identical to restricting
    * the full pair set to straddling pairs, which is the oracle-checkable
    * form computed here. */
  def incrementalMinhash(docs: DataFrame, threshold: Double,
                         newMod: Long = 7L,
                         exactVocabBound: Long = ExactVocabBound): DataFrame = {
    val straddling = minhashLsh(docs, threshold, exactVocabBound)
      .filter((col("doc_a") % newMod === 0) =!= (col("doc_b") % newMod === 0))
      .select(
        when(col("doc_a") % newMod === 0, col("doc_a")).otherwise(col("doc_b")).as("new_doc"),
        when(col("doc_a") % newMod === 0, col("doc_b")).otherwise(col("doc_a")).as("existing_doc"),
        col("jaccard"))
    // argmax via max(struct): jaccard first, then -existing_doc so ties
    // resolve toward the SMALLER partner id — same trick as dedupLatestAgg
    straddling.groupBy("new_doc")
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("jaccard").as("j"), (-col("existing_doc")).as("nd"))).as("w"))
      .select(col("new_doc"), col("n_matches"),
        (-col("w.nd")).as("dup_of"), col("w.j").as("best_jaccard"))
  }

  /** Materialize the reusable near-dup index of a corpus: hashed shingle
    * sets + MinHash band table, both parquet. This is the "production
    * incremental shape" the [[incrementalMinhash]] scaladoc promises: the
    * corpus is scanned ONCE at index-build time; every daily increment
    * afterwards costs signatures for the increment + one band join against
    * the stored table + verification against the stored shingle sets —
    * never a recompute over the corpus.
    *
    * Ids are `xxhash64` ([[shingleIdsHashed]]) BY NECESSITY, not
    * preference: base-(V+1) encoding depends on the corpus vocabulary, so
    * an increment would silently re-number every stored shingle — hashed
    * ids are stable across increments forever. The spec asserts the index
    * path emits bit-identically what the oracle-checked recompute form
    * emits under the same (hashed) encoding. */
  def writeNearDupIndex(docs: DataFrame, path: String): Unit = {
    val shid = shingleIdsHashed(tokenized(docs)).localCheckpoint(eager = true)
    shid.write.mode("overwrite").parquet(s"$path/shingles")
    bandValsOf(shid).write.mode("overwrite").parquet(s"$path/bands")
    // per-doc shingle-set sizes, materialized AT BUILD TIME: the Jaccard
    // denominator needs |B| for every matched corpus doc, and recomputing
    // it per increment would be a corpus-wide aggregation on every
    // micro-batch — the exact cost the stored index exists to avoid
    shid.groupBy("doc_id").agg(count(lit(1)).as("co"))
      .write.mode("overwrite").parquet(s"$path/counts")
    // per-shingle corpus document frequency, for the prefix filter's
    // rarest-first probe ordering ([[containmentAgainstIndex]]) — another
    // build-once aggregation an increment must never pay
    shid.groupBy("sid").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/sidfreq")
  }

  /** Mine ONCE, report many: materialize the verified near-dup artifact —
    * the LSH-verified pair table `(doc_a, doc_b, jaccard)` and the CC
    * cluster labels `(doc_id, cluster)` — as parquet. Every report in the
    * dedup family (keep / keep-best / cluster terms / triangles /
    * attribution / scoped policy eval / pagerank) is a consumer of this
    * artifact: at 100 TB the corpus is shingled and banded exactly once
    * per curation run, and each report is a join/agg over a pair table
    * ~10⁶× smaller than the corpus. The `*FromPairs`/`*FromClusters`
    * forms above are the consumer bodies; the recompute forms delegate to
    * the SAME bodies, so stored-vs-recompute parity is structural, not
    * coincidental (spec-asserted hash-equal anyway). */
  def writeDedupArtifact(docs: DataFrame, path: String, threshold: Double): Unit = {
    val pairs = minhashLsh(docs, threshold).localCheckpoint(eager = true)
    pairs.write.mode("overwrite").parquet(s"$path/pairs")
    // cluster labels derive from the just-mined pairs — the corpus is NOT
    // re-shingled for the CC pass; docs contributes only the node id set
    clustersFromPairs(docs, pairs)
      .write.mode("overwrite").parquet(s"$path/clusters")
  }

  /** Per-JVM memoized [[writeDedupArtifact]] store, keyed on
    * (corpus dir, threshold): the first `dedup_stored_*` query of a
    * Verify/Bench/test session mines and writes; every later consumer
    * reads parquet. This is the harness-side stand-in for the production
    * convention where the curation run's artifact lives at a well-known
    * warehouse path. Staleness hazard (accepted for the harness): the memo
    * is never invalidated, so a session that REGENERATES the fixture at
    * the same path would silently serve results mined from the old corpus,
    * and the temp dirs live for the JVM. Fixtures are immutable per
    * session here; a production deployment keys the artifact path on a
    * corpus fingerprint instead. */
  private val artifactDirs =
    scala.collection.mutable.HashMap.empty[(String, Double), String]
  def dedupArtifact(s: SparkSession, dir: String, threshold: Double): String =
    artifactDirs.synchronized {
      artifactDirs.getOrElseUpdate((dir, threshold), {
        val p = java.nio.file.Files
          .createTempDirectory("graft-dedup-artifact").toString
        writeDedupArtifact(Tables.documents(s, dir), p, threshold)
        p
      })
    }

  /** The stored artifact's pair side, read back. */
  def storedPairs(s: SparkSession, dir: String, threshold: Double): DataFrame =
    s.read.parquet(s"${dedupArtifact(s, dir, threshold)}/pairs")

  /** The stored artifact's cluster-label side, read back. */
  def storedClusters(s: SparkSession, dir: String, threshold: Double): DataFrame =
    s.read.parquet(s"${dedupArtifact(s, dir, threshold)}/clusters")

  /** APPENDABLE variant of [[writeDedupArtifact]] — the artifact a corpus
    * that grows daily actually maintains. Ids are `xxhash64`
    * ([[shingleIdsHashed]]) BY NECESSITY (base-(V+1) encoding would
    * renumber every stored shingle when the vocabulary grows — the
    * [[writeNearDupIndex]] lesson), which is also why this form is
    * spec-verified (append ≡ rebuild, bit-identical) rather than
    * DuckDB-oracle-checked: the oracle chain pins the vocab encoding.
    * Parts: shingles / bands / counts / nodes (all APPEND-grown by
    * [[appendDedupArtifact]] — increment-sized writes), pairs / clusters
    * (pair-table-sized, rewritten per append), params (the threshold the
    * artifact was mined at — appends refuse to mix thresholds). */
  def writeDedupArtifactHashed(docs: DataFrame, path: String,
                               threshold: Double): Unit = {
    val shid = shingleIdsHashed(tokenized(docs)).localCheckpoint(eager = true)
    val nodes = docs.select(col("doc_id"))
    writeIncrementParts(shid, nodes, path, ingestBatch = 0L, dynamic = false)
    docs.sparkSession.range(1).select(lit(threshold).as("threshold"))
      .write.mode("overwrite").parquet(s"$path/params")
    val pairs = pairsFromShid(shid, threshold, saltBuckets = 1)
      .localCheckpoint(eager = true)
    pairs.write.mode("overwrite").parquet(s"$path/pairs")
    clustersFromPairs(nodes, pairs)
      .write.mode("overwrite").parquet(s"$path/clusters")
    writeCoverage(docs.sparkSession, path, builtN = nodes.count(),
      appendedN = 0L, staleFrac = 0.0, measuredAtBatch = 0L)
  }

  /** MEASURED-COVERAGE record for the stored artifact — the ANN
    * measured-recall convention applied to the other stored index: one
    * row `(built_n, appended_n, stale_frac, measured_at_batch)` in its
    * own `coverage` part (next to `params`, like the ANN `recall` part).
    * `built_n` is the corpus size at mine time, `appended_n` the docs
    * folded in since, and `stale_frac` the LABEL-CHURN fraction measured
    * at the last maintenance: of the documents that carried a cluster
    * label before the append, what fraction's label changed (straddle
    * edges merge components, so previously-exported labels go stale even
    * though the stored artifact itself is append≡rebuild exact). A
    * `dedup_stored_*` consumer that cached labels gates on this the way
    * an ANN consumer gates on measured recall. The row is a MEASUREMENT,
    * not exactly-once state: a crash-replayed batch re-measures against
    * the already-updated labels and records 0 churn — the growth
    * component of the gate is unaffected. */
  def dedupCoverage(spark: SparkSession,
                    path: String): Option[(Long, Long, Double, Long)] =
    // named selects: the measuredRecall column-order discipline
    ArtifactCompaction.readOptional(spark, s"$path/coverage").flatMap(
      _.select(col("built_n").cast("long"), col("appended_n").cast("long"),
        col("stale_frac").cast("double"),
        col("measured_at_batch").cast("long"))
        .limit(1).collect().headOption
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))))

  private def writeCoverage(spark: SparkSession, path: String, builtN: Long,
                            appendedN: Long, staleFrac: Double,
                            measuredAtBatch: Long): Unit = {
    import spark.implicits._
    Seq((builtN, appendedN, staleFrac, measuredAtBatch))
      .toDF("built_n", "appended_n", "stale_frac", "measured_at_batch")
      .write.mode("overwrite").parquet(s"$path/coverage")
  }

  /** Rebuild thresholds, documented: `growthFactor` 4.0 — per-append cost
    * is O(increment × stored-band probe) and stays increment-shaped at any
    * growth, but the pair/cluster swap and the straddle-join's stored side
    * scale with the corpus, so once the artifact holds 4× its mine-time
    * corpus a re-mine re-baselines those costs (and re-levels band-table
    * skew). `maxStaleFrac` 0.2 — when a fifth of previously-exported
    * labels churn in ONE maintenance, downstream caches (curation keeps,
    * attribution tables) are badly served; a rebuild re-baselines
    * `built_n` so the growth gate tracks the new corpus. Measured
    * evidence (stale_frac) fires regardless of growth; with no coverage
    * row (pre-upgrade store) only a missing-row `false` — the caller
    * falls back to its own cadence. */
  val DedupRebuildGrowth = 4.0
  val DedupRebuildStaleFrac = 0.2

  def dedupArtifactNeedsRebuild(spark: SparkSession, path: String,
                                growthFactor: Double = DedupRebuildGrowth,
                                maxStaleFrac: Double = DedupRebuildStaleFrac): Boolean =
    dedupCoverage(spark, path) match {
      case Some((builtN, appendedN, staleFrac, _)) =>
        staleFrac > maxStaleFrac ||
          (builtN + appendedN) > growthFactor * math.max(1L, builtN)
      case None => false
    }

  /** The per-document parts of the hashed artifact, written as ONE
    * `ingest_batch=` partition each ([[ArtifactCompaction.writeBatch]]):
    * the initial build (`dynamic = false`) resets any previous artifact at
    * the path, an append overwrites ONLY its own increment's partition. */
  private def writeIncrementParts(shid: DataFrame, nodes: DataFrame,
                                  path: String, ingestBatch: Long,
                                  dynamic: Boolean): Unit = {
    def part(df: DataFrame, p: String): Unit =
      ArtifactCompaction.writeBatch(df, s"$path/$p", ingestBatch, dynamic)
    part(shid, "shingles")
    part(bandValsOf(shid), "bands")
    part(shid.groupBy("doc_id").agg(count(lit(1)).as("c")), "counts")
    part(nodes, "nodes")
  }

  /** Fold a corpus increment into a stored hashed artifact at
    * INCREMENT cost: the corpus is never re-shingled and never re-banded —
    * the only corpus-sized READS are the stored band table (one equi-join
    * against the increment's bands) and the stored shingle table (one scan
    * through the verify join), and the only corpus-sized part that gets
    * REWRITTEN is nothing: shingles/bands/counts/nodes grow by parquet
    * APPEND (increment-sized files), while pairs/clusters — pair-table-
    * sized, ~10⁶× under the corpus — are recomputed and swapped.
    *
    * Correctness law (spec-asserted bit-identical): band collisions
    * decompose pairwise, so rebuild(A∪B)'s verified pairs =
    * verified(A×A) ∪ verified(A×B) ∪ verified(B×B) — the first set IS the
    * stored pair table, the other two are mined here; Jaccard verification
    * depends only on the two documents' shingle sets, which hashed ids
    * make corpus-independent. CC labels are recomputed over the unioned
    * pair table (pair-table-sized work; labels are global by nature — an
    * A↔B edge can merge two old components, so no per-increment label
    * patch exists). */
  /** [[appendDedupArtifact]] with the increment id derived as
    * max(ingest_batch)+1 — the ad-hoc "fold today's data in" form. */
  def appendDedupArtifact(newDocs: DataFrame, path: String): Unit =
    // empty-seed bootstrap: a seed built from zero documents writes no
    // partition directories (Spark can't materialize partition dirs for
    // zero rows) — the first real increment starts the sequence at 0
    appendDedupArtifact(newDocs, path,
      ArtifactCompaction.nextBatch(newDocs.sparkSession, s"$path/nodes", 0L))

  def appendDedupArtifact(newDocs: DataFrame, path: String,
                          ingestBatch: Long): Unit = {
    val spark = newDocs.sparkSession
    val threshold = spark.read.parquet(s"$path/params").head().getDouble(0)
    // the corpus side EXCLUDES this increment's own partition: on the
    // first application that filter is a no-op, on a crash REPLAY it makes
    // the whole operation idempotent — the replayed partition is ignored
    // on the read side and dynamically overwritten on the write side, so
    // the batch's shingles can never be double-counted into a Jaccard
    // denominator (Structured Streaming replays a batch id with identical
    // content, which is what makes the rewrite a true no-op)
    val newShid = shingleIdsHashed(tokenized(newDocs)).localCheckpoint(eager = true)
    val newBands = bandValsOf(newShid).localCheckpoint(eager = true)
    val newCnt = newShid.groupBy("doc_id").agg(count(lit(1)).as("c"))
    // empty-seed bootstrap: a part built from zero documents has no
    // schema-bearing files, so each stored part falls back to an empty
    // frame shaped like ITS increment twin — no hardcoded schemas to
    // drift, and the append algebra below degenerates to exactly the
    // initial build when every stored side is empty
    def oldPart(p: String, like: => DataFrame, cols: String*) =
      ArtifactCompaction.readOptional(spark, s"$path/$p")
        .getOrElse(like.limit(0).withColumn("ingest_batch", lit(0L)))
        .filter(col("ingest_batch").cast("long") =!= ingestBatch)
        .select(cols.map(col): _*)
    val oldPairs = ArtifactCompaction.readOptional(spark, s"$path/pairs")
      .getOrElse(spark.range(0).select(col("id").as("doc_a"),
        col("id").as("doc_b"), col("id").cast("double").as("jaccard")))
      .localCheckpoint(eager = true)
    val oldBands = oldPart("bands", newBands, "doc_id", "band", "bval")
    val oldShid = oldPart("shingles", newShid, "doc_id", "sid")
    val oldCnt = oldPart("counts", newCnt, "doc_id", "c")
    // increment-internal candidates: the band self-join of B alone
    val candNew = newBands.select(col("doc_id").as("doc_a"), col("band"), col("bval"))
      .join(newBands.select(col("doc_id").as("doc_b"), col("band"), col("bval")),
        Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // straddling candidates: increment bands vs STORED bands (ids
    // interleave, so orient explicitly — candidatesOf's a<b convention)
    val candStraddle = newBands.select(col("doc_id").as("dn"), col("band"), col("bval"))
      .join(oldBands.select(col("doc_id").as("de"), col("band"), col("bval")),
        Seq("band", "bval"))
      .select(least(col("dn"), col("de")).as("doc_a"),
        greatest(col("dn"), col("de")).as("doc_b"))
      .distinct()
    val cand = candNew.unionByName(candStraddle).distinct()
    // verify against the union shingle view; denominators come from the
    // STORED counts for corpus docs (never a corpus-wide re-aggregation)
    val allShid = oldShid.unionByName(newShid)
    val cntAll = oldCnt.unionByName(newCnt)
    val xa = allShid.select(col("doc_id").as("doc_a"), col("sid"))
    val xb = allShid.select(col("doc_id").as("doc_b"), col("sid"))
    val inter = cand.join(xa, "doc_a").join(xb, Seq("doc_b", "sid"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    // distinct: on a replay the re-mined pairs already sit in the stored
    // pair table verbatim (same jaccard arithmetic) — the union must not
    // duplicate them
    val pairs = oldPairs
      .unionByName(jaccardVerified(inter, cntAll, threshold))
      .distinct()
      .localCheckpoint(eager = true)
    // grow the per-document parts by one increment-sized partition
    // (dynamic overwrite of ingest_batch=N — replay-idempotent)
    writeIncrementParts(newShid, newDocs.select(col("doc_id")), path,
      ingestBatch, dynamic = true)
    val nodesNow = spark.read.parquet(s"$path/nodes").select("doc_id")
    // ConnectedComponents returns an already-materialized (checkpointed)
    // frame, so reusing it for the churn measurement below is free
    val newClusters = clustersFromPairs(nodesNow, pairs)
    // maintenance-time STALENESS measurement, taken BEFORE the cluster
    // swap (the old labels are still on disk): of the docs labeled before
    // this append, what fraction's label changed. One narrow corpus-sized
    // join — within the cluster swap's own cost envelope.
    val oldClusters = ArtifactCompaction.readOptional(spark, s"$path/clusters")
      .map(_.select(col("doc_id"), col("cluster").as("old_cluster")))
      .getOrElse(spark.range(0).select(col("id").as("doc_id"),
        col("id").as("old_cluster")))
    val m = newClusters.join(oldClusters, "doc_id")
      .agg(count(lit(1)),
        count(when(col("cluster") =!= col("old_cluster"), lit(1)))).head()
    val staleFrac =
      if (m.getLong(0) == 0L) 0.0 else m.getLong(1).toDouble / m.getLong(0)
    // swap the pair-table-sized derived parts
    pairs.write.mode("overwrite").parquet(s"$path/pairs")
    newClusters.write.mode("overwrite").parquet(s"$path/clusters")
    // pre-upgrade artifact (no coverage row yet): seed the baseline from
    // the PRE-append corpus size, never 0 — a zero baseline makes the
    // growth gate fire forever after the first maintenance, defeating
    // the documented graceful fallback (review-caught)
    val builtN = dedupCoverage(spark, path).map(_._1).getOrElse(
      spark.read.parquet(s"$path/nodes")
        .filter(col("ingest_batch").cast("long") =!= ingestBatch).count())
    writeCoverage(spark, path, builtN,
      appendedN = nodesNow.count() - builtN, staleFrac = staleFrac,
      measuredAtBatch = ingestBatch)
  }

  /** Compact the hashed artifact's per-document parts: merge every
    * `ingest_batch <= upTo` partition of shingles/bands/counts/nodes into
    * one right-sized partition — the small-files maintenance a daily
    * streaming maintainer needs (365 tiny partitions/year per part
    * otherwise). Batches `> upTo` keep their replay semantics verbatim;
    * see [[ArtifactCompaction]] for the offline/committed-batches
    * contract. Spec-pinned: reports, stored-label curation, and a
    * post-compaction append are bit-identical to the uncompacted twin. */
  def compactDedupArtifact(spark: SparkSession, path: String): Unit =
    compactDedupArtifact(spark,
      path, ArtifactCompaction.defaultWatermark(spark, s"$path/nodes"))

  def compactDedupArtifact(spark: SparkSession, path: String,
                           upTo: Long): Unit =
    Seq("shingles", "bands", "counts", "nodes").foreach(p =>
      ArtifactCompaction.compactPart(spark, s"$path/$p", upTo))

  /** Which documents of `newDocs` near-duplicate the indexed corpus —
    * [[incrementalMinhash]] semantics (per new doc: match count, best
    * Jaccard, the partner achieving it) at per-increment cost: the corpus
    * side is READ, not recomputed. Candidate mining is the band equi-join
    * of the increment's bands against the stored table; verification joins
    * the increment's shingle sets against the stored ones for colliding
    * pairs only. */
  def incrementalAgainstIndex(newDocs: DataFrame, path: String,
                              threshold: Double): DataFrame = {
    val spark = newDocs.sparkSession
    val corpusShid = spark.read.parquet(s"$path/shingles")
    val corpusBands = spark.read.parquet(s"$path/bands")
    val newShid = shingleIdsHashed(tokenized(newDocs)).localCheckpoint(eager = true)
    val cand = bandValsOf(newShid)
      .select(col("doc_id").as("new_doc"), col("band"), col("bval"))
      .join(corpusBands.select(col("doc_id").as("existing_doc"), col("band"), col("bval")),
        Seq("band", "bval"))
      .select("new_doc", "existing_doc").distinct()
    val cntNew = newShid.groupBy("doc_id").agg(count(lit(1)).as("cn"))
    // READ, not recomputed: a per-increment groupBy over the stored
    // shingle table would be a corpus-wide aggregation on every call —
    // the denominators were materialized once at index-build time
    val cntOld = spark.read.parquet(s"$path/counts")
    // the (candidate × increment-shingle) side is increment-bounded;
    // broadcast it so the corpus shingle table streams through the verify
    // join in place — one scan, no corpus shuffle
    val inter = broadcast(cand
      .join(newShid.select(col("doc_id").as("new_doc"), col("sid")), "new_doc"))
      .join(corpusShid.select(col("doc_id").as("existing_doc"), col("sid")),
        Seq("existing_doc", "sid"))
      .groupBy("new_doc", "existing_doc").agg(count(lit(1)).as("inter"))
    val verified = inter
      .join(cntNew.select(col("doc_id").as("new_doc"), col("cn")), "new_doc")
      .join(cntOld.select(col("doc_id").as("existing_doc"), col("co")), "existing_doc")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("cn") + col("co") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
    verified.groupBy("new_doc")
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("jaccard").as("j"), (-col("existing_doc")).as("nd"))).as("w"))
      .select(col("new_doc"), col("n_matches"),
        (-col("w.nd")).as("dup_of"), col("w.j").as("best_jaccard"))
  }

  /** Near-duplicate *clusters*: connected components over the MinHash-LSH
    * candidate pairs, labels = min doc_id per component. Singleton docs keep
    * their own id. This is the operator that turns pairwise dedup output
    * into per-document keep/drop decisions at corpus scale — see
    * [[graft.operators.ConnectedComponents]] for the iteration shape. */
  def dedupClusters(docs: DataFrame, threshold: Double): DataFrame =
    clustersFromPairs(docs, minhashLsh(docs, threshold))

  /** [[dedupClusters]] body over an already-mined pair table (the
    * mine-once/report-many consumer form): CC labeling is a graph
    * computation over the verified pair set, never a reason to re-shingle
    * the corpus. `docs` contributes ONLY `doc_id` (the node set, so
    * singletons keep their own label). */
  def clustersFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val nodes = docs.select(col("doc_id").as("id"))
    graft.operators.ConnectedComponents(nodes, edges)
      .select(col("id").as("doc_id"), col("label").as("cluster"))
  }

  /** The keep/drop decision that ends the dedup pipeline: one row per kept
    * document (the cluster representative = min doc_id) with how many
    * near-duplicates it absorbs. `cluster_size - 1` documents per row are
    * dropped from the corpus — pairs → clusters → THIS is the actual
    * dedup a training-data pipeline executes. */
  def dedupKeep(docs: DataFrame, threshold: Double): DataFrame =
    keepFromClusters(dedupClusters(docs, threshold))

  /** [[dedupKeep]] body over an already-labeled cluster table — a single
    * aggregation over the stored artifact's `clusters` side. */
  def keepFromClusters(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("cluster").as("doc_id"), col("cluster_size"))

  /** Quality-argmax keeper variant of [[dedupKeep]]: keep the HIGHEST
    * heuristic-quality member of each near-dup cluster (ties → min
    * doc_id) instead of the min-id representative — the FineWeb/Gopher
    * "keep the best copy" policy: near-dup clusters routinely mix a clean
    * original with truncated or boilerplate-wrapped recrawls, and min-id
    * keeps whichever was crawled first. Output per cluster:
    * `(cluster, keeper_best, best_q_micro, cluster_size)`.
    *
    * Scale shape: cluster assignment and the per-doc quality score join
    * on doc_id (both sides keyed by the corpus's natural key); the size
    * count and the argmax `row_number` share ONE cluster-keyed shuffle +
    * sort (the q_scd2 window-sharing shape), and cluster partitions are
    * LSH-quasi-clique-sized, never corpus-sized. The quality micro-snap
    * makes the argmax key integer-exact, so both engines elect the same
    * keeper without an FP tie hazard. */
  def dedupKeepBest(docs: DataFrame, threshold: Double): DataFrame =
    keepBestFromClusters(dedupClusters(docs, threshold), docs)

  /** [[dedupKeepBest]] body over an already-labeled cluster table. `docs`
    * is read ONLY for the quality score — text never enters the mining
    * path again; the cluster-keyed window is the same single shuffle. */
  def keepBestFromClusters(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val byQ = Window.partitionBy("cluster")
      .orderBy(col("qm").desc, col("doc_id").asc)
    clusters
      .join(TextAnalysis.qualityMicro(docs), "doc_id")
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .withColumn("rk", row_number().over(byQ))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("doc_id").as("keeper_best"),
        col("qm").as("best_q_micro"), col("cluster_size"))
  }

  /** The COMPLETE dedup pipeline in the production order SCALE.md's
    * hot-bucket analysis prescribes: exact dedup FIRST (collapse identical
    * texts to their min-doc_id representative — one agg, and the quadratic
    * identical-text pathology never reaches LSH), then near-dup clustering
    * over representatives only, then one keeper row per cluster carrying
    * `n_reps` (distinct texts absorbed) and `n_docs` (ORIGINAL documents
    * absorbed, exact copies included) — the corpus keeps `keeper`, drops
    * `n_docs − 1` documents per row. */
  def dedupPipeline(docs: DataFrame, threshold: Double): DataFrame = {
    val groups = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .localCheckpoint(eager = true) // reps feed LSH AND the final rollup
    val clusters = dedupClusters(groups.select(col("doc_id"), col("text")), threshold)
    clusters.join(groups.select(col("doc_id"), col("n_copies")), "doc_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_reps"), sum(col("n_copies")).as("n_docs"))
      .select(col("cluster").as("keeper"), col("n_reps"), col("n_docs"))
  }

  /** [[dedupPipeline]]'s stored-consumer body: the same keeper report
    * from an ALREADY-LABELED cluster table (the dedup artifact's
    * `clusters` side) — the corpus contributes only the exact-group
    * rollup (one text-keyed agg), and nothing re-shingles. Correctness
    * rests on a structural identity, spec-asserted hash-equal to the
    * recompute form (Round12OpsSpec): exact copies share their
    * representative's shingle set, so they band identically, every copy
    * is connected to its representative by a Jaccard-1 edge, and a
    * full-corpus component's min doc_id IS a representative — therefore
    * full-corpus cluster labels restricted to representatives equal the
    * labels [[dedupPipeline]] computes over representatives alone, and
    * the (n_reps, n_docs) rollup is the same partition either way. At
    * 100 TB the fused curation run is gates + this one artifact join —
    * never a re-mine. */
  def pipelineFromClusters(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val groups = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
    groups.select(col("doc_id"), col("n_copies"))
      // LEFT join + singleton coalesce: a representative ingested after
      // the artifact's build snapshot has no label row, and an inner join
      // would silently drop its whole exact group from the keeper report
      // (review-caught). Label-less reps keep their own id
      // (clustersFromPairs' singleton convention) until the next artifact
      // append; for a fresh artifact the coalesce is a no-op.
      .join(clusters, Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_reps"), sum(col("n_copies")).as("n_docs"))
      .select(col("cluster").as("keeper"), col("n_reps"), col("n_docs"))
  }

  /** Keep-decision for the embedding path: representative (min vec_id) +
    * absorbed count per [[embeddingClusters]] cluster — completes the
    * embedding dedup symmetry with [[dedupKeep]]. */
  def embeddingKeep(emb: DataFrame, threshold: Double): DataFrame =
    embeddingClusters(emb, threshold)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("cluster").as("vec_id"), col("cluster_size"))

  /** Exact substring-window dedup (the Lee et al. "Deduplicating Training
    * Data" shape at token-window granularity): segment each document into
    * non-overlapping `window`-token spans, count each span's occurrences
    * across the corpus, and report per document how much of it is made of
    * spans that occur more than once ANYWHERE — including twice within the
    * same document: a self-repeated span is a duplicated training span
    * exactly like a cross-document one, which is how Lee et al. count.
    * `keep` gates on the duplicated fraction (≤ 1/2, decided in exact
    * integer cross-multiplication).
    *
    * Scale shape: segmentation is in-row (`transform` over the token
    * array — no corpus shuffle); the span count is one map-side-combining
    * aggregation; the count join back is a hash join on the span key; the
    * per-doc rollup keys on doc_id. All three shuffles carry (span, count)
    * or (doc_id, flags) — never document text beyond the spans themselves.
    * At 100 TB you'd key the count + join on `xxhash64(segment)` so the
    * shuffle carries an 8-byte key (the [[exactByHash]] argument); the
    * oracle-checked path keeps the string key the oracle can reproduce.
    *
    * The segmentation is recomputed for its two consumers (count + join
    * back) rather than checkpointed: seg IS the corpus text re-segmented,
    * and pinning corpus-sized blocks in unreplicated executor storage
    * trades a linear in-row recompute for an executor-loss failure mode
    * and cluster-memory pressure — the wrong trade at scale. */
  def substringDedup(docs: DataFrame, window: Int): DataFrame =
    substringDedup(docs, window, hashedKeys = false)

  /** `hashedKeys = true` is the promised 100 TB branch, executable on any
    * fixture (the shingleIdsHashed injectable-switch pattern): the span
    * count and the count-join key on `xxhash64(segment)` so both shuffles
    * carry an 8-byte key instead of the span text — identical output up to
    * a ~2⁻⁶⁴ hash collision (the [[exactByHash]] argument), spec-asserted
    * equal to the string-keyed plan. */
  def substringDedup(docs: DataFrame, window: Int, hashedKeys: Boolean): DataFrame = {
    require(window >= 1, s"substringDedup: window must be >= 1, got $window")
    // guard: sequence(1, 0) counts DOWN in Spark, so short docs must be
    // filtered before the transform (same guard as the bigram builder)
    val seg = tokenized(docs)
      .filter(size(col("words")) >= window)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(words) div $window)," +
          s" i -> concat_ws(' ', slice(words, (i-1)*$window+1, $window)))"))
        .as("segment"))
      .withColumn("k", if (hashedKeys) xxhash64(col("segment")) else col("segment"))
    val counts = seg.groupBy("k").agg(count(lit(1)).as("n_occ"))
    seg.join(counts, "k")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("n_occ") >= 2, 1).otherwise(0)).as("n_dup_segments"))
      .withColumn("dup_fraction",
        round(col("n_dup_segments").cast("double") / col("n_segments"), 6))
      .withColumn("keep", col("n_dup_segments") * 2 <= col("n_segments"))
  }

  /** Bloom-prefiltered increment-vs-corpus span membership: which documents
    * of today's increment (doc_id % 7 == 0, the same split as
    * [[incrementalMinhash]]) share an exact `window`-token span with the
    * existing corpus, and how many of their spans are shared. This is the
    * cheap first gate a crawl-ingest runs before the expensive MinHash pass:
    * verbatim-copied boilerplate is caught by exact span membership alone.
    *
    * Scale shape — the point of the Bloom filter: the corpus side is 100 TB
    * and the increment is small, so joining increment spans against corpus
    * spans must NOT shuffle the corpus per increment. Instead:
    *  1. a Bloom sketch over xxhash64(span) of the corpus's distinct spans
    *     is built once (`DataFrameStatFunctions.bloomFilter`, a
    *     treeAggregate — no shuffle) and broadcast to executors;
    *  2. increment spans probe the sketch in a map-only pass — no false
    *     negatives, so no true duplicate is lost; ~fpp of clean spans
    *     survive as false positives;
    *  3. the few survivors are broadcast into ONE exact hash join against
    *     the distinct-span index to kill the false positives, so the final
    *     counts are exact — identical to the naive join the oracle runs.
    * The distinct-span index is the one corpus-wide shuffle and is
    * increment-independent: production materializes it once and reuses it
    * per increment (the [[writeNearDupIndex]] pattern), leaving the
    * per-increment cost at sketch-probe + broadcast-join. This is the same
    * sketch-then-exact-verify contract Spark's own runtime row-level
    * filtering (InjectRuntimeFilter) applies to shuffle joins — and the
    * probe IS Spark's own codegen'd [[BloomFilterMightContain]] expression
    * (reached through the GraftSql shim; the sketch bytes ride as a foldable
    * binary literal, exactly how InjectRuntimeFilter plants them), not a
    * per-row Scala UDF: the filter stays inside whole-stage codegen and the
    * sketch is deserialized once per task, with no broadcast variable to
    * leak across invocations.
    *
    * `broadcastCandidates = false` is the dense-increment escape hatch (the
    * lshTopKMulti pattern): a duplicate-heavy increment can leave survivors
    * ≈ all increment spans, past driver/broadcast limits — the fallback is
    * the plain shuffled equi-join on the span key. */
  def bloomIncrementalSpans(docs: DataFrame, window: Int,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01,
      broadcastCandidates: Boolean = true): DataFrame = {
    require(window >= 1, s"bloomIncrementalSpans: window must be >= 1, got $window")
    // seg feeds FOUR consumers (sketch build, exact-verify join, candidate
    // probe, per-doc span count); without materialization each re-runs the
    // scan + tokenize + explode. One eager localCheckpoint = one pass, and
    // its blocks free with the plan. (In production the corp side is a
    // stored index — writeNearDupIndex — and only the increment's spans are
    // materialized, so the checkpoint is increment-sized, not corpus-sized.)
    val seg = tokenized(docs)
      .filter(size(col("words")) >= window)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(words) div $window)," +
          s" i -> concat_ws(' ', slice(words, (i-1)*$window+1, $window)))"))
        .as("segment"))
      .localCheckpoint(eager = true)
    val corp = seg.filter(col("doc_id") % 7 =!= 0).select("segment").distinct()
    val incs = seg.filter(col("doc_id") % 7 === 0)
    val sketch = corp.select(xxhash64(col("segment")).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)
    val sketchBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = graft.functions.VectorFunctions.bloomMightContain(
      sketchBytes, xxhash64(col("segment")))
    val cand = incs.filter(mightContain)
    // corp is distinct, so each surviving (doc, span) row matches at most
    // once: the inner join == cand ⋉ corp, with the small side broadcast
    val hits = corp.join(if (broadcastCandidates) broadcast(cand) else cand,
        "segment")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    incs.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id").as("new_doc"), col("n_spans"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit_spans"))
  }

  /** Corpus-level segment dedup with REWRITE (the C4 / CCNet "remove
    * duplicated lines, keep the rest of the document" operation, at
    * token-window granularity since the synthetic corpus has no newlines):
    * segment each document into `window`-token spans (tail span included, so
    * the rewrite covers every token), elect the globally FIRST occurrence of
    * each distinct span (min over doc_id, then position), drop every later
    * occurrence, and re-emit each document's surviving text in original
    * order. Unlike [[substringDedup]] — which only *reports* duplicated
    * fractions — this produces the cleaned corpus itself.
    *
    * Scale shape: segmentation is in-row (`transform` over the token
    * array); the first-occurrence election is ONE map-side-combining min()
    * aggregation keyed on the span (at 100 TB: key on xxhash64(span) so the
    * shuffle carries 8-byte keys — the [[exactByHash]] argument; the
    * oracle-checked path keeps the string key the oracle can reproduce);
    * the join back is a hash join on the same key; the reassembly keys on
    * doc_id and carries only surviving spans. Nothing is quadratic and no
    * window function runs over an unpartitioned frame.
    *
    * The election key packs (doc_id, pos) into one BIGINT, `doc_id*1e6 +
    * pos` — injective while every document has < 1e6 spans (10M tokens at
    * window 10) and |doc_id| ≤ 9.2e12; both hold by orders of magnitude for
    * sequential ids at any real scale, and the packing keeps the min() a
    * primitive-long agg instead of a struct compare. The bounds are
    * RUNTIME-ENFORCED per row (a codegen'd branch, free next to the string
    * agg): a ≥1e6-span document or a hash-derived doc_id (e.g. the
    * xxhash64-as-doc_id pattern CorpusIngest.gate uses) would silently
    * collide or, under ANSI, overflow mid-aggregate — electing a wrong
    * first occurrence must be impossible, not quiet. Such corpora should
    * pre-map ids to a dense range (zipWithIndex) before calling this. */
  def segmentDedupRewrite(docs: DataFrame, window: Int): DataFrame =
    segmentDedupRewrite(docs, window, hashedKeys = false)

  /** `hashedKeys = true`: the first-occurrence election and its join back
    * key on `xxhash64(segment)` — 8-byte shuffle keys, the same executable
    * 100 TB branch as [[substringDedup]]'s; spec-asserted identical. */
  def segmentDedupRewrite(docs: DataFrame, window: Int, hashedKeys: Boolean): DataFrame = {
    require(window >= 1, s"segmentDedupRewrite: window must be >= 1, got $window")
    // largest |doc_id| such that doc_id*1e6 + pos fits a Long for EVERY
    // pos < 1e6: floor((Long.MaxValue - 999999) / 1e6). One less than the
    // naive Long.MaxValue/1e6 floor, which admits keys that overflow at
    // high pos. Explicit two-sided comparison, not abs(): abs(Long.MinValue)
    // overflows and would bypass (non-ANSI) or pre-empt (ANSI) the guard.
    val packBound = 9223372036853L
    val packed = when(col("pos") >= 1000000L ||
        col("doc_id") > packBound || col("doc_id") < -packBound,
      raise_error(concat(
        lit("segmentDedupRewrite: (doc_id, pos) = ("), col("doc_id").cast("string"),
        lit(", "), col("pos").cast("string"),
        lit(s") exceeds the doc_id*1e6+pos packing bounds (pos < 1e6, |doc_id| <= $packBound)")))
        .cast("long"))
      .otherwise(col("doc_id") * lit(1000000L) + col("pos"))
    val seg = tokenized(docs)
      .filter(size(col("words")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, (size(words) + $window - 1) div $window)," +
          s" i -> concat_ws(' ', slice(words, (i-1)*$window+1, $window)))"))
        .as(Seq("pos0", "segment")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("segment"))
      .withColumn("fk", packed)
      .withColumn("k", if (hashedKeys) xxhash64(col("segment")) else col("segment"))
    val firsts = seg.groupBy("k")
      .agg(min(col("fk")).as("first_fk"))
    seg.join(firsts, "k")
      .withColumn("kept", col("fk") === col("first_fk"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        expr("concat_ws(' ', transform(array_sort(" +
          "collect_list(CASE WHEN kept THEN struct(pos, segment) END)), x -> x.segment))")
          .as("clean_text"))
  }

  /** The embedding-pair scorers' one tail: the rounded cosine of every
    * candidate (id_a, va, na, id_b, vb, nb) pair, kept at ≥ threshold. */
  private def scoredPairs(cand: DataFrame, threshold: Double): DataFrame =
    cand.withColumn("cosine", Similarity.roundedCosine("va", "vb", "na", "nb"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))

  /** Embedding-cosine near-dup pairs ≥ threshold. Brute-force pairwise (the
    * correctness baseline); the ANN/LSH scale path is in [[Similarity]]. */
  def embeddingPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = Similarity.normed(emb)
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    scoredPairs(a.join(b, col("id_a") < col("id_b")), threshold)
  }

  /** LSH-bucketed embedding near-dup pairs — the 100 TB twin of
    * [[embeddingPairs]]. Reuses [[Similarity.lshBuckets]]: one linear pass
    * computes an 8-bit random-hyperplane signature per vector, the pair
    * join is an *equi-join on the signature* (hash-partitioned — never the
    * all-pairs nested loop), and exact cosine rescoring touches colliding
    * pairs only. Expected join work is |pairs| / 2^8 of brute force; at
    * real scale you'd union several independent plane families to raise
    * recall, exactly like multi-table LSH in [[Similarity.lshTopK]].
    *
    * Recall contract: a pair is emitted iff cosine ≥ threshold AND the two
    * vectors collide in the signature (the oracle applies the same bucket
    * restriction, mirroring the `ann_lsh` oracle). */
  def embeddingPairsLsh(emb: DataFrame, threshold: Double): DataFrame = {
    // materialize the signatures once: both join sides would otherwise each
    // re-run the full 8-plane projection pass over the corpus
    val b = Similarity.lshBuckets(emb).localCheckpoint(eager = true)
    val a = b.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("bucket"))
    val c = b.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("bucket"))
    scoredPairs(a.join(c, Seq("bucket")).filter(col("id_a") < col("id_b")), threshold)
  }

  /** Multi-family twin of [[embeddingPairsLsh]] — the recall knob for the
    * PAIR path, completing the symmetry with [[Similarity.lshTopKMulti]]:
    * candidates are the union of same-bucket pairs across `nFamilies`
    * independent hyperplane families (LCG stream offset family·512),
    * deduplicated, then rescored exactly once per surviving pair. A
    * near-dup pair missed by one 8-bit signature has an independent chance
    * in each further family, so recall → 1 exponentially in the family
    * count while candidate mining stays an equi-join per family on
    * (fam, bucket) — join work grows linearly, never toward N².
    *
    * Output is a strict superset of the single-family pairs at the same
    * threshold (family 0 IS the single-family table; spec-asserted). */
  def embeddingPairsLshMulti(emb: DataFrame, threshold: Double,
                             nFamilies: Int = 2): DataFrame = {
    require(nFamilies >= 1, s"embeddingPairsLshMulti: need >= 1 family, got $nFamilies")
    // one normed projection feeds every family's signature pass AND the
    // rescoring sides — materialize it once
    val e = Similarity.normed(emb).localCheckpoint(eager = true)
    val fams = (0 until nFamilies).map { f =>
      Similarity.bucketsFromNormed(e, f)
        .select(col("vec_id"), col("bucket"), lit(f).as("fam"))
    }.reduce(_.unionByName(_))
    val cand = fams.select(col("vec_id").as("id_a"), col("fam"), col("bucket"))
      .join(fams.select(col("vec_id").as("id_b"), col("fam"), col("bucket")),
        Seq("fam", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    scoredPairs(cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b"),
      threshold)
  }

  /** Embedding near-dup *clusters*: connected components over the
    * LSH-bucketed cosine pair graph — the embedding-side twin of
    * [[dedupClusters]], so the embedding dedup path also ends in per-vector
    * keep/drop decisions rather than raw pairs. Scale shape: linear
    * signature pass + bucket join (never N²) feeding the one-shuffle-per-
    * round hash-min CC. */
  def embeddingClusters(emb: DataFrame, threshold: Double): DataFrame = {
    val edges = embeddingPairsLsh(emb, threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val nodes = emb.select(col("vec_id").as("id"))
    graft.operators.ConnectedComponents(nodes, edges)
      .select(col("id").as("vec_id"), col("label").as("cluster"))
  }

  /** Dedup-recall evaluation report: the banded [[minhashLsh]] pair set
    * measured against the recall-complete [[ngramJaccard]] ground truth at
    * the same threshold — the "is my LSH tuning losing pairs" report a
    * pipeline runs on a sampled corpus before trusting the banding at full
    * scale. One row: (n_true, n_found, n_missed, recall_micro).
    *
    * Precision is structurally 1 (both operators verify EXACT Jaccard
    * after candidate mining, so found ⊆ truth — the report measures the
    * banding's recall, the only thing it can lose). On this fixture the
    * near-dup pairs are far above the band threshold, so recall is 1.0;
    * the number moves on borderline-J corpora (8×2 bands collide with
    * P = 1−(1−J²)⁸ ≈ 0.81 at J = 0.45), which is exactly when a team
    * needs this report. Cost is the quadratic truth side — a SAMPLED
    * evaluation corpus is the production shape, never the full 100 TB:
    * `sampleMod` keeps the 1/sampleMod deterministic hash-slice of the
    * corpus (xxhash64(doc_id) ≡ 0 mod sampleMod — reproducible across
    * runs, unbiased w.r.t. doc ordering) before EITHER side runs, so the
    * quadratic truth join sees n/sampleMod docs. The default 1 is the
    * full-corpus form the fixture oracle pins; the sampled arm is
    * spec-verified (recall on the slice within CI bounds of the full
    * answer) rather than left as a scaladoc claim.
    *
    * HASHED-REGIME CONTRACT (the boundary the r14 audit asked to be stated
    * where the code makes it): both arms read ONE shingle-id table, so past
    * the [[ExactVocabBound]] vocab bound the "exact truth" arm computes
    * Jaccard over 64-bit `xxhash64` shingle ids, not shingle strings — the
    * truth is then exact *up to id collisions*, probability ~2⁻⁶⁴ per
    * shingle pair, orders of magnitude below any corpus's pair count and
    * far below the sampling error the `sampleMod` production form already
    * accepts. Below the bound (every oracle fixture) the encoding is
    * injective and the truth is exact in the strict sense. A deployment
    * that needs collision-free truth in the unbounded regime must run the
    * string-shingle [[ngramJaccard]] arm instead and pay its second
    * tokenize chain. */
  def dedupEval(docs: DataFrame, threshold: Double, sampleMod: Long = 1L): DataFrame = {
    require(sampleMod >= 1, s"dedupEval: sampleMod must be >= 1, got $sampleMod")
    val d = if (sampleMod == 1L) docs
      else docs.filter(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
    // ONE shingle-id table feeds BOTH arms (mine once): the exact truth
    // arm is the ngramJaccard inverted-index join run over shingle IDS
    // instead of shingle strings — base-(V+1) encoding is injective, so
    // intersections, set sizes, Jaccard values and the pair set are
    // bit-identical to the string form (the ngramJaccard oracle), and the
    // second tokenize → vocab → per-doc collect chain the string arm paid
    // never runs (guide §1.2: don't compute things twice).
    val shid = shingleIds(tokenized(d), ExactVocabBound)
      .localCheckpoint(eager = true)
    val cnt = shid.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val xa = shid.select(col("doc_id").as("doc_a"), col("sid"))
    val xb = shid.select(col("doc_id").as("doc_b"), col("sid"))
    val inter = xa.join(xb, Seq("sid")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val truth = jaccardVerified(inter, cnt, threshold)
    truth.select("doc_a", "doc_b")
      .join(pairsFromShid(shid, threshold, saltBuckets = 1)
        .select("doc_a", "doc_b")
        .withColumn("f", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("f")), lit(0L)).as("n_found"))
      .select(col("n_true"), col("n_found"),
        (col("n_true") - col("n_found")).as("n_missed"),
        // vacuous recall = 1.0 when the (possibly sampled) slice carries no
        // truth pairs — never a NULL from the n_true = 0 division
        expr("CASE WHEN n_true = 0 THEN 1000000" +
          " ELSE (n_found * 1000000) div n_true END").as("recall_micro"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the
    * MOSS algorithm): per document, the min-hash of every sliding window of
    * `window` consecutive shingle hashes, deduplicated. The winnowing
    * guarantee: any shared run of at least `window + shingle − 1` tokens
    * between two documents yields at least one shared fingerprint, at
    * ~1/window the stored size of the full shingle set (measured 52 → 20
    * rows/doc on the fixture at w=4) — the sub-linear index for
    * plagiarism-style overlap detection, where MinHash signatures answer a
    * different question (whole-document resemblance, no locality).
    *
    * Shape: ONE shuffle (the positional collect_list the exact shingle
    * encoding already pays); the hash mix, the sliding-window min, and the
    * fingerprint dedup all happen inside the row over the ~|doc|-element
    * array. The fingerprint table is what ships — at 100 TB, 1/window of
    * the shingle volume.
    *
    * Vocab regimes (the [[shingleIds]] switch, r15): the exact path's
    * vocabulary comes from the [[boundedVocab]] bounded collect (one
    * distinct+collect job — the distributed vocab()'s 4-job
    * sortBy/zipWithIndex/checkpoint/count chain is gone; ids identical),
    * and past the bound the HASHED twin runs instead: positional shingle
    * hashes `xxhash64(shingle string)` computed IN-ROW from the words
    * array — no vocab table, no broadcast, no shuffle at all before the
    * fingerprint explode. Fingerprints differ from the exact path's
    * (different uniform hash family feeding the same window-min mix), but
    * the winnowing guarantee is hash-agnostic — any shared run of
    * `window + shingle − 1` tokens still shares a fingerprint, and the
    * ~1/window selection density is a property of min-over-window, not of
    * which uniform hash fills the array (spec-pinned on a shared-run
    * fixture under both regimes). */
  def winnowFingerprints(docs: DataFrame, window: Int): DataFrame =
    winnowFingerprints(docs, window, ExactVocabBound)

  def winnowFingerprints(docs: DataFrame, window: Int,
                         exactVocabBound: Long): DataFrame = {
    require(window >= 2, s"winnowing needs window >= 2, got $window")
    val tok = tokenized(docs)
    // the window-min fingerprint selection over a positional shingle-hash
    // array — ONE definition both vocab regimes feed
    def fps(sids: DataFrame): DataFrame =
      sids.select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(sids) - ${window - 1}),
           |  w -> array_min(transform(sequence(w, w + ${window - 1}),
           |         i -> ((sids[i-1] % 3037000493) * 2654435761) % 1099511627791))))"""
          .stripMargin)).as("fp"))
    boundedVocab(tok, exactVocabBound) match {
      case None =>
        fps(tok.filter(size(col("words")) >= 2 + window) // >= window shingles
          .select(col("doc_id"), expr(
            """transform(sequence(1, size(words) - 2),
              |  i -> xxhash64(concat_ws(' ', words[i-1], words[i], words[i+1])))"""
              .stripMargin).as("sids")))
      case Some((v, vBase)) =>
        fps(tok.select(col("doc_id"), posexplode(col("words")).as(Seq("pos", "token")))
          .join(broadcast(v), "token")
          .groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("pos"), col("tid")))).as("pt"))
          .filter(size(col("pt")) >= 2 + window) // >= window shingles
          .select(col("doc_id"), expr(
            s"""transform(sequence(1, size(pt) - 2),
               |  i -> (pt[i-1].tid * ${vBase}L + pt[i].tid) * ${vBase}L + pt[i+1].tid)"""
              .stripMargin).as("sids")))
    }
  }

  /** Default stop-fingerprint cap for [[winnowPairs]] — far above any
    * fixture document frequency (a no-op at test scale, spec-pinned), real
    * protection at corpus scale where boilerplate df runs to millions. */
  val WinnowStopDf: Long = 1L << 20

  /** Fingerprint-overlap pairs: documents sharing ≥ `minShared` winnowed
    * fingerprints. The join runs over the 1/window-sized fingerprint
    * table, never the shingle sets — the winnowing index IS the candidate
    * structure, no banding needed.
    *
    * `maxDf` is MOSS's stop-fingerprint rule (Schleimer et al. §5 — MOSS
    * drops fingerprints "that occur in many documents"): a fingerprint
    * shared by more than `maxDf` documents is boilerplate (headers,
    * licenses, copyright runs — exactly what winnowing fingerprints) and is
    * dropped BEFORE the self-join. Without it one hot fingerprint in m docs
    * fans out m² pairs — the same quadratic hot-bucket failure the LSH band
    * join salts against, except here the cap also *improves* the answer:
    * boilerplate runs are not the overlap a plagiarism report is after.
    * The hot-fingerprint list is tiny (≤ #fingerprints with df > cap), so
    * the anti-join broadcasts; the ×10 hot-boilerplate stress row measures
    * the bounded max task. */
  def winnowPairs(docs: DataFrame, window: Int, minShared: Long,
                  maxDf: Long = WinnowStopDf): DataFrame =
    winnowPairs(docs, window, minShared, maxDf, ExactVocabBound)

  /** `exactVocabBound` injects the [[winnowFingerprints]] regime switch —
    * tests force the hashed branch on a small fixture with bound 0, the
    * [[shingleIds]] convention. */
  private[graft] def winnowPairs(docs: DataFrame, window: Int, minShared: Long,
                                 maxDf: Long, exactVocabBound: Long): DataFrame = {
    require(maxDf >= 2, s"winnowPairs: maxDf must be >= 2 (a df-1 cap would drop every shared fingerprint), got $maxDf")
    val fp = winnowFingerprints(docs, window, exactVocabBound)
      .localCheckpoint(eager = true)
    val hot = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("fp")
    val kept = fp.join(hot, Seq("fp"), "left_anti")
    kept.select(col("doc_id").as("doc_a"), col("fp"))
      .join(kept.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Characteristic terms per near-dup CLUSTER — the "what is this
    * duplicate family about" report a curation pass reads before deciding
    * which clusters to collapse, cap, or drop wholesale. Composition of
    * two existing operators: [[dedupClusters]] labels (CC over verified
    * MinHash pairs) feed a cluster-level tf/df ranking — term frequency
    * within the cluster over the number of clusters using the term (the
    * tf-idf shape with an exact rational score: one IEEE division, no ln,
    * so both engines rank identically).
    *
    * Singleton clusters are excluded: they are the corpus majority and
    * would drown the report in per-document term lists — the operator's
    * subject is duplicate FAMILIES. Scale shape: the cluster-size filter
    * broadcasts (≤ #multi-doc clusters rows), tf aggregates map-side on
    * (cluster, term), df on term; the top-k rank is a WindowGroupLimit
    * candidate (per-partition pre-trim) like every other rank-filter in
    * the repo. */
  def clusterTerms(docs: DataFrame, threshold: Double, topK: Int): DataFrame =
    clusterTermsFrom(dedupClusters(docs, threshold), docs, topK)

  /** [[clusterTerms]] body over an already-labeled cluster table — the
    * mine-once consumer form; `docs` feeds only the tf explode (the report
    * needs the text), the cluster labels come from the stored artifact. */
  def clusterTermsFrom(clusters: DataFrame, docs: DataFrame, topK: Int): DataFrame = {
    val multi = clusters.groupBy("cluster").agg(count(lit(1)).as("sz"))
      .filter(col("sz") > 1).select("cluster")
    val member = clusters.join(broadcast(multi), "cluster")
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .join(member, "doc_id")
      .groupBy("cluster", "term").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("score").desc, col("tf").desc, col("term").asc)
    tf.join(dfx, "term")
      .withColumn("score", round(col("tf").cast("double") / col("df"), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("cluster"), col("term"), col("tf"), col("df"),
        col("score"), col("rn"))
  }

  /** Edit-distance near-dup: MinHash-LSH band candidates verified by a
    * BOUNDED Levenshtein — the record-linkage composition (blocking →
    * pairwise verify) with LSH as the blocker. Jaccard-verified dedup is
    * blind to WHERE documents differ; edit distance certifies "k character
    * edits apart", which is what a scraped-corpus pipeline wants for
    * boilerplate variants (dates, counters, session ids injected into
    * otherwise-identical pages).
    *
    * The verify is `levenshtein(a, b, maxDist)` — Spark's thresholded form
    * runs the banded O(maxDist·min(|a|,|b|)) DP and early-exits to -1 the
    * moment the band exceeds the bound, so a band-collision false candidate
    * (the common case: LSH candidates that share 2 minhashes but differ in
    * hundreds of chars) costs O(k·n), not O(n²) — at a 20-edit bound on
    * ~300-char docs that is ~15× less DP work per rejected pair, and the
    * bound is what makes text-scale verify affordable at all. Candidate
    * generation is the [[minhashLsh]] banding (linear signature pass, join
    * only on colliding bands — never all-pairs); texts travel ONLY for the
    * candidate set, never in the band shuffle. Oracle parity: DuckDB's
    * unbounded `levenshtein(a,b) <= k` selects the identical pair set and
    * distance values (both engines count codepoint edits).
    */
  def fuzzyPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    val shid = shingleIds(tokenized(docs)).localCheckpoint(eager = true)
    val cand = candidatesOf(shid, saltBuckets = 1)
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist))
      .filter(col("dist") >= 0) // -1 = the banded DP proved dist > maxDist
      // long: DuckDB's levenshtein is BIGINT and the driver compares schemas
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist"))
  }

  /** Per-node triangle counts over the VERIFIED near-dup graph — the
    * cohesion diagnostic for dedup clusters: a high-degree node with zero
    * triangles is a hub stitching unrelated documents (an LSH artifact or a
    * boilerplate shingle), while a triangle-dense neighborhood is a genuine
    * duplicate family safe to collapse to one keeper. Emits
    * (doc_id, deg, n_tri) for every non-isolated node.
    *
    * Shape: edges come out of [[minhashLsh]] oriented doc_a < doc_b, so
    * each triangle {a<b<c} is found EXACTLY once by the wedge join
    * (a,b)⋈(b,c) closed against (a,c) — two shuffle joins on single-id
    * keys, no orientation dedup pass needed. Id-orientation is the oracle-
    * deterministic form; at 100 TB on a power-law graph the same join runs
    * degree-ordered (orient each edge low-degree → high-degree, bounding
    * per-node wedge fan-out at O(√m) — Suri & Vassilvitskii WWW'11), which
    * changes nothing downstream because the triangle SET is orientation-
    * invariant. The near-dup graph here is LSH-candidate-bounded, so even
    * id-orientation has no hot node by construction.
    */
  def triangleCounts(docs: DataFrame, threshold: Double): DataFrame =
    trianglesFromPairs(minhashLsh(docs, threshold).select("doc_a", "doc_b")
      .localCheckpoint(eager = true))

  /** [[triangleCounts]] body over an already-mined pair table. The input
    * must be oriented doc_a < doc_b (both [[minhashLsh]] and the stored
    * artifact guarantee it); three self-joins of a stored parquet table,
    * zero corpus scans. */
  def trianglesFromPairs(pairs: DataFrame): DataFrame = {
    val e = pairs.select("doc_a", "doc_b")
    val tri = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .join(e.select(col("doc_a").as("b"), col("doc_b").as("c")), "b")
      .join(e.select(col("doc_a").as("a"), col("doc_b").as("c")), Seq("a", "c"))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    val deg = e.select(col("doc_a").as("doc_id"))
      .union(e.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Sorted Neighborhood Method dedup (Hernández & Stolfo, SIGMOD'95): sort
    * the corpus by a normalization key, compare each record only against its
    * `window` successors in sort order, verify candidates with the bounded
    * Levenshtein. The third blocking family in the repo — LSH blocks by
    * CONTENT OVERLAP ([[fuzzyPairs]]), winnowing by SHARED RUNS
    * ([[winnowPairs]]); SNM blocks by KEY ADJACENCY, which catches the
    * boilerplate-variant case where edits are concentrated in injected
    * digits/punctuation: the key strips `[^a-z ]` after lowercasing, so
    * variants differing only in dates/counters/session-ids collapse to the
    * SAME key and become literal sort neighbors.
    *
    * Scale shape: the sort window is partitioned by a 4-char key prefix
    * (the classic SNM "first-pass blocking key"), so no global single-task
    * window exists — parallelism is #distinct prefixes, the per-record work
    * is `window` bounded-DP verifies, and the only shuffle keys on the
    * prefix. Pairs straddling a prefix boundary are invisible by
    * construction — SNM's documented blind spot, answered in production by
    * MULTI-PASS runs over independent keys whose union recovers boundary
    * losses ([[snmPairsMultiPass]] executes the forward+reversed-key pair).
    * The lead-offset columns stay in one window pass (all
    * `window` leads share the sort), and the verify is the same
    * O(maxDist·n) thresholded DP as [[fuzzyPairs]] — never the full
    * quadratic.
    */
  def snmPairs(docs: DataFrame, window: Int, maxDist: Int): DataFrame =
    snmPass(docs, reversedKey = false, window, maxDist)

  /** Multi-pass SNM: the union of the forward-key pass and a REVERSED-key
    * pass (suffix adjacency), distinct on (doc_a, doc_b). This is the
    * production answer to single-pass SNM's two blind spots executed as
    * code, not a comment: variants whose edits fall in the first 4 chars
    * land in different forward BLOCKS but sort adjacently on the reversed
    * key, and pairs straddling a forward prefix boundary usually share a
    * suffix prefix. Each pass is the same linear-cost machinery; the union
    * doubles the work, not the complexity. `dist` survives the distinct
    * because both passes verify the identical Levenshtein. */
  def snmPairsMultiPass(docs: DataFrame, window: Int, maxDist: Int): DataFrame =
    snmPass(docs, reversedKey = false, window, maxDist)
      .unionByName(snmPass(docs, reversedKey = true, window, maxDist))
      .distinct()

  private def snmPass(docs: DataFrame, reversedKey: Boolean,
                      window: Int, maxDist: Int): DataFrame = {
    require(window >= 1, s"snmPairs: window must be >= 1, got $window")
    val w = Window.partitionBy(col("blk")).orderBy(col("sk").asc, col("doc_id").asc)
    val baseKey = regexp_replace(lower(col("text")), "[^a-z ]", "")
    val keyed = docs.select(col("doc_id"), col("text"),
        (if (reversedKey) reverse(baseKey) else baseKey).as("sk"))
      .withColumn("blk", substring(col("sk"), 1, 4))
    val led = (1 to window).foldLeft(keyed) { (df, j) =>
      df.withColumn(s"nid_$j", lead(col("doc_id"), j).over(w))
        .withColumn(s"ntx_$j", lead(col("text"), j).over(w))
    }
    led
      .select(col("doc_id"), col("text"), explode(array((1 to window).map(j =>
        struct(col(s"nid_$j").as("nid"), col(s"ntx_$j").as("ntx"))): _*)).as("p"))
      .filter(col("p.nid").isNotNull)
      .withColumn("dist", levenshtein(col("text"), col("p.ntx"), maxDist))
      .filter(col("dist") >= 0) // -1 = the banded DP proved dist > maxDist
      .select(least(col("doc_id"), col("p.nid")).as("doc_a"),
        greatest(col("doc_id"), col("p.nid")).as("doc_b"),
        col("dist").cast("long").as("dist"))
  }

  /** Cross-source duplication attribution: WHERE the near-dups come from.
    * Takes the verified MinHash pair set (bucketed LSH, never all-pairs) and
    * rolls it up to unordered source pairs — `(source_a ≤ source_b)` via
    * least/greatest so A↔B and B↔A land in one row — with the pair count,
    * the number of distinct documents implicated, and the integer-micro sum
    * of pair Jaccards (summed as longs so FP order can't move the hash).
    * This is the provenance view a curation run reads before deciding which
    * feed to drop: a hot (A,B) cell means B is re-crawling A's content, a
    * hot (A,A) diagonal means the source self-duplicates.
    *
    * Scale: the expensive part IS [[minhashLsh]] (already banded/salted);
    * attribution adds two broadcast-able doc→source joins (two narrow
    * columns) and a rollup keyed on source pairs — cardinality |sources|²,
    * tiny. The distinct-doc count shuffles pair-set-sized data, not corpus. */
  def dupAttribution(docs: DataFrame, threshold: Double): DataFrame =
    attributionFromPairs(minhashLsh(docs, threshold), docs)

  /** [[dupAttribution]] body over an already-mined pair table (must carry
    * `jaccard`); `docs` contributes only the two narrow doc→source joins. */
  def attributionFromPairs(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val lab = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .withColumn("source_a", least(col("sa"), col("sb")))
      .withColumn("source_b", greatest(col("sa"), col("sb")))
      .localCheckpoint(eager = true) // two consumers below; don't re-run LSH
    val cells = lab.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("CAST(round(jaccard * 1000000) AS BIGINT)")).as("jaccard_micro_sum"))
    val docsTouched = lab.select(col("source_a"), col("source_b"), col("doc_a").as("d"))
      .unionByName(lab.select(col("source_a"), col("source_b"), col("doc_b").as("d")))
      .groupBy(col("source_a"), col("source_b"))
      .agg(countDistinct(col("d")).as("n_docs"))
    cells.join(docsTouched, Seq("source_a", "source_b"))
  }

  // ------------------------------------------------------------- registry

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String)  = Tables.embeddings(s, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_dedup_exact"     -> ((s, dir) => Util.orderAll(exact(docs(s, dir)))),
    "doc_dedup_exact_hash" -> ((s, dir) => Util.orderAll(exactByHash(docs(s, dir)))),
    "doc_dedup_ngram"     -> ((s, dir) => Util.orderAll(ngramJaccard(docs(s, dir), 0.4))),
    "doc_dedup_scoped"    -> ((s, dir) => Util.orderAll(dedupScopedEval(docs(s, dir), 0.4))),
    "doc_dedup_minhash"   -> ((s, dir) => Util.orderAll(minhashLsh(docs(s, dir), 0.4))),
    "doc_dup_attribution" -> ((s, dir) => Util.orderAll(dupAttribution(docs(s, dir), 0.4))),
    "doc_dedup_minhash_est" -> ((s, dir) => Util.orderAll(minhashEstimate(docs(s, dir)))),
    "doc_dedup_containment" -> ((s, dir) => Util.orderAll(containmentPairs(docs(s, dir), 0.5))),
    "doc_dedup_containment_inc" -> ((s, dir) => Util.orderAll(incrementalContainment(docs(s, dir), 0.5))),
    "doc_dedup_simhash"   -> ((s, dir) => Util.orderAll(simhash(docs(s, dir)))),
    "doc_dedup_simhash_pairs" -> ((s, dir) => Util.orderAll(simhashPairs(docs(s, dir), 3))),
    "doc_dedup_clusters"  -> ((s, dir) => Util.orderAll(dedupClusters(docs(s, dir), 0.4))),
    // centrality over the verified near-dup graph: integer-exact PageRank,
    // 3 fixed rounds (see operators/PageRank) — "which cluster member is
    // the canonical one" when min-doc_id is too arbitrary
    "doc_dedup_pagerank"  -> ((s, dir) => {
      val d = docs(s, dir)
      val edges = minhashLsh(d, 0.4)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      Util.orderAll(graft.operators.PageRank(d.select(col("doc_id").as("id")), edges, 3)
        .select(col("id").as("doc_id"), col("pr_micro")))
    }),
    "doc_dedup_keep"      -> ((s, dir) => Util.orderAll(dedupKeep(docs(s, dir), 0.4))),
    "doc_dedup_keep_best" -> ((s, dir) => Util.orderAll(dedupKeepBest(docs(s, dir), 0.4))),
    "doc_dedup_pipeline"  -> ((s, dir) => Util.orderAll(dedupPipeline(docs(s, dir), 0.4))),
    "doc_dedup_substring" -> ((s, dir) => Util.orderAll(substringDedup(docs(s, dir), 10))),
    "doc_dedup_rewrite"   -> ((s, dir) => Util.orderAll(segmentDedupRewrite(docs(s, dir), 10))),
    "doc_dedup_bloom_inc" -> ((s, dir) => Util.orderAll(bloomIncrementalSpans(docs(s, dir), 10))),
    "doc_dedup_incremental" -> ((s, dir) => Util.orderAll(incrementalMinhash(docs(s, dir), 0.4))),
    // maxDist 20: the sf0.01 fixture's candidate distances split 4–8 (true
    // boilerplate variants) vs 70+ (band-collision noise) — 20 sits in the gap
    "doc_dedup_fuzzy"     -> ((s, dir) => Util.orderAll(fuzzyPairs(docs(s, dir), 20))),
    // window 3 / maxDist 20: same verify bound as doc_dedup_fuzzy, so the
    // two blocking families are directly comparable on the fixture
    "doc_dedup_snm"       -> ((s, dir) => Util.orderAll(snmPairs(docs(s, dir), 3, 20))),
    "doc_dedup_snm_multi" -> ((s, dir) => Util.orderAll(snmPairsMultiPass(docs(s, dir), 3, 20))),
    "doc_dedup_triangles" -> ((s, dir) => Util.orderAll(triangleCounts(docs(s, dir), 0.4))),
    "doc_cluster_terms"   -> ((s, dir) => Util.orderAll(clusterTerms(docs(s, dir), 0.4, 3))),
    // w=4, minShared=10: 20 verified-overlap pairs on the sf0.01 fixture
    "doc_winnow_overlap"  -> ((s, dir) => Util.orderAll(winnowPairs(docs(s, dir), 4, 10))),
    "doc_dedup_eval"      -> ((s, dir) => Util.orderAll(dedupEval(docs(s, dir), 0.4))),
    "doc_dedup_embedding" -> ((s, dir) => Util.orderAll(embeddingPairs(emb(s, dir), 0.5))),
    // threshold 0.35 (vs the brute query's 0.5): the sf0.01 fixture's
    // highest same-bucket cosine is 0.472, so 0.5 would make this a 0-row
    // (vacuous) correctness check
    "doc_dedup_embedding_lsh" -> ((s, dir) => Util.orderAll(embeddingPairsLsh(emb(s, dir), 0.35))),
    "doc_dedup_embedding_lsh_multi" -> ((s, dir) => Util.orderAll(embeddingPairsLshMulti(emb(s, dir), 0.35))),
    "doc_dedup_embedding_clusters" -> ((s, dir) => Util.orderAll(embeddingClusters(emb(s, dir), 0.35))),
    "doc_dedup_embedding_keep" -> ((s, dir) => Util.orderAll(embeddingKeep(emb(s, dir), 0.35))),

    // ---- mine once, report many: the stored-artifact consumer family ----
    // `dedup_artifact` mines + writes the artifact once per session (and
    // returns the pair table read BACK from the store, so in the
    // alphabetically-ordered bench the one-time mining cost lands on this
    // row); every `dedup_stored_*` consumer below reads the same artifact
    // and never re-shingles — spec-asserted (StoredDedupSpec) hash-equal
    // to its recompute form and plan-asserted scan-of-parquet-only.
    "dedup_artifact" -> ((s, dir) => Util.orderAll(
      storedPairs(s, dir, 0.4))),
    "dedup_stored_attribution" -> ((s, dir) => Util.orderAll(
      attributionFromPairs(storedPairs(s, dir, 0.4), docs(s, dir)))),
    "dedup_stored_clusters" -> ((s, dir) => Util.orderAll(
      storedClusters(s, dir, 0.4))),
    "dedup_stored_keep" -> ((s, dir) => Util.orderAll(
      keepFromClusters(storedClusters(s, dir, 0.4)))),
    "dedup_stored_keep_best" -> ((s, dir) => Util.orderAll(
      keepBestFromClusters(storedClusters(s, dir, 0.4), docs(s, dir)))),
    "dedup_stored_pagerank" -> ((s, dir) => {
      val edges = storedPairs(s, dir, 0.4)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      Util.orderAll(graft.operators.PageRank(
        docs(s, dir).select(col("doc_id").as("id")), edges, 3)
        .select(col("id").as("doc_id"), col("pr_micro")))
    }),
    "dedup_stored_scoped" -> ((s, dir) => Util.orderAll(
      scopedEvalFromPairs(storedPairs(s, dir, 0.4), docs(s, dir)))),
    // the COMPOSITIONS consume the artifact too (r10/r11 carry-over): the
    // full dedup pipeline and the near-dup-aware curation decision as
    // gates + one stored-label join — no re-mine inside the fused run
    "dedup_stored_pipeline" -> ((s, dir) => Util.orderAll(
      pipelineFromClusters(storedClusters(s, dir, 0.4), docs(s, dir)))),
    "dedup_stored_curate" -> ((s, dir) => Util.orderAll(
      TextAnalysis.curateNearDupFromClusters(docs(s, dir),
        storedClusters(s, dir, 0.4)))),
    "dedup_stored_terms" -> ((s, dir) => Util.orderAll(
      clusterTermsFrom(storedClusters(s, dir, 0.4), docs(s, dir), 3))),
    "dedup_stored_triangles" -> ((s, dir) => Util.orderAll(
      trianglesFromPairs(storedPairs(s, dir, 0.4)))),
  )

  /** One SNM pass as suffix-named CTEs (`pairs_$sfx` is the verified pair
    * set) — shared by the single- and multi-pass oracles so both passes are
    * the same SQL modulo the sort key. */
  private def snmOracleCtes(sfx: String, keyExpr: String): String =
    s"""keyed_$sfx AS (
       |  SELECT doc_id, text, $keyExpr AS sk FROM documents
       |), blk_$sfx AS (
       |  SELECT doc_id, text, sk, substr(sk, 1, 4) AS blk FROM keyed_$sfx
       |), led_$sfx AS (
       |  SELECT doc_id, text,
       |    lead(doc_id, 1) OVER w AS n1, lead(text, 1) OVER w AS t1,
       |    lead(doc_id, 2) OVER w AS n2, lead(text, 2) OVER w AS t2,
       |    lead(doc_id, 3) OVER w AS n3, lead(text, 3) OVER w AS t3
       |  FROM blk_$sfx
       |  WINDOW w AS (PARTITION BY blk ORDER BY sk, doc_id)
       |), cand_$sfx AS (
       |  SELECT doc_id, text, n1 AS nid, t1 AS ntx FROM led_$sfx WHERE n1 IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id, text, n2, t2 FROM led_$sfx WHERE n2 IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id, text, n3, t3 FROM led_$sfx WHERE n3 IS NOT NULL
       |), pairs_$sfx AS (
       |  SELECT least(doc_id, nid) AS doc_a, greatest(doc_id, nid) AS doc_b,
       |    levenshtein(text, ntx) AS dist
       |  FROM cand_$sfx WHERE levenshtein(text, ntx) <= 20
       |)
       |""".stripMargin

  /** Shared DuckDB CTEs mirroring tokenized/vocab/shingleIds. */
  private val tokCte =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |), vocab AS (
      |  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
      |  FROM (SELECT DISTINCT unnest(words) AS token FROM tok) t
      |), shid AS (
      |  SELECT DISTINCT doc_id, (tid * v + tid2) * v + tid3 AS sid
      |  FROM (
      |    SELECT doc_id, tid,
      |      lead(tid, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS tid2,
      |      lead(tid, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS tid3
      |    FROM (SELECT doc_id, i AS pos, words[i] AS token
      |          FROM tok, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) ii) p
      |    JOIN vocab USING (token)
      |  ) q CROSS JOIN (SELECT count(*) + 1 AS v FROM vocab) vv
      |  WHERE tid3 IS NOT NULL
      |)
      |""".stripMargin

  /** MinHash signature → bands → candidate pairs → shingle-intersection
    * counts, as chained CTEs appended to [[tokCte]]. */
  private val minhashChain =
    """, sig AS (
      |  SELECT doc_id, h,
      |    min(((2 * h + 3) * ((sid % 1000003 + 1000003) % 1000003) + 7919 * h + 13) % 1000003) AS mh
      |  FROM shid CROSS JOIN (SELECT unnest(range(0, 16)) AS h) hh
      |  GROUP BY doc_id, h
      |), bands AS (
      |  SELECT doc_id, h // 2 AS band,
      |    sum(mh * (CASE WHEN h % 2 = 0 THEN 1000003 ELSE 1 END)) AS bval
      |  FROM sig GROUP BY doc_id, h // 2
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
      |), cnt AS (
      |  SELECT doc_id, count(*) AS c FROM shid GROUP BY doc_id
      |), inter AS (
      |  SELECT doc_a, doc_b, count(*) AS i
      |  FROM cand
      |  JOIN shid x ON x.doc_id = doc_a
      |  JOIN shid y ON y.doc_id = doc_b AND y.sid = x.sid
      |  GROUP BY 1, 2
      |)
      |""".stripMargin

  private val jaccardVerify =
    """SELECT doc_a, doc_b,
      |  round(CAST(i AS DOUBLE) / (ca.c + cb.c - i), 6) AS jaccard
      |FROM inter
      |JOIN cnt ca ON ca.doc_id = doc_a
      |JOIN cnt cb ON cb.doc_id = doc_b
      |WHERE round(CAST(i AS DOUBLE) / (ca.c + cb.c - i), 6) >= 0.4""".stripMargin

  /** [[clustersCte]] as a COMPLETE statement usable as a derived table —
    * (node, label) closure rows, multi-labels not yet min-folded. DuckDB
    * allows WITH RECURSIVE inside a subquery, which is how the curation
    * oracle composes the cluster chain with `curateGatesCte` without CTE
    * name collisions (both chains define `sig`/`tok`/`cnt`). */
  private[llm] lazy val clustersSubquerySql: String =
    clustersCte + "SELECT node, label FROM comp"

  /** MinHash → verified pairs → symmetric edges → recursive transitive
    * closure, shared by the clusters and keep-decision oracles. */
  private lazy val clustersCte =
    tokCte.replaceFirst("WITH ", "WITH RECURSIVE ") + minhashChain +
      s""", pairs AS (
         |  SELECT doc_a, doc_b FROM ($jaccardVerify) jv
         |), e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs
         |), comp(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, comp.label FROM e JOIN comp ON comp.node = e.b
         |)
         |""".stripMargin

  /** One unrolled PageRank round: previous ranks `prev` → `out`. Mirrors
    * operators/PageRank bit-for-bit: integer contributions pr//deg, integer
    * damping 150000 + (85·Σ)//100; CAST pins DuckDB's HUGEINT sums. */
  private def prIter(prev: String, out: String): String =
    s""", $out AS (
       |  SELECT n.id, CAST(150000 + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS pr
       |  FROM r0 n LEFT JOIN (
       |    SELECT e.dst AS id, sum($prev.pr // deg.deg) AS c
       |    FROM e JOIN $prev ON $prev.id = e.src JOIN deg ON deg.src = e.src
       |    GROUP BY e.dst
       |  ) s ON s.id = n.id
       |)
       |""".stripMargin

  private lazy val pagerankCte =
    tokCte + minhashChain +
      s""", pairs AS (
         |  SELECT doc_a, doc_b FROM ($jaccardVerify) jv
         |), e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), deg AS (
         |  SELECT src, count(*) AS deg FROM e GROUP BY src
         |), r0 AS (
         |  SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS pr FROM documents
         |)
         |""".stripMargin +
      prIter("r0", "it1") + prIter("it1", "it2") + prIter("it2", "it3")

  /** [[clustersCte]] with every stage rebased onto exact-dedup
    * REPRESENTATIVES: `grp` collapses identical texts (keeping min doc_id
    * + copy count), and tok / vocab / the closure's node set all read
    * `grp` instead of `documents` — mirroring dedupPipeline's Spark plan,
    * where minhashLsh runs on the deduplicated frame. */
  private lazy val pipelineCte =
    tokCte
      .replaceFirst("WITH tok AS \\(",
        """WITH RECURSIVE grp AS (
          |  SELECT min(doc_id) AS doc_id, text, count(*) AS n_copies
          |  FROM documents GROUP BY text
          |), tok AS (""".stripMargin)
      .replace("AS words FROM documents", "AS words FROM grp") +
      minhashChain +
      s""", pairs AS (
         |  SELECT doc_a, doc_b FROM ($jaccardVerify) jv
         |), e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM pairs
         |), comp(node, label) AS (
         |  SELECT doc_id, doc_id FROM grp
         |  UNION
         |  SELECT e.a, comp.label FROM e JOIN comp ON comp.node = e.b
         |)
         |""".stripMargin

  /** Stored-consumer oracle aliases: each `dedup_stored_*` query is
    * hash-equal to its recompute form by construction (same consumer body,
    * pair table from parquet instead of a fresh mine), so it shares that
    * form's oracle SQL verbatim — one SQL definition per semantics, no
    * second chain to drift. */
  private[graft] val storedOracleAlias = Map(
    "dedup_artifact"           -> "doc_dedup_minhash",
    "dedup_stored_attribution" -> "doc_dup_attribution",
    "dedup_stored_clusters"    -> "doc_dedup_clusters",
    "dedup_stored_keep"        -> "doc_dedup_keep",
    "dedup_stored_keep_best"   -> "doc_dedup_keep_best",
    "dedup_stored_pagerank"    -> "doc_dedup_pagerank",
    "dedup_stored_scoped"      -> "doc_dedup_scoped",
    "dedup_stored_terms"       -> "doc_cluster_terms",
    "dedup_stored_triangles"   -> "doc_dedup_triangles",
    "dedup_stored_pipeline"    -> "doc_dedup_pipeline",
  )

  def oracle: Map[String, String] =
    oracleBase ++ storedOracleAlias.map { case (k, v) => k -> oracleBase(v) } +
      // the near-dup curation twin's oracle lives with its recompute form
      // (TextAnalysis owns the gate SQL); same one-definition rule
      ("dedup_stored_curate" -> TextAnalysis.oracle("doc_curate_neardup"))

  private lazy val oracleBase: Map[String, String] = Map(
    "doc_dedup_pagerank" -> (pagerankCte + Util.wrap(
      "SELECT id AS doc_id, pr AS pr_micro FROM it3",
      Seq("doc_id", "pr_micro"))),
    "doc_dedup_exact" -> Util.wrap(
      "SELECT min(doc_id) AS keeper, count(*) AS n_copies FROM documents GROUP BY text",
      Seq("keeper", "n_copies")),

    // hash-grouped variant produces identical groups (oracle stays text-keyed)
    "doc_dedup_exact_hash" -> Util.wrap(
      "SELECT min(doc_id) AS keeper, count(*) AS n_copies FROM documents GROUP BY text",
      Seq("keeper", "n_copies")),

    "doc_dedup_ngram" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) ii
        |  WHERE len(words) >= 3
        |), cnt AS (
        |  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |""".stripMargin + Util.wrap(jaccardVerify, Seq("doc_a", "doc_b", "jaccard"))),

    // the minhash-LSH verified-pair chain (the production mining path the
    // Spark side uses), then the two keeper policies as filters on the
    // pair set: dropped globally = doc_b of ANY pair; dropped scoped =
    // doc_b of a same-source pair
    "doc_dedup_scoped" -> (tokCte + minhashChain +
      """, pr AS (
        |""".stripMargin + jaccardVerify + """
        |), dg AS (SELECT DISTINCT doc_b AS doc_id FROM pr),
        |ds AS (
        |  SELECT DISTINCT doc_b AS doc_id FROM pr
        |  JOIN documents da ON pr.doc_a = da.doc_id
        |  JOIN documents db ON pr.doc_b = db.doc_id
        |  WHERE da.source = db.source
        |)
        |""".stripMargin + Util.wrap(
      """SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN dg.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survive_global,
        |  CAST(sum(CASE WHEN ds.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survive_scoped
        |FROM documents d
        |LEFT JOIN dg ON d.doc_id = dg.doc_id
        |LEFT JOIN ds ON d.doc_id = ds.doc_id
        |GROUP BY d.source""".stripMargin,
      Seq("source", "n_docs", "n_survive_global", "n_survive_scoped"))),

    "doc_dedup_minhash" -> (tokCte + minhashChain +
      Util.wrap(jaccardVerify, Seq("doc_a", "doc_b", "jaccard"))),

    "doc_dup_attribution" -> (tokCte + minhashChain +
      s""", pr AS (
         |$jaccardVerify
         |), lab AS (
         |  SELECT doc_a, doc_b, jaccard,
         |    least(da.source, db.source) AS source_a,
         |    greatest(da.source, db.source) AS source_b
         |  FROM pr
         |  JOIN documents da ON pr.doc_a = da.doc_id
         |  JOIN documents db ON pr.doc_b = db.doc_id
         |), tc AS (
         |  SELECT source_a, source_b, doc_a AS d FROM lab
         |  UNION ALL
         |  SELECT source_a, source_b, doc_b AS d FROM lab
         |), nd AS (
         |  SELECT source_a, source_b, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
         |  FROM tc GROUP BY 1, 2
         |), cell AS (
         |  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CAST(round(jaccard * 1000000) AS BIGINT)) AS BIGINT) AS jaccard_micro_sum
         |  FROM lab GROUP BY 1, 2
         |)
         |""".stripMargin + Util.wrap(
      """SELECT cell.source_a, cell.source_b, n_pairs, jaccard_micro_sum, n_docs
        |FROM cell JOIN nd USING (source_a, source_b)""".stripMargin,
      Seq("source_a", "source_b"))),

    // same band candidates, verified by UNBOUNDED levenshtein — selects the
    // identical pair set as Spark's thresholded (early-exit) form
    "doc_dedup_fuzzy" -> (tokCte + minhashChain + Util.wrap(
      """SELECT doc_a, doc_b, levenshtein(da.text, db.text) AS dist
        |FROM cand
        |JOIN documents da ON da.doc_id = doc_a
        |JOIN documents db ON db.doc_id = doc_b
        |WHERE levenshtein(da.text, db.text) <= 20""".stripMargin,
      Seq("doc_a", "doc_b", "dist"))),

    // sorted-neighborhood: lead() mirrors Spark's window exactly (same
    // partition prefix, same (sk, doc_id) sort), so the candidate sets are
    // identical by construction; the verify is the unbounded levenshtein
    // gated at the same maxDist
    "doc_dedup_snm" -> ("WITH " + snmOracleCtes("f",
        "regexp_replace(lower(text), '[^a-z ]', '', 'g')") +
      Util.wrap("SELECT doc_a, doc_b, dist FROM pairs_f",
        Seq("doc_a", "doc_b", "dist"))),

    // forward + reversed-key passes, distinct union — mirrors
    // snmPairsMultiPass pass for pass
    "doc_dedup_snm_multi" -> ("WITH " + snmOracleCtes("f",
        "regexp_replace(lower(text), '[^a-z ]', '', 'g')") + ", " +
      snmOracleCtes("r",
        "reverse(regexp_replace(lower(text), '[^a-z ]', '', 'g'))") +
      Util.wrap(
        """SELECT DISTINCT doc_a, doc_b, dist FROM (
          |  SELECT doc_a, doc_b, dist FROM pairs_f
          |  UNION ALL
          |  SELECT doc_a, doc_b, dist FROM pairs_r) u""".stripMargin,
        Seq("doc_a", "doc_b", "dist"))),

    // wedge join over the id-oriented verified pairs (doc_a < doc_b), each
    // triangle a<b<c found once; per-node counts left-joined onto degrees
    "doc_dedup_triangles" -> (tokCte + minhashChain +
      s""", pairs AS (
         |  SELECT doc_a, doc_b FROM ($jaccardVerify) jv
         |), tri AS (
         |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         |  FROM pairs e1
         |  JOIN pairs e2 ON e2.doc_a = e1.doc_b
         |  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
         |), pertri AS (
         |  SELECT node, count(*) AS n_tri FROM (
         |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) u GROUP BY node
         |), deg AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT doc_a AS node FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs) u GROUP BY node
         |)
         |""".stripMargin + Util.wrap(
      """SELECT deg.node AS doc_id, deg.deg,
        |  CAST(coalesce(pertri.n_tri, 0) AS BIGINT) AS n_tri
        |FROM deg LEFT JOIN pertri ON pertri.node = deg.node""".stripMargin,
      Seq("doc_id", "deg", "n_tri"))),

    // inverted-index intersection (recall-complete — NOT the band-
    // restricted chain), asymmetric normalization: either direction over
    // the threshold emits the pair (filter on the ROUNDED values, like
    // jaccardVerify)
    "doc_dedup_containment" -> (tokCte +
      """, cnt AS (
        |  SELECT doc_id, count(*) AS c FROM shid GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM shid a JOIN shid b ON a.sid = b.sid AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |""".stripMargin + Util.wrap(
      """SELECT doc_a, doc_b,
        |  round(CAST(i AS DOUBLE) / ca.c, 6) AS cont_a,
        |  round(CAST(i AS DOUBLE) / cb.c, 6) AS cont_b
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = doc_a
        |JOIN cnt cb ON cb.doc_id = doc_b
        |WHERE greatest(round(CAST(i AS DOUBLE) / ca.c, 6),
        |               round(CAST(i AS DOUBLE) / cb.c, 6)) >= 0.5""".stripMargin,
      Seq("doc_a", "doc_b", "cont_a", "cont_b"))),

    // asymmetric increment-vs-corpus containment, normalized by the NEW
    // doc's shingle count only — the mod-7 increment split convention
    "doc_dedup_containment_inc" -> (tokCte +
      """, cn AS (
        |  SELECT doc_id, count(*) AS c FROM shid WHERE doc_id % 7 = 0 GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS new_doc, b.doc_id AS existing_doc, count(*) AS i
        |  FROM shid a JOIN shid b ON a.sid = b.sid
        |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
        |  GROUP BY 1, 2
        |)
        |""".stripMargin + Util.wrap(
      """SELECT new_doc, existing_doc,
        |  round(CAST(i AS DOUBLE) / cn.c, 6) AS containment
        |FROM inter JOIN cn ON cn.doc_id = new_doc
        |WHERE round(CAST(i AS DOUBLE) / cn.c, 6) >= 0.5""".stripMargin,
      Seq("new_doc", "existing_doc", "containment"))),

    // signature-agreement estimate: same sig/cand chain, no shingle re-join
    "doc_dedup_minhash_est" -> (tokCte + minhashChain + Util.wrap(
      """SELECT doc_a, doc_b, n_agree, round(n_agree / 16.0, 6) AS est_jaccard FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |  FROM cand
        |  JOIN sig a ON a.doc_id = doc_a
        |  JOIN sig b ON b.doc_id = doc_b AND b.h = a.h
        |  GROUP BY 1, 2
        |) t WHERE n_agree >= 8""".stripMargin,
      Seq("doc_a", "doc_b", "n_agree", "est_jaccard"))),

    // same verified pair set, restricted to pairs straddling the mod-7
    // increment split, rolled up per new document
    "doc_dedup_incremental" -> (tokCte + minhashChain +
      s""", jv AS (
         |$jaccardVerify
         |), strad AS (
         |  SELECT
         |    CASE WHEN doc_a % 7 = 0 THEN doc_a ELSE doc_b END AS new_doc,
         |    CASE WHEN doc_a % 7 = 0 THEN doc_b ELSE doc_a END AS existing_doc,
         |    jaccard
         |  FROM jv WHERE (doc_a % 7 = 0) <> (doc_b % 7 = 0)
         |), agg AS (
         |  SELECT new_doc, count(*) AS n_matches,
         |    max({'j': jaccard, 'nd': -existing_doc}) AS w
         |  FROM strad GROUP BY new_doc
         |)
         |""".stripMargin + Util.wrap(
        """SELECT new_doc, n_matches, -w.nd AS dup_of, w.j AS best_jaccard
          |FROM agg""".stripMargin,
        Seq("new_doc", "n_matches", "dup_of", "best_jaccard"))),

    // same MinHash pipeline, then transitive closure: every (node, reachable
    // label) pair via a recursive CTE, min label per node == the hash-min
    // fixpoint the Spark operator converges to
    "doc_dedup_clusters" -> (clustersCte + Util.wrap(
      "SELECT node AS doc_id, min(label) AS cluster FROM comp GROUP BY node",
      Seq("doc_id", "cluster"))),

    // cluster labels → multi-doc filter → cluster-level tf/df rank;
    // score is one IEEE division rounded identically on both engines
    "doc_cluster_terms" -> (clustersCte +
      """, cl AS (
        |  SELECT node AS doc_id, min(label) AS cluster FROM comp GROUP BY node
        |), mc AS (
        |  SELECT cluster FROM cl GROUP BY cluster HAVING count(*) > 1
        |), tok2 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tfx AS (
        |  SELECT cluster, term, count(*) AS tf
        |  FROM tok2 JOIN cl USING (doc_id) JOIN mc USING (cluster)
        |  GROUP BY cluster, term
        |), dfx AS (
        |  SELECT term, count(*) AS df FROM tfx GROUP BY term
        |), rk AS (
        |  SELECT cluster, term, tf, df,
        |    round(CAST(tf AS DOUBLE) / df, 6) AS score,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY round(CAST(tf AS DOUBLE) / df, 6) DESC, tf DESC, term ASC) AS rn
        |  FROM tfx JOIN dfx USING (term)
        |)
        |""".stripMargin + Util.wrap(
      "SELECT cluster, term, tf, df, score, rn FROM rk WHERE rn <= 3",
      Seq("cluster", "term", "tf", "df", "score", "rn"))),

    // found = band-restricted verified pairs; truth = the recall-complete
    // inverted-index pairs over the same shingle ids; found ⊆ truth
    "doc_dedup_eval" -> (tokCte + minhashChain +
      s""", found AS (
         |  SELECT doc_a, doc_b FROM ($jaccardVerify) jv
         |), inter_all AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM shid a JOIN shid b ON a.sid = b.sid AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), truth AS (
         |  SELECT doc_a, doc_b FROM inter_all
         |  JOIN cnt ca ON ca.doc_id = doc_a
         |  JOIN cnt cb ON cb.doc_id = doc_b
         |  WHERE round(CAST(i AS DOUBLE) / (ca.c + cb.c - i), 6) >= 0.4
         |), j AS (
         |  SELECT CASE WHEN f.doc_a IS NULL THEN 0 ELSE 1 END AS f
         |  FROM truth t LEFT JOIN found f
         |    ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b
         |), agg AS (
         |  SELECT count(*) AS n_true,
         |    CAST(coalesce(sum(f), 0) AS BIGINT) AS n_found FROM j
         |)
         |""".stripMargin + Util.wrap(
      """SELECT n_true, n_found, n_true - n_found AS n_missed,
        |  CASE WHEN n_true = 0 THEN 1000000
        |    ELSE (n_found * 1000000) // n_true END AS recall_micro
        |FROM agg""".stripMargin,
      Seq("n_true", "n_found", "n_missed", "recall_micro"))),

    // positional shingle ids (NOT the distinct tokCte shid), same vocab
    // base-(V+1) encoding; per-window min of the KMV mix; a doc with fewer
    // than 4 shingles has no complete window on either engine
    "doc_winnow_overlap" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), vocab AS (
        |  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
        |  FROM (SELECT DISTINCT unnest(words) AS token FROM tok) t
        |), sh AS (
        |  SELECT doc_id, pos, (tid * v + tid2) * v + tid3 AS sid
        |  FROM (
        |    SELECT doc_id, pos, tid,
        |      lead(tid, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS tid2,
        |      lead(tid, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS tid3
        |    FROM (SELECT doc_id, i AS pos, words[i] AS token
        |          FROM tok, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) ii) p
        |    JOIN vocab USING (token)
        |  ) q CROSS JOIN (SELECT count(*) + 1 AS v FROM vocab) vv
        |  WHERE tid3 IS NOT NULL
        |), wmin AS (
        |  SELECT doc_id,
        |    min(((sid % 3037000493) * 2654435761) % 1099511627791) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wsz
        |  FROM sh
        |), fps AS (
        |  SELECT DISTINCT doc_id, fp FROM wmin WHERE wsz = 4
        |)
        |""".stripMargin + Util.wrap(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 10""".stripMargin,
      Seq("doc_a", "doc_b", "n_shared"))),

    // production-order pipeline: exact groups -> LSH over representatives
    // only (tok/vocab/comp all derive from grp, not documents) -> keeper
    // with distinct-text and original-document absorption counts
    "doc_dedup_pipeline" -> (pipelineCte + Util.wrap(
      """SELECT cluster AS keeper, count(*) AS n_reps,
        |  CAST(sum(n_copies) AS BIGINT) AS n_docs
        |FROM (
        |  SELECT node, min(label) AS cluster FROM comp GROUP BY node
        |) cl JOIN grp ON grp.doc_id = cl.node
        |GROUP BY cluster""".stripMargin,
      Seq("keeper", "n_reps", "n_docs"))),

    // keep-decision: representative + absorbed-count per cluster
    "doc_dedup_keep" -> (clustersCte + Util.wrap(
      """SELECT label AS doc_id, count(*) AS cluster_size FROM (
        |  SELECT node, min(label) AS label FROM comp GROUP BY node
        |) GROUP BY label""".stripMargin,
      Seq("doc_id", "cluster_size"))),

    // quality-argmax keeper: integer-micro quality key (shared qsMicroSql
    // source), ties to min doc_id — same election on both engines
    "doc_dedup_keep_best" -> (clustersCte +
      s""", ca AS (
         |  SELECT node, min(label) AS cluster FROM comp GROUP BY node
         |), qmt AS (
         |  SELECT doc_id, ${TextAnalysis.qsMicroSql} AS qm FROM documents
         |), jx AS (
         |  SELECT ca.node AS doc_id, ca.cluster, qmt.qm
         |  FROM ca JOIN qmt ON ca.node = qmt.doc_id
         |), wx AS (
         |  SELECT cluster, doc_id, qm,
         |    count(*) OVER (PARTITION BY cluster) AS cluster_size,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY qm DESC, doc_id ASC) AS rk
         |  FROM jx
         |)
         |""".stripMargin + Util.wrap(
        """SELECT cluster, doc_id AS keeper_best, qm AS best_q_micro,
          |  cluster_size FROM wx WHERE rk = 1""".stripMargin,
        Seq("cluster", "keeper_best", "best_q_micro", "cluster_size"))),

    "doc_dedup_simhash" -> (tokCte +
      """, dt AS (
        |  SELECT DISTINCT doc_id, tid
        |  FROM (SELECT doc_id, unnest(words) AS token FROM tok) t JOIN vocab USING (token)
        |), bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN ((tid % 3037000493) * 2654435761 + j * 40503) % 65536 >= 32768 THEN 1 ELSE -1 END) AS s
        |  FROM dt CROSS JOIN (SELECT unnest(range(0, 32)) AS j) jj
        |  GROUP BY doc_id, j
        |)
        |""".stripMargin + Util.wrap(
        // outer CAST: DuckDB sum(BIGINT) is HUGEINT — pin to BIGINT to match Spark's LongType
        """SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |FROM bits GROUP BY doc_id""".stripMargin,
        Seq("doc_id", "simhash"))),

    "doc_dedup_simhash_pairs" -> (tokCte +
      """, dt AS (
        |  SELECT DISTINCT doc_id, tid
        |  FROM (SELECT doc_id, unnest(words) AS token FROM tok) t JOIN vocab USING (token)
        |), bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN ((tid % 3037000493) * 2654435761 + j * 40503) % 65536 >= 32768 THEN 1 ELSE -1 END) AS s
        |  FROM dt CROSS JOIN (SELECT unnest(range(0, 32)) AS j) jj
        |  GROUP BY doc_id, j
        |), sh AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS simhash
        |  FROM bits GROUP BY doc_id
        |), bands AS (
        |  SELECT doc_id, simhash, band,
        |    (simhash // CAST(power(2, band * 8) AS BIGINT)) % 256 AS bval
        |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bb
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sh_a, b.simhash AS sh_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
          |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin,
        Seq("doc_a", "doc_b", "hamming"))),

    // CASTs: DuckDB sum(INTEGER) is HUGEINT — pin to BIGINT to match Spark's
    // sum-of-int LongType
    "doc_dedup_substring" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), seg AS (
        |  SELECT doc_id, array_to_string(list_slice(words, (i-1)*10+1, i*10), ' ') AS segment
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words)//10 + 1)) AS i) ii
        |  WHERE len(words) >= 10
        |), cnt AS (
        |  SELECT segment, count(*) AS n_occ FROM seg GROUP BY segment
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_id, count(*) AS n_segments,
          |  CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
          |  round(CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_fraction,
          |  sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) * 2 <= count(*) AS keep
          |FROM seg JOIN cnt USING (segment) GROUP BY doc_id""".stripMargin,
        Seq("doc_id", "n_segments", "n_dup_segments", "dup_fraction", "keep"))),

    // the Bloom sketch has no false negatives and survivors are re-verified
    // with an exact join, so the result is EXACTLY the naive span-membership
    // join below — the sketch only changes the plan, never the answer
    "doc_dedup_bloom_inc" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), seg AS (
        |  SELECT doc_id, array_to_string(list_slice(words, (i-1)*10+1, i*10), ' ') AS segment
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words)//10 + 1)) AS i) ii
        |  WHERE len(words) >= 10
        |), corp AS (
        |  SELECT DISTINCT segment FROM seg WHERE doc_id % 7 <> 0
        |), incs AS (
        |  SELECT doc_id, segment FROM seg WHERE doc_id % 7 = 0
        |), hit AS (
        |  SELECT doc_id, count(*) AS n_hit
        |  FROM incs JOIN corp USING (segment) GROUP BY doc_id
        |)
        |""".stripMargin + Util.wrap(
        """SELECT t.doc_id AS new_doc, t.n_spans,
          |  CAST(coalesce(hit.n_hit, 0) AS BIGINT) AS n_hit_spans
          |FROM (SELECT doc_id, count(*) AS n_spans FROM incs GROUP BY doc_id) t
          |LEFT JOIN hit ON hit.doc_id = t.doc_id""".stripMargin,
        Seq("new_doc", "n_spans", "n_hit_spans"))),

    // rewrite: tail span included ((len+9)//10 spans), election key packs
    // (doc_id, pos) as doc_id*1e6+pos on both sides; string_agg skips the
    // NULLed-out dropped spans exactly as Spark's collect_list does, and
    // coalesce('') matches concat_ws over an empty array for all-dropped docs
    "doc_dedup_rewrite" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), seg AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(words, (i-1)*10+1, i*10), ' ') AS segment
        |  FROM tok, LATERAL (SELECT unnest(range(1, (len(words)+9)//10 + 1)) AS i) ii
        |  WHERE len(words) >= 1
        |), firsts AS (
        |  SELECT segment, min(doc_id * 1000000 + pos) AS first_fk
        |  FROM seg GROUP BY segment
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_id, count(*) AS n_segments,
          |  CAST(sum(CASE WHEN doc_id * 1000000 + pos = first_fk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  coalesce(string_agg(CASE WHEN doc_id * 1000000 + pos = first_fk THEN segment END, ' ' ORDER BY pos), '') AS clean_text
          |FROM seg JOIN firsts USING (segment) GROUP BY doc_id""".stripMargin,
        Seq("doc_id", "n_segments", "n_kept", "clean_text"))),

    "doc_dedup_embedding" -> (
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
        |)
        |""".stripMargin + Util.wrap(
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cosine
          |FROM n a JOIN n b ON a.vec_id < b.vec_id
          |WHERE round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.5""".stripMargin,
        Seq("id_a", "id_b", "cosine"))),

    // brute pair query restricted to equal LSH buckets — same plane family /
    // signature arithmetic as the ann_lsh oracle, so bucket collisions match
    // Similarity.lshBuckets bit-for-bit
    "doc_dedup_embedding_lsh" -> (embLshCte + Util.wrap(
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cosine
          |FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          |WHERE round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.35""".stripMargin,
        Seq("id_a", "id_b", "cosine"))),

    // two independent plane families (LCG offset fam*512, the ann_lsh_multi
    // arithmetic), deduplicated union of same-bucket pairs, rescored once
    "doc_dedup_embedding_lsh_multi" -> (
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
        |), buck AS (
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
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM buck a JOIN buck b
        |    ON a.fam = b.fam AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |)
        |""".stripMargin + Util.wrap(
        """SELECT id_a, id_b,
          |  round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cosine
          |FROM cand JOIN n a ON a.vec_id = id_a JOIN n b ON b.vec_id = id_b
          |WHERE round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.35""".stripMargin,
        Seq("id_a", "id_b", "cosine"))),

    // same LSH pair graph, then the recursive transitive closure — min
    // reachable label per node == the hash-min fixpoint of the Spark CC
    "doc_dedup_embedding_clusters" -> (
      embCompCte + Util.wrap(
        "SELECT node AS vec_id, min(label) AS cluster FROM comp GROUP BY node",
        Seq("vec_id", "cluster"))),

    "doc_dedup_embedding_keep" -> (
      embCompCte + Util.wrap(
        """SELECT label AS vec_id, count(*) AS cluster_size FROM (
          |  SELECT node, min(label) AS label FROM comp GROUP BY node
          |) GROUP BY label""".stripMargin,
        Seq("vec_id", "cluster_size"))),
  )

  /** LSH pair graph → symmetric edges → recursive transitive closure at
    * threshold 0.35, shared by the embedding clusters and keep oracles so
    * the closure/threshold logic exists once. */
  private lazy val embCompCte =
    embLshCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.35
        |), ed AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL
        |  SELECT id_b AS a, id_a AS b FROM pairs
        |), comp(node, label) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT ed.a, comp.label FROM ed JOIN comp ON comp.node = ed.b
        |)
        |""".stripMargin

  /** Embedding → normalize → 8-plane LSH bucket chain, shared by the
    * LSH pair and cluster oracles (mirrors Similarity.lshBuckets). */
  private lazy val embLshCte =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
      |), buck AS (
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
}
