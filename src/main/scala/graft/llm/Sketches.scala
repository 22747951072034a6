package graft.llm

import graft.{Tables, Util}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch/estimation operators for corpus-scale diagnostics — the "how big
  * is this really" questions a 100 TB pipeline asks before it commits to a
  * plan (vocabulary size per language, mixture rebalancing targets,
  * model-free document vectors).
  *
  * Everything here follows the repo's oracle-parity discipline: hashes are
  * multiplicative arithmetic over vocabulary ids (dense-rank over the
  * distinct token set) so DuckDB reproduces results bit-for-bit, with the
  * engine-hash (`xxhash64`) twin as the unbounded-vocabulary production
  * path where it matters — the same base-encoded/hashed split as
  * [[Dedup.shingleIds]]/[[Dedup.shingleIdsHashed]].
  */
object Sketches {

  /** Hash space for the KMV sketch: a prime near 2^40 — big enough that
    * 64-th-minimum estimates don't quantize, small enough that
    * (k-1)·M stays far from Long overflow. */
  val KmvSpace: Long = 1099511627791L

  /** K-minimum-values distinct-count sketch, per language: how many
    * DISTINCT tokens does each language's sub-corpus use, estimated from
    * only the k smallest token hashes.
    *
    * The estimator is the classic KMV/bottom-k: hash every distinct
    * (lang, token) into [0, M), keep each language's k smallest hashes;
    * if fewer than k exist the count is exact, otherwise
    * est = (k−1)·M / h_k (uniform order statistics: the k-th minimum of n
    * uniform draws sits near k·M/n). All arithmetic is integer, so the
    * estimate is deterministic across engines.
    *
    * Scale shape: one distinct shuffle on (lang, token-hash) — the shuffle
    * carries 16-byte keys, never texts — then the per-language k-smallest
    * is a rank-filter window that Spark lowers to WindowGroupLimit: each
    * map task pre-trims to its local k before the exchange, so the sorted
    * side of the window sees ≤ k·#partitions rows per language, not the
    * vocabulary. At 100 TB you'd swap the vocab-id hash for xxhash64
    * (same algebra, no vocab table) — [[kmvDistinctHashed]], spec-compared
    * against the exact count. */
  def kmvDistinct(docs: DataFrame, k: Int = 64): DataFrame =
    kmvFromHashes(
      distinctTokens(docs)
        .join(broadcast(Dedup.vocab(Dedup.tokenized(docs))), "token")
        .select(col("lang"),
          expr(s"((tid % 3037000493) * 2654435761) % $KmvSpace").as("h")),
      k)

  /** [[kmvDistinct]] over `xxhash64(token)` — the unbounded-vocabulary
    * production path (no vocab table, no broadcast, one codegen'd pass).
    * Engine-specific hash ⇒ no DuckDB oracle; its accuracy is
    * spec-asserted against the exact distinct count instead. */
  def kmvDistinctHashed(docs: DataFrame, k: Int = 64): DataFrame =
    kmvFromHashes(
      distinctTokens(docs)
        .select(col("lang"), pmod(xxhash64(col("token")), lit(KmvSpace)).as("h")),
      k)

  private def distinctTokens(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .distinct()

  private def kmvFromHashes(hashes: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val w = Window.partitionBy("lang").orderBy(col("h").asc)
    hashes.distinct() // hash collisions across tokens collapse, both engines
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"(${k - 1} * $KmvSpace) div hk")))
      .select(col("lang"), col("n_kept"), col("est_distinct"))
  }

  /** KMV SET ALGEBRA: estimated distinct-token OVERLAP between every pair
    * of languages, by inclusion–exclusion over the sketches —
    * |A∩B| ≈ est(A) + est(B) − est(A∪B) — where the union sketch is the
    * exactly-mergeable KMV property doing the work: bottom-k(A ∪ B) =
    * bottom-k(bottom-k(A) ∪ bottom-k(B)), so the pair stage reads ONLY the
    * ≤ k·#langs sketch rows, never the token sets. This is the Theta-
    * sketch workload (how much vocabulary do two corpora share, sized from
    * kilobyte summaries) and the reason mergeable sketches matter at
    * 100 TB: per-shard sketches union with no data motion, and set
    * EXPRESSIONS come free. All estimator arithmetic is integer; the
    * difference clamps at 0 (estimation noise can push it negative).
    * Vocab-id hashes ⇒ DuckDB reproduces every value bit-for-bit. */
  def kmvOverlap(docs: DataFrame, k: Int = 64): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val hashes = distinctTokens(docs)
      .join(broadcast(Dedup.vocab(Dedup.tokenized(docs))), "token")
      .select(col("lang"),
        expr(s"((tid % 3037000493) * 2654435761) % $KmvSpace").as("h"))
      .distinct()
    val w = Window.partitionBy("lang").orderBy(col("h").asc)
    val bk = hashes.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select("lang", "h")
      .localCheckpoint(eager = true) // ≤ k·#langs rows; four consumers
    val perLang = bk.groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"))
      .withColumn("est", when(col("n_kept") < k, col("n_kept"))
        .otherwise(expr(s"(${k - 1} * $KmvSpace) div hk")))
      .select(col("lang"), col("est"))
    val langs = bk.select("lang").distinct()
    val grid = langs.select(col("lang").as("lang_a"))
      .crossJoin(langs.select(col("lang").as("lang_b")))
      .filter(col("lang_a") < col("lang_b"))
    val unioned = grid.join(bk.select(col("lang").as("lang_a"), col("h")), "lang_a")
      .select(col("lang_a"), col("lang_b"), col("h"))
      .union(grid.join(bk.select(col("lang").as("lang_b"), col("h")), "lang_b")
        .select(col("lang_a"), col("lang_b"), col("h")))
      .distinct()
    val wu = Window.partitionBy("lang_a", "lang_b").orderBy(col("h").asc)
    val estU = unioned.withColumn("rk", row_number().over(wu))
      .filter(col("rk") <= k)
      .groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"))
      .withColumn("est_union", when(col("n_kept") < k, col("n_kept"))
        .otherwise(expr(s"(${k - 1} * $KmvSpace) div hk")))
      .select(col("lang_a"), col("lang_b"), col("est_union"))
    estU
      .join(perLang.select(col("lang").as("lang_a"), col("est").as("est_a")), "lang_a")
      .join(perLang.select(col("lang").as("lang_b"), col("est").as("est_b")), "lang_b")
      .select(col("lang_a"), col("lang_b"), col("est_a"), col("est_b"),
        col("est_union"),
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L))
          .as("est_overlap"))
  }

  /** HyperLogLog register width: m = 2^6 = 64 buckets. */
  val HllBuckets: Int = 64

  /** ρ cap for the oracle mix: h < 2^31.5 so rest = h div 64 < 2^26 has at
    * most 25 trailing zeros; any fixed cap ≥ that works (mirrored in SQL).
    * The xxhash64 twin's rest is < 2^57, hence its own 58 cap. */
  val HllRhoCap: Int = 26

  /** ρ source for the ORACLE path: a single modular multiply is linear in
    * tid — its low bits inherit tid's trailing-zero structure (tz(tid·K) =
    * tz(tid) for odd K) and an arithmetic progression mod a prime has
    * correlated low bits, both of which wreck the geometric ρ distribution
    * HLL needs (measured: a systematic ~2× overestimate). Two modular
    * multiplies with an XOR-SHIFT between them (the murmur/splitmix shape,
    * constants = Knuth's and xxhash prime2, everything < 2^62 so signed-64
    * ANSI arithmetic never overflows) restore avalanche: measured
    * 1.02×/1.26×/0.86×/0.95× at 500/2k/10k/200k distinct — inside HLL's
    * 1.04/√64 ≈ 13% error band. Both engines evaluate the identical
    * integer expression. h < 2^31.5 bounds per-language cardinality at
    * ~64·2^25 ≈ 2·10⁹ before register saturation — past that the
    * xxhash64 twin is the production path anyway. */
  private def oracleMix(df: DataFrame): DataFrame =
    df
      .withColumn("v1", expr("((tid % 3037000493) * 2654435761) % 3037000493"))
      .withColumn("v2", expr("v1 ^ shiftright(v1, 16)"))
      .withColumn("v3", expr("(v2 * 2246822519) % 3037000493"))
      .withColumn("h", expr("v3 ^ shiftright(v3, 13)"))
      .drop("v1", "v2", "v3")

  /** Per-language HLL registers over distinct-token hashes — the mergeable
    * sketch itself: bucket j's register is max ρ(value) of the values
    * landing in j, where ρ = index of the lowest set bit of the remaining
    * hash bits (+1). Registers merge across any corpus split by
    * elementwise max (spec-asserted), which is the whole point of HLL at
    * 100 TB: per-partition 64-byte sketches union with no data motion.
    *
    * ρ is computed arithmetically — `bit_count((rest & -rest) - 1) + 1` —
    * so both engines evaluate the identical integer expression (no
    * float log2, no string tricks). */
  def hllRegisters(docs: DataFrame): DataFrame =
    registersFromHashes(
      oracleMix(distinctTokens(docs)
        .join(broadcast(Dedup.vocab(Dedup.tokenized(docs))), "token"))
        .select(col("lang"), col("h")),
      HllRhoCap)

  private def registersFromHashes(hashes: DataFrame, rhoCap: Int): DataFrame =
    hashes
      .select(col("lang"), expr(s"h % $HllBuckets").as("bucket"),
        expr(s"h div $HllBuckets").as("rest"))
      .select(col("lang"), col("bucket"), expr(
        s"CASE WHEN rest = 0 THEN $rhoCap ELSE bit_count((rest & -rest) - 1) + 1 END")
        .as("rho"))
      .groupBy("lang", "bucket").agg(max(col("rho")).as("register"))

  /** Estimate from a register table, in EXACT integer arithmetic: the
    * harmonic sum Σ 2^(−M_j) is scaled by 2^20 and floor-clipped
    * (`1048576 div (1 << M_j)` — a register beyond 20 contributes 0,
    * ~1e-6 of the sum), empty buckets contribute the full 2^20 each, and
    * the classic α·m²/Σ estimator becomes `709·m²·2^20 div (1000·S)` —
    * every term deterministic on any engine, no float summation order
    * anywhere. Raw HLL (no linear-counting branch — ln is
    * libm-dependent), so the documented small-range overestimate bias
    * applies below ~2.5·m distinct values; the spec pins accuracy in the
    * calibrated range instead. */
  def estimateFromRegisters(regs: DataFrame): DataFrame =
    regs.groupBy("lang")
      .agg(count(lit(1)).as("n_nonempty"),
        sum(expr("1048576 div shiftleft(CAST(1 AS BIGINT), register)")).as("s_nonempty"))
      .withColumn("s_scaled",
        col("s_nonempty") + (lit(HllBuckets) - col("n_nonempty")) * lit(1048576L))
      .select(col("lang"), col("n_nonempty").cast("long").as("n_nonempty"),
        expr(s"(709L * $HllBuckets * $HllBuckets * 1048576) div (1000 * s_scaled)")
          .as("est_distinct"))

  /** HLL distinct-count estimate per language (oracle-exact arithmetic —
    * see [[estimateFromRegisters]]). */
  def hllDistinct(docs: DataFrame): DataFrame =
    estimateFromRegisters(hllRegisters(docs))

  /** [[hllDistinct]] over `xxhash64(token)` — the unbounded-vocabulary
    * production path (sign bit cleared for a uniform 63-bit value; no
    * vocab table, no broadcast). Engine hash ⇒ no oracle; accuracy and
    * merge algebra are spec-asserted. */
  def hllDistinctHashed(docs: DataFrame): DataFrame =
    estimateFromRegisters(hllRegistersHashed(docs))

  /** xxhash64 register table — the production sketch. Unlike the oracle
    * path, the hash of a token does not depend on the input corpus (no
    * vocab ranks), so register tables built over DISJOINT corpus slices
    * merge exactly ([[hllMerge]]) — build per partition/day/increment,
    * merge, estimate, never rescan. */
  def hllRegistersHashed(docs: DataFrame): DataFrame =
    registersFromHashes(distinctTokens(docs)
      .select(col("lang"),
        expr(s"xxhash64(token) & ${Long.MaxValue}L").as("h")),
      rhoCap = 58)

  /** Merge HLL register tables by elementwise max — the sketch union.
    * Associative and commutative, so any tree of partial sketches yields
    * the identical union sketch (spec-asserted ≡ the single-pass table). */
  def hllMerge(regTables: DataFrame*): DataFrame =
    regTables.reduce(_ unionByName _)
      .groupBy("lang", "bucket").agg(max(col("register")).as("register"))

  /** CountMin sketch geometry: depth 4 hash rows × width 512 buckets.
    * Standard guarantees: overestimate-only error ≤ ε·N with probability
    * 1−δ where ε = e/width ≈ 0.0053 and δ = e^−depth ≈ 0.018 — at 100 TB
    * the sketch is still 4·512 longs (16 KiB), mergeable by elementwise
    * SUM across any corpus split. */
  val CmsDepth: Int = 4
  val CmsWidth: Int = 512

  /** Pairwise-independent row hashes ((a·h + b) mod p) mod w. p is the
    * repo's 2^31.5 prime; every aᵢ < p keeps aᵢ·h < 2^63 (max product
    * 2654435761·(p−1) ≈ 8.1e18) so signed-64 ANSI arithmetic never
    * overflows on either engine. */
  private[graft] val CmsP: Long = 3037000493L
  private val CmsA: Array[Long] = Array(1L, 2654435761L, 2246822519L, 1779033703L)
  private val CmsB: Array[Long] = Array(0L, 88172645L, 362436069L, 521288629L)

  /** The d per-row buckets of one mixed hash `hm` (< p), as a lateral
    * array of (row, bucket) structs — in-row fan-out, no join. */
  private[graft] def cmsBuckets = (0 until CmsDepth).map { r =>
    s"struct($r AS row, ((${CmsA(r)} * hm + ${CmsB(r)}) % $CmsP) % $CmsWidth AS bucket)"
  }.mkString("array(", ", ", ")")

  /** CMS counter table (row, bucket, cnt) over every token OCCURRENCE —
    * the sketch itself: d·w rows regardless of corpus size.
    *
    * Scale shape: tokenization is in-row, the per-row bucket fan-out is a
    * lateral array explode (×4, no join), and the counter build is ONE
    * map-side-combining count aggregation whose key space is d·w = 2048 —
    * every map task pre-reduces to ≤ 2048 rows before the exchange, so the
    * shuffle volume is #partitions·2048 rows at any corpus size. */
  private def cmsCountersOf(hashed: DataFrame): DataFrame =
    hashed
      .withColumn("hm", expr(s"h % $CmsP"))
      .select(explode(expr(cmsBuckets)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Top-k heavy hitters by CountMin ESTIMATE: est(token) = min over the d
    * rows of that row's bucket counter — overestimate-only (every counter
    * ≥ the true count, spec-asserted), deterministic integer arithmetic,
    * ties broken by token so both engines elect the same k.
    *
    * Scale shape: the counter table (2048 rows) broadcasts to the
    * candidate side; candidates here are the distinct token set (the
    * oracle-reproducible form). At 100 TB the candidate set is NOT the
    * full vocabulary — it's each partition's local top-k′ (a map-side
    * WindowGroupLimit; a true heavy hitter is a local heavy hitter in at
    * least one partition for k′ ≥ k by pigeonhole over uniform shards) —
    * the estimate join is unchanged. The vocab-id mix is the oracle path;
    * [[cmsHeavyHittersHashed]] is the unbounded-vocabulary twin. */
  def cmsHeavyHitters(docs: DataFrame, k: Int = 20): DataFrame = {
    val hashed = oracleMix(
      docs.select(explode(split(col("text"), " ")).as("token"))
        .join(broadcast(Dedup.vocab(Dedup.tokenized(docs))), "token"))
    cmsTopK(hashed, k)
  }

  /** [[cmsHeavyHitters]] over `xxhash64(token)` — no vocab table, no
    * broadcast, no per-query corpus distinct. Engine-specific hash ⇒ no
    * DuckDB oracle; the overestimate bound and top-k agreement with exact
    * counts are spec-asserted instead. */
  def cmsHeavyHittersHashed(docs: DataFrame, k: Int = 20): DataFrame =
    cmsTopK(
      docs.select(explode(split(col("text"), " ")).as("token"))
        .select(col("token"), expr(s"xxhash64(token) & ${Long.MaxValue}L").as("h")),
      k)

  /** xxhash64 counter table — the production sketch. Token hashes don't
    * depend on the input corpus (no vocab ranks), so counter tables over
    * DISJOINT corpus slices merge exactly by elementwise SUM
    * ([[cmsMerge]], spec-asserted ≡ the single-pass table) — build per
    * partition/day/increment, add, estimate, never rescan. */
  def cmsCountersHashed(docs: DataFrame): DataFrame =
    cmsCountersOf(
      docs.select(explode(split(col("text"), " ")).as("token"))
        .select(expr(s"xxhash64(token) & ${Long.MaxValue}L").as("h")))

  /** Merge CMS counter tables by elementwise sum — the sketch union. */
  def cmsMerge(tables: DataFrame*): DataFrame =
    tables.reduce(_ unionByName _)
      .groupBy("row", "bucket").agg(sum(col("cnt")).as("cnt"))

  private def cmsTopK(hashed: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"cmsHeavyHitters needs k >= 1, got $k")
    val hm = hashed.withColumn("hm", expr(s"h % $CmsP"))
    val counters = cmsCountersOf(hm.select(col("h")))
    val est = hm.select(col("token"), col("hm")).distinct()
      .select(col("token"), explode(expr(cmsBuckets)).as("rb"))
      .join(broadcast(counters),
        col("rb.row") === counters("row") && col("rb.bucket") === counters("bucket"))
      .groupBy("token").agg(min(col("cnt")).as("est_count"))
    val w = Window.orderBy(col("est_count").desc, col("token").asc)
    est.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("rk").cast("long").as("rk"), col("token"), col("est_count"))
  }

  /** Sub-buckets per power-of-two octave in the log-bucket quantile
    * histogram: relative error of any quantile estimate is < 1/QSub
    * (6.25%), because bucket lower bounds within an octave are pe·(1+i/16)
    * and every value in a bucket is within one sub-step of its rep. */
  val QSub: Int = 16

  /** DDSketch-style mergeable quantile histogram over document length
    * (`n_chars`), per language — the missing member of the sketch family:
    * exact percentiles (`q_percentile`) need a full sort and cannot merge,
    * while a 100 TB corpus wants "p50/p90/p99 length per language" from
    * fixed-size mergeable state. Bucket = log-scale with [[QSub]] linear
    * sub-buckets per octave, ALL integer arithmetic (octave from the
    * binary-digit count — `length(bin(v)) - 1`, identical in DuckDB —
    * sub-bucket and representative by integer multiply/divide), so the
    * sketch is deterministic across engines and bit-reproducible by the
    * oracle.
    *
    * Fixed size: ≤ 64·QSub rows per language no matter the corpus (the
    * spec pins it); union+sum merges sketches ([[quantileMerge]]), so
    * per-executor partial histograms combine map-side exactly like any
    * count aggregate — ONE narrow aggregation shuffle carrying
    * (lang, bucket) keys, nothing else. */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        greatest(coalesce(col("n_chars"), lit(1L)), lit(1L)).cast("long").as("v"))
      .withColumn("e", (length(expr("bin(v)")) - 1).cast("long"))
      .withColumn("pe", expr("shiftleft(CAST(1 AS BIGINT), CAST(e AS INT))"))
      .withColumn("sub", expr(s"((v - pe) * $QSub) div pe"))
      .select(col("lang"), (col("e") * QSub + col("sub")).as("bucket"),
        expr(s"pe + (sub * pe) div $QSub").as("rep"))
      .groupBy("lang", "bucket", "rep").agg(count(lit(1)).as("n"))

  /** Merge quantile histograms by bucket-count sum — the sketch union
    * (same contract as [[cmsMerge]]/[[hllMerge]]). */
  def quantileMerge(tables: DataFrame*): DataFrame =
    tables.reduce(_ unionByName _)
      .groupBy("lang", "bucket", "rep").agg(sum(col("n")).as("n"))

  /** Quantile read-out: smallest bucket whose cumulative count reaches
    * rank ceil(q·N/100); the estimate is that bucket's lower-bound
    * representative (monotone in bucket, so `min(rep)` is the argmin).
    * The rank window partitions by `lang` — per-language state, never a
    * global sort. */
  def quantilesFromHistogram(hist: DataFrame, qs: Seq[Int]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      s"quantiles must be integer percents in [1,100], got $qs")
    val spark = hist.sparkSession
    import spark.implicits._
    val cum = hist.withColumn("cum",
      sum(col("n")).over(Window.partitionBy("lang").orderBy("bucket")))
    val totals = hist.groupBy("lang").agg(sum(col("n")).as("n_total"))
    cum.join(totals, "lang")
      .crossJoin(broadcast(qs.toDF("q_pct")))
      .filter(col("cum") >= expr("(q_pct * n_total + 99) div 100"))
      .groupBy("lang", "q_pct", "n_total")
      .agg(min(col("rep")).as("est_len"))
      .select(col("lang"), col("q_pct").cast("long").as("q_pct"),
        col("n_total"), col("est_len"))
  }

  /** p50/p90/p99 document length per language from the mergeable
    * log-bucket sketch. */
  def lengthQuantiles(docs: DataFrame, qs: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    quantilesFromHistogram(lengthHistogram(docs), qs)

  /** Model-free document vectors via the hashing trick (feature hashing):
    * every token occurrence lands in dim = hash(token) mod d with a ±1
    * sign from the next hash bit, summed per (doc, dim). Long-form output
    * (doc_id, dim, weight) — the assembled array twin feeds the ANN
    * operators (spec-wired); long form is what the oracle can mirror and
    * what a 100 TB pipeline would store columnar anyway.
    *
    * Scale shape: one map-side-combining aggregation on (doc_id, dim);
    * the multiplicative hash takes HIGH bits (div 65536) before the mod —
    * low bits of a Knuth multiplier cycle with small moduli and would fold
    * every token into a handful of dims. */
  def featureHashEmbed(docs: DataFrame, d: Int = 16): DataFrame = {
    require(d >= 2, s"featureHashEmbed needs d >= 2, got $d")
    Dedup.tokenized(docs)
      .select(col("doc_id"), explode(col("words")).as("token"))
      .join(broadcast(Dedup.vocab(Dedup.tokenized(docs))), "token")
      .withColumn("hb", expr(s"((tid % 3037000493) * 2654435761) div 65536"))
      .groupBy(col("doc_id"), expr(s"hb % $d").as("dim"))
      .agg(sum(when(expr(s"(hb div $d) % 2 = 0"), 1L).otherwise(-1L)).as("weight"))
      .select(col("doc_id"), col("dim"), col("weight"))
  }

  /** Temperature-resampled language mixture (α = 1/2): the standard
    * low-resource-upweighting used for multilingual training mixes —
    * sampling share ∝ p_lang^α flattens the distribution toward uniform.
    * α = 1/2 is the one exponent with an oracle-exact form: √ is IEEE
    * correctly rounded (general pow is not), and everything downstream of
    * the per-language √ stays in integer arithmetic — weight
    * s_l = floor(√n_l), target_l = targetTotal·s_l div Σs — so
    * cross-engine summation order cannot flip anything. A target above
    * n_docs means the language is repeated (upsampled) — standard for
    * low-resource languages, reported rather than capped.
    *
    * Scale shape: one count aggregation to #languages rows; the Σs window
    * is over those few rows (documented tiny-frame exception to the
    * no-unpartitioned-window rule). */
  def temperatureMix(docs: DataFrame, targetTotal: Long): DataFrame = {
    require(targetTotal > 0, s"temperatureMix needs a positive target, got $targetTotal")
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
      .withColumn("target_docs",
        expr(s"($targetTotal * weight) div sum(weight) over ()"))
      .select(col("lang"), col("n_docs"), col("weight"), col("target_docs"))
  }

  // ------------------------------------------------------------- registry

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_distinct_kmv" -> ((s, dir) => Util.orderAll(kmvDistinct(docs(s, dir)))),
    "doc_feature_hash" -> ((s, dir) => Util.orderAll(featureHashEmbed(docs(s, dir)))),
    "doc_temperature_mix" -> ((s, dir) => Util.orderAll(temperatureMix(docs(s, dir), 10000L))),
    "doc_distinct_hll"  -> ((s, dir) => Util.orderAll(hllDistinct(docs(s, dir)))),
    "doc_heavy_hitters" -> ((s, dir) => Util.orderAll(cmsHeavyHitters(docs(s, dir)))),
    "doc_quantile_sketch" -> ((s, dir) => Util.orderAll(lengthQuantiles(docs(s, dir)))),
    "doc_distinct_overlap" -> ((s, dir) => Util.orderAll(kmvOverlap(docs(s, dir)))),
  )

  def oracle: Map[String, String] = Map(
    // same vocab-hash + bottom-k as doc_distinct_kmv; the union sketch is
    // the bottom-k of the two bottom-k sets; inclusion–exclusion clamped
    // at 0 — every value is integer on both engines
    "doc_distinct_overlap" -> (
      s"""WITH tok AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
         |), vocab AS (
         |  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
         |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents) t
         |), h AS (
         |  SELECT DISTINCT lang, ((tid % 3037000493) * 2654435761) % $KmvSpace AS h
         |  FROM (SELECT DISTINCT lang, token FROM tok) lt JOIN vocab USING (token)
         |), bk AS (
         |  SELECT lang, h FROM (
         |    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM h) r
         |  WHERE rk <= 64
         |), per AS (
         |  SELECT lang, CAST(CASE WHEN count(*) < 64 THEN count(*)
         |    ELSE (63 * $KmvSpace) // max(h) END AS BIGINT) AS est
         |  FROM bk GROUP BY lang
         |), grid AS (
         |  SELECT a.lang AS lang_a, b.lang AS lang_b
         |  FROM (SELECT DISTINCT lang FROM bk) a
         |  JOIN (SELECT DISTINCT lang FROM bk) b ON a.lang < b.lang
         |), un AS (
         |  SELECT DISTINCT lang_a, lang_b, h FROM (
         |    SELECT g.lang_a, g.lang_b, k.h FROM grid g JOIN bk k ON k.lang = g.lang_a
         |    UNION ALL
         |    SELECT g.lang_a, g.lang_b, k.h FROM grid g JOIN bk k ON k.lang = g.lang_b) u
         |), ubk AS (
         |  SELECT lang_a, lang_b, h FROM (
         |    SELECT lang_a, lang_b, h,
         |      row_number() OVER (PARTITION BY lang_a, lang_b ORDER BY h) AS rk FROM un) r
         |  WHERE rk <= 64
         |), eu AS (
         |  SELECT lang_a, lang_b, CAST(CASE WHEN count(*) < 64 THEN count(*)
         |    ELSE (63 * $KmvSpace) // max(h) END AS BIGINT) AS est_union
         |  FROM ubk GROUP BY lang_a, lang_b
         |)
         |""".stripMargin + Util.wrap(
      """SELECT lang_a, lang_b, pa.est AS est_a, pb.est AS est_b, est_union,
        |  CAST(greatest(pa.est + pb.est - est_union, 0) AS BIGINT) AS est_overlap
        |FROM eu JOIN per pa ON pa.lang = lang_a JOIN per pb ON pb.lang = lang_b""".stripMargin,
      Seq("lang_a", "lang_b", "est_a", "est_b", "est_union", "est_overlap"))),
    // vocab = dense_rank over ALL distinct tokens (the Dedup convention);
    // distinct (lang, token) before hashing; distinct hashes per lang;
    // k-smallest via row_number; integer estimator
    "doc_distinct_kmv" -> (
      s"""WITH tok AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
         |), vocab AS (
         |  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
         |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents) t
         |), h AS (
         |  SELECT DISTINCT lang, ((tid % 3037000493) * 2654435761) % $KmvSpace AS h
         |  FROM (SELECT DISTINCT lang, token FROM tok) lt JOIN vocab USING (token)
         |), rk AS (
         |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM h
         |), agg AS (
         |  SELECT lang, count(*) AS n_kept, max(h) AS hk
         |  FROM rk WHERE rk <= 64 GROUP BY lang
         |)
         |""".stripMargin + Util.wrap(
        s"""SELECT lang, n_kept,
           |  CASE WHEN n_kept < 64 THEN n_kept ELSE (63 * $KmvSpace) // hk END AS est_distinct
           |FROM agg""".stripMargin,
        Seq("lang", "n_kept", "est_distinct"))),

    // CASTs pin DuckDB's HUGEINT sum to BIGINT (Spark sum-of-long)
    "doc_feature_hash" -> Util.wrap(
      """SELECT doc_id, hb % 16 AS dim,
        |  CAST(sum(CASE WHEN (hb // 16) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
        |FROM (
        |  SELECT doc_id, ((tid % 3037000493) * 2654435761) // 65536 AS hb
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) o
        |  JOIN (
        |    SELECT token, dense_rank() OVER (ORDER BY token) AS tid
        |    FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents) t
        |  ) vocab USING (token)
        |) q GROUP BY doc_id, hb % 16""".stripMargin,
      Seq("doc_id", "dim", "weight")),

    // same vocab-hash as KMV; ρ via the identical bit_count arithmetic;
    // the whole estimator is integer floor math on both engines
    "doc_distinct_hll" -> (
      s"""WITH vocab AS (
         |  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
         |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents) t
         |), h AS (
         |  SELECT lang, xor(v3, v3 >> 13) AS h FROM (
         |    SELECT lang, (xor(v1, v1 >> 16) * 2246822519) % 3037000493 AS v3 FROM (
         |      SELECT lang, ((tid % 3037000493) * 2654435761) % 3037000493 AS v1
         |      FROM (SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS token
         |            FROM documents) lt
         |      JOIN vocab USING (token)) q1) q2
         |), r AS (
         |  SELECT lang, h % $HllBuckets AS bucket,
         |    max(CASE WHEN h // $HllBuckets = 0 THEN $HllRhoCap
         |             ELSE bit_count(((h // $HllBuckets) & -(h // $HllBuckets)) - 1) + 1
         |        END) AS register
         |  FROM h GROUP BY 1, 2
         |), agg AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_nonempty,
         |    CAST(sum(1048576 // (CAST(1 AS BIGINT) << register)) AS BIGINT) AS s_nonempty
         |  FROM r GROUP BY lang
         |)
         |""".stripMargin + Util.wrap(
        s"""SELECT lang, n_nonempty,
           |  (CAST(709 AS BIGINT) * $HllBuckets * $HllBuckets * 1048576)
           |    // (1000 * (s_nonempty + ($HllBuckets - n_nonempty) * 1048576)) AS est_distinct
           |FROM agg""".stripMargin,
        Seq("lang", "n_nonempty", "est_distinct"))),

    // the full CMS pipeline in SQL: vocab-mix hash, hm = h % p, 4-row
    // bucket fan-out via a VALUES cross join, counter table, per-token
    // min-over-rows estimate, deterministic top-20. Every step is the
    // identical integer arithmetic the Spark side runs.
    "doc_heavy_hitters" -> (
      s"""WITH vocab AS (
         |  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
         |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents) t
         |), occ AS (
         |  SELECT token, xor(v3, v3 >> 13) % $CmsP AS hm FROM (
         |    SELECT token, (xor(v1, v1 >> 16) * 2246822519) % 3037000493 AS v3 FROM (
         |      SELECT o.token, ((tid % 3037000493) * 2654435761) % 3037000493 AS v1
         |      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) o
         |      JOIN vocab USING (token)) q1) q2
         |), rows_cte AS (
         |  SELECT * FROM (VALUES (0, CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
         |                        (1, CAST(2654435761 AS BIGINT), CAST(88172645 AS BIGINT)),
         |                        (2, CAST(2246822519 AS BIGINT), CAST(362436069 AS BIGINT)),
         |                        (3, CAST(1779033703 AS BIGINT), CAST(521288629 AS BIGINT)))
         |         AS v(rw, a, b)
         |), counters AS (
         |  SELECT rw, ((a * hm + b) % $CmsP) % $CmsWidth AS bucket, count(*) AS cnt
         |  FROM occ CROSS JOIN rows_cte GROUP BY 1, 2
         |), est AS (
         |  SELECT token, min(cnt) AS est_count
         |  FROM (SELECT DISTINCT token, hm FROM occ) d
         |  CROSS JOIN rows_cte
         |  JOIN counters ON counters.rw = rows_cte.rw
         |    AND counters.bucket = ((a * hm + b) % $CmsP) % $CmsWidth
         |  GROUP BY token
         |)
         |""".stripMargin + Util.wrap(
        """SELECT CAST(rk AS BIGINT) AS rk, token, est_count FROM (
          |  SELECT token, est_count,
          |    row_number() OVER (ORDER BY est_count DESC, token) AS rk
          |  FROM est) r WHERE rk <= 20""".stripMargin,
        Seq("rk", "token", "est_count"))),

    // the identical integer log-bucket pipeline: octave from binary-digit
    // count (DuckDB bin() == Spark bin()), sub-bucket and representative by
    // integer multiply/divide, cumulative rank read-out; every step maps
    // 1:1 onto the Spark side so the estimate is bit-identical
    "doc_quantile_sketch" -> (
      s"""WITH v AS (
         |  SELECT lang, GREATEST(COALESCE(n_chars, 1), 1) AS v FROM documents
         |), eb AS (
         |  SELECT lang, v, length(bin(v)) - 1 AS e FROM v
         |), sb AS (
         |  SELECT lang, e, (1::BIGINT << e) AS pe,
         |    ((v - (1::BIGINT << e)) * $QSub) // (1::BIGINT << e) AS sub
         |  FROM eb
         |), hist AS (
         |  SELECT lang, e * $QSub + sub AS bucket,
         |    pe + (sub * pe) // $QSub AS rep, count(*) AS n
         |  FROM sb GROUP BY 1, 2, 3
         |), cum AS (
         |  SELECT lang, bucket, rep,
         |    CAST(sum(n) OVER (PARTITION BY lang ORDER BY bucket) AS BIGINT) AS cum
         |  FROM hist
         |), tot AS (
         |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_total FROM hist GROUP BY lang
         |), qs AS (
         |  SELECT CAST(q_pct AS BIGINT) AS q_pct
         |  FROM (VALUES (50), (90), (99)) q(q_pct)
         |)
         |""".stripMargin + Util.wrap(
        s"""SELECT lang, q_pct, n_total, CAST(min(rep) AS BIGINT) AS est_len
           |FROM cum JOIN tot USING (lang) CROSS JOIN qs
           |WHERE cum >= (q_pct * n_total + 99) // 100
           |GROUP BY lang, q_pct, n_total""".stripMargin,
        Seq("lang", "q_pct", "n_total", "est_len"))),

    "doc_temperature_mix" -> Util.wrap(
      """SELECT lang, n_docs, weight,
        |  (10000 * weight) // CAST(sum(weight) OVER () AS BIGINT) AS target_docs
        |FROM (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
        |  FROM documents GROUP BY lang
        |) c""".stripMargin,
      Seq("lang", "n_docs", "weight", "target_docs")),
  )
}
