package graft.llm

import graft.{Tables, Util}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: language-ID, quality scoring,
  * token counting, document fingerprinting. Everything is a narrow
  * per-row projection (plus one tiny vocabulary broadcast for the
  * fingerprint) — embarrassingly parallel, no shuffle on the corpus, scans
  * prune to (doc_id, text[, lang]) only.
  */
object TextAnalysis {

  private val enStops = "('the', 'a', 'and', 'of', 'to')"
  private val deStops = "('der', 'die', 'und', 'das', 'ist')"
  private val frStops = "('le', 'la', 'et', 'les', 'des')"
  private val esStops = "('el', 'los', 'y', 'las', 'que')"
  // Regex patterns go through the typed `functions` API on the Spark side
  // (lit(...) — no SQL-literal backslash mangling) and through single-quoted
  // literals on the DuckDB side (which does no escape processing).
  private val cjk = "[\\x{4e00}-\\x{9fff}]"
  private val bpeish = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  // --- per-row signal builders: each ADDS columns (no select), so the
  // --- curation pipeline can stack every gate into one collapsed
  // --- projection over a single corpus pass. The public ops below are
  // --- narrow selects over these — the expressions exist exactly once.

  private def withLangSignals(df: DataFrame): DataFrame =
    df
      .withColumn("words", split(col("text"), " "))
      .withColumn("s_en", expr(s"size(filter(words, t -> t IN $enStops))"))
      .withColumn("s_de", expr(s"size(filter(words, t -> t IN $deStops))"))
      .withColumn("s_fr", expr(s"size(filter(words, t -> t IN $frStops))"))
      .withColumn("s_es", expr(s"size(filter(words, t -> t IN $esStops))"))
      .withColumn("s_zh", regexp_count(col("text"), lit(cjk)))
      .withColumn("predicted_lang", expr(
        """CASE
          |  WHEN s_zh > 0 THEN 'zh'
          |  WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
          |  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
          |  WHEN s_fr >= s_es THEN 'fr'
          |  ELSE 'es'
          |END""".stripMargin))

  private def withQualitySignals(df: DataFrame): DataFrame =
    df
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")))
      .withColumn("stop_r", expr(
        s"CAST(size(filter(words, t -> t IN $enStops)) AS DOUBLE) / n_tokens"))
      .withColumn("punct_r",
        regexp_count(col("text"), lit("[^A-Za-z0-9 ]")).cast("double") / length(col("text")))
      .withColumn("avg_token_len", expr(
        "CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_tokens"))
      .withColumn("quality_score", expr(
        """least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
          | + stop_r * 0.3
          | + (1.0 - least(punct_r * 10.0, 1.0)) * 0.2""".stripMargin))

  private def withRepetitionSignals(df: DataFrame): DataFrame =
    df
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")))
      .withColumn("n_distinct_tokens", size(array_distinct(col("words"))))
      // guard: Spark's sequence(1, 0) counts DOWN, so a 1-token doc needs
      // an explicit empty-bigram branch (DuckDB's generate_series(2,1) is
      // just empty)
      .withColumn("n_distinct_bigrams",
        when(col("n_tokens") >= 2, expr(
          "size(array_distinct(transform(sequence(2, size(words)), i -> concat(words[i-2], ' ', words[i-1]))))"))
        .otherwise(lit(0)))
      .withColumn("top_token_count", expr(
        "aggregate(array_distinct(words), 0, (m, t) -> greatest(m, size(filter(words, w -> w = t))))"))
      // the top-token fraction gate applies only at n >= 5 (Gopher-style
      // length floor): below that top_token_count * 5 > n_tokens holds for
      // EVERY doc (top >= 1), which would misclassify all short docs as
      // repetitive instead of letting the length/quality gate judge them
      .withColumn("is_repetitive",
        (col("n_tokens") - col("n_distinct_tokens")) * 2 > col("n_tokens") ||
          (col("n_tokens") >= 5 && col("top_token_count") * 5 > col("n_tokens")))

  /** Every stateless per-row curation signal stacked into ONE collapsed
    * projection — the shared builder behind [[curate]],
    * [[streamingCurate]], and the streaming corpus ingest
    * ([[graft.streaming.CorpusIngest]]). */
  private[graft] def signals(docs: DataFrame): DataFrame =
    withRepetitionSignals(withQualitySignals(withLangSignals(docs)))

  /** The three stateless scalar gates over [[signals]] columns — ONE
    * definition (including the load-bearing 6-dp rounding of the quality
    * threshold compare) for every consumer; keeper election is
    * deliberately NOT here because it differs by execution mode
    * (min-doc_id window in batch, first-arrival within watermark on a
    * stream, first-by-doc_id within batch in the ingest job). */
  private[graft] def withGateColumns(sig: DataFrame, qualityThreshold: Double): DataFrame =
    sig
      .withColumn("lang_ok", col("predicted_lang") === col("lang"))
      .withColumn("quality_ok", round(col("quality_score"), 6) >= qualityThreshold)
      .withColumn("not_repetitive", !col("is_repetitive"))

  /** Stopword/charset-marker language ID (n-gram heuristic family):
    * score each candidate language by marker-token occurrences (CJK by
    * codepoint class), argmax with a fixed preference order on ties. */
  def langId(docs: DataFrame): DataFrame =
    withLangSignals(docs)
      .select(col("doc_id"), col("predicted_lang"), col("lang").as("labeled_lang"),
        (col("predicted_lang") === col("lang")).as("is_match"))

  /** Label-noise audit: for every (source, declared-lang) metadata cell,
    * how often does the [[langId]] n-gram heuristic AGREE with the
    * declared label, and what does it predict instead when it doesn't?
    * `(source, labeled_lang, n_docs, n_agree, agree_ppm, top_pred_lang,
    * top_pred_n)` — the artifact that locates sources with corrupted or
    * miskeyed language metadata before they poison a lang-filtered mix.
    *
    * Scale shape: ONE map-side-combining count keyed on
    * (source, labeled_lang, predicted_lang) reduces the corpus to a
    * |sources|·|langs|² cell table; the per-cell totals, agreement sum and
    * majority-prediction argmax (row_number, ties broken on lang asc) are
    * windows over that tiny table, so nothing after the first aggregation
    * is corpus-sized. agree_ppm is exact BIGINT division. */
  def labelAudit(docs: DataFrame): DataFrame = {
    val cells = withLangSignals(docs)
      .groupBy(col("source"), col("lang").as("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_pred"))
    val cell = Window.partitionBy("source", "labeled_lang")
    val byN = Window.partitionBy("source", "labeled_lang")
      .orderBy(col("n_pred").desc, col("predicted_lang").asc)
    cells
      .withColumn("n_docs", sum(col("n_pred")).over(cell))
      .withColumn("n_agree", coalesce(
        sum(when(col("predicted_lang") === col("labeled_lang"), col("n_pred")))
          .over(cell), lit(0L)))
      .withColumn("rk", row_number().over(byN))
      .filter(col("rk") === 1)
      .select(col("source"), col("labeled_lang"), col("n_docs"), col("n_agree"),
        expr("(n_agree * CAST(1000000 AS BIGINT)) div n_docs").as("agree_ppm"),
        col("predicted_lang").as("top_pred_lang"), col("n_pred").as("top_pred_n"))
  }

  /** Domain-drift audit: Pearson chi² divergence of each source's term
    * distribution against the corpus-wide distribution — the detector for
    * "this crawl slice suddenly speaks a different vocabulary" that gates
    * mixing-weight refreshes. Per source: token count, distinct-term
    * count, chi² (micro-units), and the single most-diverging term.
    *
    * chi²_s = Σ_t (o_st − e_st)²/e_st with e_st = n_s·n_t/N. Terms the
    * source never uses still contribute: their mass telescopes to
    * n_s·(N − Σ_{t∈s} n_t)/N, computable from the OBSERVED rows alone —
    * so no source×vocabulary cross-join ever materializes. Chi² is
    * rational arithmetic (no libm); each per-term contribution snaps to
    * integer micros BEFORE the per-source sum (the [[bm25TopK]]
    * convention), so FP summation order can't flip the hash.
    *
    * Scale shape: one map-side-combining (source, token) count reduces
    * the corpus to the |S|·|V| observed matrix; token totals join on
    * token (vocabulary-keyed shuffle), source totals and the grand total
    * are broadcast; the per-source rollup + argmax ride ONE
    * source-partitioned window pass. Top-term ties break term ASC. */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("o"))
    val tokTot = st.groupBy("token").agg(sum(col("o")).as("n_t"))
    val tot = st.agg(sum(col("o")).as("n_total"))
    def d(c: Column): Column = c.cast("double")
    val e = d(col("n_s")) * d(col("n_t")) / d(col("n_total"))
    val diff = d(col("o")) - e
    val cell = Window.partitionBy("source")
    val byC = Window.partitionBy("source")
      .orderBy(col("c_micro").desc, col("token").asc)
    // n_s rides the same source-partitioned window pass as the rollup
    // below instead of a groupBy+join — one fewer join, and window
    // partitioning groups NULL sources together (an equi-join on source
    // would silently drop them; the oracle keeps them via
    // IS NOT DISTINCT FROM).
    st.join(tokTot, "token")
      .crossJoin(broadcast(tot))
      .withColumn("n_s", sum(col("o")).over(cell))
      .withColumn("c_micro", round(diff * diff / e * lit(1e6)).cast("long"))
      .withColumn("n_terms", count(lit(1)).over(cell))
      .withColumn("m_s", sum(col("n_t")).over(cell))
      .withColumn("obs_micro", sum(col("c_micro")).over(cell))
      .withColumn("rk", row_number().over(byC))
      .filter(col("rk") === 1)
      .withColumn("miss_micro", round(
        d(col("n_s")) * (d(col("n_total")) - d(col("m_s"))) / d(col("n_total"))
          * lit(1e6)).cast("long"))
      .select(col("source"), col("n_s"), col("n_terms"),
        (col("obs_micro") + col("miss_micro")).as("chi2_micro"),
        col("token").as("top_term"), col("c_micro").as("top_term_micro"))
  }

  /** Distribution-drift monitor core: chi² of each source's token-bucket
    * distribution against a LAPLACE-SMOOTHED reference distribution —
    * the training-serving drift check ([[sourceDivergence]] compares a
    * source against the rest of the SAME corpus; this compares against a
    * pinned reference snapshot, which is what a monitor re-evaluates as
    * new data arrives). `bucketed` carries one (source, bucket) row per
    * token occurrence; `ref` is the reference's (bucket, ref_n) count
    * table (≤ nBuckets rows — broadcast).
    *
    * Smoothing: expected share of bucket b is (ref_n(b)+1)/(N_ref+B), so
    * a bucket unseen in the reference still has positive expectation and
    * chi² stays finite — the standard add-one contingency treatment.
    * Buckets the source never hits contribute in closed form,
    * n_s·(R−m_s)/R with m_s = Σ_{observed}(ref_n+1) and R = N_ref+B
    * (the [[sourceDivergence]] telescoping — no bucket cross-join).
    * Rational arithmetic only; per-bucket terms snap to micros pre-sum.
    *
    * Scale shape: one map-side-combining (source, bucket) count (bounded
    * by |S|·B), a broadcast ref join, and a per-source rollup — nothing
    * after the first aggregation is corpus-sized. B is a constant knob,
    * so state/intermediates are FIXED-size per source — which is exactly
    * what lets `graft.streaming.StreamingDrift` (the spec-side twin under
    * `src/test`) run the same math with
    * bounded keyed state on an unbounded stream. */
  def driftVsReference(bucketed: DataFrame, ref: DataFrame,
                       nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"driftVsReference: nBuckets must be >= 2, got $nBuckets")
    val obs = bucketed.groupBy("source", "bucket").agg(count(lit(1)).as("o"))
    val refTot = ref
      .agg((coalesce(sum(col("ref_n")), lit(0L)) + lit(nBuckets.toLong)).as("r_tot"))
    def d(c: Column): Column = c.cast("double")
    val e = d(col("n_s")) * d(col("ref1")) / d(col("r_tot"))
    val diff = d(col("o")) - e
    // n_s via a source-partitioned window, not a groupBy+equi-join: the
    // window groups NULL sources (a join on source would drop them while
    // the oracle's IS NOT DISTINCT FROM keeps them), and the partition is
    // bounded at B rows per source by construction.
    obs
      .join(broadcast(ref.select(col("bucket"), (col("ref_n") + lit(1L)).as("ref1"))),
        Seq("bucket"), "left")
      .na.fill(1L, Seq("ref1"))
      .crossJoin(broadcast(refTot))
      .withColumn("n_s", sum(col("o")).over(Window.partitionBy("source")))
      .withColumn("c_micro", round(diff * diff / e * lit(1e6)).cast("long"))
      .groupBy("source", "n_s", "r_tot")
      .agg(count(lit(1)).as("n_hit"), sum(col("c_micro")).as("obs_micro"),
        sum(col("ref1")).as("m_s"))
      .withColumn("miss_micro", round(
        d(col("n_s")) * (d(col("r_tot")) - d(col("m_s"))) / d(col("r_tot"))
          * lit(1e6)).cast("long"))
      .select(col("source"), col("n_s"), col("n_hit"),
        (col("obs_micro") + col("miss_micro")).as("chi2_micro"))
  }

  /** [[driftVsReference]] oracle-path query: buckets are vocabulary ids
    * mod B (dense ranks — reproducible as dense_rank in DuckDB, the
    * [[dsirSample]] convention), the reference is the corpus's even-doc_id
    * half and the monitored traffic its odd half — a deterministic
    * within-fixture split that exercises real (if small) sampling drift. */
  def driftRefQuery(docs: DataFrame, nBuckets: Int = 64): DataFrame = {
    val tv = Dedup.vocab(Dedup.tokenized(docs))
    val b = docs
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("token"))
      .join(broadcast(tv), "token")
      .select(col("doc_id"), col("source"), (col("tid") % nBuckets).as("bucket"))
    val ref = b.filter(col("doc_id") % 2 === 0)
      .groupBy("bucket").agg(count(lit(1)).as("ref_n"))
    driftVsReference(b.filter(col("doc_id") % 2 === 1).select("source", "bucket"),
      ref, nBuckets)
  }

  /** Production twin of [[driftRefQuery]]: `xxhash64(token) % B` — no
    * vocabulary table, no corpus-wide distinct (the [[dsirSampleHashed]]
    * convention: engine-specific hash ⇒ no DuckDB oracle; parity with the
    * streaming monitor is spec-asserted instead). */
  def driftVsReferenceHashed(docs: DataFrame, refDocs: DataFrame,
                             nBuckets: Int = 64): DataFrame =
    driftVsReference(
      hashBucketed(docs, nBuckets).select("source", "bucket"),
      hashBucketed(refDocs, nBuckets).groupBy("bucket").agg(count(lit(1)).as("ref_n")),
      nBuckets)

  /** One (source, bucket) row per token, bucket = xxhash64(token) % B —
    * shared by the hashed drift twin and `graft.streaming.StreamingDrift`
    * (both sides of the prefix-parity spec must hash identically). */
  def hashBucketed(docs: DataFrame, nBuckets: Int): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("token"))
      .select(col("source"), pmod(xxhash64(col("token")), lit(nBuckets.toLong)).as("bucket"))

  /** Materialize the drift reference snapshot — the
    * [[writeDsirRatios]]/[[graft.llm.Dedup.writeNearDupIndex]] deployment
    * pattern: the reference corpus is scanned ONCE into a ≤B-row
    * (bucket, ref_n) parquet table; every later monitoring run (batch
    * audit or the `graft.streaming.StreamingDrift` bootstrap) reads the
    * table instead of re-scanning the reference. */
  def writeDriftRef(refDocs: DataFrame, path: String, nBuckets: Int = 64): Unit =
    // DENSE snapshot — every bucket 0..B-1 present (ref_n = 0 where the
    // reference corpus never hit it), so the snapshot carries its own B
    // and [[driftVsStoredRef]] can reject a monitor configured with a
    // different bucket count instead of silently mispairing buckets.
    // Zero-count rows are arithmetic no-ops in [[driftVsReference]]
    // (ref1 = 1 either via the +1 or the na.fill), so the round-trip
    // parity with the sparse in-memory form is exact.
    refDocs.sparkSession.range(nBuckets).select(col("id").as("bucket"))
      .join(hashBucketed(refDocs, nBuckets)
        .groupBy("bucket").agg(count(lit(1)).as("ref_n")), Seq("bucket"), "left")
      .na.fill(0L, Seq("ref_n"))
      .write.mode("overwrite").parquet(path)

  /** Monitor a corpus against a STORED reference snapshot — must return
    * exactly what [[driftVsReferenceHashed]] returns when the snapshot was
    * written from the same reference corpus (spec-asserted round-trip).
    * Rejects a snapshot whose bucket count differs from `nBuckets`: the
    * chi² pairing is positional in bucket id, so a B mismatch would not
    * error — it would quietly misattribute mass (the same guard
    * `graft.streaming.StreamingDrift` applies to its bootstrap vector). */
  def driftVsStoredRef(docs: DataFrame, path: String,
                       nBuckets: Int = 64): DataFrame = {
    val ref = docs.sparkSession.read.parquet(path)
    val storedB = ref.count()
    require(storedB == nBuckets.toLong,
      s"driftVsStoredRef: snapshot at $path has $storedB buckets but the " +
        s"monitor is configured for $nBuckets — writer and monitor must share B")
    driftVsReference(hashBucketed(docs, nBuckets).select("source", "bucket"),
      ref, nBuckets)
  }

  /** (doc_id, qm): the shared heuristic quality score in exact integer
    * micro units — the argmax key for quality-keeper dedup
    * ([[Dedup.dedupKeepBest]]) and the same double→micro snap the
    * percentile/profile consumers use. */
  def qualityMicro(docs: DataFrame): DataFrame = qualityMicroKeyed(docs)

  /** [[qualityMicro]] with extra key columns carried THROUGH the quality
    * projection — callers that need (source, lang, …) alongside `qm` must
    * use this instead of joining `qualityMicro` back onto the corpus: the
    * score is a per-row projection, so recovering dropped columns via a
    * doc_id self-join is a corpus-sized shuffle for nothing (measured:
    * dropping it took prefPairs from 24.6 s to 17.5 s at the ×100
    * stress — the remainder is the per-row scoring itself). */
  def qualityMicroKeyed(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    withQualitySignals(docs).select(col("doc_id") +: keep.map(col) :+
      round(round(col("quality_score"), 6) * 1e6).cast("long").as("qm"): _*)

  /** Heuristic quality score from length / stopword / punctuation ratios —
    * raw ratios feed the score unrounded; only outputs are rounded. */
  def quality(docs: DataFrame): DataFrame =
    withQualitySignals(docs)
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_token_len"), 4).as("avg_token_len"),
        round(col("stop_r"), 4).as("stopword_ratio"),
        round(col("punct_r"), 6).as("punct_ratio"),
        round(col("quality_score"), 6).as("quality_score"))

  /** Lexical-diversity quality signals, integer-exact: type-token ratio
    * and the Simpson repeat-concentration index
    * Σ nᵢ(nᵢ−1) / (N(N−1)) — the probability two random token draws are
    * the same type; high values mark keyword-stuffed / low-entropy docs
    * the repetition gate's fixed n-gram windows can miss. (True Shannon
    * entropy needs `ln`, which is libm-dependent and not cross-engine
    * reproducible — Simpson is the standard rational-arithmetic stand-in.)
    *
    * Scale shape: one (doc_id, token)-keyed map-side-combining count, one
    * doc_id rollup — never an in-row O(N·D) fold, which would go quadratic
    * on long documents. */
  def diversity(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(expr("c * (c - 1)")).as("rep"))
      .withColumn("ttr_micro", expr("(n_distinct * 1000000) div n_tokens"))
      .withColumn("simpson_micro", when(col("n_tokens") >= 2,
        expr("(rep * 1000000) div (n_tokens * (n_tokens - 1))")).otherwise(lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("ttr_micro"), col("simpson_micro"))

  /** Whitespace vs BPE-ish-regex token counts. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      regexp_count(col("text"), lit(bpeish)).as("re_tokens"),
      length(col("text")).as("n_chars"))

  /** Position-weighted rolling fingerprint over vocabulary ids — fully
    * deterministic (no engine hash), order-sensitive. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val tok = Dedup.tokenized(docs)
    val v = Dedup.vocab(tok)
    tok.select(col("doc_id"), posexplode(col("words")).as(Seq("pos", "token")))
      .join(broadcast(v), "token")
      .groupBy("doc_id")
      .agg((sum(expr("tid * (pos % 31 + 1)")) * 31 + count(lit(1))).as("fingerprint"))
  }

  /** Regex scrub/redaction — the shape of PII removal in a training-data
    * pipeline (this corpus has no digits or emails, so the pattern targets
    * stopword tokens to actually fire). Whole-word match via `\b`; Spark's
    * regexp_replace replaces all occurrences, DuckDB needs the 'g' flag. */
  def redact(docs: DataFrame): DataFrame = {
    val pat = "\\b(the|a)\\b"
    docs.select(col("doc_id"),
      regexp_replace(col("text"), lit(pat), lit("<STOP>")).as("scrubbed"),
      regexp_count(col("text"), lit(pat)).as("n_scrubbed"))
  }

  /** Deterministic train/validation/test split: the assignment is a pure
    * function of `doc_id` (multiplicative-hash bucket), so the split is
    * reproducible across runs, engines, and cluster sizes — no RNG state,
    * no reshuffling when the corpus is re-partitioned. 90/5/5. The output
    * is the stratification audit (per-language × split counts), which is
    * what a pipeline actually checks before training.
    *
    * The id is reduced mod 3037000493 (largest prime below √2⁶³) BEFORE the
    * multiply, so the product can never overflow Long: a raw
    * `doc_id * 2654435761` throws under Spark's ANSI arithmetic for
    * doc_id ≳ 3.47e9 — i.e. exactly at billions-of-docs corpus scale —
    * while DuckDB silently promotes to HUGEINT and diverges.
    *
    * The bucket comes from the product's HIGH bits (div 65536), not its low
    * ones: `(x * C) % 100` collapses to a function of `x % 100` (mod
    * distributes over the multiply), so a structured id space — ids all
    * multiples of 100, a sharded allocator with a stride sharing a factor
    * with 100 — would land every document in a handful of buckets. The
    * high bits mix all of doc_id (measured: every stride in {100, 1000,
    * 4096} still hits all 100 buckets uniformly). */
  def stratifiedSplit(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket", expr("(((doc_id % 3037000493) * 2654435761) div 65536) % 100"))
      .withColumn("split", expr(
        "CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid' ELSE 'test' END"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))

  /** Deterministic global training shuffle, materialized as shard + position:
    * every document gets a pseudo-random but fully reproducible place in the
    * training order, as a pure function of `doc_id` — the "shuffle the corpus
    * before epoch 0" step every training pipeline runs, with no RNG state to
    * checkpoint and no dependence on input partitioning or cluster size.
    *
    * The permutation key is TWO Lehmer LCG steps, `key = ((doc_id mod M) ·
    * 48271 mod M) · 48271 mod M` with M = 2³¹−1 (MINSTD): a composition of
    * bijections on [1, M−1], so sort-by-key IS a genuine permutation —
    * unlike [[stratifiedSplit]]'s high-bits mix, which is order-PRESERVING
    * in the id (fine for bucketing, useless for shuffling), and unlike ONE
    * Lehmer step, which never wraps (stays monotone) for ids below M/48271
    * ≈ 44k — both caught by the permutation spec. Two steps wrap for
    * essentially every id: consecutive ids land 48271² mod M ≈ 1.8e8 apart
    * in key space. Overflow-safe: each product is < 2⁴⁷, far under ANSI
    * Long. Ids ≥ M collide mod M and fall back to doc_id order within the
    * collision class — negligible below billions of docs, and a corpus past
    * that widens M to a √2⁶³-scale prime with the same shape. `shard = key %
    * nShards`, `pos = row_number` within the shard ordered by
    * `(key, doc_id)`.
    *
    * Scale shape: ONE shuffle, keyed on `shard` — the window that assigns
    * positions is partitioned, never global, so parallelism equals
    * `nShards`. At 100 TB a pipeline sets `nShards` to the target training
    * file count (tens of thousands), which makes each window partition one
    * output file's worth of rows — the materialized `(shard, pos)` IS the
    * file layout, written with `partitionBy("shard")` + sortWithinPartitions
    * and consumed sequentially by the data loader. 16 here keeps the oracle
    * result readable. */
  /** The two-step Lehmer LCG permutation key over a non-negative-folded
    * id — ONE source of truth for the layout DataFrame, the container
    * writers ([[TrainingShards]]), and the oracles, so the shuffle key
    * can never drift between consumers.
    * pmod on the first step: a negative id must still land in [0, M) or
    * the shard assignment goes negative and breaks the documented
    * shard ∈ [0, nShards) file-layout contract (advisor-caught); the
    * later steps stay plain % — their left operand is already
    * non-negative. */
  private[llm] def lehmerKeySql(idCol: String): String =
    s"((pmod($idCol, 2147483647) * 48271 % 2147483647) * 48271) % 2147483647"

  /** The same key in DuckDB dialect (no pmod — the fold is spelled out),
    * single-sourced for the doc_shuffle_shards oracle and every
    * [[TrainingShards]] layout oracle (review-caught: the hand-copied
    * second instance re-created the drift risk the Spark-side
    * single-sourcing removed). */
  private[llm] def lehmerKeyDuckSql(idCol: String): String =
    s"(((($idCol % 2147483647 + 2147483647) % 2147483647) * 48271 % 2147483647) * 48271) % 2147483647"

  def shuffleShards(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards >= 1, s"shuffleShards: nShards must be >= 1, got $nShards")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key").asc, col("doc_id").asc)
    docs
      .select(col("doc_id"),
        expr(lehmerKeySql("doc_id")).as("shuffle_key"))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Group-integrity split: assign every document of a SOURCE to the same
    * train/valid/test split — the leakage-prevention form of
    * [[stratifiedSplit]]. Row-hash splitting puts near-identical documents
    * from one site on both sides of the train/test fence (the classic eval
    * contamination path); when the unit of correlation is the group, the
    * unit of splitting must be too (GroupShuffleSplit semantics).
    *
    * The group key is folded to an integer with a position-weighted ascii
    * sum — deliberately engine-portable (no xxhash in the oracle's
    * dialect), computed over the DISTINCT group values only (tiny) — then
    * Lehmer-mixed into the same 90/5/5 buckets as [[stratifiedSplit]].
    * Output is the audit: per (source, split) counts, where the integrity
    * invariant (one split per source) is spec-asserted.
    *
    * Scale shape: the fold runs on #groups rows, the assignment broadcasts
    * back, the audit aggregate is map-side partial — the corpus is scanned
    * once and never shuffled on anything wider than (source, split). */
  def groupSplit(docs: DataFrame): DataFrame = {
    // empty/NULL sources must still get an assignment (gkey 0) or their
    // documents silently vanish through the inner join and the audit's
    // counts-re-add invariant breaks exactly where a leakage audit matters
    // most (review-caught): the fold keeps every group via a conditional
    // sum + coalesce instead of filtering rows out, and the assignment
    // joins null-safely
    val g = docs.select(col("source")).distinct()
      .select(col("source"),
        posexplode_outer(split(coalesce(col("source"), lit("")), "")).as(Seq("p", "ch")))
      .groupBy("source")
      .agg(coalesce(sum(when(col("ch") =!= "",
        ascii(col("ch")).cast("long") * (col("p") + 1))), lit(0L)).as("gkey"))
      .withColumn("bucket", expr(
        "(((gkey % 2147483647) * 48271 % 2147483647) * 48271) % 2147483647 % 100"))
      .withColumn("split", expr(
        "CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid' ELSE 'test' END"))
    docs.join(broadcast(g.select(col("source").as("_gs_source"), col("split"))),
        col("source") <=> col("_gs_source"))
      .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
  }

  /** Per-domain quota capping: keep the top-`k` documents per `source` by
    * quality score (ties broken by doc_id, everything on the ROUNDED score
    * so the ordering can't diverge between engines on an FP ulp). This is
    * the "no single domain dominates the training mix" gate — crawl
    * pipelines cap per-site document counts exactly like this.
    *
    * Scale shape: the per-row quality signals stay in one collapsed
    * projection; the only shuffle keys on `source`. The `rk <= k` filter
    * lowers to WindowGroupLimit (plan-audited), so every map task keeps at
    * most k rows per source BEFORE the exchange — a hot domain ships
    * k·n_mappers rows, not its whole partition, and the post-shuffle sort
    * touches surviving candidates only. */
  def domainCap(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"domainCap: k must be >= 1, got $k")
    withQualitySignals(docs)
      .withColumn("qs", round(col("quality_score"), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("qs").desc, col("doc_id").asc)))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("source"), col("qs").as("quality_score"), col("rk"))
  }

  /** Deterministic mixture sampling for data mixing: each language gets a
    * target rate in percent (possibly > 100 — upsampling emits base copies
    * plus a hash-gated extra), and the per-document decision is a pure
    * function of doc_id — reproducible across runs, engines, partitionings,
    * and cluster sizes, with no RNG state to checkpoint. The bucket takes
    * the product's HIGH bits (div 65536) for the same reason as
    * [[stratifiedSplit]]: low bits mod 100 only see `doc_id % 100`, which
    * both degenerates on structured id spaces AND makes every same-modulus
    * hash a deterministic function of every other — with low bits, the
    * different multiplier here would NOT decorrelate sampling from the
    * split (a linear bijection of the same residue), and sampled data
    * would be measurably biased across train/valid/test. With high-bit
    * mixing the measured sampled-subset split is 89.99/4.99/5.02 vs the
    * 90/5/5 contract. Embarrassingly parallel: one projection, no shuffle.
    * Rates here: en 30 % (downsample the majority), zh 250 % (2–3 epochs
    * of the rare language), es 150 %, fr 80 %, everything else 100 %. */
  def sampleWeighted(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket", expr("(((doc_id % 3037000493) * 2246822519 + 104729) div 65536) % 100"))
      .withColumn("n_copies", expr(
        """CASE lang
          |  WHEN 'en' THEN CASE WHEN bucket < 30 THEN 1 ELSE 0 END
          |  WHEN 'zh' THEN 2 + CASE WHEN bucket < 50 THEN 1 ELSE 0 END
          |  WHEN 'es' THEN 1 + CASE WHEN bucket < 50 THEN 1 ELSE 0 END
          |  WHEN 'fr' THEN CASE WHEN bucket < 80 THEN 1 ELSE 0 END
          |  ELSE 1
          |END""".stripMargin))
      .select(col("doc_id"), col("lang"), col("bucket"), col("n_copies"),
        (col("n_copies") > 0).as("kept"))

  /** Exact-N per-stratum sampling: exactly `perStratum` documents per
    * language (fewer only when the stratum is smaller), chosen by ranking
    * on a high-bit multiplicative hash of doc_id — deterministic across
    * runs/engines/partitionings like [[sampleWeighted]], but with an exact
    * output SIZE contract instead of an exact rate ("give me 10k docs per
    * language" — eval-set construction, annotation batches). The hash
    * multiplier is a third constant so this ordering is independent of
    * both the split and the rate-sampling decisions; the rank filter
    * lowers to a partial WindowGroupLimit (≤ N rows per language leave
    * each mapper — the [[domainCap]] shape). */
  def sampleExact(docs: DataFrame, perStratum: Int): DataFrame = {
    require(perStratum >= 1, s"sampleExact: perStratum must be >= 1, got $perStratum")
    docs
      .withColumn("h", expr("((doc_id % 3037000493) * 2971215073) div 65536"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h").asc, col("doc_id").asc)))
      .filter(col("rk") <= perStratum)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  /** Corpus mixture statistics per (lang, source) cell: document count,
    * total token count, and summed quality — the inputs a mixture designer
    * feeds into rate selection (the other side of [[sampleWeighted]]).
    * Quality is summed as an exact INTEGER in micro-units (the 6-dp score
    * × 10⁶): an FP average lands on round-half ties (a 2-doc cell averaging
    * x.xxxxxx5 rounded differently across engines in testing), while
    * integer sums are bit-exact everywhere and the consumer divides when
    * it wants the mean. One map-side-combining aggregation; the shuffle
    * carries one partial row per (lang, source) cell per mapper. */
  def corpusStats(docs: DataFrame): DataFrame =
    withQualitySignals(docs)
      .withColumn("qs_micro", round(round(col("quality_score"), 6) * 1e6).cast("long"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("qs_micro")).as("sum_quality_micro"))

  /** Per-language quality-score percentiles (P10/P50/P90) — the threshold
    * calibration pass a curation pipeline runs before fixing its quality
    * gates (an absolute cutoff like 0.45 means different things in
    * different languages; gates are set per-language from these
    * distributions).
    *
    * These are DISCRETE (type-1) order statistics over the score in exact
    * integer micro-units, not interpolated percentiles: interpolation
    * manufactures midpoints that land on round-half ties (two 6-dp scores
    * an odd 1e-6 apart average to x.xxxxxx5, which Spark and DuckDB round
    * in opposite directions — observed in testing), and the rank index is
    * computed in INTEGER division (`(n-1) div 10`), because even
    * `0.1*(n-1)` can floor differently across engines one ulp from an
    * integer. A real data value at an exactly-determined rank is
    * bit-stable everywhere, and for gate calibration a member value is as
    * good as a midpoint. At 100 TB the same query swaps in
    * `approx_percentile` (map-side-combining t-digest) — approximate
    * results are for humans, not oracles. */
  def qualityPercentiles(docs: DataFrame): DataFrame = {
    val m = withQualitySignals(docs)
      .withColumn("qm", round(round(col("quality_score"), 6) * 1e6).cast("long"))
    // value-rank the scores per language: ties in qm are interchangeable
    // for value selection, so ordering by qm alone is enough
    val ranked = m
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("qm").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
    ranked
      .filter(col("rn") === expr("(n - 1) div 10 + 1") ||
        col("rn") === expr("(n - 1) div 2 + 1") ||
        col("rn") === expr("(9 * (n - 1)) div 10 + 1"))
      .groupBy(col("lang"), col("n").as("n_docs"))
      .agg(
        max(when(col("rn") === expr("(n - 1) div 10 + 1"), col("qm"))).as("p10_micro"),
        max(when(col("rn") === expr("(n - 1) div 2 + 1"), col("qm"))).as("p50_micro"),
        max(when(col("rn") === expr("(9 * (n - 1)) div 10 + 1"), col("qm"))).as("p90_micro"))
      .select(col("lang"), col("p10_micro"), col("p50_micro"),
        col("p90_micro"), col("n_docs"))
  }

  /** TF-IDF keyword extraction: per-document top-`k` terms by term
    * frequency × inverse document frequency. The idf is the RATIONAL form
    * (N+1)/(df+1) rather than its logarithm: rankings are identical (log is
    * monotone), but IEEE division is correctly rounded while `ln` is
    * libm-dependent in the last ulp — the rational form is the one that
    * hash-matches bit-for-bit across engines.
    *
    * Scale shape: term frequencies come from ONE explode + map-side-
    * combining `groupBy(doc_id, token)` — O(|doc|) work per document (the
    * previous `size(filter(words, w = token))` per distinct token was
    * O(|doc|²) on the long-document tail: a 100k-token book with 30k
    * distinct tokens is ~3e9 comparisons in one task). The (doc_id, token)
    * shuffle subplan is IDENTICAL under the df aggregation and the join
    * branch, so ReuseExchange computes it once with no pinned
    * corpus-scale checkpoint blocks (plan-audited). The corpus size N is a
    * broadcast 1-row aggregate, not a driver-side count; the top-k rank
    * filter lowers to a partial WindowGroupLimit on doc_id.
    *
    * `broadcastDf = true` (default) broadcasts the document-frequency
    * table — right whenever the distinct-token set is a real vocabulary
    * (the [[Dedup.vocab]] argument). Raw web text grows its token set with
    * corpus size (URLs, numbers, typos — Heaps' law); past the broadcast
    * limit pass `false` and the df join degrades to a shuffled hash join
    * on the token key, exactly like the documented vocab escape hatch. */
  def tfidfTopK(docs: DataFrame, k: Int, broadcastDf: Boolean = true): DataFrame = {
    require(k >= 1, s"tfidfTopK: k must be >= 1, got $k")
    val termTf = Dedup.tokenized(docs)
      .select(col("doc_id"), explode(col("words")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df_ = termTf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_corpus"))
    termTf
      .join(if (broadcastDf) broadcast(df_) else df_, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * (col("n_corpus") + 1) /
        (col("df") + 1), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("token").asc)))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("score"), col("rk"))
  }

  /** Context-window chunking: split each document into fixed-size token
    * chunks with a fixed overlap (stride = chunkSize - overlap) — the
    * pretraining / RAG-ingestion shape that turns variable-length documents
    * into model-window-sized training rows. The final partial chunk is kept
    * (a trailing remainder shorter than the window still trains).
    *
    * Scale shape: pure in-row array work (`transform` + `slice`) — the
    * explode multiplies rows but never shuffles; scans prune to
    * (doc_id, text). */
  def chunk(docs: DataFrame, chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"chunk: need 0 <= overlap < chunkSize, got overlap=$overlap size=$chunkSize")
    val stride = chunkSize - overlap
    Dedup.tokenized(docs)
      .select(col("doc_id"), size(col("words")).as("n"), posexplode(expr(
        // chunk i covers tokens [i*stride, i*stride + chunkSize); the number
        // of chunks is ceil(max(n - overlap, 1) / stride) — at least one per
        // non-empty doc, none starting past the end
        s"transform(sequence(1, CAST(ceil(CAST(greatest(size(words) - $overlap, 1) AS DOUBLE) / $stride) AS INT))," +
          s" i -> concat_ws(' ', slice(words, (i-1)*$stride+1, $chunkSize)))"))
        .as(Seq("chunk_idx", "chunk")))
      // token count in integer arithmetic from the indices — not a second
      // split of the string just joined
      .withColumn("n_chunk_tokens",
        least(lit(chunkSize), col("n") - col("chunk_idx") * stride))
      .drop("n")
  }

  /** Sequence packing (concat-and-cut): concatenate documents in doc_id
    * order within each `source` shard and cut every `budget` tokens; each
    * document reports the pack it starts in and its token offset inside
    * that pack. This is the greedy packing a training pipeline runs to
    * fill fixed-length sequences without padding waste.
    *
    * Scale shape: packing is per-shard independent — the window partitions
    * by `source`, so shards pack in parallel and a new shard never
    * re-reads another's cumulative state. The cumulative sum is one
    * running-window pass over (source, doc_id) order; no self-join, no
    * iteration. A pathologically hot shard serializes its own scan (the
    * fundamental order-dependence of packing); the mitigation is sharding
    * granularity, not a different algorithm. */
  /** Content-defined chunking (the LBFS/FastCDC family — Muthitacharoen
    * et al. 2001 "A low-bandwidth network file system"; Xia et al. 2016
    * FastCDC — applied at token granularity): a chunk boundary falls after
    * token `i` whenever the rolling hash of the last 4 tokens lands on
    * `0 mod modBoundary`, so boundaries are decided by CONTENT, not
    * position. That is the property fixed-stride chunking ([[chunk]],
    * [[Dedup.substringSpans]]) lacks: inserting one token near the front
    * shifts every downstream fixed window, but here all boundaries after
    * the edit's 4-token horizon re-align and the shared suffix yields
    * byte-identical chunks again (spec-asserted) — which is what makes
    * cross-document chunk-hash dedup robust to edits.
    *
    * Arithmetic is engine-portable by construction (the [[bigramLm]]
    * argument): token code = `fold (a·31 + codepoint) mod 1000003` over
    * characters, window hash = the 4-term polynomial
    * `c₋₃·31³ + c₋₂·31² + c₋₁·31 + c₀ mod modBoundary` — integer ops only,
    * no engine-specific hash, so DuckDB reproduces every boundary exactly.
    * Expected chunk length is `modBoundary` tokens; the final token always
    * closes the last chunk.
    *
    * Scale shape: one narrow per-row projection — the nested
    * transform/filter/slice battery is whole-stage-codegen'd array work,
    * no shuffle, no UDF; the explode fans out to one row per chunk. At
    * 100 TB the chunk key for dedup is `xxhash64(chunk_text)` (the
    * [[Dedup.exactByHash]] 8-byte-key argument); chunk_text itself ships
    * only where the rewrite needs it. */
  def cdcChunks(docs: DataFrame, modBoundary: Int = 8): DataFrame = {
    require(modBoundary >= 2, s"cdcChunks: modBoundary >= 2, got $modBoundary")
    docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("codes", expr(
        "transform(words, w -> aggregate(split(w, ''), 0L, (a, ch) -> (a * 31 + ascii(ch)) % 1000003))"))
      .withColumn("n", size(col("words")))
      .withColumn("raw", expr(
        s"""filter(sequence(1, n), i -> i >= 4 AND
           |  (element_at(codes, i-3) * 29791 + element_at(codes, i-2) * 961 +
           |   element_at(codes, i-1) * 31 + element_at(codes, i)) % $modBoundary = 0)""".stripMargin))
      .withColumn("bs", expr(
        "CASE WHEN size(raw) = 0 OR element_at(raw, -1) != n THEN concat(raw, array(n)) ELSE raw END"))
      .select(col("doc_id"), col("words"), col("bs"),
        explode(expr("sequence(1, size(bs))")).as("k"))
      .withColumn("start_tok", expr(
        "CAST(CASE WHEN k = 1 THEN 1 ELSE element_at(bs, k - 1) + 1 END AS BIGINT)"))
      .withColumn("end_tok", expr("CAST(element_at(bs, k) AS BIGINT)"))
      .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
        col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_chunk_tokens"),
        expr("array_join(slice(words, CAST(start_tok AS INT), CAST(end_tok - start_tok + 1 AS INT)), ' ')")
          .as("chunk_text"))
  }

  /** Cross-document segment dedup over [[cdcChunks]]: a chunk text seen in
    * ≥ 2 distinct documents is a shared segment — the boilerplate /
    * quoted-passage detector, shift-robust where
    * [[Dedup.substringSpans]]'s fixed stride is not. `minTokens` drops
    * sub-phrase chunks too short to be meaningful evidence. Keeper is the
    * min doc_id ([[Dedup.exact]]'s convention). One map-side-combining
    * aggregation on the chunk key.
    *
    * The length gate is deliberately `coalesce(n, 0) >= minTokens`, not a
    * bare `>=`: from the bare form Catalyst infers `isnotnull` on the
    * predicate's inputs and pushes that constraint through every Project
    * to the scan, INLINING the whole boundary pipeline — `codes` is then
    * re-evaluated inside each of the rolling hash's four `element_at`s,
    * O(n²·chars) per document, executed on the pre-repartition scan
    * partition (measured: 78 s vs 3.9 s at sf0.1). `n_chunk_tokens` is
    * non-null by construction, so coalesce only suppresses the inference,
    * never changes a row. The same applies to ANY downstream filter over
    * [[cdcChunks]] output — gate null-safely or materialize first. */
  def cdcDedup(docs: DataFrame, minTokens: Int = 3): DataFrame =
    cdcChunks(docs)
      .filter(coalesce(col("n_chunk_tokens"), lit(0L)) >= minTokens)
      .groupBy("chunk_text")
      .agg(min(col("doc_id")).as("keeper"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)

  /** Greedy fixed-budget sequence packing: each document starts at its
    * source's running token offset, pack id/offset by integer division.
    * The running offset is [[graft.operators.PrefixSum]]'s two-phase
    * distributed form, NOT a per-source running-sum window — the window
    * plan funnels every row of a source through ONE task, which is fatal
    * when one source is the corpus bulk (the r11 verdict's last remaining
    * scale-killer shape). The trade: one narrow per-doc checkpointed
    * projection + two extra small exchanges instead of a serial
    * straggler. */
  def packGreedy(docs: DataFrame, budget: Int): DataFrame = {
    require(budget >= 1, s"packGreedy: budget must be >= 1, got $budget")
    // localCheckpoint: the prefix sum's two passes would each re-split
    // the corpus text; the checkpoint pins one NARROW row per document
    // (the packLayoutFromToks counts-table convention — per-doc rows,
    // never corpus text)
    val perDoc = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tokens"))
      .localCheckpoint(eager = true)
    packOffsets(perDoc, docs, budget)
  }

  /** The packers' shared tail: each per-document (doc_id, source,
    * n_tokens) row of `perDoc` starts at its source's running token
    * offset, and its pack id and in-pack offset follow by integer
    * division. */
  private[llm] def packOffsets(perDoc: DataFrame, docs: DataFrame,
                               budget: Int): DataFrame =
    graft.operators.PrefixSum.cumStart(perDoc, "n_tokens",
        perDoc.select(col("doc_id")),
        graft.operators.PrefixSum.defaultBuckets(docs))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        // integer division, not double-divide-then-truncate: a double loses
        // exactness past 2^53 cumulative tokens — real at corpus scale
        expr(s"cum_start div $budget").as("pack_id"),
        expr(s"cum_start % $budget").as("pack_offset"))

  /** Corpus-wide top-k word trigrams by occurrence (not per-doc distinct).
    * Partial-aggregates map-side, shuffles only (trigram, partial-count)
    * pairs, and the top-k lowers to TakeOrderedAndProject — per-partition
    * heap + driver merge of k rows, no global sort. */
  def trigramTopK(docs: DataFrame, k: Int): DataFrame =
    docs.select(split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(words) - 2), i -> concat_ws(' ', words[i-1], words[i], words[i+1]))"))
        .as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram").asc)
      .limit(k)

  /** Gopher-style repetition / boilerplate signals, one narrow projection
    * per row — duplicate-token and duplicate-bigram counts plus the top
    * single-token occurrence, with the repetitiveness gate decided in EXACT
    * integer cross-multiplication (dup-token fraction > 1/2 OR top-token
    * fraction > 1/5), so no float rounding can diverge between engines.
    * All distinctness is inside the row (`array_distinct`) — no corpus
    * shuffle, scans prune to (doc_id, text). */
  def repetition(docs: DataFrame): DataFrame =
    withRepetitionSignals(docs)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("n_distinct_bigrams"), col("top_token_count"), col("is_repetitive"))

  /** Benchmark decontamination: flag corpus documents sharing word-3-gram
    * shingles with a held-out eval set (here: doc_id ≡ 0 mod `evalMod`,
    * standing in for an external benchmark table). The eval shingle set is
    * tiny by nature and broadcast, so the corpus side stays shuffle-free
    * until the per-doc overlap count (one doc_id-keyed aggregation);
    * per-doc shingle distinctness is inside the row via [[Dedup.shingles]].
    * Output = contamination report: only docs with ≥ 1 shared shingle,
    * `is_contaminated` once `minOverlap` distinct shingles are shared. */
  def decontaminate(docs: DataFrame, evalMod: Long = 101L, minOverlap: Int = 2): DataFrame = {
    val sh = Dedup.shingles(Dedup.tokenized(docs))
    val evalSh = sh.filter(col("doc_id") % evalMod === 0)
      .select(col("shingle")).distinct()
    sh.filter(col("doc_id") % evalMod =!= 0)
      .join(broadcast(evalSh), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("is_contaminated", col("n_overlap") >= minOverlap)
  }

  /** End-to-end curation decision: the full keep/drop gate a training-data
    * pipeline applies per document, with the reason flags exposed —
    * language-ID agreement, quality threshold, repetition gate,
    * decontamination, and exact-dup keeper election.
    *
    * Shape at scale: every per-row gate stacks into ONE collapsed
    * projection over a single corpus pass (the signal builders add columns,
    * they never join); contamination is a broadcast left-join against the
    * tiny eval-overlap list; keeper election windows over
    * `xxhash64(text)` so the one real shuffle carries an 8-byte partition
    * key instead of document text (same groups as text up to a ~2⁻⁶⁴
    * collision — the [[Dedup.exactByHash]] argument; the oracle stays
    * text-keyed). Eval docs themselves (doc_id ≡ 0 mod 101) are the
    * benchmark, not trainable — excluded from the report. */
  def curate(docs: DataFrame, qualityThreshold: Double = 0.45,
             evalMod: Long = 101L): DataFrame =
    curateWith(docs, qualityThreshold, evalMod)(
      _.withColumn("is_keeper", col("doc_id") ===
        min(col("doc_id")).over(Window.partitionBy(xxhash64(col("text"))))))

  /** The body [[curate]] and [[curateNearDupFromClusters]] share: eval
    * holdout, the per-row signals and gates, the broadcast contamination
    * left-join, then `keeper` (which adds `is_keeper` — the only step the
    * two differ in), the `keep` conjunction and the report columns. */
  private def curateWith(docs: DataFrame, qualityThreshold: Double, evalMod: Long)(
      keeper: DataFrame => DataFrame): DataFrame = {
    val sig = signals(docs.filter(col("doc_id") % evalMod =!= 0))
    val contaminated = decontaminate(docs, evalMod).filter(col("is_contaminated"))
      .select(col("doc_id"), lit(true).as("contam"))
    keeper(withGateColumns(sig.join(broadcast(contaminated), Seq("doc_id"), "left_outer"),
        qualityThreshold)
      .withColumn("not_contaminated", coalesce(!col("contam"), lit(true))))
      .withColumn("keep", col("lang_ok") && col("quality_ok") && col("not_repetitive") &&
        col("not_contaminated") && col("is_keeper"))
      .select(col("doc_id"), col("lang_ok"), col("quality_ok"), col("not_repetitive"),
        col("not_contaminated"), col("is_keeper"), col("keep"))
  }

  /** [[curate]] with the dedup stage upgraded from exact-copy keeper
    * election to NEAR-DUP cluster keeper election over a provided cluster
    * labeling — the fused curation decision a real pipeline runs, where
    * "duplicate" means MinHash-verified near-duplicate, not just byte
    * equality. `clusters` is (doc_id, cluster): pass the stored dedup
    * artifact's labels ([[Dedup.storedClusters]] — the production form:
    * gates + ONE label join, nothing re-shingles inside the curation run)
    * or [[Dedup.dedupClusters]] recomputed (the oracle-checked twin;
    * spec-asserted hash-equal). The keeper is the cluster's min doc_id
    * among NON-eval members, so a benchmark doc can never absorb its
    * trainable near-duplicates. Exact copies have Jaccard 1, so near-dup
    * clusters subsume exact groups — this gate is strictly stronger than
    * [[curate]]'s `is_keeper`.
    *
    * Scale shape: the per-row gates stay one collapsed projection;
    * contamination stays a broadcast left-join; the additions are one
    * doc_id-keyed equi-join against the label table and one label-keyed
    * keeper agg + join — all pair/cluster-table-scale or one corpus-keyed
    * hash join, never a window over corpus text. */
  def curateNearDupFromClusters(docs: DataFrame, clusters: DataFrame,
                                qualityThreshold: Double = 0.45,
                                evalMod: Long = 101L): DataFrame = {
    // LEFT join + singleton coalesce, never an inner join on the label
    // table: a stored artifact is a snapshot, so documents ingested after
    // its build have no label row — an inner join would silently ERASE
    // every fresh document from the curation report (review-caught). A
    // label-less doc keeps its own id as its cluster (clustersFromPairs'
    // singleton convention), i.e. it is its own keeper until the next
    // artifact append labels it; for a fresh artifact the coalesce is a
    // no-op and the oracle is unchanged.
    val labels = docs.select(col("doc_id")).filter(col("doc_id") % evalMod =!= 0)
      .join(clusters, Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val keepers = labels
      .groupBy(col("cluster")).agg(min(col("doc_id")).as("nd_keeper"))
    curateWith(docs, qualityThreshold, evalMod)(
      _.join(labels, "doc_id").join(keepers, "cluster")
        .withColumn("is_keeper", col("doc_id") === col("nd_keeper")))
  }

  /** Curation-funnel attribution: the per-stage removal waterfall of the
    * [[curate]] gate chain in its production order — eval-holdout → lang
    * → quality → repetition → contamination → exact-dup keeper election.
    * One row per stage: `(stage_idx, stage, n_in, n_removed, n_remaining,
    * removal_ppm)`, where a document is charged to the FIRST stage that
    * rejects it (waterfall semantics, so the stage counts tile the corpus
    * and `n_remaining` of the last row is exactly `count(keep)`). This is
    * the audit artifact a pipeline owner reads before touching a
    * threshold: which gate is actually spending the data budget.
    *
    * Scale shape: the per-doc gate bits are [[curate]] unchanged; the
    * attribution is ONE global conditional-sum aggregate over them (no
    * new shuffle beyond curate's own) and the waterfall is a 6-row stack
    * of that single aggregate row. removal_ppm is exact BIGINT division. */
  def curationFunnel(docs: DataFrame, qualityThreshold: Double = 0.45,
                     evalMod: Long = 101L): DataFrame = {
    val g = curate(docs, qualityThreshold, evalMod)
    val total = docs.agg(count(lit(1)).as("n_total"))
    def surv(cs: Column*): Column = cs.reduce(_ && _)
    // Each sum is coalesced: over ZERO rows (every doc eval-held-out, or
    // an empty corpus) sum() is NULL despite the per-row otherwise(0L),
    // which would poison the n_in/n_removed arithmetic below — the oracle
    // wraps the same sums in coalesce(..., 0).
    def rsum(c: Column): Column =
      coalesce(sum(when(c, lit(1L)).otherwise(lit(0L))), lit(0L))
    g.agg(
        count(lit(1)).as("n_base"),
        rsum(!col("lang_ok")).as("r_lang"),
        rsum(surv(col("lang_ok")) && !col("quality_ok")).as("r_quality"),
        rsum(surv(col("lang_ok"), col("quality_ok")) && !col("not_repetitive"))
          .as("r_rep"),
        rsum(surv(col("lang_ok"), col("quality_ok"), col("not_repetitive"))
          && !col("not_contaminated")).as("r_contam"),
        rsum(surv(col("lang_ok"), col("quality_ok"), col("not_repetitive"),
          col("not_contaminated")) && !col("is_keeper")).as("r_dup"))
      .crossJoin(total)
      .select(expr(
        """stack(6,
          |  0, 'eval_holdout', n_total, n_total - n_base,
          |  1, 'lang', n_base, r_lang,
          |  2, 'quality', n_base - r_lang, r_quality,
          |  3, 'repetition', n_base - r_lang - r_quality, r_rep,
          |  4, 'contamination', n_base - r_lang - r_quality - r_rep, r_contam,
          |  5, 'dedup', n_base - r_lang - r_quality - r_rep - r_contam, r_dup
          |) AS (stage_idx, stage, n_in, n_removed)""".stripMargin))
      .withColumn("n_remaining", col("n_in") - col("n_removed"))
      .withColumn("removal_ppm", when(col("n_in") > 0,
        expr("(n_removed * CAST(1000000 AS BIGINT)) div n_in"))
        .otherwise(lit(0L)))
  }

  /** Streaming twin of [[curate]] for a document STREAM (columns: `ts`,
    * `doc_id`, `text`, `lang`): the language/quality/repetition gates are
    * stateless per-row projections, so the exact same column builders run
    * unchanged on a streaming frame; exact-dup keeping becomes
    * first-arrival-wins via `dropDuplicatesWithinWatermark` over the
    * 8-byte content hash (state = one entry per distinct doc within the
    * watermark horizon — bounded, the batch keeper-election semantics
    * shifted from min-doc_id to arrival order, as a stream must).
    * Decontamination and cross-corpus keeper election need corpus-wide
    * state and stay batch-side (or a stream-static join against a
    * precomputed eval-shingle table — same shape as the CDR dims); the
    * eval-doc EXCLUSION is stateless though, so benchmark docs are
    * filtered here exactly as in batch — a stream must never emit a
    * held-out doc with keep=true. */
  def streamingCurate(docStream: DataFrame, delay: String,
                      qualityThreshold: Double = 0.45,
                      evalMod: Long = 101L): DataFrame =
    withGateColumns(signals(docStream.filter(col("doc_id") % evalMod =!= 0)),
        qualityThreshold)
      .withColumn("content_hash", xxhash64(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("ts"), col("doc_id"), col("lang_ok"), col("quality_ok"),
        col("not_repetitive"),
        (col("lang_ok") && col("quality_ok") && col("not_repetitive")).as("keep"))

  /** Corpus-trained bigram language-model score — the classic LM-based
    * quality gate (C4/CCNet run a KenLM perplexity filter; this is that
    * component's engine shape with exact arithmetic): P(w_i | w_{i-1}) is
    * estimated from the corpus's own bigram/prefix counts and each
    * document is scored by its mean transition probability. Probabilities
    * are snapped to integer micro-units BEFORE the per-doc mean (the count
    * ratio divides exactly the same on both engines; integer sums are
    * order-independent — the [[Similarity.labelCentroids]] trick), so the
    * result hash-matches DuckDB regardless of partial-aggregation order.
    * Deliberately log-free: `ln` is libm-dependent (not IEEE
    * correctly-rounded), and mean transition probability ranks documents
    * the same direction a mean log-prob does for gating.
    *
    * Scale shape: one in-row bigram explode, two map-side-combining count
    * aggregations (the bigram table holds only OBSERVED bigrams — corpus-
    * bounded, never vocab²), two hash joins back on the bigram/prefix key,
    * one per-doc rollup. At 100 TB, key the count tables on
    * xxhash64(w1, w2) / xxhash64(w1) (the [[Dedup.exactByHash]] argument)
    * and train the counts on a corpus sample — the estimator is a count
    * ratio, which uniform subsampling preserves in expectation. */
  def bigramLm(docs: DataFrame): DataFrame = {
    val bg = Dedup.tokenized(docs)
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(words) - 1), i -> struct(words[i-1] AS w1, words[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("n1"))
    // the mean stays in INTEGER micro-units end-to-end: a double mean
    // re-rounded to 6 dp can land on a decimal half (observed: sum 378378
    // over 12 transitions → 0.0315315) where Spark's BigDecimal HALF_UP
    // and DuckDB's double rounding disagree by one micro. round(sum/n) of
    // the same correctly-rounded quotient is tie-stable on both engines
    // (exact .5 halves round away from zero in each), and a BIGINT output
    // cannot drift in display either.
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(round(col("n2") * 1e6 / col("n1")).cast("long")).cast("double")
          / count(lit(1))).cast("long").as("mean_bigram_p_micro"))
  }

  /** CCNet-style language-model quality bucketing (Wenzek et al. 2019,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): per language, rank documents by LM quality and split into
    * head / middle / tail thirds — the standard corpus-quality
    * stratification downstream mixers consume. The score is
    * [[bigramLm]]'s mean transition probability in integer micro-units
    * (HIGHER = more corpus-typical, playing lower-perplexity's role —
    * the same log-free direction argument). Thirds are exact integer
    * boundaries (rn·3 vs n), never ntile, so both engines cut
    * identically; ties break on doc_id.
    *
    * Scale shape: bigramLm's two count joins + one per-doc rollup, then
    * one window per language partition. At 100 TB the per-lang rank
    * becomes two quantile cuts from [[qualityPercentiles]]' machinery —
    * selection semantics, not engine limits (the DSIR keep note). */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("mean_bigram_p_micro").desc, col("doc_id").asc)
    val wc = Window.partitionBy("lang")
    bigramLm(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .withColumn("ppl_bucket",
        when(col("rn") * 3 <= col("n"), "head")
          .when(col("rn") * 3 <= col("n") * 2, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"),
        col("mean_bigram_p_micro").as("lm_micro"), col("ppl_bucket"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw-pool
    * document by how target-like its hashed-bigram distribution is —
    * importance = Π_b (p_target(b)/p_raw(b))^{n_b(doc)} over hashed bigram
    * buckets with add-1 smoothing — then keep the `perLang` highest-scoring
    * docs per raw-pool language. Here the target distribution is the
    * corpus's `targetLang` slice and the raw pool is everything else.
    *
    * Deliberately log-free (the [[bigramLm]] argument): each bucket's
    * smoothed probability RATIO is snapped to integer micro-units, and a
    * document scores the MEAN ratio over its bigram occurrences — ranking
    * documents the same direction the paper's mean log-ratio does, in
    * arithmetic both engines reproduce bit-for-bit. Docs with < 2 tokens
    * have no bigrams and drop out (the bigramLm convention).
    *
    * Scale shape: the bucket-count table is `nBuckets` rows (broadcast
    * everywhere it's used); totals ride a 1-row broadcast cross join, never
    * a driver action; the per-doc rollup is one map-side-combining
    * aggregation. The bigram→bucket map here is the ORACLE path (dense ids
    * from [[Dedup.vocab]], reproducible as a dense_rank in SQL);
    * [[dsirSampleHashed]] is the production twin — `xxhash64(bigram) %
    * nBuckets`, no vocabulary, no corpus-wide distinct, which is exactly
    * the paper's hashed-n-gram construction. The per-language keep rank is
    * a window over scored raw-pool docs; at 100 TB production replaces the
    * exact rank with a score-threshold cut (quantile from
    * [[qualityPercentiles]]' machinery) so no global sort is needed —
    * selection semantics, not engine limits. */
  def dsirSample(docs: DataFrame, nBuckets: Int = 64, perLang: Int = 25,
                 targetLang: String = "en"): DataFrame = {
    val bg = bigramsOf(docs)
    // vocab() wants a `words` array column; a 1-element array makes each
    // bigram its own token, so ids are dense ranks over distinct bigrams
    val bgv = Dedup.vocab(bg.select(array(col("bg")).as("words")))
    dsirFrom(bg.join(bgv, bg("bg") === bgv("token"))
        .select(col("doc_id"), col("lang"), (col("tid") % nBuckets).as("bucket")),
      nBuckets, perLang, targetLang)
  }

  /** [[dsirSample]] over `xxhash64(bigram) % nBuckets` — the paper's actual
    * hashed-n-gram bucketing and the unbounded-vocabulary path: no vocab
    * table, no distinct, no broadcast beyond the nBuckets-row count table.
    * Engine-specific hash ⇒ no DuckDB oracle; the target-vs-raw ranking
    * property is spec-asserted instead. */
  def dsirSampleHashed(docs: DataFrame, nBuckets: Int = 64, perLang: Int = 25,
                       targetLang: String = "en"): DataFrame =
    dsirFrom(bigramsOf(docs)
        .select(col("doc_id"), col("lang"), pmod(xxhash64(col("bg")), lit(nBuckets)).as("bucket")),
      nBuckets, perLang, targetLang)

  /** Materialize the production (hashed-bucket) DSIR ratio table — the
    * [[Dedup.writeNearDupIndex]] pattern for importance scoring: the
    * target/raw corpus is scanned ONCE to build an nBuckets-row parquet
    * table; afterwards any batch (or ingest micro-batch) scores against it
    * with one broadcast join, never re-reading the corpus. */
  def writeDsirRatios(docs: DataFrame, path: String, nBuckets: Int = 64,
                      targetLang: String = "en"): Unit =
    dsirRatiosOf(
      bigramsOf(docs).select(col("lang"),
        pmod(xxhash64(col("bg")), lit(nBuckets)).as("bucket")),
      nBuckets, targetLang)
      .write.mode("overwrite").parquet(path)

  /** Score any (doc_id, text) frame against a stored ratio table: mean
    * bucket ratio in micro-units, same arithmetic as [[dsirSampleHashed]] —
    * scoring a raw-pool doc against ratios written from the same corpus
    * returns the identical imp_micro (spec-asserted). Lang-free: importance
    * is a function of the text's bigram distribution alone. */
  def dsirScoreAgainstRatios(docs: DataFrame, path: String,
                             nBuckets: Int = 64): DataFrame =
    dsirScoreOf(
      bigramsOf(docs, Seq("doc_id")).select(col("doc_id"),
        pmod(xxhash64(col("bg")), lit(nBuckets)).as("bucket")),
      docs.sparkSession.read.parquet(path))

  private def bigramsOf(docs: DataFrame,
                        keep: Seq[String] = Seq("doc_id", "lang")): DataFrame =
    docs.select(keep.map(col) :+ split(col("text"), " ").as("words"): _*)
      .filter(size(col("words")) >= 2)
      .select(keep.map(col) :+ explode(expr(
        "transform(sequence(1, size(words) - 1), i -> concat(words[i-1], ' ', words[i]))")).as("bg"): _*)

  /** The nBuckets-row smoothed ratio table from a bucketed occurrence
    * stream (bucket, lang): ((tb+1) · 1e6 · (S+B)) / (sb+1) / (T+B),
    * associated left-to-right so both engines round the identical double.
    * ALL nBuckets rows are emitted, not just buckets the training corpus
    * happened to hit: add-1 smoothing gives an unseen bucket the finite
    * default ratio (1·(S+B))/(1·(T+B)), so a later doc whose bigrams hash
    * to a bucket the corpus never produced still contributes that smoothed
    * ratio to its mean instead of silently dropping out of the score (and
    * a doc whose bigrams ALL land on unseen buckets still gets a score,
    * keeping the ingest gate honest). */
  private def dsirRatiosOf(occ: DataFrame, nBuckets: Int,
                           targetLang: String): DataFrame = {
    val isTarget = col("lang") === targetLang
    val bcounts = occ.groupBy("bucket").agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("tb"),
      sum(when(!isTarget, 1L).otherwise(0L)).as("sb"))
    val totals = occ.agg(
      coalesce(sum(when(isTarget, 1L).otherwise(0L)), lit(0L)).as("ttot"),
      coalesce(sum(when(!isTarget, 1L).otherwise(0L)), lit(0L)).as("stot"))
    occ.sparkSession.range(nBuckets).select(col("id").as("bucket"))
      .join(bcounts, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("tb", "sb"))
      .crossJoin(broadcast(totals))
      .withColumn("ratio_micro",
        round((col("tb") + lit(1)) * lit(1000000.0) * (col("stot") + lit(nBuckets))
          / (col("sb") + lit(1)) / (col("ttot") + lit(nBuckets))).cast("long"))
      .select("bucket", "ratio_micro")
  }

  /** Mean stored-ratio score per doc — the scoring half of [[dsirSample]]
    * against any precomputed ratio table (bucket, ratio_micro). Shared by
    * the batch path and the streaming ingest gate. */
  private[graft] def dsirScoreOf(occ: DataFrame, ratios: DataFrame): DataFrame =
    occ.join(broadcast(ratios), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("ratio_micro")).cast("double") / count(lit(1)))
          .cast("long").as("imp_micro"))

  private def dsirFrom(occ: DataFrame, nBuckets: Int, perLang: Int,
                       targetLang: String): DataFrame = {
    val isTarget = col("lang") === targetLang
    val ratios = dsirRatiosOf(occ, nBuckets, targetLang)
    val w = Window.partitionBy("lang")
      .orderBy(col("imp_micro").desc, col("doc_id").asc)
    occ.filter(!isTarget)
      .join(broadcast(ratios), "bucket")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("ratio_micro")).cast("double") / count(lit(1)))
          .cast("long").as("imp_micro"))
      .withColumn("dsir_keep", row_number().over(w) <= perLang)
      .select("doc_id", "lang", "n_bigrams", "imp_micro", "dsir_keep")
  }

  /** Gopher-style composite document-quality rules (Rae et al. 2021,
    * "Scaling Language Models", Table A1 — the rule FAMILY, with the word
    * bounds parameterized): per-document structural gates that kill the
    * pathological shapes a weighted score can average away. Every rule is
    * integer arithmetic — ratio thresholds compare via cross-
    * multiplication (`10 * n_alpha >= 8 * n_words`, never a double
    * division), so the booleans are bit-identical on any engine and the
    * whole thing is one codegen'd per-row projection: no shuffle, no UDF,
    * scans prune to (doc_id, text).
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [minMeanLen, maxMeanLen] (chars-per-word, bounds integral so the
    * compare is exact); symbol-to-word ratio < 1/10 (`#` + non-overlapping
    * `...` occurrences); ≥ 8/10 of words contain an alphabetic character;
    * ≥ minStopHits distinct stopwords present (the corpus marker set). */
  def gopherRules(docs: DataFrame, minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Int = 3, maxMeanLen: Int = 10,
                  minStopHits: Int = 2): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("n_chars", length(replace(col("text"), lit(" "), lit(""))))
      .withColumn("n_symbols",
        regexp_count(col("text"), lit("#")) + regexp_count(col("text"), lit("\\.\\.\\.")))
      .withColumn("n_alpha", expr("size(filter(words, w -> w rlike '[A-Za-z]'))"))
      .withColumn("n_stop", expr(
        s"size(filter(array$enStops, st -> array_contains(words, st)))"))
      .withColumn("wc_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("mwl_ok",
        col("n_chars") >= col("n_words") * minMeanLen &&
          col("n_chars") <= col("n_words") * maxMeanLen)
      .withColumn("sym_ok", col("n_symbols") * 10 < col("n_words"))
      .withColumn("alpha_ok", col("n_alpha") * 10 >= col("n_words") * 8)
      .withColumn("stop_ok", col("n_stop") >= minStopHits)
      .withColumn("gopher_ok",
        col("wc_ok") && col("mwl_ok") && col("sym_ok") &&
          col("alpha_ok") && col("stop_ok"))
      .select(col("doc_id"), col("n_words"), col("wc_ok"), col("mwl_ok"),
        col("sym_ok"), col("alpha_ok"), col("stop_ok"), col("gopher_ok"))

  /** fastText-style quality classifier (Joulin et al. 2017, "Bag of
    * Tricks for Efficient Text Classification" — the linear
    * bag-of-features model; the GPT-3 / DCLM curation recipe: train on a
    * curated-vs-crawl seed, score the pool, keep high scorers). The seed
    * labeling is metadata-only — `source ∈ posSources` is "curated" —
    * exactly how the production recipe bootstraps labels without human
    * annotation.
    *
    * The model is the Naive-Bayes member of the linear family: each
    * word's weight is its add-1-smoothed positive-class posterior
    * snapped to integer micro-units, `round(1e6·(n_pos+1)/(n_pos+n_neg+2))`,
    * and a document scores the MEAN weight over its token occurrences —
    * a mean posterior vote. Deliberately log-free (the [[bigramLm]]
    * argument: `ln` is libm-dependent; the mean vote ranks documents the
    * same direction the mean log-odds does), and the per-word weight is
    * snapped to integer micros BEFORE the mean so partial-aggregation
    * order can't move the sum. `quality_pred` is the ≥ `threshMicro`
    * gate (500000 micro = the smoothed coin-flip posterior — exactly the
    * weight an unseen word would get, so the threshold is prior-neutral).
    *
    * Scale shape: training is one map-side-combining count aggregation
    * over (word, label) — the weight table holds only OBSERVED words,
    * corpus-bounded like [[bigramLm]]'s count tables; scoring is one hash
    * join back on the word key + one per-doc rollup. This word-keyed form
    * is the ORACLE path (reproducible in SQL); [[nbClassifyHashed]] is
    * the production twin — `xxhash64(word) % nFeat` buckets, a FIXED
    * nFeat-row weight table that broadcasts everywhere (fastText's actual
    * hashing-trick feature space), with [[writeNbWeights]] /
    * [[nbScoreAgainstWeights]] the train-once-score-forever split the
    * ingest gate consumes ([[dsirSampleHashed]]'s stored-table pattern). */
  def nbClassify(docs: DataFrame, posSources: Seq[String] = Seq("src0", "src1"),
                 threshMicro: Long = 500000L): DataFrame = {
    val tok = Dedup.tokenized(docs)
      .select(col("doc_id"), explode(col("words")).as("word"))
    val lab = docs.select(col("doc_id"), col("source").isin(posSources: _*).as("pos"))
    scoreTokens(tok, weightsOf(tok.join(lab, "doc_id"), col("word")), threshMicro)
  }

  /** Accent chars the synthetic twin injects — one source of truth for
    * both engines' synthesis and the mark count. */
  private val AccFrom = "aeiou"
  private val AccTo = "\u00e1\u00e9\u00ed\u00f3\u00fa" // áéíóú precomposed

  /** Unicode accent normalization — the fold every multilingual pipeline
    * runs before hashing/matching so "café" and "cafe" collide. The
    * fixture text is pure ASCII, so (the [[UrlCuration.urlTable]]
    * convention) a deterministic accented TWIN is synthesized — every
    * doc_id % 3 == 1 document gets its vowels precomposed-accented via
    * `translate` — and the operator normalizes it back with the codegen'd
    * [[graft.functions.StripAccents]] kernel (NFD + drop combining marks,
    * DuckDB `strip_accents` parity). `roundtrip` pins the algebra: strip
    * after inject must reproduce the original text, and `n_accented`
    * counts exactly the injected chars. Per-row projection, no shuffle. */
  def normalizeUnicode(docs: DataFrame): DataFrame = {
    val accented = when(col("doc_id") % 3 === 1,
      translate(col("text"), AccFrom, AccTo)).otherwise(col("text"))
    docs.select(col("doc_id"), accented.as("accented"))
      .withColumn("normalized",
        graft.functions.UnicodeFunctions.stripAccents(col("accented")))
      .withColumn("n_accented",
        (length(col("accented")) -
          length(translate(col("accented"), AccTo, ""))).cast("long"))
      .select(col("doc_id"), col("n_accented"), col("normalized"))
  }

  /** Reliability-diagram calibration of the NB gate ([[nbClassify]]):
    * scores binned at `binMicro` width, each bin reporting its size, its
    * mean predicted score, and the EMPIRICAL positive rate — the check
    * every deployed quality classifier needs before its threshold is
    * trusted (a gate can rank well and still be miscalibrated, and the
    * fix — threshold shift vs re-train — depends on the diagram's shape).
    * Integer-exact: bin ids by truncating division, the positive rate in
    * micro units by integer cross-multiplication, the mean score via the
    * shared round(sum/n) convention. One extra aggregation over the
    * scored table — at 100 TB the diagram is B rows, the cheapest eval
    * in the family. Default width 2000 micro resolves the NB gate's
    * actual score spread (the smoothed mean posterior concentrates near
    * the base rate — fixture range ~105k-117k micro, 7 bins); a
    * coarser width would collapse the diagram to one bar. */
  def calibration(docs: DataFrame, binMicro: Long = 2000L,
                  posSources: Seq[String] = Seq("src0", "src1")): DataFrame = {
    require(binMicro >= 1, s"calibration: binMicro must be >= 1, got $binMicro")
    nbClassify(docs, posSources)
      .join(docs.select(col("doc_id"),
        col("source").isin(posSources: _*).cast("long").as("is_pos")), "doc_id")
      .withColumn("bin", expr(s"nb_micro div $binMicro"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("is_pos")).as("n_pos"),
        round(sum(col("nb_micro")).cast("double") / count(lit(1)))
          .cast("long").as("mean_score_micro"))
      .withColumn("pos_rate_micro", expr("n_pos * 1000000 div n"))
  }

  /** [[nbClassify]] over `xxhash64(word) % nFeat` — the hashing trick:
    * vocabulary-free, the weight table is EXACTLY nFeat rows whatever the
    * corpus (broadcast at any scale), at the price of engine-specific
    * hashing (no DuckDB oracle; spec-asserted against the word-keyed
    * form's predictions instead). */
  def nbClassifyHashed(docs: DataFrame, posSources: Seq[String] = Seq("src0", "src1"),
                       nFeat: Int = 1 << 18, threshMicro: Long = 500000L): DataFrame = {
    val tok = Dedup.tokenized(docs)
      .select(col("doc_id"), explode(col("words")).as("w"))
      .select(col("doc_id"), pmod(xxhash64(col("w")), lit(nFeat.toLong)).as("word"))
    val lab = docs.select(col("doc_id"), col("source").isin(posSources: _*).as("pos"))
    scoreTokens(tok, weightsOf(tok.join(lab, "doc_id"), col("word")), threshMicro)
  }

  /** Train once, persist the hashed weight table ([[Dedup.writeNearDupIndex]]
    * pattern): the labeled seed is scanned ONCE; afterwards any batch (or
    * ingest micro-batch) scores with one broadcast join against an
    * ≤ nFeat-row parquet table, never re-reading the seed. */
  def writeNbWeights(docs: DataFrame, path: String,
                     posSources: Seq[String] = Seq("src0", "src1"),
                     nFeat: Int = 1 << 18): Unit = {
    val tok = Dedup.tokenized(docs)
      .select(col("doc_id"), explode(col("words")).as("w"))
      .select(col("doc_id"), pmod(xxhash64(col("w")), lit(nFeat.toLong)).as("word"))
    val lab = docs.select(col("doc_id"), col("source").isin(posSources: _*).as("pos"))
    weightsOf(tok.join(lab, "doc_id"), col("word"))
      .write.mode("overwrite").parquet(path)
  }

  /** Score any (doc_id, text) frame against a stored weight table. A word
    * hashing to a bucket the seed never produced contributes the smoothed
    * coin-flip weight 500000 (the add-1 default `(0+1)/(0+0+2)`), so
    * out-of-vocabulary text still gets a calibrated score instead of
    * silently dropping tokens — the [[dsirRatiosOf]] unseen-bucket
    * argument. Scoring the training corpus against its own stored weights
    * returns [[nbClassifyHashed]]'s exact output (spec-asserted). */
  def nbScoreAgainstWeights(docs: DataFrame, path: String,
                            nFeat: Int = 1 << 18,
                            threshMicro: Long = 500000L): DataFrame = {
    val tok = Dedup.tokenized(docs)
      .select(col("doc_id"), explode(col("words")).as("w"))
      .select(col("doc_id"), pmod(xxhash64(col("w")), lit(nFeat.toLong)).as("word"))
    val stored = docs.sparkSession.read.parquet(path)
    scoreTokens(tok,
      tok.select("word").distinct()
        .join(stored, Seq("word"), "left")
        .select(col("word"), coalesce(col("w_micro"), lit(500000L)).as("w_micro")),
      threshMicro)
  }

  /** The smoothed-posterior weight table from a labeled token stream:
    * (word key, w_micro). `(n_pos+1)·1e6/(n_pos+n_neg+2)` associated
    * left-to-right so both engines round the identical double. */
  private def weightsOf(occ: DataFrame, key: Column): DataFrame =
    occ.groupBy(key.as("word")).agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg"))
      .select(col("word"),
        round((col("n_pos") + lit(1)) * lit(1e6) / (col("n_pos") + col("n_neg") + lit(2)))
          .cast("long").as("w_micro"))

  /** Mean-weight rollup shared by every scoring path: integer micro sum,
    * [[bigramLm]]'s round(sum/n) convention, then the threshold gate. */
  private def scoreTokens(tok: DataFrame, weights: DataFrame,
                          threshMicro: Long): DataFrame =
    tok.join(weights, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("w_micro")).cast("double") / count(lit(1)))
          .cast("long").as("nb_micro"))
      .withColumn("quality_pred", col("nb_micro") >= threshMicro)

  /** BM25 ranked retrieval (Robertson & Zaragoza 2009, "The probabilistic
    * relevance framework: BM25 and beyond") for a fixed query-term set:
    * score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    *
    * Two deliberate deviations for cross-engine hash stability, both
    * rank-preserving per term:
    *   - idf is the RATIONAL Robertson–Spärck-Jones core
    *     (N−df+0.5)/(df+0.5) without the ln(1+·) wrap — ln is
    *     libm-dependent in the last ulp (the [[bigramLm]]/[[tfidfTopK]]
    *     convention), while the quotient is IEEE correctly rounded.
    *   - each per-(doc,term) score snaps to integer MICRO-units before the
    *     per-doc sum, so FP summation order can never flip the hash.
    *   avgdl is folded in exactly: b·dl/avgdl = b·dl·N/total_tokens, no
    *   pre-divided average that would round twice.
    *
    * Scale shape — a term-selective inverted probe, not a corpus scan for
    * scoring: the explode filters to the query's terms BEFORE the
    * (doc,term) aggregation, so the shuffled postings volume is
    * O(matching tokens), not O(corpus tokens); df and the corpus stats
    * (N, total_tokens) are broadcast one-row/|q|-row aggregates. The final
    * row_number window is unpartitioned by construction (global top-k) but
    * runs over the CANDIDATE set only — documents containing ≥1 query
    * term; at 100 TB the candidate set for a keyword query is
    * posting-list-sized. dl comes from one map-side pass fused into the
    * same tokenize scan. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"bm25TopK: k must be >= 1, got $k")
    bm25Scored(docs, queryTerms)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("bm25_micro").desc, col("doc_id").asc)))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("n_match"), col("bm25_micro"), col("rk"))
  }

  /** The candidate-set half of [[bm25TopK]]: every document containing at
    * least one query term, scored — `(doc_id, n_match, bm25_micro)` with
    * `n_match` = number of DISTINCT query terms present. Shared by the
    * top-k ranking and by [[retrievalEval]], which additionally needs the
    * un-truncated candidate set to count relevant documents. */
  private def bm25Scored(docs: DataFrame, queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scored: need at least one query term")
    val tok = Dedup.tokenized(docs).withColumn("dl", size(col("words")))
    val stats = tok.agg(count(lit(1)).as("n_corpus"),
      sum(col("dl").cast("long")).as("total_tokens"))
    val postings = tok
      .select(col("doc_id"), col("dl"), explode(col("words")).as("token"))
      .filter(col("token").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    bm25ScoredFrom(postings, stats)
  }

  /** The scoring arithmetic of [[bm25Scored]] over PREPARED inputs — a
    * (doc_id, dl, token, tf) postings table already filtered to the
    * query's terms, and the one-row corpus stats — so [[retrievalEval]]
    * can feed every evaluation arm from one shared postings build. The
    * df table is derived from the postings themselves (df(token) = #docs
    * carrying token — independent of which query's filter selected the
    * row, so a shared-postings caller computes identical values). */
  private def bm25ScoredFrom(postings: DataFrame, stats: DataFrame): DataFrame = {
    val dfTbl = postings.groupBy("token").agg(count(lit(1)).as("df"))
    def d(c: Column): Column = c.cast("double")
    // k1 = 1.2, b = 0.75 (the canonical defaults), pre-folded as the SAME
    // decimal literals the oracle SQL parses (2.2, 1.2, 0.25, 0.75): a
    // runtime `k1 + 1` can land one ulp off the parsed literal `2.2`.
    // Association mirrors the oracle SQL token for token: every
    // sub-expression is a correctly-rounded double op in the same order.
    val satur = (d(col("tf")) * lit(2.2)) /
      (d(col("tf")) + lit(1.2) * (lit(0.25) +
        lit(0.75) * d(col("dl")) * d(col("n_corpus")) / d(col("total_tokens"))))
    val idf = (d(col("n_corpus")) - d(col("df")) + lit(0.5)) /
      (d(col("df")) + lit(0.5))
    postings
      .join(broadcast(dfTbl), "token")
      .crossJoin(broadcast(stats))
      .withColumn("s_micro", round((idf * satur) * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_match"), sum(col("s_micro")).as("bm25_micro"))
  }

  /** Retrieval-quality evaluation — MRR and nDCG@10 of the [[bm25TopK]]
    * ranking per evaluation query, with deterministic binary relevance:
    * a document is relevant iff it contains EVERY query term (full match,
    * `n_match == |q|`), a label derivable from the corpus itself so the
    * evaluation needs no external judgment file. One output row per query:
    * `(query_id, n_rel, mrr_micro, dcg_micro, idcg_micro, ndcg_ppm)`.
    *
    * Hash-stability: the rank-discount tables are pinned INTEGER literals
    * shared verbatim with the oracle SQL — `mrr_micro(i) = round(10⁶/i)`
    * and the standard log₂ nDCG discount `dcg_w(i) = round(10⁶/log₂(i+1))`
    * precomputed for i = 1..10, so no libm log is evaluated by either
    * engine; `ndcg_ppm` is exact BIGINT division (`div` / DuckDB `//`).
    * IDCG is the cumulative-weight table indexed at `min(n_rel, 10)`.
    *
    * Scale shape: each query costs one term-selective posting probe (the
    * [[bm25Scored]] candidate aggregation — O(matching tokens), never a
    * corpus scan), one candidate-sized row_number window, and a one-row
    * global aggregate; queries are independent and union, so an eval
    * suite of Q queries is Q parallel probes. The window is unpartitioned
    * by construction (a global ranking) but runs over the candidate set
    * only — posting-list-sized at 100 TB, same argument as [[bm25TopK]]. */
  /** Pinned integer rank-discount tables for [[retrievalEval]], 1-based
    * index i = 1..10 — the ONE source both the Spark side and the oracle
    * SQL generator read, so the literals can never drift. Values are
    * round-half-up micros of 1/i (MRR) and 1/log₂(i+1) (nDCG), computed
    * once offline; no runtime transcendental touches them. */
  private[llm] object RetrievalWeights {
    val mrrMicro: Seq[Long] = Seq(1000000L, 500000L, 333333L, 250000L,
      200000L, 166667L, 142857L, 125000L, 111111L, 100000L)
    val dcgMicro: Seq[Long] = Seq(1000000L, 630930L, 500000L, 430677L,
      386853L, 356207L, 333333L, 315465L, 301030L, 289065L)
    /** Cumulative [[dcgMicro]]: ideal DCG for n relevant docs, n = 1..10. */
    val idcgMicro: Seq[Long] = dcgMicro.scanLeft(0L)(_ + _).tail
  }

  def retrievalEval(docs: DataFrame,
                    querySets: Seq[(String, Seq[String])]): DataFrame = {
    require(querySets.nonEmpty, "retrievalEval: need at least one query")
    require(querySets.forall(_._2.nonEmpty),
      "retrievalEval: every query needs at least one term")
    val mrrW = RetrievalWeights.mrrMicro.map(lit(_))
    val dcgW = RetrievalWeights.dcgMicro.map(lit(_))
    val cumW = RetrievalWeights.idcgMicro.map(lit(_))
    // ONE corpus pass feeds every evaluation arm (the annRecallEval
    // checkpoint convention; guide §1.2 — don't compute things twice):
    // postings over the UNION of all queries' terms and the one-row corpus
    // stats are materialized once, and each arm FILTERS the bounded
    // postings table instead of re-running its own tokenize+explode scan —
    // previously every arm paid 2 corpus-sized jobs (its stats aggregate +
    // its postings build) inside the single union action, 2Q scans for Q
    // queries. Checkpointed state is bounded: postings are
    // candidate-set-sized (docs containing ≥1 term of ANY eval query —
    // posting-list-sized at 100 TB), stats is one row. Per-arm values are
    // unchanged: the arm's filter keeps exactly the rows its own build
    // produced, and df(token) counts docs carrying that token regardless
    // of which query's IN-list selected the row.
    val allTerms = querySets.flatMap(_._2).distinct
    val tok = Dedup.tokenized(docs).withColumn("dl", size(col("words")))
    val stats = tok.agg(count(lit(1)).as("n_corpus"),
      sum(col("dl").cast("long")).as("total_tokens"))
      .localCheckpoint(eager = true)
    val postings = tok
      .select(col("doc_id"), col("dl"), explode(col("words")).as("token"))
      .filter(col("token").isInCollection(allTerms))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true)
    val perQuery = querySets.map { case (qid, terms) =>
      val ranked = bm25ScoredFrom(
        postings.filter(col("token").isInCollection(terms)), stats)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("bm25_micro").desc, col("doc_id").asc)))
      val rel = col("n_match") === lit(terms.size)
      val inK = col("rk") <= lit(10)
      val atRk = (w: Seq[Column]) => element_at(array(w: _*), col("rk"))
      ranked
        .agg(
          coalesce(sum(when(rel, lit(1L))), lit(0L)).as("n_rel"),
          coalesce(max(when(rel && inK, atRk(mrrW))), lit(0L)).as("mrr_micro"),
          coalesce(sum(when(rel && inK, atRk(dcgW))), lit(0L)).as("dcg_micro"))
        .withColumn("idcg_micro",
          when(col("n_rel") > 0,
            element_at(array(cumW: _*), least(col("n_rel"), lit(10L)).cast("int")))
            .otherwise(lit(0L)))
        .withColumn("ndcg_ppm",
          when(col("idcg_micro") > 0,
            expr("(dcg_micro * CAST(1000000 AS BIGINT)) div idcg_micro"))
            .otherwise(lit(0L)))
        .select(lit(qid).as("query_id"), col("n_rel"), col("mrr_micro"),
          col("dcg_micro"), col("idcg_micro"), col("ndcg_ppm"))
    }
    perQuery.reduce(_ unionByName _)
  }

  /** Corpus snapshot diff: classify every document as added / removed /
    * changed between two corpus versions by CONTENT HASH, the incremental-
    * ingest primitive (what changed since the last crawl?) that gates
    * re-tokenization and index maintenance downstream. Unchanged documents
    * are not emitted — at 100 TB that is ~all of them, and the diff's
    * output must be delta-sized, not corpus-sized.
    *
    * Both snapshots are derived deterministically from the fixture (there
    * is only one documents table): `old` drops doc_id ≡ 3 (mod 17) — those
    * become `added` — and rewrites text for doc_id ≡ 5 (mod 13) — those
    * become `changed`; `new` drops doc_id ≡ 7 (mod 19) — those become
    * `removed`. The production entry point is [[snapshotDiffOf]].
    *
    * Scale shape (in [[snapshotDiffOf]]): each side is projected to
    * (doc_id, md5(text)) BEFORE the full-outer join, so the shuffle moves
    * 16-byte digests, never document bodies; the join key is doc_id, the
    * natural co-partitioning key of both snapshots (two corpus versions
    * written by the same pipeline share layout, making this a colocated
    * merge at scale). One shuffle total. */
  def snapshotDiff(docs: DataFrame): DataFrame = {
    val oldSnap = docs.filter(col("doc_id") % 17 =!= 3)
      .withColumn("text", when(col("doc_id") % 13 === 5,
        concat(col("text"), lit(" legacy revision"))).otherwise(col("text")))
    val newSnap = docs.filter(col("doc_id") % 19 =!= 7)
    snapshotDiffOf(oldSnap, newSnap)
  }

  /** The production diff: `old` vs `new` corpus versions → delta rows
    * (doc_id, status ∈ added|removed|changed). See [[snapshotDiff]]. */
  def snapshotDiffOf(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("old_h"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("new_h"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_h").isNull, lit("added"))
          .when(col("new_h").isNull, lit("removed"))
          .when(col("old_h") =!= col("new_h"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
  }

  /** Length-bucket batching stats: group documents into power-of-two
    * token-length buckets — the dynamic-batching layout that pads each
    * batch only to its bucket ceiling instead of the corpus max — and
    * report per-bucket document count, real token mass, and the padding
    * waste a bucket-padded batcher would spend. Integer-exact throughout:
    * floor(log2 n) is `length(bin(n)) − 1` (no libm log2), the ceiling is
    * a shiftleft.
    *
    * Scale shape: one map-side-combining groupBy over ~60 distinct bucket
    * keys; the scan prunes to (text) only and the token count is a fused
    * split+size, no explode. */
  def lengthBuckets(docs: DataFrame): DataFrame =
    Dedup.tokenized(docs)
      .select((length(bin(size(col("words")).cast("long"))) - 1)
        .cast("int").as("bucket_log2"), size(col("words")).cast("long").as("n"))
      .groupBy("bucket_log2")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), bucket_log2 + 1)") - col("n"))
          .as("padding_waste"))
      .select(col("bucket_log2"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket_log2)").as("bucket_lo"),
        expr("shiftleft(CAST(1 AS BIGINT), bucket_log2 + 1)").as("bucket_cap"),
        col("n_docs"), col("sum_tokens"), col("padding_waste"))

  /** PMI collocation mining (Church & Hanks 1990, "Word association
    * norms, mutual information, and lexicography"): the top-k adjacent
    * bigrams by pointwise mutual information — P(ab) / (P(a)·P(b)) — the
    * phrase-detection pass (new terms, named entities, tokenizer merge
    * candidates) a corpus pipeline runs before vocabulary decisions.
    *
    * The score is the RATIONAL PMI core without the log wrap (monotone,
    * the [[tfidfTopK]]/[[bigramLm]] argument), expanded to counts in one
    * fixed association — (((10⁶·n_ab)·T1)·T1)/n_a/n_b/T2 — so both
    * engines round the identical double; `minCount` kills the
    * hapax-pair noise PMI is notorious for.
    *
    * Scale shape: one explode for unigram counts, one in-row transform +
    * explode for bigram counts (both map-side-combining aggregations);
    * unigram counts join the bigram table twice — broadcast under a real
    * vocabulary, the [[Dedup.vocab]] shuffled-join escape hatch for raw
    * web-scale token sets; totals are broadcast 1-row aggregates; top-k
    * ranks only rows past `minCount`. */
  def pmiTopK(docs: DataFrame, minCount: Long, k: Int): DataFrame = {
    require(k >= 1 && minCount >= 1, s"pmiTopK: k, minCount >= 1")
    val tok = Dedup.tokenized(docs)
    val uni = tok.select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val bg = tok.filter(size(col("words")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(words) - 1), i -> struct(words[i-1] AS w1, words[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val totals = uni.agg(sum(col("n")).as("t1"))
      .crossJoin(bg.agg(sum(col("n_ab")).as("t2")))
    bg.filter(col("n_ab") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("n").as("n_a"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("n").as("n_b"))), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_micro",
        round(lit(1e6) * col("n_ab") * col("t1") * col("t1")
          / col("n_a") / col("n_b") / col("t2")).cast("long"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("pmi_micro").desc, col("w1").asc, col("w2").asc)))
      .filter(col("rk") <= k)
      .select(col("w1"), col("w2"), col("n_ab"), col("pmi_micro"), col("rk"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    * SIGIR'09: RRF(d) = Σ_lists 1/(60 + rank_d)): fuse the [[bm25TopK]]
    * keyword ranking with the dense cosine ranking against query vector
    * 0 ([[Similarity.bruteForceTopK]] — `vec_id` is the fixture's
    * `doc_id`). RRF is the standard production fusion precisely because
    * it needs NO score calibration between lists — only ranks — which
    * also makes it hash-exact: each 1/(60+rk) term snaps to integer
    * micros before the sum, a document missing from one list contributes
    * 0 from it.
    *
    * Scale shape: both legs are the already-audited operators; fusion
    * adds one full-outer join on doc_id over two ≤candidate-sized rank
    * lists and a top-k over their union. */
  def hybridSearch(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
                   k: Int, depth: Int = 1000): DataFrame = {
    val bm = bm25TopK(docs, queryTerms, depth)
      .select(col("doc_id"), col("rk").as("rk_bm"))
    val an = Similarity.bruteForceTopK(emb, 1, depth)
      .select(col("neighbor_id").as("doc_id"), col("rk").as("rk_ann"))
    bm.join(an, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(round(lit(1e6) / (lit(60) + col("rk_bm"))).cast("long"), lit(0L)) +
          coalesce(round(lit(1e6) / (lit(60) + col("rk_ann"))).cast("long"), lit(0L)))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rrf_micro").desc, col("doc_id").asc)))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk_bm"), col("rk_ann"), col("rrf_micro"), col("rk"))
  }

  /** Tokenizer-fertility audit per language: subword tokens per whitespace
    * word and bytes per subword token — THE metric that sizes a language's
    * effective share of a token budget before training (a script the
    * tokenizer fragments pays 2-4× more tokens for the same text, so a
    * byte-balanced mixture is silently token-skewed). Subword stand-in is
    * the [[tokenCounts]] BPE-ish regex; ratios snap to exact integer ppm
    * via BIGINT floor division, zero-token groups yield NULL rather than a
    * division error.
    *
    * Scale shape: one codegen'd per-row projection (two regexp counts, a
    * byte length), one map-side-combining groupBy over ≤|langs| keys —
    * no join, no second pass; scans prune to (lang, text). */
  def fertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        regexp_count(col("text"), lit(bpeish)).as("re"),
        octet_length(col("text")).cast("long").as("b"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("re")).as("re_tokens"),
        sum(col("b")).as("n_bytes"))
      .withColumn("fertility_ppm",
        when(col("ws_tokens") > 0, expr("(re_tokens * 1000000) div ws_tokens")))
      .withColumn("bytes_per_token_ppm",
        when(col("re_tokens") > 0, expr("(n_bytes * 1000000) div re_tokens")))

  /** Data-constrained epoch planning (the Muennighoff-style "how many
    * repeats per source" step): given a token budget of `budgetFactor` ×
    * the corpus size split uniformly across sources, compute per source
    * the needed tokens, the repeat (epoch) count capped at `maxEpochs`,
    * the allocated tokens, and the unfillable deficit. Everything is
    * exact BIGINT arithmetic (ceil division by cross-multiplication), so
    * the plan is reproducible across engines and cluster sizes.
    *
    * Scale shape: one map-side-combining per-source token sum over a
    * pruned (source, text) scan; the corpus-total is a 1-row aggregate
    * cross-joined back broadcast — the plan itself is |sources| rows. */
  def epochPlan(docs: DataFrame, budgetFactor: Long = 3L,
                maxEpochs: Long = 5L): DataFrame = {
    require(budgetFactor >= 1 && maxEpochs >= 1,
      s"epochPlan: factor/epochs must be >= 1, got $budgetFactor/$maxEpochs")
    val avail = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("source").agg(sum(col("t")).as("tokens_avail"))
    val tot = avail.agg(sum(col("tokens_avail")).as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    avail.crossJoin(broadcast(tot))
      .withColumn("tokens_needed",
        expr(s"(corpus_tokens * $budgetFactor) div n_sources"))
      .withColumn("epochs", least(
        expr("(tokens_needed + tokens_avail - 1) div tokens_avail"),
        lit(maxEpochs)))
      .withColumn("tokens_allocated",
        least(col("tokens_needed"), col("tokens_avail") * maxEpochs))
      .withColumn("deficit", col("tokens_needed") - col("tokens_allocated"))
      .select(col("source"), col("tokens_avail"), col("tokens_needed"),
        col("epochs"), col("tokens_allocated"), col("deficit"))
  }

  /** Per-document n-gram novelty (Lee et al. 2022's memorization-risk
    * signal): the fraction of a document's word-`n`-gram POSITIONS whose
    * n-gram also occurs in at least one OTHER document. Positions, not
    * distinct grams — a doc that is 90% boilerplate by length scores 90%
    * duplicated even if the boilerplate is one repeated gram. Docs shorter
    * than `n` words carry n_ngrams = 0 and a NULL ppm (no evidence), kept
    * via the left join so the report covers the whole corpus.
    *
    * Scale shape: gram generation is an in-row `transform` (no window);
    * doc-frequency is distinct-(doc,gram) → gram-keyed count (both
    * partial-agg'd); the join back is gram-keyed — hot boilerplate grams
    * are skewed join keys, which AQE skew-split handles, and the
    * [[ngramNoveltyHashed]] twin carries 8-byte xxhash64 keys instead of
    * gram strings (spec-pinned identical on the fixture). */
  def ngramNovelty(docs: DataFrame, n: Int = 4): DataFrame = {
    require(n >= 2, s"ngramNovelty: n must be >= 2, got $n")
    ngramNoveltyOf(docs, gramsOf(docs, n, col("gram")))
  }

  /** [[ngramNovelty]] with 8-byte hashed gram keys — the 100 TB form (the
    * shuffled df table and join keys shrink from ~n-word strings to one
    * long; identical output up to a ~2⁻⁶⁴ collision, the
    * [[Dedup.exactByHash]] argument). */
  def ngramNoveltyHashed(docs: DataFrame, n: Int = 4): DataFrame = {
    require(n >= 2, s"ngramNovelty: n must be >= 2, got $n")
    ngramNoveltyOf(docs, gramsOf(docs, n, xxhash64(col("gram"))))
  }

  /** (doc_id, gram) at every position, gram projected through `key`. */
  private def gramsOf(docs: DataFrame, n: Int, key: Column): DataFrame =
    Dedup.tokenized(docs)
      .filter(size(col("words")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(words) - ${n - 1}), i -> concat_ws(' ', slice(words, i, $n)))"))
        .as("gram"))
      .select(col("doc_id"), key.as("gram"))

  private def ngramNoveltyOf(docs: DataFrame, grams: DataFrame): DataFrame = {
    val df = grams.distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
    val per = grams.join(df, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("df") >= 2, lit(1L)).otherwise(lit(0L))).as("n_dup"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .withColumn("n_ngrams", coalesce(col("n_ngrams"), lit(0L)))
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .withColumn("novelty_ppm", when(col("n_ngrams") > 0,
        expr("((n_ngrams - n_dup) * 1000000) div n_ngrams")))
  }

  /** Graded benchmark contamination (the decontaminate gate's forensic
    * sibling): per non-eval document, how MUCH of it overlaps the eval
    * set — contaminated shingle positions, their fraction in ppm, and the
    * longest consecutive contaminated run converted to its verbatim token
    * span (a run of r consecutive 3-gram hits covers r+2 tokens). A binary
    * gate answers "drop it?"; this answers "was it a stray phrase or a
    * verbatim benchmark quote?" — the question an audit actually asks.
    *
    * Scale shape: the eval shingle set is tiny and broadcast; run
    * detection is the classic gaps-and-islands window (pos − row_number),
    * partitioned by doc_id — the SAME key as every aggregate after it, so
    * the corpus pays one doc_id-keyed shuffle total. */
  def contaminationScore(docs: DataFrame, evalMod: Long = 101L): DataFrame = {
    val pos = Dedup.tokenized(docs)
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(words) - 2), i -> concat_ws(' ', words[i-1], words[i], words[i+1]))"))
        .as(Seq("pos", "shingle")))
    val evalSh = pos.filter(col("doc_id") % evalMod === 0)
      .select(col("shingle")).distinct()
    val corpus = pos.filter(col("doc_id") % evalMod =!= 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = corpus.join(broadcast(evalSh), "shingle")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(max(col("run_len")).as("max_run"), sum(col("run_len")).as("n_hit_pos"))
    corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_pos"))
      .join(runs, Seq("doc_id"), "left_outer")
      .withColumn("n_hit_pos", coalesce(col("n_hit_pos"), lit(0L)))
      .withColumn("max_run", coalesce(col("max_run"), lit(0L)))
      .withColumn("max_span_tokens",
        when(col("max_run") > 0, col("max_run") + lit(2L)).otherwise(lit(0L)))
      .withColumn("contam_ppm", expr("(n_hit_pos * 1000000) div n_pos"))
      .select(col("doc_id"), col("n_pos"), col("n_hit_pos"), col("max_run"),
        col("max_span_tokens"), col("contam_ppm"))
  }

  // ------------------------------------------------------------- registry

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lang_id"     -> ((s, dir) => Util.orderAll(langId(docs(s, dir)))),
    "text_quality"     -> ((s, dir) => Util.orderAll(quality(docs(s, dir)))),
    "text_tokens"      -> ((s, dir) => Util.orderAll(tokenCounts(docs(s, dir)))),
    "text_diversity"   -> ((s, dir) => Util.orderAll(diversity(docs(s, dir)))),
    "text_fingerprint" -> ((s, dir) => Util.orderAll(fingerprint(docs(s, dir)))),
    "text_redact"      -> ((s, dir) => Util.orderAll(redact(docs(s, dir)))),
    "doc_split_stratified" -> ((s, dir) => Util.orderAll(stratifiedSplit(docs(s, dir)))),
    "doc_shuffle_shards" -> ((s, dir) => Util.orderAll(shuffleShards(docs(s, dir), 16))),
    "doc_split_group" -> ((s, dir) => Util.orderAll(groupSplit(docs(s, dir)))),
    // already deterministically ordered (n DESC, trigram ASC) — the same
    // ORDER BY the oracle ends with, so no orderAll re-sort
    "text_trigram_topk" -> ((s, dir) => trigramTopK(docs(s, dir), 20)),
    "text_repetition"   -> ((s, dir) => Util.orderAll(repetition(docs(s, dir)))),
    "doc_decontaminate" -> ((s, dir) => Util.orderAll(decontaminate(docs(s, dir)))),
    "doc_curate"        -> ((s, dir) => Util.orderAll(curate(docs(s, dir)))),
    // the near-dup-aware fused decision, recompute form (the stored twin
    // is dedup_stored_curate — gates + one artifact-label join)
    "doc_curate_neardup" -> ((s, dir) => Util.orderAll(
      curateNearDupFromClusters(docs(s, dir),
        Dedup.dedupClusters(docs(s, dir), 0.4)))),
    "doc_domain_cap"    -> ((s, dir) => Util.orderAll(domainCap(docs(s, dir), 5))),
    "doc_sample_weighted" -> ((s, dir) => Util.orderAll(sampleWeighted(docs(s, dir)))),
    "doc_chunk"         -> ((s, dir) => Util.orderAll(chunk(docs(s, dir), 32, 4))),
    "doc_pack_greedy"   -> ((s, dir) => Util.orderAll(packGreedy(docs(s, dir), 256))),
    "text_tfidf_topk"   -> ((s, dir) => Util.orderAll(tfidfTopK(docs(s, dir), 3))),
    "doc_quality_percentiles" -> ((s, dir) => Util.orderAll(qualityPercentiles(docs(s, dir)))),
    "doc_sample_exact"  -> ((s, dir) => Util.orderAll(sampleExact(docs(s, dir), 20))),
    "doc_corpus_stats"  -> ((s, dir) => Util.orderAll(corpusStats(docs(s, dir)))),
    "text_bigram_lm"    -> ((s, dir) => Util.orderAll(bigramLm(docs(s, dir)))),
    "doc_dsir_sample"   -> ((s, dir) => Util.orderAll(dsirSample(docs(s, dir)))),
    "doc_ccnet_buckets" -> ((s, dir) => Util.orderAll(ccnetBuckets(docs(s, dir)))),
    // word bounds tightened so the fixture discriminates on every live rule
    // (canonical 50 passes too few 10-99-word synthetic docs)
    "text_gopher_rules" -> ((s, dir) => Util.orderAll(
      gopherRules(docs(s, dir), minWords = 25, minMeanLen = 4))),
    "text_classify"     -> ((s, dir) => Util.orderAll(nbClassify(docs(s, dir)))),
    "text_calibration"  -> ((s, dir) => Util.orderAll(calibration(docs(s, dir)))),
    "text_normalize"    -> ((s, dir) => Util.orderAll(normalizeUnicode(docs(s, dir)))),
    "doc_chunk_cdc"     -> ((s, dir) => Util.orderAll(cdcChunks(docs(s, dir)))),
    "doc_dedup_cdc"     -> ((s, dir) => Util.orderAll(cdcDedup(docs(s, dir)))),
    "text_bm25_topk"    -> ((s, dir) => Util.orderAll(
      bm25TopK(docs(s, dir), Seq("spark", "vector", "scan"), 10))),
    "text_pmi_topk"     -> ((s, dir) => Util.orderAll(pmiTopK(docs(s, dir), 5, 20))),
    "doc_hybrid_search" -> ((s, dir) => Util.orderAll(hybridSearch(
      docs(s, dir), Tables.embeddings(s, dir), Seq("spark", "vector", "scan"), 10))),
    "doc_snapshot_diff" -> ((s, dir) => Util.orderAll(snapshotDiff(docs(s, dir)))),
    "doc_length_buckets" -> ((s, dir) => Util.orderAll(lengthBuckets(docs(s, dir)))),
    "text_retrieval_eval" -> ((s, dir) => Util.orderAll(
      retrievalEval(docs(s, dir), evalQuerySets))),
    "text_label_audit" -> ((s, dir) => Util.orderAll(labelAudit(docs(s, dir)))),
    "doc_source_divergence" -> ((s, dir) => Util.orderAll(sourceDivergence(docs(s, dir)))),
    "doc_curation_funnel" -> ((s, dir) => Util.orderAll(curationFunnel(docs(s, dir)))),
    "doc_drift_ref" -> ((s, dir) => Util.orderAll(driftRefQuery(docs(s, dir)))),
    "text_fertility" -> ((s, dir) => Util.orderAll(fertility(docs(s, dir)))),
    "doc_epoch_plan" -> ((s, dir) => Util.orderAll(epochPlan(docs(s, dir)))),
    "doc_ngram_novelty" -> ((s, dir) => Util.orderAll(ngramNovelty(docs(s, dir)))),
    "doc_contamination_score" -> ((s, dir) =>
      Util.orderAll(contaminationScore(docs(s, dir)))),
  )

  /** Evaluation suite for [[retrievalEval]]: two keyword queries with rich
    * full-match relevant sets at every fixture SF, plus `hs` whose terms
    * never co-occur in one document (verified at sf0.001/0.01/0.1) — that
    * row pins the n_rel = 0 → MRR = 0, IDCG = 0, nDCG = 0 edge. */
  private[graft] val evalQuerySets: Seq[(String, Seq[String])] = Seq(
    "svs" -> Seq("spark", "vector", "scan"),
    "fm" -> Seq("filter", "merge"),
    "hs" -> Seq("hash", "shuffle"))

  /** THE rounded quality-score formula in DuckDB SQL — the single source
    * every oracle that consumes the scalar score interpolates, so the
    * weights/rounding can never drift between copies (the Spark twin is
    * [[withQualitySignals]]). */
  private lazy val qsSql: String =
    s"""round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
       |      + CAST(len(list_filter(string_split(text, ' '), t -> t IN $enStops)) AS DOUBLE)
       |        / len(string_split(text, ' ')) * 0.3
       |      + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
       |        / length(text) * 10.0, 1.0)) * 0.2, 6)""".stripMargin

  /** [[qsSql]] scaled to exact integer micro-units (score × 10⁶). */
  private[llm] lazy val qsMicroSql: String =
    s"CAST(round($qsSql * 1000000) AS BIGINT)"

  /** DuckDB twin of [[retrievalEval]] over [[evalQuerySets]], generated —
    * one BM25 CTE chain per query (suffixes keep the names distinct), the
    * rank-discount CASE arms interpolated from [[RetrievalWeights]] so the
    * two engines share one literal table. */
  private lazy val retrievalEvalSql: String = {
    def caseArms(w: Seq[Long]): String =
      w.zipWithIndex.map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    val mrrCase = caseArms(RetrievalWeights.mrrMicro)
    val dcgCase = caseArms(RetrievalWeights.dcgMicro)
    val idcgCase = caseArms(RetrievalWeights.idcgMicro)
    val blocks = evalQuerySets.zipWithIndex.map { case ((qid, terms), i) =>
      val s = i + 1
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val nq = terms.size
      s"""post$s AS (
         |  SELECT doc_id, dl, token, count(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(words) AS token FROM dlt) u$s
         |  WHERE token IN ($inList)
         |  GROUP BY doc_id, dl, token
         |), dfq$s AS (
         |  SELECT token, count(*) AS df FROM post$s GROUP BY token
         |), sc$s AS (
         |  SELECT doc_id,
         |    CAST(round((
         |      (CAST(n_corpus AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |        / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |      * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
         |        / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
         |          + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) * CAST(n_corpus AS DOUBLE)
         |            / CAST(total_tokens AS DOUBLE))))
         |    ) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS s_micro
         |  FROM post$s JOIN dfq$s USING (token) CROSS JOIN st
         |), ag$s AS (
         |  SELECT doc_id, count(*) AS n_match,
         |    CAST(sum(s_micro) AS BIGINT) AS bm25_micro
         |  FROM sc$s GROUP BY doc_id
         |), r$s AS (
         |  SELECT n_match,
         |    row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC) AS rk
         |  FROM ag$s
         |), ev$s AS (
         |  SELECT
         |    CAST(coalesce(sum(CASE WHEN n_match = $nq THEN 1 END), 0) AS BIGINT) AS n_rel,
         |    CAST(coalesce(max(CASE WHEN n_match = $nq AND rk <= 10
         |      THEN CASE rk $mrrCase END END), 0) AS BIGINT) AS mrr_micro,
         |    CAST(coalesce(sum(CASE WHEN n_match = $nq AND rk <= 10
         |      THEN CASE rk $dcgCase END END), 0) AS BIGINT) AS dcg_micro
         |  FROM r$s
         |), fin$s AS (
         |  SELECT '$qid' AS query_id, n_rel, mrr_micro, dcg_micro,
         |    CAST(CASE WHEN n_rel = 0 THEN 0
         |      ELSE CASE least(n_rel, 10) $idcgCase END END AS BIGINT) AS idcg_micro
         |  FROM ev$s
         |)""".stripMargin
    }
    val unions = evalQuerySets.indices.map { i =>
      s"""SELECT query_id, n_rel, mrr_micro, dcg_micro, idcg_micro,
         |  CASE WHEN idcg_micro > 0
         |    THEN (dcg_micro * CAST(1000000 AS BIGINT)) // idcg_micro
         |    ELSE CAST(0 AS BIGINT) END AS ndcg_ppm
         |FROM fin${i + 1}""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH dlt AS (
       |  SELECT doc_id, string_split(text, ' ') AS words,
       |    len(string_split(text, ' ')) AS dl
       |  FROM documents
       |), st AS (
       |  SELECT count(*) AS n_corpus, sum(dl) AS total_tokens FROM dlt
       |), ${blocks.mkString(", ")}
       |""".stripMargin + Util.wrap(unions,
      Seq("query_id", "n_rel", "mrr_micro", "dcg_micro", "idcg_micro", "ndcg_ppm"))
  }

  /** The [[curate]] gate chain in DuckDB, ending in CTE `cg` with the
    * per-doc gate booleans — the single source shared by the `doc_curate`
    * parity oracle and the `doc_curation_funnel` waterfall, so the gate
    * SQL can never drift between the two. */
  // private[llm]: TrainingShards' end-to-end pipeline oracle composes the
  // SAME gate chain ahead of the tokenize→pack→shard chain, so the two
  // engines' curation decisions can never drift apart
  private[llm] lazy val curateGatesCte: String =
    s"""WITH sig AS (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS words,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN $enStops)) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stop_r,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text) AS punct_r,
       |    len(list_filter(string_split(text, ' '), t -> t IN $enStops)) AS s_en,
       |    len(list_filter(string_split(text, ' '), t -> t IN $deStops)) AS s_de,
       |    len(list_filter(string_split(text, ' '), t -> t IN $frStops)) AS s_fr,
       |    len(list_filter(string_split(text, ' '), t -> t IN $esStops)) AS s_es,
       |    len(regexp_extract_all(text, '$cjk')) AS s_zh
       |  FROM documents WHERE doc_id % 101 <> 0
       |), gates AS (
       |  SELECT doc_id, lang, text,
       |    CASE
       |      WHEN s_zh > 0 THEN 'zh'
       |      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |      WHEN s_fr >= s_es THEN 'fr'
       |      ELSE 'es'
       |    END AS predicted_lang,
       |    round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
       |      + stop_r * 0.3
       |      + (1.0 - least(punct_r * 10.0, 1.0)) * 0.2, 6) AS qs,
       |    n_tokens,
       |    len(list_distinct(words)) AS n_distinct_tokens,
       |    list_aggregate(list_transform(list_distinct(words),
       |      t -> len(list_filter(words, w2 -> w2 = t))), 'max') AS top_token_count,
       |    min(doc_id) OVER (PARTITION BY text) AS kmin
       |  FROM sig
       |), tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
       |  FROM tok, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) ii
       |  WHERE len(words) >= 3
       |), ev AS (
       |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 101 = 0
       |), cont AS (
       |  SELECT doc_id FROM sh JOIN ev USING (shingle)
       |  WHERE doc_id % 101 <> 0 GROUP BY doc_id HAVING count(*) >= 2
       |), cg AS (
       |  SELECT g.doc_id,
       |    predicted_lang = lang AS lang_ok,
       |    qs >= 0.45 AS quality_ok,
       |    NOT ((n_tokens - n_distinct_tokens) * 2 > n_tokens
       |      OR (n_tokens >= 5 AND top_token_count * 5 > n_tokens)) AS not_repetitive,
       |    c.doc_id IS NULL AS not_contaminated,
       |    g.doc_id = kmin AS is_keeper,
       |    predicted_lang = lang AND qs >= 0.45
       |      AND NOT ((n_tokens - n_distinct_tokens) * 2 > n_tokens
       |        OR (n_tokens >= 5 AND top_token_count * 5 > n_tokens))
       |      AND c.doc_id IS NULL AND g.doc_id = kmin AS keep
       |  FROM gates g LEFT JOIN cont c ON g.doc_id = c.doc_id
       |)
       |""".stripMargin

  /** The doc_decontaminate CTE chain (tok/sh/ev → `cont`: per-doc eval
    * shingle-overlap counts) — ONE source shared with the packed-store
    * consumer oracle (`doc_shards_decontaminate` in
    * [[TrainingShards]]), so "what counts as contaminated" can never
    * drift between the report and the shard-level consequence. */
  private[llm] def decontaminateCtes(continuation: Boolean): String =
    s"""${if (continuation) "," else "WITH"} tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
       |  FROM tok, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) ii
       |  WHERE len(words) >= 3
       |), ev AS (
       |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 101 = 0
       |), cont AS (
       |  SELECT doc_id, count(*) AS n_overlap
       |  FROM sh JOIN ev USING (shingle)
       |  WHERE doc_id % 101 <> 0
       |  GROUP BY doc_id
       |)
       |""".stripMargin

  def oracle: Map[String, String] = Map(
    "text_lang_id" -> (
      s"""WITH sc AS (
         |  SELECT doc_id, lang,
         |    len(list_filter(string_split(text, ' '), t -> t IN $enStops)) AS s_en,
         |    len(list_filter(string_split(text, ' '), t -> t IN $deStops)) AS s_de,
         |    len(list_filter(string_split(text, ' '), t -> t IN $frStops)) AS s_fr,
         |    len(list_filter(string_split(text, ' '), t -> t IN $esStops)) AS s_es,
         |    len(regexp_extract_all(text, '$cjk')) AS s_zh
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, lang,
         |    CASE
         |      WHEN s_zh > 0 THEN 'zh'
         |      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |      WHEN s_fr >= s_es THEN 'fr'
         |      ELSE 'es'
         |    END AS predicted_lang
         |  FROM sc
         |)
         |""".stripMargin + Util.wrap(
        """SELECT doc_id, predicted_lang, lang AS labeled_lang,
          |  predicted_lang = lang AS is_match FROM p""".stripMargin,
        Seq("doc_id", "predicted_lang", "labeled_lang", "is_match"))),

    "text_quality" -> (
      s"""WITH q AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t IN $enStops)) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS stop_r,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text) AS punct_r,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len
         |  FROM documents
         |)
         |""".stripMargin + Util.wrap(
        """SELECT doc_id, n_tokens,
          |  round(avg_token_len, 4) AS avg_token_len,
          |  round(stop_r, 4) AS stopword_ratio,
          |  round(punct_r, 6) AS punct_ratio,
          |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
          |    + stop_r * 0.3
          |    + (1.0 - least(punct_r * 10.0, 1.0)) * 0.2, 6) AS quality_score
          |FROM q""".stripMargin,
        Seq("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "punct_ratio", "quality_score"))),

    // CASTs pin DuckDB's HUGEINT sums to BIGINT; all ratios are integer
    // micro-units (exact cross-engine arithmetic)
    "text_diversity" -> (
      """WITH c AS (
        |  SELECT doc_id, token, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
        |  GROUP BY 1, 2
        |), a AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct, CAST(sum(c * (c - 1)) AS BIGINT) AS rep
        |  FROM c GROUP BY 1
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_id, n_tokens, n_distinct,
          |  (n_distinct * 1000000) // n_tokens AS ttr_micro,
          |  CASE WHEN n_tokens >= 2
          |       THEN (rep * 1000000) // (n_tokens * (n_tokens - 1))
          |       ELSE 0 END AS simpson_micro
          |FROM a""".stripMargin,
        Seq("doc_id", "n_tokens", "n_distinct", "ttr_micro", "simpson_micro"))),

    "text_tokens" -> Util.wrap(
      s"""SELECT doc_id,
         |  len(string_split(text, ' ')) AS ws_tokens,
         |  len(regexp_extract_all(text, '$bpeish')) AS re_tokens,
         |  length(text) AS n_chars
         |FROM documents""".stripMargin,
      Seq("doc_id", "ws_tokens", "re_tokens", "n_chars")),

    "text_fingerprint" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), vocab AS (
        |  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
        |  FROM (SELECT DISTINCT unnest(words) AS token FROM tok) t
        |), pt AS (
        |  SELECT doc_id, i - 1 AS pos, words[i] AS token
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) ii
        |)
        |""".stripMargin + Util.wrap(
        // CAST: DuckDB sum(BIGINT) is HUGEINT — pin to BIGINT to match Spark's LongType
        """SELECT doc_id, CAST(sum(tid * (pos % 31 + 1)) * 31 + count(*) AS BIGINT) AS fingerprint
          |FROM pt JOIN vocab USING (token) GROUP BY doc_id""".stripMargin,
        Seq("doc_id", "fingerprint"))),

    "text_redact" -> Util.wrap(
      """SELECT doc_id,
        |  regexp_replace(text, '\b(the|a)\b', '<STOP>', 'g') AS scrubbed,
        |  len(regexp_extract_all(text, '\b(the|a)\b')) AS n_scrubbed
        |FROM documents""".stripMargin,
      Seq("doc_id", "scrubbed", "n_scrubbed")),

    "doc_split_stratified" -> Util.wrap(
      """SELECT lang,
        |  CASE WHEN (((doc_id % 3037000493) * 2654435761) // 65536) % 100 < 90 THEN 'train'
        |       WHEN (((doc_id % 3037000493) * 2654435761) // 65536) % 100 < 95 THEN 'valid'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1, 2""".stripMargin,
      Seq("lang", "split", "n_docs")),

    // 1-based i matches Spark's (p + 1); same Lehmer bucket chain. The
    // empty/NULL-source edge case mirrors the Spark side exactly
    // (advisor-caught: the old inner-join LATERAL silently dropped such
    // groups, blinding the gate to the rows the Spark code guards): the
    // fold runs over coalesce(source, ''), the empty LATERAL is re-added
    // via LEFT JOIN + COALESCE(gkey, 0), and both joins are null-safe.
    "doc_split_group" -> Util.wrap(
      """WITH srcs AS (
        |  SELECT DISTINCT source FROM documents
        |), gsum AS (
        |  SELECT source, CAST(sum(ascii(src[i]) * i) AS BIGINT) AS gkey
        |  FROM (SELECT source, coalesce(source, '') AS src FROM srcs) s,
        |       LATERAL (SELECT unnest(range(1, len(src) + 1)) AS i) ii
        |  GROUP BY source
        |), gk AS (
        |  SELECT srcs.source, COALESCE(gsum.gkey, 0) AS gkey
        |  FROM srcs LEFT JOIN gsum ON srcs.source IS NOT DISTINCT FROM gsum.source
        |), asg AS (
        |  SELECT source,
        |    CASE WHEN (((gkey % 2147483647) * 48271 % 2147483647) * 48271) % 2147483647 % 100 < 90 THEN 'train'
        |         WHEN (((gkey % 2147483647) * 48271 % 2147483647) * 48271) % 2147483647 % 100 < 95 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM gk
        |)
        |SELECT d.source, split, count(*) AS n_docs
        |FROM documents d JOIN asg ON d.source IS NOT DISTINCT FROM asg.source
        |GROUP BY d.source, split""".stripMargin,
      Seq("source", "split", "n_docs")),

    "doc_shuffle_shards" -> Util.wrap(
      s"""SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) AS pos
         |FROM (
         |  SELECT doc_id,
         |    ${lehmerKeyDuckSql("doc_id")} AS shuffle_key,
         |    (${lehmerKeyDuckSql("doc_id")}) % 16 AS shard
         |  FROM documents) k""".stripMargin,
      Seq("doc_id", "shard", "pos")),

    "text_trigram_topk" ->
      """WITH tok AS (
        |  SELECT string_split(text, ' ') AS words FROM documents
        |), tg AS (
        |  SELECT words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS trigram
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) ii
        |  WHERE len(words) >= 3
        |)
        |SELECT trigram, count(*) AS n FROM tg
        |GROUP BY trigram ORDER BY n DESC, trigram ASC LIMIT 20""".stripMargin,

    "text_repetition" -> (
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), r AS (
        |  SELECT doc_id,
        |    len(words) AS n_tokens,
        |    len(list_distinct(words)) AS n_distinct_tokens,
        |    CASE WHEN len(words) >= 2 THEN len(list_distinct(
        |      list_transform(generate_series(2, len(words)), i -> words[i-1] || ' ' || words[i])))
        |    ELSE 0 END AS n_distinct_bigrams,
        |    list_aggregate(list_transform(list_distinct(words),
        |      t -> len(list_filter(words, w2 -> w2 = t))), 'max') AS top_token_count
        |  FROM w
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_id, n_tokens, n_distinct_tokens, n_distinct_bigrams, top_token_count,
          |  ((n_tokens - n_distinct_tokens) * 2 > n_tokens)
          |    OR (n_tokens >= 5 AND top_token_count * 5 > n_tokens) AS is_repetitive FROM r""".stripMargin,
        Seq("doc_id", "n_tokens", "n_distinct_tokens", "n_distinct_bigrams",
          "top_token_count", "is_repetitive"))),

    "doc_decontaminate" -> (decontaminateCtes(continuation = false) +
      Util.wrap(
        """SELECT doc_id, n_overlap, n_overlap >= 2 AS is_contaminated
          |FROM cont""".stripMargin,
        Seq("doc_id", "n_overlap", "is_contaminated"))),

    // ONE definition of the rounded quality-score SQL ([[qsSql]]) feeds
    // every oracle that consumes the scalar score — a weight tweak can't
    // silently skew one copy. Ranking and filtering both use the ROUNDED
    // score, mirroring the Spark side.
    "doc_domain_cap" -> (
      s"""WITH q AS (
         |  SELECT doc_id, source, $qsSql AS qs
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, source, qs,
         |    row_number() OVER (PARTITION BY source ORDER BY qs DESC, doc_id ASC) AS rk
         |  FROM q
         |)
         |""".stripMargin + Util.wrap(
        "SELECT doc_id, source, qs AS quality_score, rk FROM r WHERE rk <= 5",
        Seq("doc_id", "source", "quality_score", "rk"))),

    "doc_sample_weighted" -> Util.wrap(
      """SELECT doc_id, lang, bucket, n_copies, n_copies > 0 AS kept FROM (
        |  SELECT doc_id, lang, bucket,
        |    CASE lang
        |      WHEN 'en' THEN CASE WHEN bucket < 30 THEN 1 ELSE 0 END
        |      WHEN 'zh' THEN 2 + CASE WHEN bucket < 50 THEN 1 ELSE 0 END
        |      WHEN 'es' THEN 1 + CASE WHEN bucket < 50 THEN 1 ELSE 0 END
        |      WHEN 'fr' THEN CASE WHEN bucket < 80 THEN 1 ELSE 0 END
        |      ELSE 1
        |    END AS n_copies
        |  FROM (SELECT doc_id, lang,
        |    (((doc_id % 3037000493) * 2246822519 + 104729) // 65536) % 100 AS bucket
        |    FROM documents) b) t""".stripMargin,
      Seq("doc_id", "lang", "bucket", "n_copies", "kept")),

    "doc_sample_exact" -> (
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % 3037000493) * 2971215073) // 65536 ASC, doc_id ASC) AS rk
        |  FROM documents
        |)
        |""".stripMargin + Util.wrap(
        "SELECT doc_id, lang, rk FROM r WHERE rk <= 20",
        Seq("doc_id", "lang", "rk"))),

    // CAST: DuckDB sum(INTEGER/BIGINT) is HUGEINT — pin to BIGINT. Quality
    // is summed in exact integer micro-units (see the Spark scaladoc)
    "doc_corpus_stats" -> Util.wrap(
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         |  CAST(sum($qsMicroSql) AS BIGINT) AS sum_quality_micro
         |FROM documents GROUP BY lang, source""".stripMargin,
      Seq("lang", "source", "n_docs", "total_tokens", "sum_quality_micro")),

    // discrete order statistics over micro-unit scores at INTEGER-division
    // rank indices — no interpolated midpoints, no FP index math, so there
    // is nothing for the engines to round differently (see the scaladoc)
    "doc_quality_percentiles" -> (
      s"""WITH q AS (
         |  SELECT lang, $qsMicroSql AS qm FROM documents
         |), r AS (
         |  SELECT lang, qm,
         |    row_number() OVER (PARTITION BY lang ORDER BY qm ASC) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM q
         |)
         |""".stripMargin + Util.wrap(
        """SELECT lang,
          |  max(CASE WHEN rn = (n-1)//10 + 1 THEN qm END) AS p10_micro,
          |  max(CASE WHEN rn = (n-1)//2 + 1 THEN qm END) AS p50_micro,
          |  max(CASE WHEN rn = (9*(n-1))//10 + 1 THEN qm END) AS p90_micro,
          |  n AS n_docs
          |FROM r
          |WHERE rn IN ((n-1)//10 + 1, (n-1)//2 + 1, (9*(n-1))//10 + 1)
          |GROUP BY lang, n""".stripMargin,
        Seq("lang", "p10_micro", "p50_micro", "p90_micro", "n_docs"))),

    // rational idf (N+1)/(df+1): same ranking as the log form, but IEEE
    // division is correctly rounded across engines while ln is not
    "text_tfidf_topk" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), tt AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(words) AS token FROM tok) u
        |  GROUP BY doc_id, token
        |), dfq AS (
        |  SELECT token, count(*) AS df FROM tt GROUP BY token
        |), nn AS (
        |  SELECT count(*) AS n_corpus FROM documents
        |), sc AS (
        |  SELECT doc_id, token, tf, df,
        |    round(tf * (n_corpus + 1) / (df + 1), 6) AS score
        |  FROM tt JOIN dfq USING (token) CROSS JOIN nn
        |), r AS (
        |  SELECT doc_id, token, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rk
        |  FROM sc
        |)
        |""".stripMargin + Util.wrap(
        "SELECT doc_id, token, tf, df, score, rk FROM r WHERE rk <= 3",
        Seq("doc_id", "token", "tf", "df", "score", "rk"))),

    // chunk i (1-based) covers tokens [(i-1)*28+1, (i-1)*28+32]; chunk_idx
    // mirrors posexplode's 0-based position
    "doc_chunk" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), ch AS (
        |  SELECT doc_id, i - 1 AS chunk_idx,
        |    array_to_string(list_slice(words, (i-1)*28+1, (i-1)*28+32), ' ') AS chunk,
        |    least(32, len(words) - (i-1)*28) AS n_chunk_tokens
        |  FROM tok, LATERAL (SELECT unnest(range(1,
        |    CAST(ceil(CAST(greatest(len(words) - 4, 1) AS DOUBLE) / 28) AS INT) + 1)) AS i) ii
        |)
        |""".stripMargin + Util.wrap(
        "SELECT doc_id, chunk_idx, chunk, n_chunk_tokens FROM ch",
        Seq("doc_id", "chunk_idx", "chunk", "n_chunk_tokens"))),

    // CASTs: DuckDB window sum(INTEGER) is HUGEINT — pin to BIGINT
    "doc_pack_greedy" -> (
      """WITH t AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS cum_start
        |  FROM t
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_id, source, n_tokens,
          |  cum_start // 256 AS pack_id, cum_start % 256 AS pack_offset FROM c""".stripMargin,
        Seq("doc_id", "source", "n_tokens", "pack_id", "pack_offset"))),

    // every gate's formula is copied verbatim from its standalone oracle
    // above (lang CASE, quality score+rounding, integer repetition gates,
    // shingle-overlap contamination); keeper election is text-keyed here
    // while Spark windows over xxhash64(text) — same groups, the
    // doc_dedup_exact_hash precedent
    "doc_curate" -> (curateGatesCte + Util.wrap(
      """SELECT doc_id, lang_ok, quality_ok, not_repetitive,
        |  not_contaminated, is_keeper, keep FROM cg""".stripMargin,
      Seq("doc_id", "lang_ok", "quality_ok", "not_repetitive",
        "not_contaminated", "is_keeper", "keep"))),

    // the near-dup-aware decision: cg's per-row gates unchanged, the
    // keeper gate re-derived from the MinHash cluster closure (Dedup's
    // own chain, nested as a derived table so the two WITH lists — both
    // define sig/tok/cnt — cannot collide)
    "doc_curate_neardup" -> (curateGatesCte +
      s""", cl AS MATERIALIZED (
         |  SELECT node AS doc_id, min(label) AS cluster FROM (
         |    ${Dedup.clustersSubquerySql}
         |  ) comp0 GROUP BY node
         |), ndk AS (
         |  SELECT cluster, min(doc_id) AS nd_keeper FROM cl
         |  WHERE doc_id % 101 <> 0 GROUP BY cluster
         |)
         |""".stripMargin + Util.wrap(
      """SELECT cg.doc_id, lang_ok, quality_ok, not_repetitive, not_contaminated,
        |  cg.doc_id = ndk.nd_keeper AS is_keeper,
        |  lang_ok AND quality_ok AND not_repetitive AND not_contaminated
        |    AND cg.doc_id = ndk.nd_keeper AS keep
        |FROM cg
        |JOIN cl ON cl.doc_id = cg.doc_id
        |JOIN ndk USING (cluster)""".stripMargin,
      Seq("doc_id", "lang_ok", "quality_ok", "not_repetitive",
        "not_contaminated", "is_keeper", "keep"))),

    // waterfall attribution over the same cg gate bits: each doc charged
    // to the FIRST rejecting stage, 6-row stack of one aggregate row
    "doc_curation_funnel" -> (curateGatesCte +
      """, tc AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents
        |), c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_base,
        |    CAST(coalesce(sum(CASE WHEN NOT lang_ok THEN 1 END), 0) AS BIGINT) AS r_lang,
        |    CAST(coalesce(sum(CASE WHEN lang_ok AND NOT quality_ok
        |      THEN 1 END), 0) AS BIGINT) AS r_quality,
        |    CAST(coalesce(sum(CASE WHEN lang_ok AND quality_ok
        |      AND NOT not_repetitive THEN 1 END), 0) AS BIGINT) AS r_rep,
        |    CAST(coalesce(sum(CASE WHEN lang_ok AND quality_ok AND not_repetitive
        |      AND NOT not_contaminated THEN 1 END), 0) AS BIGINT) AS r_contam,
        |    CAST(coalesce(sum(CASE WHEN lang_ok AND quality_ok AND not_repetitive
        |      AND not_contaminated AND NOT is_keeper THEN 1 END), 0) AS BIGINT) AS r_dup
        |  FROM cg
        |), w AS (
        |  SELECT 0 AS stage_idx, 'eval_holdout' AS stage, n_total AS n_in,
        |    n_total - n_base AS n_removed FROM tc CROSS JOIN c
        |  UNION ALL SELECT 1, 'lang', n_base, r_lang FROM c
        |  UNION ALL SELECT 2, 'quality', n_base - r_lang, r_quality FROM c
        |  UNION ALL SELECT 3, 'repetition', n_base - r_lang - r_quality, r_rep FROM c
        |  UNION ALL SELECT 4, 'contamination',
        |    n_base - r_lang - r_quality - r_rep, r_contam FROM c
        |  UNION ALL SELECT 5, 'dedup',
        |    n_base - r_lang - r_quality - r_rep - r_contam, r_dup FROM c
        |)
        |""".stripMargin + Util.wrap(
        """SELECT stage_idx, stage, n_in, n_removed,
          |  n_in - n_removed AS n_remaining,
          |  CASE WHEN n_in > 0
          |    THEN (n_removed * CAST(1000000 AS BIGINT)) // n_in
          |    ELSE CAST(0 AS BIGINT) END AS removal_ppm
          |FROM w""".stripMargin,
        Seq("stage_idx", "stage", "n_in", "n_removed", "n_remaining",
          "removal_ppm"))),

    // per-transition probability snapped to micro-units BEFORE the mean
    // (integer sums are order-independent); CASTs pin DuckDB's HUGEINT
    "text_bigram_lm" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), bg AS (
        |  SELECT doc_id, words[i] AS w1, words[i+1] AS w2
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words))) AS i) ii
        |  WHERE len(words) >= 2
        |), c2 AS (
        |  SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2
        |), c1 AS (
        |  SELECT w1, count(*) AS n1 FROM bg GROUP BY w1
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_id, count(*) AS n_bigrams,
          |  CAST(round(CAST(sum(CAST(round(n2 * 1000000.0 / n1) AS BIGINT)) AS DOUBLE)
          |    / count(*)) AS BIGINT) AS mean_bigram_p_micro
          |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
          |GROUP BY doc_id""".stripMargin,
        Seq("doc_id", "n_bigrams", "mean_bigram_p_micro"))),

    // the bigram-LM chain + lang join + exact-integer third boundaries
    "doc_ccnet_buckets" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), bg AS (
        |  SELECT doc_id, words[i] AS w1, words[i+1] AS w2
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words))) AS i) ii
        |  WHERE len(words) >= 2
        |), c2 AS (
        |  SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2
        |), c1 AS (
        |  SELECT w1, count(*) AS n1 FROM bg GROUP BY w1
        |), lm AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(sum(CAST(round(n2 * 1000000.0 / n1) AS BIGINT)) AS DOUBLE)
        |      / count(*)) AS BIGINT) AS lm_micro
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  GROUP BY doc_id
        |), ranked AS (
        |  SELECT lm.doc_id, d.lang, lm.lm_micro,
        |    row_number() OVER (PARTITION BY d.lang ORDER BY lm.lm_micro DESC, lm.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY d.lang) AS n
        |  FROM lm JOIN documents d ON lm.doc_id = d.doc_id
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_id, lang, lm_micro,
          |  CASE WHEN rn * 3 <= n THEN 'head'
          |       WHEN rn * 3 <= n * 2 THEN 'middle'
          |       ELSE 'tail' END AS ppl_bucket
          |FROM ranked""".stripMargin,
        Seq("doc_id", "lang", "lm_micro", "ppl_bucket"))),

    // the full DSIR chain: dense-rank bigram ids % 64 as buckets, smoothed
    // target/raw ratio per bucket in micro-units (left-associated double
    // arithmetic, rounded once), mean ratio per raw-pool doc, top-25 per
    // language. CASTs pin DuckDB's HUGEINT sums.
    "doc_dsir_sample" -> (
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
        |), bg AS (
        |  SELECT doc_id, lang, words[i] || ' ' || words[i+1] AS bg
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words))) AS i) ii
        |  WHERE len(words) >= 2
        |), bgv AS (
        |  SELECT bg AS token, dense_rank() OVER (ORDER BY bg) AS tid
        |  FROM (SELECT DISTINCT bg FROM bg) d
        |), occ AS (
        |  SELECT doc_id, lang, tid % 64 AS bucket
        |  FROM bg JOIN bgv ON bg.bg = bgv.token
        |), bc AS (
        |  SELECT bucket,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tb,
        |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS sb
        |  FROM occ GROUP BY 1
        |), tot AS (
        |  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ttot,
        |         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS stot
        |  FROM occ
        |), ratios AS (
        |  SELECT bucket,
        |    CAST(round((tb + 1) * 1000000.0 * (stot + 64) / (sb + 1) / (ttot + 64)) AS BIGINT) AS ratio_micro
        |  FROM bc CROSS JOIN tot
        |), score AS (
        |  SELECT doc_id, lang, count(*) AS n_bigrams,
        |    CAST(round(CAST(sum(ratio_micro) AS DOUBLE) / count(*)) AS BIGINT) AS imp_micro
        |  FROM occ JOIN ratios USING (bucket)
        |  WHERE lang <> 'en'
        |  GROUP BY 1, 2
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_id, lang, n_bigrams, imp_micro,
          |  row_number() OVER (PARTITION BY lang ORDER BY imp_micro DESC, doc_id) <= 25 AS dsir_keep
          |FROM score""".stripMargin,
        Seq("doc_id", "lang", "n_bigrams", "imp_micro", "dsir_keep"))),

    // all-integer cross-multiplied rule set — no double division anywhere,
    // so booleans can't drift between engines
    "text_gopher_rules" -> (
      s"""WITH g AS (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_words,
         |    length(replace(text, ' ', '')) AS n_chars,
         |    len(regexp_extract_all(text, '#'))
         |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_symbols,
         |    len(list_filter(string_split(text, ' '),
         |        w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         |    len(list_filter(${enStops.replace("(", "[").replace(")", "]")},
         |        st -> list_contains(string_split(text, ' '), st))) AS n_stop
         |  FROM documents
         |)
         |""".stripMargin + Util.wrap(
        """SELECT doc_id, n_words,
          |  n_words >= 25 AND n_words <= 100000 AS wc_ok,
          |  n_chars >= n_words * 4 AND n_chars <= n_words * 10 AS mwl_ok,
          |  n_symbols * 10 < n_words AS sym_ok,
          |  n_alpha * 10 >= n_words * 8 AS alpha_ok,
          |  n_stop >= 2 AS stop_ok,
          |  n_words >= 25 AND n_words <= 100000
          |    AND n_chars >= n_words * 4 AND n_chars <= n_words * 10
          |    AND n_symbols * 10 < n_words
          |    AND n_alpha * 10 >= n_words * 8
          |    AND n_stop >= 2 AS gopher_ok
          |FROM g""".stripMargin,
        Seq("doc_id", "n_words", "wc_ok", "mwl_ok", "sym_ok", "alpha_ok",
          "stop_ok", "gopher_ok"))),

    // per-word smoothed posterior snapped to micro BEFORE the mean
    // (the bigram-LM convention); CASTs pin DuckDB's HUGEINT sums
    "text_classify" -> (
      """WITH lab AS (
        |  SELECT doc_id, source IN ('src0', 'src1') AS pos FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), ws AS (
        |  SELECT word,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        |  FROM tok JOIN lab USING (doc_id) GROUP BY word
        |), w AS (
        |  SELECT word,
        |    CAST(round((n_pos + 1) * 1000000.0 / (n_pos + n_neg + 2)) AS BIGINT) AS w_micro
        |  FROM ws
        |), sc AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    CAST(round(CAST(sum(w_micro) AS DOUBLE) / count(*)) AS BIGINT) AS nb_micro
        |  FROM tok JOIN w USING (word) GROUP BY doc_id
        |)
        |""".stripMargin + Util.wrap(
        """SELECT doc_id, n_tokens, nb_micro, nb_micro >= 500000 AS quality_pred
          |FROM sc""".stripMargin,
        Seq("doc_id", "n_tokens", "nb_micro", "quality_pred"))),

    // the same NB chain, then reliability bins: truncating-division bin
    // ids, integer cross-multiplied positive rate, round(sum/n) mean
    "text_calibration" -> (
      """WITH lab AS (
        |  SELECT doc_id, source IN ('src0', 'src1') AS pos FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), ws AS (
        |  SELECT word,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        |  FROM tok JOIN lab USING (doc_id) GROUP BY word
        |), w AS (
        |  SELECT word,
        |    CAST(round((n_pos + 1) * 1000000.0 / (n_pos + n_neg + 2)) AS BIGINT) AS w_micro
        |  FROM ws
        |), sc AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    CAST(round(CAST(sum(w_micro) AS DOUBLE) / count(*)) AS BIGINT) AS nb_micro
        |  FROM tok JOIN w USING (word) GROUP BY doc_id
        |)
        |""".stripMargin + Util.wrap(
        """SELECT nb_micro // 2000 AS bin,
          |  count(*) AS n,
          |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          |  CAST(round(CAST(sum(nb_micro) AS DOUBLE) / count(*)) AS BIGINT) AS mean_score_micro,
          |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) * 1000000
          |    // count(*) AS pos_rate_micro
          |FROM sc JOIN lab USING (doc_id)
          |GROUP BY 1""".stripMargin,
        Seq("bin", "n", "n_pos", "mean_score_micro", "pos_rate_micro"))),

    // same synthesis (translate), ICU strip_accents == the NFD+drop-marks
    // kernel for precomposed Latin; roundtrip is checked by the normalized
    // column itself hashing against Spark's
    "text_normalize" -> Util.wrap(
      """SELECT doc_id,
        |  CAST(length(accented) - length(translate(accented, 'áéíóú', '')) AS BIGINT)
        |    AS n_accented,
        |  strip_accents(accented) AS normalized
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 1 THEN translate(text, 'aeiou', 'áéíóú')
        |         ELSE text END AS accented
        |  FROM documents
        |) t""".stripMargin,
      Seq("doc_id")),

    "doc_chunk_cdc" -> (cdcCte + Util.wrap(
      """SELECT doc_id, chunk_idx, start_tok, end_tok,
        |  end_tok - start_tok + 1 AS n_chunk_tokens, chunk_text
        |FROM ck""".stripMargin,
      Seq("doc_id", "chunk_idx", "start_tok", "end_tok",
        "n_chunk_tokens", "chunk_text"))),

    "doc_dedup_cdc" -> (cdcCte + Util.wrap(
      """SELECT chunk_text, min(doc_id) AS keeper,
        |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
        |FROM ck WHERE end_tok - start_tok + 1 >= 3
        |GROUP BY chunk_text HAVING count(DISTINCT doc_id) >= 2""".stripMargin,
      Seq("chunk_text", "keeper", "n_docs", "n_occurrences"))),

    // every double op CAST-pinned and associated exactly as the Spark side;
    // per-(doc,term) scores snap to integer micros BEFORE the per-doc sum
    "text_bm25_topk" -> (
      """WITH dlt AS (
        |  SELECT doc_id, string_split(text, ' ') AS words,
        |    len(string_split(text, ' ')) AS dl
        |  FROM documents
        |), st AS (
        |  SELECT count(*) AS n_corpus, sum(dl) AS total_tokens FROM dlt
        |), post AS (
        |  SELECT doc_id, dl, token, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(words) AS token FROM dlt) u
        |  WHERE token IN ('spark', 'vector', 'scan')
        |  GROUP BY doc_id, dl, token
        |), dfq AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY token
        |), sc AS (
        |  SELECT doc_id,
        |    CAST(round((
        |      (CAST(n_corpus AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |        / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
        |        / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) * CAST(n_corpus AS DOUBLE)
        |            / CAST(total_tokens AS DOUBLE))))
        |    ) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS s_micro
        |  FROM post JOIN dfq USING (token) CROSS JOIN st
        |), ag AS (
        |  SELECT doc_id, count(*) AS n_match,
        |    CAST(sum(s_micro) AS BIGINT) AS bm25_micro
        |  FROM sc GROUP BY doc_id
        |), r AS (
        |  SELECT doc_id, n_match, bm25_micro,
        |    row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC) AS rk
        |  FROM ag
        |)
        |""".stripMargin + Util.wrap(
        "SELECT doc_id, n_match, bm25_micro, rk FROM r WHERE rk <= 10",
        Seq("doc_id", "n_match", "bm25_micro", "rk"))),

    // MRR/nDCG@10 per eval query; discount tables interpolated from the
    // same RetrievalWeights literals the Spark side reads
    "text_retrieval_eval" -> retrievalEvalSql,

    // chi² vs the Laplace-smoothed even-half reference over vocab-id
    // buckets; missing-ref buckets coalesce to smoothing mass 1; closed-
    // form unobserved-bucket term; per-bucket micros snap pre-sum
    "doc_drift_ref" -> (
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), tv AS (
        |  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
        |  FROM (SELECT DISTINCT token FROM tok) d
        |), b AS (
        |  SELECT doc_id, source, tid % 64 AS bucket FROM tok JOIN tv USING (token)
        |), ref AS (
        |  SELECT bucket, count(*) AS ref_n FROM b WHERE doc_id % 2 = 0 GROUP BY 1
        |), obs AS (
        |  SELECT source, bucket, count(*) AS o
        |  FROM b WHERE doc_id % 2 = 1 GROUP BY 1, 2
        |)
        |""".stripMargin
      // chi² chain is graft.Util.chi2DriftSql — the ONE source this oracle
      // shares with emb_drift_ref so the two drift definitions cannot diverge
      + Util.chi2DriftSql("source", "obs", "ref", nBuckets = 64)),

    // chi² drift per source; per-term contributions snap to micros before
    // the windowed per-source sum, zero-observed mass folded in closed form
    "doc_source_divergence" -> (
      """WITH st AS (
        |  SELECT source, token, count(*) AS o
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents) u
        |  GROUP BY 1, 2
        |), srct AS (
        |  SELECT source, CAST(sum(o) AS BIGINT) AS n_s FROM st GROUP BY 1
        |), tokt AS (
        |  SELECT token, CAST(sum(o) AS BIGINT) AS n_t FROM st GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n_total FROM st
        |), j AS (
        |  SELECT st.source, st.token, n_s, n_t, n_total,
        |    CAST(round(
        |      (CAST(o AS DOUBLE) - CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE) / CAST(n_total AS DOUBLE))
        |      * (CAST(o AS DOUBLE) - CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE) / CAST(n_total AS DOUBLE))
        |      / (CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE) / CAST(n_total AS DOUBLE))
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS c_micro
        |  FROM st JOIN tokt USING (token)
        |  JOIN srct ON st.source IS NOT DISTINCT FROM srct.source
        |  CROSS JOIN tot
        |), w AS (
        |  SELECT source, token, c_micro, n_s, n_total,
        |    count(*) OVER (PARTITION BY source) AS n_terms,
        |    CAST(sum(n_t) OVER (PARTITION BY source) AS BIGINT) AS m_s,
        |    CAST(sum(c_micro) OVER (PARTITION BY source) AS BIGINT) AS obs_micro,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY c_micro DESC, token ASC) AS rk
        |  FROM j
        |)
        |""".stripMargin + Util.wrap(
        """SELECT source, n_s, n_terms,
          |  obs_micro + CAST(round(CAST(n_s AS DOUBLE)
          |    * (CAST(n_total AS DOUBLE) - CAST(m_s AS DOUBLE))
          |    / CAST(n_total AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)
          |    AS chi2_micro,
          |  token AS top_term, c_micro AS top_term_micro
          |FROM w WHERE rk = 1""".stripMargin,
        Seq("source", "n_s", "n_terms", "chi2_micro", "top_term",
          "top_term_micro"))),

    // per-(source, declared-lang) agreement with the langid heuristic;
    // majority prediction tie-broken (n DESC, lang ASC) like the Spark
    // window; null-safe cell join (IS NOT DISTINCT FROM)
    "text_label_audit" -> (
      s"""WITH sc AS (
         |  SELECT doc_id, lang, source,
         |    len(list_filter(string_split(text, ' '), t -> t IN $enStops)) AS s_en,
         |    len(list_filter(string_split(text, ' '), t -> t IN $deStops)) AS s_de,
         |    len(list_filter(string_split(text, ' '), t -> t IN $frStops)) AS s_fr,
         |    len(list_filter(string_split(text, ' '), t -> t IN $esStops)) AS s_es,
         |    len(regexp_extract_all(text, '$cjk')) AS s_zh
         |  FROM documents
         |), p AS (
         |  SELECT source, lang AS labeled_lang,
         |    CASE
         |      WHEN s_zh > 0 THEN 'zh'
         |      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |      WHEN s_fr >= s_es THEN 'fr'
         |      ELSE 'es'
         |    END AS predicted_lang
         |  FROM sc
         |), cells AS (
         |  SELECT source, labeled_lang, predicted_lang, count(*) AS n_pred
         |  FROM p GROUP BY 1, 2, 3
         |), agg AS (
         |  SELECT source, labeled_lang,
         |    CAST(sum(n_pred) AS BIGINT) AS n_docs,
         |    CAST(coalesce(sum(CASE WHEN predicted_lang = labeled_lang
         |      THEN n_pred END), 0) AS BIGINT) AS n_agree
         |  FROM cells GROUP BY 1, 2
         |), tp AS (
         |  SELECT source, labeled_lang, predicted_lang AS top_pred_lang,
         |    CAST(n_pred AS BIGINT) AS top_pred_n,
         |    row_number() OVER (PARTITION BY source, labeled_lang
         |      ORDER BY n_pred DESC, predicted_lang ASC) AS rk
         |  FROM cells
         |)
         |""".stripMargin + Util.wrap(
        """SELECT a.source, a.labeled_lang, n_docs, n_agree,
          |  (n_agree * CAST(1000000 AS BIGINT)) // n_docs AS agree_ppm,
          |  top_pred_lang, top_pred_n
          |FROM agg a JOIN tp t
          |  ON a.source IS NOT DISTINCT FROM t.source
          | AND a.labeled_lang IS NOT DISTINCT FROM t.labeled_lang
          | AND t.rk = 1""".stripMargin,
        Seq("source", "labeled_lang", "n_docs", "n_agree", "agree_ppm",
          "top_pred_lang", "top_pred_n"))),

    // rational PMI core, one fixed association, minCount 5, top-20
    "text_pmi_topk" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), uni AS (
        |  SELECT w, count(*) AS n
        |  FROM (SELECT unnest(words) AS w FROM tok) u GROUP BY w
        |), bgr AS (
        |  SELECT words[i] AS w1, words[i+1] AS w2, count(*) AS n_ab
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words))) AS i) ii
        |  WHERE len(words) >= 2
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT (SELECT sum(n) FROM uni) AS t1, (SELECT sum(n_ab) FROM bgr) AS t2
        |), sc AS (
        |  SELECT w1, w2, n_ab,
        |    CAST(round(CAST(1000000 AS DOUBLE) * n_ab * t1 * t1
        |      / a.n / b.n / t2) AS BIGINT) AS pmi_micro
        |  FROM bgr JOIN uni a ON bgr.w1 = a.w JOIN uni b ON bgr.w2 = b.w
        |  CROSS JOIN tot
        |  WHERE n_ab >= 5
        |), r AS (
        |  SELECT w1, w2, n_ab, pmi_micro,
        |    row_number() OVER (ORDER BY pmi_micro DESC, w1 ASC, w2 ASC) AS rk
        |  FROM sc
        |)
        |""".stripMargin + Util.wrap(
        "SELECT w1, w2, n_ab, pmi_micro, rk FROM r WHERE rk <= 20",
        Seq("w1", "w2", "n_ab", "pmi_micro", "rk"))),

    // RRF fusion of the bm25 ranking and the dense cosine ranking vs
    // query vector 0; per-list reciprocal terms snap to micros pre-sum
    "doc_hybrid_search" -> (
      """WITH dlt AS (
        |  SELECT doc_id, string_split(text, ' ') AS words,
        |    len(string_split(text, ' ')) AS dl
        |  FROM documents
        |), st AS (
        |  SELECT count(*) AS n_corpus, sum(dl) AS total_tokens FROM dlt
        |), post AS (
        |  SELECT doc_id, dl, token, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(words) AS token FROM dlt) u
        |  WHERE token IN ('spark', 'vector', 'scan')
        |  GROUP BY doc_id, dl, token
        |), dfq AS (
        |  SELECT token, count(*) AS df FROM post GROUP BY token
        |), sc AS (
        |  SELECT doc_id,
        |    CAST(round((
        |      (CAST(n_corpus AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |        / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
        |        / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) * CAST(n_corpus AS DOUBLE)
        |            / CAST(total_tokens AS DOUBLE))))
        |    ) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS s_micro
        |  FROM post JOIN dfq USING (token) CROSS JOIN st
        |), bmr AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY CAST(sum(s_micro) AS BIGINT) DESC, doc_id ASC) AS rk_bm
        |  FROM sc GROUP BY doc_id
        |), e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
        |), anr AS (
        |  SELECT neighbor_id AS doc_id,
        |    row_number() OVER (ORDER BY cosine DESC, neighbor_id ASC) AS rk_ann
        |  FROM (
        |    SELECT c.vec_id AS neighbor_id,
        |      round(list_sum(list_transform(range(1, len(q.v) + 1),
        |        i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine
        |    FROM n q JOIN n c ON q.vec_id = 0 AND c.vec_id >= 1
        |  ) t
        |), fused AS (
        |  SELECT coalesce(b.doc_id, a.doc_id) AS doc_id, b.rk_bm, a.rk_ann,
        |    coalesce(CAST(round(CAST(1000000 AS DOUBLE) / (60 + b.rk_bm)) AS BIGINT), 0) +
        |    coalesce(CAST(round(CAST(1000000 AS DOUBLE) / (60 + a.rk_ann)) AS BIGINT), 0)
        |      AS rrf_micro
        |  FROM (SELECT * FROM bmr WHERE rk_bm <= 1000) b
        |  FULL OUTER JOIN (SELECT * FROM anr WHERE rk_ann <= 1000) a
        |    ON b.doc_id = a.doc_id
        |), ranked AS (
        |  SELECT doc_id, rk_bm, rk_ann, rrf_micro,
        |    row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS rk
        |  FROM fused
        |)
        |""".stripMargin + Util.wrap(
        "SELECT doc_id, rk_bm, rk_ann, rrf_micro, rk FROM ranked WHERE rk <= 10",
        Seq("doc_id", "rk_bm", "rk_ann", "rrf_micro", "rk"))),

    // content-hash diff of two derived snapshots; unchanged rows not emitted
    "doc_snapshot_diff" -> (
      """WITH olds AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 5 THEN text || ' legacy revision'
        |             ELSE text END) AS old_h
        |  FROM documents WHERE doc_id % 17 <> 3
        |), news AS (
        |  SELECT doc_id, md5(text) AS new_h FROM documents WHERE doc_id % 19 <> 7
        |), j AS (
        |  SELECT coalesce(olds.doc_id, news.doc_id) AS doc_id,
        |    CASE WHEN old_h IS NULL THEN 'added'
        |         WHEN new_h IS NULL THEN 'removed'
        |         WHEN old_h <> new_h THEN 'changed' END AS status
        |  FROM olds FULL OUTER JOIN news ON olds.doc_id = news.doc_id
        |)
        |""".stripMargin + Util.wrap(
        "SELECT doc_id, status FROM j WHERE status IS NOT NULL",
        Seq("doc_id", "status"))),

    // floor(log2 n) = len(bin(n)) - 1, shifts for the bounds: integer-exact,
    // no libm log2 on either engine
    "doc_length_buckets" -> (
      """WITH tk AS (
        |  SELECT CAST(length(bin(len(string_split(text, ' ')))) - 1 AS INT)
        |    AS bucket_log2,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents
        |), ag AS (
        |  SELECT bucket_log2, count(*) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS sum_tokens,
        |    CAST(sum((CAST(1 AS BIGINT) << (bucket_log2 + 1)) - n) AS BIGINT)
        |      AS padding_waste
        |  FROM tk GROUP BY bucket_log2
        |)
        |""".stripMargin + Util.wrap(
        """SELECT bucket_log2, CAST(1 AS BIGINT) << bucket_log2 AS bucket_lo,
          |  CAST(1 AS BIGINT) << (bucket_log2 + 1) AS bucket_cap,
          |  n_docs, sum_tokens, padding_waste FROM ag""".stripMargin,
        Seq("bucket_log2", "bucket_lo", "bucket_cap", "n_docs", "sum_tokens",
          "padding_waste"))),

    // strlen = bytes in DuckDB (length() is characters); CASTs pin DuckDB's
    // HUGEINT sums to BIGINT; NULLIF mirrors the zero-token NULL guard
    "text_fertility" -> (
      s"""WITH t AS (
         |  SELECT lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
         |    CAST(len(regexp_extract_all(text, '$bpeish')) AS BIGINT) AS re,
         |    CAST(strlen(text) AS BIGINT) AS b
         |  FROM documents
         |), ag AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |    CAST(sum(re) AS BIGINT) AS re_tokens,
         |    CAST(sum(b) AS BIGINT) AS n_bytes
         |  FROM t GROUP BY lang
         |)
         |""".stripMargin + Util.wrap(
        """SELECT lang, n_docs, ws_tokens, re_tokens, n_bytes,
          |  (re_tokens * 1000000) // NULLIF(ws_tokens, 0) AS fertility_ppm,
          |  (n_bytes * 1000000) // NULLIF(re_tokens, 0) AS bytes_per_token_ppm
          |FROM ag""".stripMargin,
        Seq("lang", "n_docs", "ws_tokens", "re_tokens", "n_bytes",
          "fertility_ppm", "bytes_per_token_ppm"))),

    "doc_epoch_plan" -> (
      """WITH av AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_avail
        |  FROM documents GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(tokens_avail) AS BIGINT) AS corpus_tokens,
        |    count(*) AS n_sources
        |  FROM av
        |), nd AS (
        |  SELECT source, tokens_avail,
        |    (corpus_tokens * 3) // n_sources AS tokens_needed
        |  FROM av CROSS JOIN tot
        |), pl AS (
        |  SELECT source, tokens_avail, tokens_needed,
        |    least((tokens_needed + tokens_avail - 1) // tokens_avail,
        |      CAST(5 AS BIGINT)) AS epochs,
        |    least(tokens_needed, tokens_avail * 5) AS tokens_allocated
        |  FROM nd
        |)
        |""".stripMargin + Util.wrap(
        """SELECT source, tokens_avail, tokens_needed, epochs, tokens_allocated,
          |  tokens_needed - tokens_allocated AS deficit FROM pl""".stripMargin,
        Seq("source", "tokens_avail", "tokens_needed", "epochs",
          "tokens_allocated", "deficit"))),

    // words[i:i+3] is DuckDB's 1-based INCLUSIVE slice = 4 tokens; range's
    // exclusive upper bound gives i in 1..len-3, the 4-gram positions
    "doc_ngram_novelty" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), g AS (
        |  SELECT doc_id, array_to_string(words[i:i+3], ' ') AS gram
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words) - 2)) AS i) ii
        |  WHERE len(words) >= 4
        |), dfq AS (
        |  SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram
        |), per AS (
        |  SELECT doc_id, count(*) AS n_ngrams,
        |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM g JOIN dfq USING (gram) GROUP BY doc_id
        |)
        |""".stripMargin + Util.wrap(
        """SELECT d.doc_id,
          |  coalesce(n_ngrams, CAST(0 AS BIGINT)) AS n_ngrams,
          |  coalesce(n_dup, CAST(0 AS BIGINT)) AS n_dup,
          |  ((coalesce(n_ngrams, 0) - coalesce(n_dup, 0)) * 1000000)
          |    // NULLIF(coalesce(n_ngrams, 0), 0) AS novelty_ppm
          |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,
        Seq("doc_id", "n_ngrams", "n_dup", "novelty_ppm"))),

    // gaps-and-islands: pos - row_number is constant within a consecutive
    // contaminated run; a run of r 3-gram hits spans r+2 verbatim tokens
    "doc_contamination_score" -> (
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |), sh AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) ii
        |  WHERE len(words) >= 3
        |), ev AS (
        |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 101 = 0
        |), hits AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM sh JOIN ev USING (shingle) WHERE doc_id % 101 <> 0
        |), runs AS (
        |  SELECT doc_id, grp, count(*) AS run_len FROM hits GROUP BY doc_id, grp
        |), ag AS (
        |  SELECT doc_id, CAST(max(run_len) AS BIGINT) AS max_run,
        |    CAST(sum(run_len) AS BIGINT) AS n_hit_pos
        |  FROM runs GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_pos FROM sh WHERE doc_id % 101 <> 0
        |  GROUP BY doc_id
        |)
        |""".stripMargin + Util.wrap(
        """SELECT t.doc_id, n_pos,
          |  coalesce(n_hit_pos, CAST(0 AS BIGINT)) AS n_hit_pos,
          |  coalesce(max_run, CAST(0 AS BIGINT)) AS max_run,
          |  CASE WHEN coalesce(max_run, 0) > 0 THEN max_run + 2
          |       ELSE CAST(0 AS BIGINT) END AS max_span_tokens,
          |  (coalesce(n_hit_pos, 0) * 1000000) // n_pos AS contam_ppm
          |FROM tot t LEFT JOIN ag USING (doc_id)""".stripMargin,
        Seq("doc_id", "n_pos", "n_hit_pos", "max_run", "max_span_tokens",
          "contam_ppm"))),
  )

  /** The content-defined chunk table in DuckDB SQL — the single source both
    * cdc oracles interpolate (token codes, 4-token polynomial boundary at
    * 0 mod 8, final-token close), mirroring [[cdcChunks]] step for step. */
  private lazy val cdcCte: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |), c AS (
      |  SELECT doc_id, words, len(words) AS n,
      |    list_transform(words, w -> list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(w, ''), ch -> CAST(ascii(ch) AS BIGINT))),
      |      (a, x) -> (a * 31 + x) % 1000003)) AS codes
      |  FROM tok
      |), b AS (
      |  SELECT doc_id, words, n,
      |    list_filter(range(4, n + 1), i ->
      |      (codes[i-3] * 29791 + codes[i-2] * 961 + codes[i-1] * 31 + codes[i]) % 8 = 0) AS raw
      |  FROM c
      |), bounds AS (
      |  SELECT doc_id, words,
      |    CASE WHEN len(raw) = 0 OR raw[-1] <> n THEN list_append(raw, n) ELSE raw END AS bs
      |  FROM b
      |), ck AS (
      |  SELECT doc_id, u.k AS chunk_idx,
      |    CAST(CASE WHEN u.k = 1 THEN 1 ELSE bs[u.k - 1] + 1 END AS BIGINT) AS start_tok,
      |    CAST(bs[u.k] AS BIGINT) AS end_tok,
      |    array_to_string(list_slice(words,
      |      CASE WHEN u.k = 1 THEN 1 ELSE bs[u.k - 1] + 1 END, bs[u.k]), ' ') AS chunk_text
      |  FROM bounds, LATERAL (SELECT unnest(range(1, len(bs) + 1)) AS k) u
      |)
      |""".stripMargin
}
