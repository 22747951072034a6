package graft

/** Plan-shape regression tests: the properties that make these queries
  * scale are asserted on the PHYSICAL plan, so a refactor that silently
  * loses a pushdown, a broadcast, or a top-k lowering fails CI instead of
  * surfacing as a 100× regression on a real cluster. (Runtime-measured
  * counterpart: SCALE.md.)
  */
class PlanAuditSpec extends SparkSpec {

  private def exec(name: String): org.apache.spark.sql.execution.SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  private def phys(name: String): String = exec(name).toString

  /** KEYED shuffle exchanges only — the audited property is "the operator
    * moves data by key exactly where its semantics require".
    * - BroadcastExchange doesn't count: a dim broadcast is precisely what
    *   these tests want to see instead of a shuffle.
    * - RoundRobinPartitioning doesn't count: that is the
    *   `Tables.documents`/`Tables.embeddings` parallelism floor (the fixture
    *   is single-row-group parquet, so the scan is ONE task; the floor buys
    *   back the other cores). It carries no key, merges with no join/agg,
    *   and is a no-op at real scale where the scan is already parallel —
    *   counting it would flunk every narrow per-row operator for a property
    *   of the FIXTURE, not the plan. SinglePartition (the harness ORDER BY)
    *   still counts, as before.
    * Counted on the plan TREE, not its printout: `InMemoryTableScan`
    * prints its cached plan (built by whichever suite populated the cache
    * first, so its shape varies with test order) but executes none of it —
    * the scan reads cached blocks, so those exchanges must not count. */
  private def exchanges(name: String): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // a.initialPlan, NOT a.inputPlan: in Spark 4 inputPlan is the tree
    // BEFORE EnsureRequirements, i.e. it contains no exchanges at all and
    // every count over it is silently 0 — initialPlan is the static plan
    // with exchanges inserted (verified against a plan whose printout
    // shows the Exchange while inputPlan has none)
    def cnt(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => cnt(a.initialPlan)
      case s: ShuffleExchangeLike
          if !s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => 1
    }.sum
    cnt(exec(name))
  }

  test("q1_agg: shipdate filter and column pruning reach the parquet scan") {
    val p = phys("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // scan must not read join-irrelevant columns like l_orderkey/l_partkey
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"column pruning lost: $readSchema")
  }

  test("q3_join_topk: dims broadcast, top-k lowers to TakeOrderedAndProject") {
    val p = phys("q3_join_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not lowered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact table should never shuffle here:\n$p")
  }

  test("cdr_pipeline_full: both dims broadcast; only dedup + orderAll shuffle") {
    val p = phys("cdr_pipeline_full")
    // both dims sit in the broadcast DimIndex, so the plan joins nothing:
    // any join here means a dim fell off the index onto a join shape
    assert("(Join|CartesianProduct)".r.findFirstIn(p).isEmpty, s"lost the dim index:\n$p")
    // fact-side shuffles: the argmax groupBy + the deterministic ORDER BY
    // (the dim-side distinct of the exploded dimension runs once, in the
    // index build)
    assert(exchanges("cdr_pipeline_full") <= 2, s"unexpected extra shuffle (${exchanges("cdr_pipeline_full")}):\n$p")
    assert(p.contains("hashpartitioning(unique_cdr_id"),
      s"dedup must shuffle on the CDR key (reference parity):\n$p")
  }

  test("doc_dedup_exact_hash: single aggregation shuffle carrying the 8-byte key") {
    val p = phys("doc_dedup_exact_hash")
    // partial agg -> exchange -> final agg, plus the harness ORDER BY
    assert(exchanges("doc_dedup_exact_hash") <= 2, s"exact-hash dedup should shuffle once (+sort):\n$p")
    assert(p.contains("xxhash64"), s"not grouping on the fingerprint:\n$p")
  }

  test("doc_distinct_kmv: the k-smallest filter lowers to WindowGroupLimit (map-side trim)") {
    val p = phys("doc_distinct_kmv")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter not pushed below the exchange — every mapper would ship its whole vocab:\n$p")
  }

  test("doc_quantile_sketch: partial histogram aggregates map-side; read-out joins broadcast") {
    val p = phys("doc_quantile_sketch")
    // the ONE corpus pass must combine map-side: a partial HashAggregate
    // below the (lang, bucket) exchange, so executors ship <= 64*QSub rows
    // per language, never documents
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"histogram not map-side combined:\n$p")
    // the percent list is a 3-row broadcast, never a shuffled join side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"quantile read-out did not broadcast the tiny percent table:\n$p")
    // keyed shuffles: histogram agg + window/totals + harness sort — small
    assert(exchanges("doc_quantile_sketch") <= 5,
      s"too many keyed exchanges (${exchanges("doc_quantile_sketch")}):\n$p")
  }

  test("doc_dedup_embedding_lsh_multi: candidate mining is equi-join only, never a cartesian") {
    val p = phys("doc_dedup_embedding_lsh_multi")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked into pair mining:\n$p")
    // the only nested-loop join allowed is the broadcast of the 8-row
    // constant plane table
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    val planes = "LocalTableScan".r.findAllIn(p).length
    assert(bnl <= planes, s"non-constant side in a nested-loop join:\n$p")
  }

  test("doc_dedup_minhash_est: estimate touches signatures only — no shingle re-join") {
    val p = phys("doc_dedup_minhash_est")
    // the exact verify joins shid (sid column) back; the estimate must not
    assert(!p.contains("sid#"), s"shingle set leaked into the sketch estimate:\n$p")
  }

  test("q_funnel: per-stage aggs are partial (map-side combine), no window over raw events") {
    val p = phys("q_funnel")
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      s"funnel must not sort raw events through a window:\n$p")
  }

  test("partitioned table: partition filter prunes at the scan, not post-scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.table(spark, sf, "orders")
      .withColumn("status", org.apache.spark.sql.functions.col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("status") === "F")
      .select("o_orderkey")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(status"),
      s"partition filter did not reach the scan:\n$p")
    assert(!p.contains("Filter (status"), s"post-scan partition filter:\n$p")
  }

  test("doc_dedup_embedding_lsh: pair join is an equi-join on the signature, never N²") {
    val p = phys("doc_dedup_embedding_lsh")
    // the signature pass is checkpointed before the pair join, so NO
    // nested-loop join of any kind may appear in the pair plan; the
    // corpus×corpus join must hash on `bucket`
    assert(!p.contains("CartesianProduct"), s"cartesian pair join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair join degenerated to a nested loop:\n$p")
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[bucket".r
      .findFirstIn(p).isDefined, s"pair join not keyed on bucket:\n$p")
  }

  test("q5_local_supplier: all four dims broadcast, no cartesian anywhere") {
    val p = phys("q5_local_supplier")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"customer/supplier/nation/region must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the c_nationkey = s_nationkey predicate must ride the supplier equi-join:\n$p")
  }

  test("text queries: no shuffle beyond the harness sort; trigram is heap top-k") {
    val pTok = phys("text_tokens")
    assert(exchanges("text_tokens") <= 1, s"per-row projection must not shuffle:\n$pTok")
    val pTri = phys("text_trigram_topk")
    assert(pTri.contains("TakeOrderedAndProject"), s"top-k not lowered:\n$pTri")
  }

  test("text_repetition: one narrow per-row projection, harness sort is the only exchange") {
    val p = phys("text_repetition")
    assert(exchanges("text_repetition") <= 1, s"repetition signals must not shuffle the corpus:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan should prune to (doc_id, text): $readSchema")
  }

  test("doc_decontaminate: eval shingles broadcast; corpus shuffles only for the overlap count") {
    val p = phys("doc_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$p")
    // corpus-side shuffles: the per-doc overlap aggregation + harness sort
    // (the broadcast side's internal distinct may add a tiny dim-side one)
    assert(exchanges("doc_decontaminate") <= 3, s"too many exchanges (${exchanges("doc_decontaminate")}):\n$p")
  }

  test("doc_curate: per-row gates fuse into one pass; contamination list broadcasts") {
    val p = phys("doc_curate")
    assert(p.contains("BroadcastHashJoin"), s"contamination join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must never sort-merge here:\n$p")
    assert(p.contains("xxhash64"), s"keeper window should partition on the text hash:\n$p")
    // corpus-side: keeper window shuffle + harness sort; contamination
    // derivation adds its own small aggregation exchanges
    assert(exchanges("doc_curate") <= 5, s"gates did not fuse (${exchanges("doc_curate")} exchanges):\n$p")
  }

  test("doc_domain_cap: rank filter lowers to a map-side partial WindowGroupLimit") {
    val p = phys("doc_domain_cap")
    // a hot domain must ship at most k rows per map task, not its whole
    // partition: the Partial group-limit has to sit BELOW the exchange
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"rk <= k did not lower to a partial group limit:\n$p")
    assert(p.indexOf("Partial") > p.indexOf("Exchange hashpartitioning"),
      s"partial limit must run before the source shuffle:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"scan should prune to (doc_id, text, source): $readSchema")
  }

  test("doc_sample_weighted: pure projection — no corpus shuffle, 2-column scan") {
    val p = phys("doc_sample_weighted")
    assert(exchanges("doc_sample_weighted") <= 1, s"sampling must not shuffle (harness sort only):\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"),
      s"scan should prune to (doc_id, lang): $readSchema")
  }

  test("doc_dedup_substring: segment counts aggregate before the join-back") {
    val p = phys("doc_dedup_substring")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"count join-back must be an equi-join on the segment key:\n$p")
    assert(p.contains("partial_count"), s"segment count must map-side combine:\n$p")
  }

  test("text_tfidf_topk: df table broadcasts, top-k is a partial group limit") {
    val p = phys("text_tfidf_topk")
    // the document-frequency join must broadcast the vocab-sized side —
    // a SortMergeJoin here would shuffle the exploded corpus on token
    assert("BroadcastHashJoin \\[token".r.findFirstIn(p).isDefined,
      s"df join must broadcast on token:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$p")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"per-doc top-k did not lower to a partial group limit:\n$p")
    // no pinned checkpoint blocks: the shared termTf shuffle is reused at
    // runtime (AQE exchange reuse), not materialized into executor storage
    assert(!p.contains("Scan ExistingRDD"),
      s"tf pass must not be checkpointed into block storage:\n$p")
  }

  test("emb_label_purity: label joins broadcast the tiny top-k side, never the corpus") {
    val p = phys("emb_label_purity")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"both label joins must broadcast the nQueries·k side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus (vec_id, label) projection must not shuffle:\n$p")
  }

  test("doc_dedup_simhash: fingerprint aggregation is codegen'd, no interpreted lambdas") {
    val p = phys("doc_dedup_simhash")
    assert(!p.contains("lambdafunction"),
      s"bit sums fell out of codegen into higher-order lambdas:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
  }

  test("ann_lsh_multiprobe: candidate mining is a hash equi-join on the probed bucket, never a nested loop") {
    val p = phys("ann_lsh_multiprobe")
    // the probe fan-out must stay a row-expansion feeding an EQUI-join on
    // the bucket key; a lost equi-key would degrade to a nested loop over
    // corpus × probes
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty,
      s"no equi-join on the probed bucket:\n$p")
    // the only nested loops allowed are the broadcast 8×64 plane-table
    // crosses inside lshBuckets (one per join side) — never corpus×corpus
    assert(!p.contains("CartesianProduct"), s"cartesian in the probe join:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2,
      s"nested loop beyond the two broadcast plane-table crosses:\n$p")
  }

  test("ann_ivf_kmeans: every centroid join broadcasts the tiny table; no corpus-side cartesian") {
    val p = phys("ann_ivf_kmeans")
    // assignment passes cross the corpus with the BROADCAST centroid table
    // (BroadcastNestedLoopJoin is the intended shape for a hint-broadcast
    // cross join); the corpus itself must never be on both sides
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroid table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unbroadcast cartesian in the assignment pass:\n$p")
  }

  test("q_hopping_window: hop fan-out is an in-operator expansion feeding a partial aggregate") {
    val p = phys("q_hopping_window")
    // window(ts, win, slide) lowers to Expand (each row → win/slide window
    // rows) + hash aggregation with a map-side partial — the fan-out must
    // not become a join or an extra shuffle
    assert(p.contains("Expand"), s"hop fan-out lost the Expand lowering:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(exchanges("q_hopping_window") <= 2, // agg shuffle + harness sort
      s"hopping agg should shuffle once plus the harness sort:\n$p")
  }

  test("text_bigram_lm: count tables aggregate map-side; joins stay equi-joins") {
    val p = phys("text_bigram_lm")
    assert(p.contains("partial_count"), s"bigram counts not partially aggregated:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"count join-back degraded to a non-equi join:\n$p")
  }

  test("doc_dedup_bloom_inc: sketch probe is the native expression, not a Scala UDF") {
    val p = phys("doc_dedup_bloom_inc")
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("batchevalpython"),
      s"bloom probe fell back to an interpreted per-row UDF:\n$p")
    assert(p.contains("might_contain"),
      s"expected Spark's BloomFilterMightContain in the probe filter:\n$p")
  }

  test("text_gopher_rules: one per-row projection — harness sort is the only exchange, 2-column scan") {
    val p = phys("text_gopher_rules")
    assert(exchanges("text_gopher_rules") <= 1, s"structural rules must not shuffle the corpus:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan should prune to (doc_id, text): $readSchema")
  }

  test("text_bpe_tokens: apply is one equi-join against the word table, never a cartesian") {
    val p = phys("text_bpe_tokens")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"BPE apply degraded to a non-equi join:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-doc token counts must aggregate map-side:\n$p")
  }

  test("ann_pq: codebook and distance-table joins broadcast; corpus codes never cartesian") {
    val p = phys("ann_pq")
    assert(p.contains("BroadcastHashJoin"), s"codebook/table join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"PQ scan degraded to a cartesian:\n$p")
  }

  test("ann_ivfpq: codebook/table joins broadcast, cell id in the join key, never cartesian") {
    val p = phys("ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"), s"code/table join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"IVFPQ scan degraded to a cartesian:\n$p")
    assert(p.contains("cid"), s"cell id must gate the ADC join:\n$p")
  }

  test("doc_distinct_hll: register build is two map-side-combining aggregations, no vocab-wide window") {
    val p = phys("doc_distinct_hll")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"register max must partially aggregate:\n$p")
    assert(!p.contains("Window"), s"no window may touch the token stream:\n$p")
  }

  test("doc_dedup_semantic: pair mining is a cid equi-join, never a corpus cartesian") {
    val p = phys("doc_dedup_semantic")
    // centroid scoring is a broadcast nested-loop BY DESIGN (tiny centroid
    // table × corpus); the corpus×corpus pair side must never be
    assert(!p.contains("CartesianProduct"), s"corpus pair cartesian:\n$p")
    assert("(BroadcastHash|SortMerge|ShuffledHash)Join".r.findFirstIn(p).isDefined,
      s"within-cluster pairs must be an equi-join on the cell id:\n$p")
  }

  test("doc_heavy_hitters: counter build is a partial count agg; the 2048-row sketch broadcasts to the estimate join") {
    val p = phys("doc_heavy_hitters")
    // the occurrence stream pre-reduces to <= d·w rows per mapper before
    // any exchange — shipping raw (row,bucket) rows would be the corpus
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"counter build must map-side combine:\n$p")
    // the estimate join must broadcast the tiny counter table, and the
    // top-k rank filter must trim map-side, not sort the vocabulary
    assert(p.contains("BroadcastHashJoin"), s"counter table not broadcast:\n$p")
    // limit-pushdown gives the ideal lowering here: a 20-row heap per
    // partition + merge (TakeOrderedAndProject), never a vocab-wide sort
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"),
      s"top-k not lowered — the full vocab would sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no nested-loop anywhere in the sketch path:\n$p")
  }

  test("text_bm25_topk: df/corpus stats broadcast; no sort-merge join; term filter precedes the postings agg") {
    val p = phys("text_bm25_topk")
    // df is a <=|query|-row table, corpus stats a 1-row aggregate — both
    // must broadcast (the stats crossJoin as a 1-row BNLJ is the design)
    assert(p.contains("BroadcastHashJoin"), s"df table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"postings must never shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the scoring path:\n$p")
    // the term-selective filter must run before the (doc,term) aggregation
    // so shuffled postings volume is O(matching tokens), not corpus tokens
    assert(p.contains("INSET") || p.contains(" IN ("),
      s"query-term filter missing from the physical plan:\n$p")
  }

  test("doc_snapshot_diff: digests joined, not bodies — md5 projected below the full-outer join") {
    val p = phys("doc_snapshot_diff")
    assert(p.contains("FullOuter"), s"diff must be a full-outer join:\n$p")
    // the join input projections must carry (doc_id, md5) — never `text`;
    // at scale the shuffle moves 16-byte digests, not document bodies
    val joinLine = p.linesIterator.find(_.contains("FullOuter")).get
    assert(!joinLine.contains("text"), s"document body reaches the join: $joinLine")
    assert(exchanges("doc_snapshot_diff") <= 3,
      s"diff needs at most 2 keyed join exchanges + harness sort:\n$p")
  }

  test("emb_project / doc_length_buckets: narrow per-row work — harness sort (+1 agg) only") {
    // JL projection is pure in-row array math: zero keyed shuffles beyond
    // the harness ORDER BY
    assert(exchanges("emb_project") <= 1, s"JL projection must not shuffle")
    // length buckets: one map-side-combining agg over ~60 keys + harness sort
    val p = phys("doc_length_buckets")
    assert(p.contains("partial_"), s"bucket agg must map-side combine:\n$p")
    assert(exchanges("doc_length_buckets") <= 2, s"extra shuffle in bucket stats:\n$p")
  }

  test("ann_jl / emb_pca_scores: projected corpus never cartesians; v/query side broadcasts") {
    val pj = phys("ann_jl")
    assert(!pj.contains("CartesianProduct"), s"JL ANN cartesian:\n$pj")
    assert(pj.contains("BroadcastNestedLoopJoin") || pj.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$pj")
    val ps = phys("emb_pca_scores")
    assert(!ps.contains("CartesianProduct"), s"PCA scores cartesian:\n$ps")
    // the 1-row component vector broadcasts onto the centered corpus scan
    assert(ps.contains("BroadcastNestedLoopJoin"), s"v not broadcast:\n$ps")
    assert(exchanges("emb_pca_scores") <= 1,
      s"scoring is per-row work — harness sort only:\n$ps")
  }

  test("q_profile: no multi-distinct Expand; count-by-value stage hash-aggregates") {
    val p = phys("q_profile")
    // the Expand rewrite replicates the scan ×(#cols+1) and its string
    // min/max buffers force SortAggregate over a 7-column key (SCALE.md
    // "profiler") — the unpivot form must never regress into it
    assert(!p.contains("Expand"), s"profiler regressed to the Expand rewrite:\n$p")
    assert(p.contains("HashAggregate"), s"count-by-value stage must hash-agg:\n$p")
    // (col,value) agg + per-col agg + harness sort
    assert(exchanges("q_profile") <= 3, s"extra shuffle (${exchanges("q_profile")}):\n$p")
  }

  test("q_corr_matrix: every pair's co-moments in one aggregate over one scan") {
    val p = phys("q_corr_matrix")
    assert(!p.contains("Join"), s"correlation matrix must not self-join:\n$p")
    // partial co-moments map-side; single-row final agg + harness sort
    assert(p.contains("partial_corr") || p.contains("Partial"),
      s"co-moments not map-side combined:\n$p")
    assert(exchanges("q_corr_matrix") <= 2,
      s"extra shuffle (${exchanges("q_corr_matrix")}):\n$p")
  }

  test("emb_outliers: 1-row moment vectors broadcast; native agg combines map-side; top-k lowers") {
    val p = phys("emb_outliers")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not lowered:\n$p")
    // the mean/variance results are single-row ARRAY frames now — they ride
    // a BroadcastNestedLoopJoin (1×N, no key), never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"moment vectors must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vectors must never shuffle for the moment joins:\n$p")
    // the custom aggregate must partial-aggregate before its exchange —
    // the property that keeps the shuffle at one buffer per partition
    assert(p.contains("partial_vec_sum_long"),
      s"vec_sum_long must map-side combine:\n$p")
  }

  test("q_constraints: row-local rules share one aggregate; FK misses counted in one probe pass") {
    val p = phys("q_constraints")
    // lineitem: row-local agg + unique agg + ONE fk probe; orders: key set.
    // More scans means a rule class regressed into extra passes.
    assert("Scan parquet".r.findAllIn(p).length <= 4,
      s"rule fan-out must not multiply scans:\n$p")
    assert(!p.contains("CartesianProduct"), s"no rule may cartesian:\n$p")
  }

  test("q_bloom_semi: sketch probe filters the fact scan below the join, codegen'd") {
    val p = phys("q_bloom_semi")
    assert(p.contains("might_contain"), s"bloom prefilter missing from the plan:\n$p")
    // the probe must sit on the lineitem side BEFORE the semi join, so
    // filtered rows never reach the join exchange
    val probeIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe must be in the join's input subtree (printed below it):\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
  }

  test("doc_dedup_fuzzy / doc_dedup_triangles: candidate mining stays equi-join") {
    val pf = phys("doc_dedup_fuzzy")
    assert(!pf.contains("CartesianProduct"), s"fuzzy verify cartesian:\n$pf")
    // the only nested-loop join allowed is the broadcast 16-row hash grid
    assert(pf.contains("levenshtein"), s"bounded verify missing:\n$pf")
    val pt = phys("doc_dedup_triangles")
    assert(!pt.contains("CartesianProduct"), s"wedge join cartesian:\n$pt")
  }

  test("q_gap_fill / q_cdc_apply: grid fan-out stays in-row; argmax aggregates sort-free") {
    val pg = phys("q_gap_fill")
    // the day grid comes from an in-row sequence explode, never a
    // numbers-table join; daily agg + window + harness sort only
    assert(pg.contains("Generate") && pg.contains("sequence"),
      s"grid must be an in-row sequence fan-out:\n$pg")
    assert(!pg.contains("CartesianProduct"), s"numbers-table join leaked:\n$pg")
    val pc = phys("q_cdc_apply")
    // whole-row argmax lowers to a hash aggregate over max(struct), with a
    // map-side partial — never a per-key sort + row_number
    assert(pc.contains("partial_max") || pc.contains("Partial"),
      s"argmax must partial-aggregate:\n$pc")
    assert(!pc.contains("Window"), s"CDC apply must not window-sort:\n$pc")
    assert(exchanges("q_cdc_apply") <= 2,
      s"one keyed shuffle (+harness sort) expected:\n$pc")
  }

  test("q_scd2: both window passes share one keyed shuffle + sort") {
    val p = phys("q_scd2")
    // change-point lag and version/validity lead run over the SAME
    // (user_id × ts,event_id) ordering with only a Filter between them —
    // EnsureRequirements must satisfy the second Window from the first's
    // partitioning/ordering, not re-shuffle or re-sort
    assert(p.contains("Window"), s"window chain missing:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"both windows must reuse ONE user_id shuffle:\n$p")
    assert(exchanges("q_scd2") <= 2, s"keyed shuffle + harness sort only:\n$p")
  }

  test("doc_winnow_overlap / mm_audio_frames: one shuffle before the pair join / frame agg") {
    val pw = phys("doc_winnow_overlap")
    // fingerprint selection is in-row: the only pre-join shuffles are the
    // positional collect_list and the vocab build feeding it (the
    // window-min transform itself is projected, not aggregated — its
    // expression text gets truncated from the plan print, so the audit
    // pins the structure: equi-join only, pair counts partial-aggregated)
    assert(!pw.contains("CartesianProduct"), s"overlap join cartesian:\n$pw")
    assert(pw.contains("partial_count") || pw.contains("Partial"),
      s"pair counts must map-side combine:\n$pw")
    val pa = phys("mm_audio_frames")
    assert(pa.contains("Generate"), s"sample explode missing:\n$pa")
    assert(pa.contains("partial_count") || pa.contains("Partial"),
      s"frame energy must map-side combine:\n$pa")
    assert(exchanges("mm_audio_frames") <= 2,
      s"frame agg + harness sort only:\n$pa")
  }

  test("q_skyline / doc_dedup_snm / doc_shuffle_shards: no quadratic forms, keyed windows only") {
    // skyline: plans to the custom SkylineExec (both sweep phases inside
    // one physical node — no De/SerializeObject walls, no Exchange; the
    // frontier gather is an RDD coalesce) — NEVER the oracle's quadratic
    // NOT EXISTS self-join, and never the rejected drafts (pid-window =
    // full shuffle; typed mapPartitions = 4 object-conversion walls)
    val ps = phys("q_skyline")
    assert(!ps.contains("CartesianProduct") && !ps.contains("Join"),
      s"skyline must be sweep-pruned, not a domination join:\n$ps")
    assert(ps.contains("Skyline"), s"custom SkylineExec missing:\n$ps")
    assert(!ps.contains("DeserializeToObject"),
      s"typed-path conversion walls leaked back:\n$ps")
    // the only Exchange is the harness sort
    assert(exchanges("q_skyline") <= 1, s"skyline must not shuffle:\n$ps")

    // snm: the sort window partitions by the 4-char block key — a global
    // (empty-partition) window would be the single-task scale bug. Audited
    // on the UNWRAPPED operator: the registry entry's orderAll adds a
    // SinglePartition harness exchange that made the original
    // no-global-window disjunction vacuously true (review-caught), so the
    // raw plan is the one that can actually fail this.
    val pn = graft.llm.Dedup.snmPairs(Tables.documents(spark, sf), 3, 20)
      .queryExecution.executedPlan.toString
    assert(pn.contains("hashpartitioning(blk"),
      s"snm window must partition by the block key:\n$pn")
    assert(!pn.contains("SinglePartition"),
      s"snm must not run a global window:\n$pn")
    assert(pn.contains("levenshtein"), s"bounded verify missing:\n$pn")

    // emb_decontaminate: the eval side broadcasts (benchmarks are small
    // and fixed-size); the corpus scan never shuffles before the argmax,
    // and only threshold survivors reach that exchange
    val pd = phys("emb_decontaminate")
    assert(pd.contains("BroadcastNestedLoopJoin") || pd.contains("BroadcastExchange"),
      s"eval side must broadcast:\n$pd")
    assert(!pd.contains("CartesianProduct") && !pd.contains("SortMergeJoin"),
      s"corpus must not shuffle for the eval probe:\n$pd")
    assert(exchanges("emb_decontaminate") <= 2,
      s"argmax window + harness sort only:\n$pd")

    // q_recursive_reach: linear join-free recursion — nothing but the
    // harness sort may shuffle (each iteration is filter+project)
    assert(exchanges("q_recursive_reach") <= 1,
      s"recursion must not shuffle:\n${phys("q_recursive_reach")}")

    // mm_phash_pairs: candidate mining is the (band, bval) equi-join —
    // never an all-pairs product; pair counts partial-aggregate
    val pp = phys("mm_phash_pairs")
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"),
      s"phash mining must stay equi-join:\n$pp")
    assert(pp.contains("partial_sum") || pp.contains("Partial"),
      s"hamming agg must map-side combine:\n$pp")

    // shard shuffle: ONE keyed exchange (shard) + the harness sort; the
    // pos window is partitioned, parallelism = nShards
    val ph = phys("doc_shuffle_shards")
    assert(ph.contains("hashpartitioning(shard"),
      s"pos window must partition by shard:\n$ph")
    assert(exchanges("doc_shuffle_shards") <= 2,
      s"one shard shuffle + harness sort expected:\n$ph")
  }

  test("mm_*_real: codec stage is partition-parallel, declarative tails shuffle only where semantics require") {
    // the real-codec family's scale contract: the ImageIO/AudioSystem
    // decode runs inside ONE mapPartitions stage straight over the scan —
    // no keyed exchange feeds it, so codec work distributes linearly —
    // and every pixel/sample computation after it is declarative
    // (codegen'd array expressions), shuffling only at its own aggregate.

    // decode-meta: pure per-row decode → the only exchange is the harness sort
    val pd = phys("mm_decode_real")
    assert(pd.contains("MapPartitions"), s"codec stage missing:\n$pd")
    assert(!pd.contains("Join"), s"decode must not join:\n$pd")
    assert(exchanges("mm_decode_real") <= 1,
      s"decode must not shuffle before the harness sort:\n$pd")

    // resize: in-row transform+explode over the decoded array — same bound
    val pr = phys("mm_resize_real")
    assert(pr.contains("MapPartitions") && pr.contains("Generate"),
      s"decode + in-row gather expected:\n$pr")
    assert(exchanges("mm_resize_real") <= 1,
      s"resize gather must stay in-row:\n$pr")

    // aHash bands: cell agg + per-doc gather + harness sort, partial-
    // aggregated map-side — and the DECODE RUNS ONCE: the single-tree
    // ahash tail must not re-plan the codec stage into a second branch
    // (exactly 2 MapPartitions: the encode and the decode)
    val pp = phys("mm_phash_real")
    assert(pp.contains("partial_sum") || pp.contains("Partial"),
      s"band agg must map-side combine:\n$pp")
    assert(exchanges("mm_phash_real") <= 3,
      s"cell agg + doc gather + harness sort only:\n$pp")
    val nCodec = "MapPartitions".r.findAllIn(pp).size
    assert(nCodec == 2, s"codec stage duplicated ($nCodec MapPartitions):\n$pp")

    // video frame sampling / mixed-modality probe: pure per-row codec
    // work — nothing but the harness sort may shuffle
    val pv = phys("mm_video_real")
    assert(pv.contains("MapPartitions") && !pv.contains("Join"),
      s"video codec stage missing or joined:\n$pv")
    assert(exchanges("mm_video_real") <= 1,
      s"frame sampling must not shuffle:\n$pv")
    val pb = phys("mm_probe_safe")
    assert(pb.contains("MapPartitions") && !pb.contains("Join"),
      s"probe codec stage missing or joined:\n$pb")
    assert(exchanges("mm_probe_safe") <= 1,
      s"probe must not shuffle:\n$pb")

    // audio frames: one keyed exchange (doc, frame) + harness sort
    val pa = phys("mm_audio_real")
    assert(pa.contains("MapPartitions") && pa.contains("Generate"),
      s"PCM decode + sample explode expected:\n$pa")
    assert(pa.contains("partial_count") || pa.contains("Partial"),
      s"frame energy must map-side combine:\n$pa")
    assert(exchanges("mm_audio_real") <= 2,
      s"frame agg + harness sort only:\n$pa")
  }

  test("r8 eval/audit family: broadcast stats, map-side combines, no corpus-sized tails") {
    // retrieval eval: per query, df/corpus-stats ride broadcasts (never a
    // token-keyed shuffle join) and the posting agg combines map-side
    val pr = phys("text_retrieval_eval")
    assert(!pr.contains("SortMergeJoin"),
      s"retrieval eval must not shuffle-join its stats:\n$pr")
    assert(pr.contains("BroadcastHashJoin") || pr.contains("BroadcastNestedLoopJoin"),
      s"df/stats broadcasts missing:\n$pr")
    assert(pr.contains("partial_count") || pr.contains("Partial"),
      s"posting agg must map-side combine:\n$pr")
    // 3 independent query probes × (posting agg, doc rollup, candidate
    // window, 1-row eval agg, …) + the harness sort — only the posting
    // aggs are corpus-sized, and those combine map-side (asserted above)
    assert(exchanges("text_retrieval_eval") <= 19,
      s"retrieval eval grew a shuffle: ${exchanges("text_retrieval_eval")}")

    // label audit: ONE corpus-sized cell count, then |S|·|L|²-sized
    // window + harness sort — 3 keyed exchanges total
    val pl = phys("text_label_audit")
    assert(exchanges("text_label_audit") <= 3,
      s"label audit must stay at cell-count + window + sort:\n$pl")
    assert(pl.contains("partial_count") || pl.contains("Partial"),
      s"cell count must map-side combine:\n$pl")

    // divergence / drift: the (source|bucket)-keyed matrix moves between
    // the count, the totals join and the rollup — every stage AFTER the
    // first aggregation is |S|·|V|- (resp. |S|·B-) sized, never corpus-
    // sized; source/grand totals ride broadcasts
    val pd = phys("doc_source_divergence")
    assert(pd.contains("BroadcastHashJoin") || pd.contains("BroadcastNestedLoopJoin"),
      s"divergence totals must broadcast:\n$pd")
    assert(exchanges("doc_source_divergence") <= 9,
      s"divergence grew a shuffle: ${exchanges("doc_source_divergence")}")
    val pf = phys("doc_drift_ref")
    assert(pf.contains("BroadcastHashJoin") || pf.contains("BroadcastNestedLoopJoin"),
      s"drift ref table must broadcast:\n$pf")
    assert(!pf.linesIterator.exists(l => l.contains("SortMergeJoin") && l.contains("ref")),
      s"ref join must never shuffle:\n$pf")
    assert(exchanges("doc_drift_ref") <= 8,
      s"drift grew a shuffle: ${exchanges("doc_drift_ref")}")

    // recall eval: three production ANN paths + exact truth, hit-matching
    // on top-k-sized sets (r10 adds the pq_refine arm: codebook agg +
    // encode argmin + ADC sum + candidate/re-rank windows = 7 more keyed
    // exchanges, each over code- or candidate-sized data, never corpus)
    assert(exchanges("ann_recall_eval") <= 26,
      s"recall eval grew a shuffle: ${exchanges("ann_recall_eval")}")
    assert(exchanges("doc_curation_funnel") <= 6,
      s"funnel grew a shuffle beyond curate's own: ${exchanges("doc_curation_funnel")}")
  }

  test("pref family: pairs aggregate in one keyed pass (partial min/max structs, no window); template dedup is the exact-dedup shape") {
    // prefPairs claims ONE partial-aggregated pass per pool: the struct
    // min/max must show a partial_min/partial_max before the exchange
    // (map-side combine), and the plan must not contain a Window at all —
    // a window would sort the full candidate set per pool
    val pp = phys("pref_pairs")
    assert(!pp.contains("Window"), s"prefPairs regressed to a window sort:\n$pp")
    assert(pp.contains("partial_min") && pp.contains("partial_max"),
      s"pool argmax/argmin must combine map-side:\n$pp")
    // quality-score join + pool agg + harness sort
    assert(exchanges("pref_pairs") <= 3,
      s"prefPairs grew a shuffle: ${exchanges("pref_pairs")}")
    // bestOfN: the rank <= n filter must lower to WindowGroupLimit so the
    // per-pool trim happens map-side before the window's own shuffle
    val pb = phys("pref_bestofn")
    assert(pb.contains("WindowGroupLimit"),
      s"bestOfN top-k must lower to WindowGroupLimit:\n$pb")
    // template dedup: projection + the two-phase distinct aggregation
    // (countDistinct(source) partial-aggregates on (template, source)
    // before the template rollup — the standard distinct-agg shape, both
    // phases map-side-combined) + harness sort
    assert(exchanges("doc_template_dedup") <= 3,
      s"templateDedup grew a shuffle: ${exchanges("doc_template_dedup")}")
  }

  test("stored dedup consumers: report cost is artifact-scan + its own agg, never mining shuffles") {
    // build the artifact once so the consumer plans below are pure reads
    graft.llm.Dedup.dedupArtifact(spark, sf, 0.4)
    // keep = one aggregation over the stored cluster labels: scan + the
    // cluster groupBy + the harness sort — the whole report is 2 keyed
    // exchanges over a table ~10^6x smaller than the corpus at scale
    assert(exchanges("dedup_stored_keep") <= 2,
      s"stored keep grew a shuffle: ${exchanges("dedup_stored_keep")}")
    // clusters = the artifact read-back itself: scan + harness sort only
    assert(exchanges("dedup_stored_clusters") <= 1,
      s"stored clusters must be scan+sort only: ${exchanges("dedup_stored_clusters")}")
    // scoped policy eval = two filters over the pair table + the per-source
    // rollup: pair-table-keyed joins + one source agg + harness sort; the
    // corpus contributes only the (doc_id, source) projection
    assert(exchanges("dedup_stored_scoped") <= 6,
      s"stored scoped eval grew a shuffle: ${exchanges("dedup_stored_scoped")}")
    // and none of them re-mine: no band-value key anywhere in the plan
    Seq("dedup_stored_keep", "dedup_stored_clusters", "dedup_stored_scoped")
      .foreach { n => assert(!phys(n).contains("bval"), s"$n re-mines:\n${phys(n)}") }
  }

  private def exchangesOf(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def cnt(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => cnt(a.initialPlan)
      case s: ShuffleExchangeLike
          if !s.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => 1
    }.sum
    cnt(df.queryExecution.executedPlan)
  }

  test("training shards: the container pass is ONE keyed exchange — layout is a projection, pos is the writer's counter") {
    import graft.llm.TrainingShards
    val docs = Tables.documents(spark, sf)
    val plan = TrainingShards.containerWritePlan(
      TrainingShards.withLayout(docs.selectExpr("doc_id AS entry_id",
        "encode(text, 'UTF-8') AS payload"), 16, 0L))
    assert(exchangesOf(plan) == 1,
      s"container pass must shuffle exactly once (on shard):\n${plan.queryExecution.executedPlan}")
    // and the one exchange hash-partitions on shard — a shard never spans
    // tasks, which is what lets the writer stream containers
    assert(plan.queryExecution.executedPlan.toString.contains("hashpartitioning(shard"),
      "the exchange must key on shard")
  }

  test("packed token shards: vocab joins broadcast; no cartesian anywhere in the chain") {
    import graft.llm.TrainingShards
    val docs = Tables.documents(spark, sf)
    val plan = TrainingShards.containerWritePlan(
      TrainingShards.withLayout(
        // the packed chain below trains k=2 merges once (checkpointed
        // word-symbol table), so building this plan is cheap
        TrainingShards.packedTokenRows(docs, 2, 64)
          .groupBy("pack_seq").agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .selectExpr("pack_seq AS entry_id", "CAST(NULL AS BINARY) AS payload"),
        8, 0L))
    val p = plan.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"packed chain grew a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "vocab/base joins must broadcast — they are vocab- and source-sized")
  }

  test("sequence packing: running offsets are the two-phase prefix sum — no per-source corpus window") {
    // the killer shape: a running sum whose window partitions by source
    // alone and orders by doc_id shuffles EVERY row of a source into ONE
    // task; the prefix-sum rewrite partitions its corpus window by
    // (source, __bkt) instead, so only the tiny offset tables keep
    // single-key windows. The regex pins the exact windowspec, so the
    // #sources-row pack-base window (ORDER BY source, no partition) and
    // the nBuckets-row offset window (partition source ORDER BY __bkt)
    // stay legal.
    val bad = """windowspecdefinition\(source#\d+, doc_id#\d+L? ASC""".r
    for (name <- Seq("doc_pack_greedy", "doc_pack_bpe")) {
      val p = phys(name)
      assert(bad.findFirstIn(p).isEmpty,
        s"$name funnels a whole source through one window task:\n$p")
      assert(p.contains("__bkt"), s"$name lost the bucketed prefix sum:\n$p")
    }
    val pr = graft.llm.TrainingShards.packedTokenRows(
        Tables.documents(spark, sf), 2, 64)
      .queryExecution.executedPlan.toString
    assert(bad.findFirstIn(pr).isEmpty,
      s"packedTokenRows funnels a whole source through one window task:\n$pr")
    assert(pr.contains("__bkt"), s"packedTokenRows lost the bucketed prefix sum:\n$pr")
  }

  test("packed-store metadata consumers: no unpartitioned window, tiny sides broadcast, spans never shuffle for the tombstone/target set") {
    import graft.llm.TrainingShards
    val out = java.nio.file.Files.createTempDirectory("graft-audit-pk").toString
    TrainingShards.writePackedTokenShards(
      Tables.documents(spark, sf).limit(40), out, 4, 2, 64)
    TrainingShards.addTombstones(spark, out,
      spark.range(3).select(org.apache.spark.sql.functions.col("id").as("doc_id")),
      ingestBatch = 1L)
    // packLocations' one window partitions by shard — a shard is bounded
    // by the writer's own non-ZIP64 cap, so no unpartitioned window may
    // appear anywhere in the consumer plans. Match the partition-less
    // shape POSITIVELY (first argument is an ORDER column, i.e. followed
    // by ASC/DESC) — the line-799 idiom; a negative lookahead on \w+#
    // can never fire because every window's first arg is a column ref
    // (review-caught vacuous assertion).
    val unpart = """windowspecdefinition\(\w+#\d+L? (ASC|DESC)""".r
    for ((name, df) <- Seq(
      "packLocations" -> TrainingShards.packLocations(spark, out),
      "epochReadOrder" -> TrainingShards.epochReadOrder(spark, out, 1L),
      "activeSpans" -> TrainingShards.activeSpans(spark, out),
      "epochFeed" -> TrainingShards.epochFeed(spark, out, 1L),
      "packsContaining" -> TrainingShards.packsContaining(spark, out,
        spark.range(3).select(org.apache.spark.sql.functions.col("id").as("doc_id"))))) {
      val p = df.queryExecution.executedPlan.toString
      assert(unpart.findFirstIn(p).isEmpty,
        s"$name grew an unpartitioned window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name grew a cartesian:\n$p")
    }
    // the epoch FEED's one shuffle is the shard-partitioned window that
    // replays the writer counter: the corpus-sized span frame must never
    // hash-exchange for a manifest/batch join (ord_key and shard are pure
    // projections; the batch table and the tombstone set broadcast)
    locally {
      val p = TrainingShards.epochFeed(spark, out, 1L)
        .queryExecution.executedPlan.toString
      // the SPAN frame's one exchange is the shard window; the only other
      // hash exchange allowed is the takedown-sized tombstone set's own
      // distinct, which feeds a BroadcastExchange (never the span frame)
      val exCols = """Exchange hashpartitioning\((\w+)#""".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(exCols.count(_ == "shard") == 1 &&
        exCols.forall(c => c == "shard" || c == "doc_id"),
        s"epochFeed span frame must shuffle once, on shard (got $exCols):\n$p")
      assert(!p.contains("Exchange rangepartitioning"),
        s"epochFeed grew a global sort:\n$p")
      assert(p.contains("BroadcastExchange"),
        s"epochFeed must broadcast its batch/tombstone sides:\n$p")
    }
    // the corpus-sized span table must not exchange for the tiny sides
    for ((name, df) <- Seq(
      "activeSpans" -> TrainingShards.activeSpans(spark, out),
      "packsContaining" -> TrainingShards.packsContaining(spark, out,
        spark.range(3).select(org.apache.spark.sql.functions.col("id").as("doc_id"))))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$name must broadcast its takedown-sized side:\n$p")
    }
  }
}
