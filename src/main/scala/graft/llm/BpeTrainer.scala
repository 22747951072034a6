package graft.llm

import graft.{Tables, Util}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer TRAINING — the missing first
  * stage of a training-data pipeline (the corpus ops downstream all assume
  * a tokenizer exists). Implements the classic word-frequency formulation
  * (Sennrich et al. 2016): the merge loop runs over the DISTINCT-WORD
  * frequency table, not the corpus — the corpus is scanned exactly once to
  * build `(word, freq)`, after which every iteration costs one in-row
  * pair explode + one map-side-combining `groupBy(pair).sum(freq)` over a
  * vocabulary-sized table. That is precisely how single-node BPE trainers
  * scale to web corpora, re-expressed as Spark aggregations.
  *
  * Per step: pair statistics count every ADJACENT symbol pair (overlapping
  * — "aaa" contributes (a,a) twice), weighted by word frequency; the merge
  * winner is the (count DESC, pair ASC) argmax — deterministic where the
  * reference implementations leave ties arbitrary; applying a merge is a
  * per-row left-to-right non-overlapping fold (`aggregate` over the symbol
  * array): the merged token can never re-merge within a pass because
  * `a || b` differs from `a` for any non-empty `b`, so the fold IS the
  * left-to-right scan. No shuffle touches merge application at all.
  *
  * Driver state is k rows (the learned merges) — the same bounded-collect
  * convention as the LSH plane table; the word table itself stays
  * distributed and is `localCheckpoint`ed per step to keep the k-step
  * lineage flat.
  */
object BpeTrainer {

  /** (word, f) frequency table — one corpus scan, the only corpus-sized
    * job in the trainer. */
  private def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("f"))

  /** One learned merge. */
  final case class Merge(step: Int, a: String, b: String, count: Long)

  /** Left-to-right non-overlapping application of merge (a, b) to a symbol
    * array, as a single codegen-friendly fold. Kept as the one-merge
    * reference form ([[applyMerges]] is the loop twin the spec pins
    * against it). */
  private[graft] def applyMerge(syms: org.apache.spark.sql.Column, a: String, b: String) =
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      array(element_at(syms, 1)),
      (acc, s) => when(element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Apply a rank-ordered merge batch to the word table in ONE
    * mapPartitions pass — the same left-to-right non-overlapping replay
    * loop as [[bpeTokensAgainstMerges]] (spec-pinned bit-identical to the
    * [[applyMerge]] fold), applied sequentially in batch order. Replaces
    * the previous B-deep nested `withColumn(applyMerge(...))` chain, whose
    * codegen cost grew superlinearly in B (measured: the k=512/B=32 wide
    * stress spent ~12 s/round in the 32-deep expression tree; the loop
    * pass is corpus-work-proportional instead). */
  private[graft] def applyMerges(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    if (merges.isEmpty) return words
    val spark = words.sparkSession
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(words.schema)
    val (iWord, iF, iSyms) = (words.schema.fieldIndex("word"),
      words.schema.fieldIndex("f"), words.schema.fieldIndex("syms"))
    words.mapPartitions { rows =>
      val ms = bc.value
      rows.map { r =>
        var syms: Array[String] = r.getSeq[String](iSyms).toArray
        var i = 0
        while (i < ms.length) {
          val (a, b) = ms(i)
          if (syms.length >= 2) syms = mergeOnce(syms, a, b)
          i += 1
        }
        // positional Row against words.schema — fill by field index rather
        // than assuming (word, f, syms) column order
        val vals = new Array[Any](3)
        vals(iWord) = r.get(iWord); vals(iF) = r.get(iF); vals(iSyms) = syms.toSeq
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
    }(enc)
  }

  /** The merge kernel of both loop forms: merge (a, b) into `syms` left to
    * right, non-overlapping — the [[applyMerge]] rule. Returns `syms`
    * itself when no occurrence was merged. */
  private def mergeOnce(syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    var changed = false
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
        out += (a + b); changed = true; j += 2
      } else { out += syms(j); j += 1 }
    }
    if (changed) out.toArray else syms
  }

  /** Run k merge steps; returns the learned merges and the final
    * (word, f, syms) table (still distributed). Stops early if no pair is
    * left to merge.
    *
    * `batch` > 1 is the production-scale loop shape (k/B driver round-trips
    * instead of k): each pair-statistics pass selects up to `batch` merges
    * that are pairwise SYMBOL-DISJOINT — no selected pair shares a symbol
    * with another selected pair or with another selection's merged output —
    * in (count DESC, pair ASC) rank order, from a bounded candidate window
    * (8·batch rows, still a top-k collect, never data-sized). Disjointness
    * makes the batch exact *as a set of applications*: merging (a,b) can
    * neither create nor destroy an occurrence of a disjoint (c,d), so
    * applying the batch sequentially in rank order (what the loop does)
    * touches the same occurrences as applying each against its own
    * recount. What IS approximate at batch > 1 is the global greedy
    * ordering itself — a merge's output symbol could pair into a count
    * that outranks the batch's lower picks; classic batched-BPE accepts
    * this (quality indistinguishable at real k), and `batch = 1` (the
    * default, and what every oracle query uses) reproduces the exact
    * sequential algorithm including recorded counts. */
  /** Steps between word-table materializations in [[train]]. Between
    * checkpoints each pair-statistics job replays the pending (not yet
    * materialized) merges as ONE in-task [[applyMerges]] loop over the
    * checkpointed base — a narrow map fused into the same stage, so the
    * replay costs |pending| in-row scans and NO extra Spark job, vs. the
    * previous one-eager-localCheckpoint-per-step shape that paid a full
    * materialization job per merge (2 jobs/step → 1). The cadence bounds
    * the replay at CheckpointEvery scans per word — at production k
    * (tens of thousands of merges, batch > 1) the checkpoint amortizes
    * across a batch anyway, and results are bit-identical at any cadence
    * (same merges, same counts — the materialization points are invisible
    * to the arithmetic).
    *
    * Cadence 4, not 16 (r15, the verdict-item-1 A/B): the r14 cadence made
    * the k=6 registry rows replay up to 5 pending merges per pair job, and
    * the isolated alternating A/B vs the r14-start binary (min over reps,
    * BENCH_ONLY=text_bpe_apply,doc_pack_bpe,...) measured doc_pack_bpe
    * 3.87→5.06 s / text_bpe_apply 3.02→3.59 s under cadence 16. Per-step
    * attribution shows the replay work itself is trivial warm (the word
    * table is distinct-word-sized); the cost is cold-plan variety — each
    * replay DEPTH is a distinct plan whose deserializer/codegen compiles
    * separately, and the suite's cache pressure makes the rows re-pay it.
    * Cadence 4 bounds the depth at 3 (4 plan shapes, measured back to
    * 4.24/3.44 — within this box's demonstrated noise of the eager binary,
    * whose own re-measurement under identical semantics spread 3.87–5.71)
    * while still cutting materializations 4× vs the eager shape at
    * production batch=1 scale; at batch ≥ 4 every round crosses the
    * cadence and checkpoints exactly like r14's 16 did. */
  private val CheckpointEvery = 4

  def train(docs: DataFrame, k: Int, batch: Int = 1): (Seq[Merge], DataFrame) = {
    require(batch >= 1, s"train: batch must be >= 1, got $batch")
    var base = wordFreq(docs)
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .localCheckpoint(true)
    // merges selected but not yet folded into `base` — applied lazily as
    // one in-task loop by `words` below
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def words: DataFrame = applyMerges(base, pending.toSeq)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val want = math.min(batch, k - step + 1)
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(if (want == 1) 1 else want * 8)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        // greedy rank-order selection of symbol-disjoint merges; `used`
        // also holds each selection's concatenation so a later pick can
        // neither consume nor string-collide with an earlier pick's output
        val used = scala.collection.mutable.Set.empty[String]
        val chosen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val it = top.iterator
        while (it.hasNext && chosen.size < want) {
          val r = it.next()
          val (a, b, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
          if (!used(a) && !used(b) && !used(a + b)) {
            chosen += ((a, b, cnt))
            used += a; used += b; used += (a + b)
          }
        }
        for ((a, b, cnt) <- chosen) {
          merges += Merge(step, a, b, cnt)
          step += 1
        }
        pending ++= chosen.map(c => (c._1, c._2))
        if (pending.size >= CheckpointEvery) {
          base = words.localCheckpoint(true)
          pending.clear()
        }
      }
    }
    (merges.toSeq, words)
  }

  /** The learned merge table — (step, pair_a, pair_b, pair_count). */
  def bpeMerges(docs: DataFrame, k: Int): DataFrame =
    mergesToDf(docs.sparkSession, train(docs, k)._1)

  /** APPLY the trained tokenizer: per-document token count after k merges —
    * the compression diagnostic every tokenizer build reports (chars never
    * change; the token count shrinks by one per merged occurrence). One
    * equi-join of the corpus's exploded words against the vocabulary-sized
    * final word table. */
  def bpeTokenCounts(docs: DataFrame, k: Int): DataFrame = {
    val (_, words) = train(docs, k)
    tokenCountsOf(docs, words.select(col("word"), size(col("syms")).as("n_syms")))
  }

  /** Per-document (n_bpe_tokens, n_words) over a (word, n_syms) table —
    * the one corpus join and rollup of the trained and the stored-merge
    * counts. */
  private def tokenCountsOf(docs: DataFrame, wordLens: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(wordLens, "word")
      .groupBy("doc_id")
      .agg(sum(col("n_syms")).cast("long").as("n_bpe_tokens"),
        count(lit(1)).cast("long").as("n_words"))

  /** Persist the learned merge table — train once, tokenize forever (the
    * [[graft.llm.TextAnalysis.writeNbWeights]] stored-artifact pattern):
    * after this the training corpus is never re-read; any batch tokenizes
    * against the k-row parquet table alone. */
  def writeBpeMerges(docs: DataFrame, path: String, k: Int): Unit =
    bpeMerges(docs, k).write.mode("overwrite").parquet(path)

  /** APPLY a stored tokenizer to any (doc_id, text) frame — including
    * words the trainer never saw: each new word starts as characters and
    * replays the k merges in training order (the exact inference rule of
    * BPE tokenizers, and bit-identical to the [[applyMerge]] fold chain —
    * spec-pinned), so "abab" under a stored (a,b) merge becomes 2 tokens
    * whether or not it occurred in training.
    *
    * Scale shape: the merge table is a k-row bounded driver collect (the
    * LSH-plane convention) shipped once as a broadcast; the replay is ONE
    * `mapPartitions` pass over the DISTINCT words of the batch — a
    * vocabulary-sized table, no shuffle — so k is unbounded (a real
    * 32k–100k-merge tokenizer fits; the per-word loop skips merges whose
    * symbols aren't present, so cost tracks the word's own merge chain,
    * not k). This replaced the r7 chain of k nested fold EXPRESSIONS,
    * which hard-capped k at 64 plan nodes. Then the same corpus
    * join/rollup as [[bpeTokenCounts]].
    *
    * Scoring the training corpus against its own stored merges reproduces
    * [[bpeTokenCounts]] exactly (that identity IS the oracle for
    * `text_bpe_apply`). */
  /** The stored-merge inference kernel: replay `ms` (training order) over
    * one word. Split by CODE POINTS, not
    * UTF-16 code units — the trainer's substring(word, i, 1) counts code
    * points, so a supplementary-plane character must stay one symbol here
    * too or the replay diverges. The presence filter is stale-tolerant
    * (symbols ever seen in this word): extra entries only cost a scan,
    * never change the result. Returns the word's final SYMBOLS after the
    * replay, in order: the packed-shard append path needs token ids per
    * position, the batch apply and `graft.streaming.StreamingBpe` (a
    * spec-side twin under `src/test`) only their count. */
  private[graft] def replayWordSyms(ms: Array[(String, String)], w: String): Array[String] = {
    var syms: Array[String] = {
      val out = new Array[String](w.codePointCount(0, w.length))
      var ci = 0
      var k = 0
      while (ci < w.length) {
        val cp = w.codePointAt(ci)
        out(k) = new String(Character.toChars(cp))
        k += 1
        ci += Character.charCount(cp)
      }
      out
    }
    val present = scala.collection.mutable.HashSet.empty[String]
    syms.foreach(present += _)
    var i = 0
    while (i < ms.length) {
      val (a, b) = ms(i)
      if (syms.length >= 2 && present(a) && present(b)) {
        val merged = mergeOnce(syms, a, b)
        if (merged ne syms) { syms = merged; present += (a + b) }
      }
      i += 1
    }
    syms
  }

  /** Load a stored merge table in training order — the k-row bounded
    * driver collect both apply paths (batch and streaming) start from. */
  private[graft] def loadMerges(spark: SparkSession, path: String): Array[(String, String)] =
    spark.read.parquet(path)
      .orderBy(col("step")).select("pair_a", "pair_b").collect()
      .map(r => (r.getString(0), r.getString(1)))

  def bpeTokensAgainstMerges(docs: DataFrame, path: String): DataFrame = {
    // one replay kernel, counts shape: emit (word, |replayWordSyms|)
    // directly from the same mapPartitions pass the sequence twin runs —
    // the r12 cut derived counts by exploding every word to per-symbol
    // rows and re-aggregating, which added a symbol-table-sized shuffle
    // to the hot apply path for nothing (review-caught)
    tokenCountsOf(docs, wordLensAgainstMerges(docs, loadMerges(docs.sparkSession, path)))
  }

  /** Concat-and-cut sequence packing with the budget measured in BPE
    * TOKENS, not whitespace words — the unit a context window is actually
    * billed in ([[TextAnalysis.packGreedy]]'s cumulative plan, fed by the
    * trained tokenizer's counts). Same per-source doc_id order, same
    * integer-division pack arithmetic; the only new cost is the token
    * count join, which is the [[bpeTokenCounts]] vocabulary-sized plan. */
  def packByBpe(docs: DataFrame, k: Int, budget: Int): DataFrame = {
    require(budget >= 1, s"packByBpe: budget must be >= 1, got $budget")
    // running offsets via the two-phase distributed prefix sum (see
    // packGreedy) — never a per-source running-sum window, which is a
    // single task per source
    // localCheckpoint: the prefix sum's two passes would each re-run the
    // token-count join chain; pinned rows are per-doc narrow (the
    // packLayoutFromToks counts-table convention)
    val perDoc = docs.select(col("doc_id"), col("source"))
      .join(bpeTokenCounts(docs, k)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")), "doc_id")
      .localCheckpoint(eager = true)
    TextAnalysis.packOffsets(perDoc, docs, budget)
  }

  /** Per-document BPE token-ID sequences after k merges — the tokenizer
    * MATERIALIZED, not just counted: one row per token,
    * (doc_id, source, tidx, token_id), `tidx` the 0-based position in the
    * document's token stream. This is what a packed-shard writer consumes.
    *
    * Vocabulary rule (the deterministic "vocab file" both engines derive
    * independently): the distinct final symbols sorted lexicographically,
    * ids 0-based — `row_number` here, `dense_rank` over the oracle's
    * replayed symbol table in DuckDB. Plan shape: the trainer's final
    * (word, syms) table explodes to (word, spos, sym) —
    * DISTINCT-WORD-sized, localCheckpointed once for its two consumers —
    * the vocab window runs over vocab-sized rows (≤ alphabet + k,
    * driver-scale by construction), and the corpus-sized work is one
    * explode + two joins (vocab broadcast) + one per-document window. */
  def bpeTokenIdSeqs(docs: DataFrame, k: Int): DataFrame = {
    val ws = wordSymsOf(train(docs, k)._2)
    tokenIdSeqsFrom(docs, ws, vocabOf(ws))
  }

  /** The trainer's (word, f, syms) table exploded to (word, spos, sym) —
    * DISTINCT-WORD-sized, localCheckpointed once for its consumers. */
  private[graft] def wordSymsOf(words: DataFrame): DataFrame =
    words.select(col("word"), posexplode(col("syms")).as(Seq("spos", "sym")))
      .localCheckpoint(eager = true)

  /** The deterministic "vocab file": distinct final symbols sorted
    * lexicographically, ids 0-based. The window runs over vocab-sized
    * rows (≤ alphabet + k — driver-scale by construction). */
  private[graft] def vocabOf(wordSyms: DataFrame): DataFrame =
    wordSyms.select(col("sym")).distinct()
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("sym"))).cast("long") - 1)

  /** Per-document BPE token counts from an already-decomposed word-symbol
    * table — the counts side of the pack layout WITHOUT materializing the
    * per-token id chain: n_tokens(doc) = Σ over the doc's words of
    * |syms(word)|, so the pass is word-level (one explode + one
    * vocabulary-sized join + one per-doc aggregation) and the per-token
    * explode, vocab join and per-doc row_number window never run
    * (optimization guide §2.3: aggregate before you shuffle / shuffle
    * fewer bytes). Bit-identical to
    * `tokenIdSeqsFrom(docs, wordSyms, vocab).groupBy(doc_id, source)
    * .count()`: every sym of every word is in the vocab by construction,
    * so the token rows are exactly the word rows expanded |syms| ways. */
  private[graft] def docTokenCountsFrom(docs: DataFrame,
                                        wordSyms: DataFrame): DataFrame = {
    val wordLens = wordSyms.groupBy("word")
      .agg(count(lit(1)).as("n_syms"))
    docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(wordLens, "word")
      .groupBy("doc_id", "source")
      .agg(sum(col("n_syms")).as("n_tokens"))
  }

  /** Per-document ordered token-id ARRAYS — [[tokenIdSeqsFrom]]'s content
    * carried as one compact long-array row per document instead of one
    * row per token. This is the optimization guide §8 shape ("decide with
    * small rows, move big rows once"): the container writer only needs
    * each document's token run IN ORDER, so the per-token explode, the
    * per-doc row_number window (a full token-level exchange + sort) and
    * the per-token pack groupBy never exist — tokens cross each exchange
    * as 8-byte array elements, not 30+-byte rows. Order is identical to
    * tidx by construction: words sort by `wi` inside the per-doc
    * aggregation, symbols by `spos` inside the per-word aggregation.
    * `source` is functionally determined by doc_id (one corpus row per
    * document), so max() just carries the value through the aggregate.
    * Per-row size is one document's tokens — the same per-doc-array bound
    * [[graft.llm.Dedup.shingleIds]]'s positional collect already set. */
  private[graft] def docTokenArrays(docs: DataFrame, wordSyms: DataFrame,
                                    vocab: DataFrame): DataFrame = {
    val wordIds = wordSyms.join(broadcast(vocab), "sym")
      .groupBy("word")
      .agg(sort_array(collect_list(struct(col("spos"), col("token_id")))).as("st"))
      .select(col("word"), expr("transform(st, x -> x.token_id)").as("ids"))
    docs.select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("wi", "word")))
      .filter(length(col("word")) >= 1)
      .join(wordIds, "word")
      .groupBy(col("doc_id"))
      .agg(max(col("source")).as("source"),
        sort_array(collect_list(struct(col("wi"), col("ids")))).as("wt"))
      .select(col("doc_id"), col("source"),
        flatten(expr("transform(wt, x -> x.ids)")).as("tok"))
  }

  /** [[bpeTokenIdSeqs]]'s corpus-side body over a PROVIDED word-symbol
    * decomposition and vocab — shared by the train-and-tokenize path and
    * the packed-shard append path (which decomposes against STORED merges
    * and extends a STORED vocab instead of training). */
  private[graft] def tokenIdSeqsFrom(docs: DataFrame, wordSyms: DataFrame,
                                     vocab: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("wi", "word")))
      .filter(length(col("word")) >= 1)
      .join(wordSyms, "word")
      .join(broadcast(vocab), "sym")
      .withColumn("tidx", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("wi"), col("spos")))
        .cast("long") - 1)
      .select(col("doc_id"), col("source"), col("tidx"), col("token_id"))

  /** The ONE stored-merge replay harness both apply shapes share: a k-row
    * broadcast + ONE mapPartitions pass over the batch's DISTINCT words
    * (no shuffle beyond the word distinct), each word's final symbols
    * computed by [[replayWordSyms]] and shaped by `emit`. Factoring the
    * harness (not just the kernel) keeps the distinct/filter/broadcast
    * scaffolding from drifting between the twins (review-caught). */
  private def replayDistinctWords(docs: DataFrame,
                                  merges: Array[(String, String)],
                                  fields: Seq[(String, org.apache.spark.sql.types.DataType)])
                                 (emit: (String, Array[String]) => Iterator[Row]): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(merges)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1).distinct()
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
      org.apache.spark.sql.types.StructType(fields.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t) }))
    words.mapPartitions { rows =>
      val ms = bc.value
      rows.flatMap { r =>
        val w = r.getString(0)
        emit(w, replayWordSyms(ms, w))
      }
    }(enc)
  }

  /** [[wordSymSeqsAgainstMerges]]'s COUNTS shape — (word, n_syms), no
    * per-symbol explode and no re-aggregation shuffle. */
  private[graft] def wordLensAgainstMerges(docs: DataFrame,
                                           merges: Array[(String, String)]): DataFrame =
    replayDistinctWords(docs, merges, Seq(
      "word" -> org.apache.spark.sql.types.StringType,
      "n_syms" -> org.apache.spark.sql.types.LongType)) { (w, syms) =>
      Iterator.single(Row(w, syms.length.toLong))
    }

  /** Symbol DECOMPOSITIONS of every distinct word of `docs` under a
    * stored merge table — (word, spos, sym), the sequence twin of
    * [[bpeTokensAgainstMerges]]'s counts, built by the same
    * [[replayWordSyms]] kernel (bit-identical to the training-side fold —
    * the text_bpe_apply identity, extended to sequences by the r12 spec). */
  private[graft] def wordSymSeqsAgainstMerges(docs: DataFrame,
                                              merges: Array[(String, String)]): DataFrame =
    replayDistinctWords(docs, merges, Seq(
      "word" -> org.apache.spark.sql.types.StringType,
      "spos" -> org.apache.spark.sql.types.IntegerType,
      "sym" -> org.apache.spark.sql.types.StringType)) { (w, syms) =>
      syms.iterator.zipWithIndex.map { case (s, i) => Row(w, i, s) }
    }

  /** The learned merges as the stored-tokenizer table — the same schema
    * [[writeBpeMerges]] persists, built from an ALREADY-TRAINED merge list
    * so store-the-tokenizer flows never pay a second training run. */
  private[graft] def mergesToDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.step, m.a, m.b, m.count))
      .toDF("step", "pair_a", "pair_b", "pair_count")
  }

  // ------------------------------------------------------------- registry

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  val MergeSteps = 6

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_merges" -> ((s, dir) => Util.orderAll(bpeMerges(docs(s, dir), MergeSteps))),
    "text_bpe_tokens" -> ((s, dir) => Util.orderAll(bpeTokenCounts(docs(s, dir), MergeSteps))),
    // train-once / apply-from-store round trip: write the merge table,
    // tokenize the same corpus against it — must equal text_bpe_tokens,
    // which is exactly what the shared oracle asserts
    "doc_pack_bpe" -> ((s, dir) =>
      Util.orderAll(packByBpe(docs(s, dir), MergeSteps, 256))),
    "text_bpe_apply" -> ((s, dir) => {
      val store = java.nio.file.Files.createTempDirectory("graft-bpe-merges").toString
      writeBpeMerges(docs(s, dir), store, MergeSteps)
      Util.orderAll(bpeTokensAgainstMerges(docs(s, dir), store))
    }),
  )

  /** The oracle unrolls the k merge steps as CTE chains — same shape as the
    * PageRank / IVF-k-means unrolled oracles. Merge application in SQL uses
    * the windowed gaps-and-islands form of the same left-to-right rule:
    * a position starts a merge iff its pair matches AND it sits at an odd
    * index within its maximal run of consecutive matching positions
    * (runs longer than 1 only exist when a = b, where the pigeonhole
    * parity IS the left-to-right scan). */
  private def stepCtes(prev: String, t: Int): String =
    s""", p$t AS MATERIALIZED (
       |  SELECT s.s AS a, s2.s AS b, CAST(sum(s.f) AS BIGINT) AS cnt
       |  FROM $prev s JOIN $prev s2 ON s.w = s2.w AND s2.pos = s.pos + 1
       |  GROUP BY 1, 2
       |), top$t AS MATERIALIZED (
       |  SELECT a, b, cnt FROM p$t ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
       |), f$t AS MATERIALIZED (
       |  SELECT s.w, s.f, s.pos, s.s, t.a, t.b,
       |    CASE WHEN s.s = t.a
       |           AND lead(s.s) OVER (PARTITION BY s.w ORDER BY s.pos) = t.b
       |         THEN 1 ELSE 0 END AS flg
       |  FROM $prev s CROSS JOIN top$t t
       |), m$t AS MATERIALIZED (
       |  SELECT w, pos FROM (
       |    SELECT w, pos, row_number() OVER (PARTITION BY w, grp ORDER BY pos) AS rk
       |    FROM (SELECT w, pos,
       |            pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
       |          FROM f$t WHERE flg = 1) g) r
       |  WHERE rk % 2 = 1
       |), s$t AS MATERIALIZED (
       |  SELECT w, f, CAST(row_number() OVER (PARTITION BY w ORDER BY opos) AS INT) AS pos, s
       |  FROM (
       |    SELECT x.w, x.f, x.pos AS opos,
       |      CASE WHEN m.pos IS NOT NULL THEN x.a || x.b ELSE x.s END AS s
       |    FROM f$t x
       |    LEFT JOIN m$t m ON m.w = x.w AND m.pos = x.pos
       |    LEFT JOIN m$t c ON c.w = x.w AND c.pos = x.pos - 1
       |    WHERE c.pos IS NULL) q
       |)
       |""".stripMargin

  /** APPLY-ONLY oracle chain: decompose `src`'s distinct words under the
    * merges a TRAINING chain already selected — [[stepCtes]] minus the
    * pair-count/selection CTEs, each step CROSS JOINing the training
    * chain's `top$t` (which must precede in the same WITH list).
    * Namespaced `a*` so both chains coexist in one statement; the final
    * symbol table is `as$MergeSteps`. This is [[replayWordSyms]] in SQL:
    * the same windowed gaps-and-islands left-to-right rule, applied
    * unconditionally per step (the Scala presence filter is a fast path,
    * never a semantic difference). */
  private[llm] def applyUnrolledOver(src: String): String = {
    val base =
      s""", aw0 AS MATERIALIZED (
         |  SELECT word AS w, count(*) AS f
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM $src) t
         |  WHERE length(word) >= 1 GROUP BY 1
         |), as0 AS MATERIALIZED (
         |  SELECT w, f, CAST(i AS INT) AS pos, substr(w, CAST(i AS INT), 1) AS s
         |  FROM aw0, LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) ii
         |)
         |""".stripMargin
    base + (1 to MergeSteps).map { t =>
      val prev = s"as${t - 1}"
      s""", af$t AS MATERIALIZED (
         |  SELECT s.w, s.f, s.pos, s.s, t.a, t.b,
         |    CASE WHEN s.s = t.a
         |           AND lead(s.s) OVER (PARTITION BY s.w ORDER BY s.pos) = t.b
         |         THEN 1 ELSE 0 END AS flg
         |  FROM $prev s CROSS JOIN top$t t
         |), am$t AS MATERIALIZED (
         |  SELECT w, pos FROM (
         |    SELECT w, pos, row_number() OVER (PARTITION BY w, grp ORDER BY pos) AS rk
         |    FROM (SELECT w, pos,
         |            pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
         |          FROM af$t WHERE flg = 1) g) r
         |  WHERE rk % 2 = 1
         |), as$t AS MATERIALIZED (
         |  SELECT w, f, CAST(row_number() OVER (PARTITION BY w ORDER BY opos) AS INT) AS pos, s
         |  FROM (
         |    SELECT x.w, x.f, x.pos AS opos,
         |      CASE WHEN m.pos IS NOT NULL THEN x.a || x.b ELSE x.s END AS s
         |    FROM af$t x
         |    LEFT JOIN am$t m ON m.w = x.w AND m.pos = x.pos
         |    LEFT JOIN am$t c ON c.w = x.w AND c.pos = x.pos - 1
         |    WHERE c.pos IS NULL) q
         |)
         |""".stripMargin
    }.mkString
  }

  private def baseCtes(src: String, lead: String): String =
    s"""$lead w0 AS MATERIALIZED (
       |  SELECT word AS w, count(*) AS f
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM $src) t
       |  WHERE length(word) >= 1 GROUP BY 1
       |), s0 AS MATERIALIZED (
       |  SELECT w, f, CAST(i AS INT) AS pos, substr(w, CAST(i AS INT), 1) AS s
       |  FROM w0, LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) ii
       |)
       |""".stripMargin

  // private[llm]: TrainingShards' packed-token oracles replay the same
  // chain so the two engines' tokenizations can never drift apart —
  // `src` parameterizes the training relation (the e2e pipeline trains on
  // curation survivors), `continuation` emits ", w0 AS ..." so the chain
  // can follow another WITH list
  private[llm] def unrolledOver(src: String, continuation: Boolean): String =
    baseCtes(src, if (continuation) "," else "WITH") +
      (1 to MergeSteps).map(t => stepCtes(s"s${t - 1}", t)).mkString

  private[llm] lazy val unrolled: String =
    unrolledOver("documents", continuation = false)

  def oracle: Map[String, String] =
    // text_bpe_apply's oracle IS text_bpe_tokens': scoring the training
    // corpus against its own stored merges must reproduce the direct
    // train-and-count result — the round-trip identity the query pins
    oracleBase + ("text_bpe_apply" -> oracleBase("text_bpe_tokens"))

  private lazy val oracleBase: Map[String, String] = Map(
    "text_bpe_merges" -> (unrolled + Util.wrap(
      (1 to MergeSteps).map(t =>
        s"SELECT $t AS step, a AS pair_a, b AS pair_b, cnt AS pair_count FROM top$t")
        .mkString("\nUNION ALL\n"),
      Seq("step", "pair_a", "pair_b", "pair_count"))),

    "text_bpe_tokens" -> (unrolled +
      s""", wl AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS n_syms FROM s$MergeSteps GROUP BY w
         |)
         |""".stripMargin + Util.wrap(
      """SELECT d.doc_id, CAST(sum(wl.n_syms) AS BIGINT) AS n_bpe_tokens,
        |  CAST(count(*) AS BIGINT) AS n_words
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d
        |JOIN wl USING (w)
        |GROUP BY d.doc_id""".stripMargin,
      Seq("doc_id", "n_bpe_tokens", "n_words"))),

    // the same unrolled tokenizer chain feeding packGreedy's cumulative
    // arithmetic — budget in BPE tokens; integer // matches Spark div on
    // the non-negative cumulative sums
    "doc_pack_bpe" -> (unrolled +
      s""", wl AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS n_syms FROM s$MergeSteps GROUP BY w
         |), bt AS (
         |  SELECT d.doc_id, d.source, CAST(sum(wl.n_syms) AS BIGINT) AS n_tokens
         |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents) d
         |  JOIN wl USING (w)
         |  GROUP BY d.doc_id, d.source
         |), cum AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
         |         - n_tokens AS BIGINT) AS cum_start
         |  FROM bt
         |)
         |""".stripMargin + Util.wrap(
      """SELECT doc_id, source, n_tokens,
        |  cum_start // 256 AS pack_id,
        |  cum_start % 256 AS pack_offset
        |FROM cum""".stripMargin,
      Seq("doc_id", "source", "n_tokens", "pack_id", "pack_offset"))),
  )
}
