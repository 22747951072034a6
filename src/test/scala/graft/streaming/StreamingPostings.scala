package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming maintenance of the inverted-index STATISTICS that ranked
  * retrieval needs — the incremental complement of
  * [[graft.llm.TextAnalysis.bm25TopK]]: BM25 scores from (df, corpus
  * size, total tokens) plus per-doc postings; postings of an append-only
  * corpus are themselves append-only (write-once parquet per batch), but
  * the per-token document frequency and corpus totals are RUNNING
  * aggregates — re-deriving them from a 100 TB corpus per refresh is the
  * scan this operator deletes.
  *
  * State is sharded BY TOKEN ([[StreamingCms]]'s discipline): each group
  * holds two longs (df, tf_sum), each trigger emits only tokens the batch
  * touched, and after ANY stream prefix the latest emission per token
  * equals the batch aggregation over that prefix bit-for-bit
  * (spec-asserted mid-stream and final). The `__corpus__` control row
  * carries (n_docs, total_tokens) through the same channel — one stateful
  * operator, no second aggregation over the stream.
  *
  * Assumes documents arrive whole (a micro-batch never splits one doc's
  * tokens) and are never re-sent — the append-only corpus contract; a
  * replayed BATCH is safe when the downstream write is the idempotent
  * batch_id-overwrite sink ([[CdrStreamJob.writeBatch]]).
  */
object StreamingPostings {

  val CorpusKey = "__corpus__"

  /** (token, df, tf_sum) updates per trigger; `docs` needs (doc_id, text).
    * The [[CorpusKey]] row reports (n_docs, total_tokens). */
  def run(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    val occurrences = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .select(col("token"), col("doc_id"))
      .as[(String, Long)]
    occurrences.union(tokensWeighted(docs))
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (token: String, recs: Iterator[(String, Long)],
         state: GroupState[(Long, Long)]) =>
          var (df, tf) = state.getOption.getOrElse((0L, 0L))
          if (token == CorpusKey) {
            // control rows: doc_id field carries the token count per doc
            recs.foreach { case (_, w) => df += 1L; tf += w }
          } else {
            val seen = scala.collection.mutable.Set.empty[Long]
            recs.foreach { case (_, d) => seen += d; tf += 1L }
            df += seen.size
          }
          state.update((df, tf))
          Iterator.single((token, df, tf))
      }
      .toDF("token", "df", "tf_sum")
  }

  /** One control row per document under [[CorpusKey]], second field =
    * token count (rides the same (String, Long) channel as occurrences). */
  private def tokensWeighted(docs: DataFrame) = {
    val session = docs.sparkSession
    import session.implicits._
    docs.select(lit(CorpusKey).as("token"),
        size(split(col("text"), " ")).cast("long").as("w"))
      .as[(String, Long)]
  }

  /** Batch twin for the parity contract: the same (token, df, tf_sum)
    * table — plus the [[CorpusKey]] row — aggregated from a static frame. */
  def batchStats(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    tok.groupBy("token")
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf_sum"))
      .unionByName(docs.agg(
        lit(CorpusKey).as("token"),
        count(lit(1)).as("df"),
        sum(size(split(col("text"), " ")).cast("long")).as("tf_sum")))
  }
}
