package graft.streaming

import graft.llm.Sketches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.llm.Sketches.kmvDistinctHashed]]: a running
  * per-language distinct-token estimate over a document stream.
  *
  * KMV is the rare sketch that is EXACTLY mergeable — the bottom-k of a
  * union is the bottom-k of the two bottom-k sets — so the streaming fold
  * (keep the k smallest hashes seen so far per language) produces, after
  * any prefix of the stream, bit-for-bit the batch sketch of that prefix;
  * the spec asserts final-state == batch on the same rows.
  *
  * State is BOUNDED at k longs per language by construction — the whole
  * point of sketching a stream: exact distinct counting needs state
  * linear in the vocabulary, the sketch needs 8·k bytes per key forever.
  * Output mode is Update (one refreshed estimate row per language per
  * batch that touched it). xxhash64 ids (the production twin): a stream
  * cannot have a global vocab table.
  */
object StreamingKmv {

  /** (lang, n_kept, est_distinct) updates; `docs` needs (lang, text). */
  def run(docs: DataFrame, k: Int = 64): DataFrame = {
    require(k >= 2, s"StreamingKmv needs k >= 2, got $k")
    val session = docs.sparkSession
    import session.implicits._
    val hashes = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .select(col("lang"), pmod(xxhash64(col("token")), lit(Sketches.KmvSpace)).as("h"))
      .as[(String, Long)]
    hashes.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (String, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (lang: String, rows: Iterator[(String, Long)],
         state: GroupState[Array[Long]]) =>
          val prev = state.getOption.getOrElse(Array.empty[Long])
          // bottom-k of (previous bottom-k ∪ batch hashes): the KMV merge
          val merged = (prev ++ rows.map(_._2)).distinct.sorted.take(k)
          state.update(merged)
          val n = merged.length.toLong
          val est =
            if (n < k) n
            else (k - 1).toLong * Sketches.KmvSpace / merged.last
          Iterator.single((lang, n, est))
      }
      .toDF("lang", "n_kept", "est_distinct")
  }
}
