package graft.streaming

import graft.llm.BpeTrainer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming tokenization against a STORED merge table — the "train once,
  * tokenize the stream forever" half of the BPE story
  * ([[graft.llm.BpeTrainer.writeBpeMerges]] writes the table; this
  * consumes it on an unbounded document feed).
  *
  * Stateless by construction: the merge table is a k-row bounded driver
  * collect broadcast once at plan time, and each document's token count
  * depends on nothing but its own words — so no watermark, no state
  * store, Append mode, every row final when its micro-batch commits, and
  * prefix ≡ batch holds trivially (the spec pins it against
  * [[graft.llm.BpeTrainer.bpeTokenCounts]], which is the same identity
  * the `text_bpe_apply` oracle asserts in batch).
  *
  * Per-partition word cache: the batch apply dedups the corpus to its
  * DISTINCT words before replaying (vocabulary-sized work); a stream
  * can't globally dedup without state, so each partition keeps a local
  * word → count memo for the micro-batch — same result, and the replay
  * cost per batch is its distinct-word count per partition, not its
  * token count. The memo lives only for the partition iterator (bounded
  * by the micro-batch), never across batches: this is a CACHE, not
  * state, so crash-replay semantics stay exactly-once trivially. */
object StreamingBpe {

  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bpe_tokens", LongType),
    StructField("n_words", LongType)))

  /** `docStream` needs (doc_id, text); `mergePath` is a stored merge
    * table. Returns the (doc_id, n_bpe_tokens, n_words) stream. */
  def tokenCounts(docStream: DataFrame, mergePath: String): DataFrame = {
    val spark = docStream.sparkSession
    val bc = spark.sparkContext.broadcast(
      BpeTrainer.loadMerges(spark, mergePath))
    val enc = RowEncoder.encoderFor(outSchema)
    docStream.select(col("doc_id"), col("text"))
      .mapPartitions { rows =>
        val ms = bc.value
        val memo = scala.collection.mutable.HashMap.empty[String, Int]
        rows.map { r =>
          val words = Option(r.getString(1)).getOrElse("")
            .split(" ").filter(_.nonEmpty)
          var toks = 0L
          words.foreach { w =>
            toks += memo.getOrElseUpdate(w, BpeTrainer.replayWordSyms(ms, w).length)
          }
          Row(r.getLong(0), toks, words.length.toLong)
        }
      }(enc)
      .filter(col("n_words") >= 1L) // empty docs have no token row (batch parity)
  }
}
