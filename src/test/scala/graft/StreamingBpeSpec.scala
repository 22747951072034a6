package graft

import graft.llm.BpeTrainer
import graft.streaming.StreamingBpe
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming stored-tokenizer apply: prefix ≡ batch on every micro-batch
  * boundary against the oracle-verified batch token counts. */
class StreamingBpeSpec extends SparkSpec {
  import spark.implicits._

  test("stream tokenization against stored merges == batch bpeTokenCounts, at each batch boundary") {
    val docs = Tables.table(spark, sf, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft-sbpe").toString
    BpeTrainer.writeBpeMerges(docs, store, BpeTrainer.MergeSteps)
    val expected = BpeTrainer.bpeTokenCounts(docs, BpeTrainer.MergeSteps)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

    val rows = docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val half = rows.length / 2
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamingBpe.tokenCounts(
        mem.toDF().toDF("doc_id", "text"), store)
      .writeStream.format("memory").queryName("bpe_sink")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(half): _*)
      q.processAllAvailable()
      val prefix = spark.table("bpe_sink")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(prefix == expected.view.filterKeys(
        rows.take(half).map(_._1).toSet).toMap,
        "prefix output != batch counts on the same prefix")

      mem.addData(rows.drop(half): _*)
      q.processAllAvailable()
      val full = spark.table("bpe_sink")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(full == expected, "full stream != batch bpeTokenCounts")
      assert(full.nonEmpty)
    } finally q.stop()
  }
}
