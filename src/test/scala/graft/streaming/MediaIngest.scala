package graft.streaming

import graft.llm.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming media ingest — the multimodal sibling of [[CorpusIngest]]:
  * a stream of (doc_id, payload, format) rows is codec-validated per
  * micro-batch with [[Multimodal.probeMediaSafe]] — each payload opened
  * by the codec its format names (image / WAV / GIF) — and decodable
  * payloads land as format-partitioned METADATA parquet (byte and unit
  * counts a downstream stage plans over), codec rejects land in a
  * quarantine with their surviving byte count. Decode failures are DATA,
  * never exceptions — at 100 TB a corrupt payload is routine, and the
  * strict decoders' `require`s would kill the whole stream for one bad
  * object.
  *
  * Delivery: the same idempotent contract as CorpusIngest — both sinks
  * partition by batch_id with dynamic partition overwrite, so an
  * at-least-once replay of an uncommitted batch overwrites its own
  * partitions instead of duplicating. ONE decode pass feeds both sinks
  * (persist + split); two writeStreams would decode every payload twice.
  * `onBatchComplete` fires after both writes but before the checkpoint
  * commit — the crash-injection hook the replay spec uses.
  */
object MediaIngest {

  def run(spark: SparkSession, media: DataFrame, outDir: String,
          quarantineDir: String, checkpoint: String,
          onBatchComplete: Long => Unit = _ => ()): StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val decoded = Multimodal.probeMediaSafe(batch).persist()
        try {
          CdrStreamJob.writeBatch(
            decoded.filter(col("decode_ok"))
              .select("doc_id", "format", "n_bytes", "n_units"),
            batchId, outDir, maxRecordsPerFile = 0L, partCols = Seq("format"))
          CdrStreamJob.writeBatch(
            decoded.filter(!col("decode_ok"))
              .select("doc_id", "format", "n_bytes"),
            batchId, quarantineDir, maxRecordsPerFile = 0L, partCols = Nil)
          onBatchComplete(batchId)
        } finally decoded.unpersist()
        ()
      }
      .start()
}
