package graft

import java.nio.file.Files

import graft.streaming.CsvCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The stateful streaming twins on the RocksDB state store provider — the
  * production configuration at scale: the default (HDFS-backed) provider
  * keeps every key's state on the executor HEAP, so at 100× keys the first
  * streaming scale wall is state-store GC/OOM, not throughput. RocksDB
  * spills state to local disk with bounded memory. These specs pin that
  * the twins are provider-INDEPENDENT: identical input ⇒ identical output
  * under both providers (flatMapGroupsWithState semantics live above the
  * store), and that RocksDB genuinely engages (progress metrics carry
  * rocksdb counters — a silently-ignored conf would green-wash the claim).
  * Throughput/state-scale measurements: `graft.Tools stream` (SCALE.md). */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def withProvider[T](provider: Option[String])(f: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    provider match {
      case Some(p) => spark.conf.set(ProviderKey, p)
      case None    => spark.conf.unset(ProviderKey)
    }
    try f
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None    => spark.conf.unset(ProviderKey)
    }
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Run a NoTimeout Update-mode twin over two fixed batches under the
    * given provider; returns (sorted per-batch output lines, last progress
    * JSON) — the provider must change NOTHING in the first component. */
  private def runCdc(provider: Option[String]): (Seq[String], String) =
    withProvider(provider) {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double, String)](spark)
      val out = Seq.newBuilder[String]
      val q = streaming.StreamingCdc.run(
          mem.toDF().toDF("user_id", "ts", "event_id", "value", "event_type"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", tmp("graft-ckpt-rdb-cdc"))
        .foreachBatch { (df: DataFrame, bid: Long) =>
          df.collect().sortBy(_.toString).foreach(r => out += s"$bid|$r")
          ()
        }.start()
      try {
        mem.addData(
          (1L, ts("2024-01-01 10:00:00"), 1L, 5.0, "view"),
          (2L, ts("2024-01-01 10:00:00"), 2L, 7.0, "view"),
          (3L, ts("2024-01-01 10:00:01"), 3L, 1.0, "view"))
        q.processAllAvailable()
        mem.addData(
          (2L, ts("2024-01-01 10:00:05"), 4L, 0.0, "error"),  // tombstone
          (1L, ts("2024-01-01 09:59:00"), 0L, 99.0, "view"),  // late, ignored
          (3L, ts("2024-01-01 10:00:09"), 5L, 4.0, "purchase"))
        q.processAllAvailable()
        (out.result(), q.lastProgress.json)
      } finally q.stop()
    }

  private def runScd2(provider: Option[String]): (Seq[String], String) =
    withProvider(provider) {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
      val out = Seq.newBuilder[String]
      val q = streaming.StreamingScd2.run(
          mem.toDF().toDF("user_id", "ts", "event_id", "event_type"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", tmp("graft-ckpt-rdb-scd2"))
        .foreachBatch { (df: DataFrame, bid: Long) =>
          df.collect().sortBy(_.toString).foreach(r => out += s"$bid|$r")
          ()
        }.start()
      try {
        mem.addData(
          (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
          (1L, ts("2024-01-01 10:00:10"), 2L, "cart"))
        q.processAllAvailable()
        mem.addData(
          (1L, ts("2024-01-01 10:00:20"), 3L, "purchase"),
          (2L, ts("2024-01-01 10:00:21"), 4L, "view"))
        q.processAllAvailable()
        (out.result(), q.lastProgress.json)
      } finally q.stop()
    }

  private def runSkyline(provider: Option[String]): (Seq[String], String) =
    withProvider(provider) {
      val mem = MemoryStream[(String, Long, Double)](spark)
      val out = Seq.newBuilder[String]
      val q = streaming.StreamingSkyline.run(mem.toDF().toDF("grp", "x", "y"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", tmp("graft-ckpt-rdb-sky"))
        .foreachBatch { (df: DataFrame, bid: Long) =>
          df.collect().sortBy(_.toString).foreach(r => out += s"$bid|$r")
          ()
        }.start()
      try {
        mem.addData(("a", 1L, 9.0), ("a", 5L, 5.0), ("b", 2L, 2.0))
        q.processAllAvailable()
        mem.addData(("a", 3L, 3.0), ("b", 1L, 1.0))
        q.processAllAvailable()
        (out.result(), q.lastProgress.json)
      } finally q.stop()
    }

  for ((name, run) <- Seq[(String, Option[String] => (Seq[String], String))](
         ("StreamingCdc", runCdc), ("StreamingScd2", runScd2),
         ("StreamingSkyline", runSkyline))) {
    test(s"$name: RocksDB provider output == default provider output, and RocksDB actually engages") {
      val (defOut, _) = run(None)
      val (rdbOut, rdbProgress) = run(Some(RocksDb))
      assert(defOut.nonEmpty, s"$name fixture emitted nothing")
      assert(rdbOut == defOut,
        s"$name output differs across state store providers:\n$rdbOut\nvs\n$defOut")
      assert(rdbProgress.toLowerCase.contains("rocksdb"),
        s"$name: conf set but no rocksdb metrics in progress — provider ignored:\n$rdbProgress")
    }
  }

  test("SessionDedup (ProcessingTimeTimeout): emits the per-key argmax after the gap under RocksDB") {
    withProvider(Some(RocksDb)) {
      // the A2 emission check from StreamingSpec, run on RocksDB: timeout
      // timers live IN the state store, so the timeout path is the part a
      // provider swap could plausibly break
      val mem = MemoryStream[String](spark)
      val src = CsvCodec.decode(mem.toDF())
      val imsiDim = Seq((900L, 111L)).toDF("imsi", "msisdn")
      val msIpDim = Seq(
        (java.sql.Timestamp.valueOf("2024-01-15 08:00:00"), 201000L, 301000L, "vi", "10.0.0.1"),
        (java.sql.Timestamp.valueOf("2024-01-15 09:00:00"), 202000L, 302000L, "vi", "10.0.0.2")
      ).toDF("start_time", "imsi", "msisdn", "probe", "ip")
      val enriched = streaming.CdrStreamJob.enrichedStream(
        src, imsiDim, msIpDim, gapMs = 500L)
      val q = enriched.writeStream.format("memory")
        .queryName("dedup_out_rdb").outputMode("append")
        .option("checkpointLocation", tmp("graft-ckpt-rdb-sess")).start()
      try {
        mem.addData("2024-01-15 10:00:00.000000,vi_probe,,,;10.0.0.1;10.0.0.2;,42")
        val deadline = System.currentTimeMillis() + 180000
        def emitted() = spark.table("dedup_out_rdb").count()
        while (emitted() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(200)
        val got = spark.table("dedup_out_rdb").collect()
        assert(got.length == 1, s"expected one dedup emission, got ${got.toSeq}")
        assert(got.head.getAs[Long]("unique_cdr_id") == 42L)
        assert(got.head.getAs[Long]("imsi") == 202000L)
        assert(q.lastProgress.json.toLowerCase.contains("rocksdb"),
          "no rocksdb metrics in progress — provider ignored")
      } finally q.stop()
    }
  }
}
