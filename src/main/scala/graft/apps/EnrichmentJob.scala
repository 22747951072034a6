package graft.apps

import graft.{GraftConfig, Sessions}
import graft.sources.JdbcDim
import graft.streaming.CdrStreamJob

/** Production enrichment application — the reference's
  * `EnrichmentAppWithoutExplode.main` (EnrichmentAppWithoutExplode.java:36-56)
  * re-expressed: Kafka CSV CDRs → two-branch enrichment against JDBC dims →
  * one partitioned Parquet sink.
  *
  * Differences by design (SURVEY §7):
  *  - the reference runs TWO jobs appending to one sink table
  *    (`:103-104`) — Spark forbids two streaming writers on a path, so the
  *    branches union into ONE query (also fixes the reference's implicit
  *    non-atomicity between the two appends);
  *  - lookup-cache freshness comes from [[graft.streaming.DimensionCache]]
  *    TTL snapshots instead of per-key partial caches (same staleness bound);
  *  - checkpointing is per-query `checkpointLocation` (interval semantics
  *    are Spark's own; the reference's 180 s interval maps to trigger +
  *    incremental state checkpoints).
  *
  * Config keys mirror flink.conf (see GraftConfig). Usage:
  * `EnrichmentJob <config.properties>`.
  */
object EnrichmentJob {

  /** Flink startup-mode value domain → Spark `startingOffsets` (Spark
    * accepts only earliest/latest/JSON), so a line-for-line translated
    * reference config works. */
  def startingOffsets(conf: GraftConfig): String =
    conf.get("kafka.scan.startup.mode", "latest") match {
      case "latest-offset" => "latest"
      case "earliest-offset" => "earliest"
      case other => other
    }

  /** The reference's `'properties.<k>' = '<v>'` Kafka client pass-through
    * (EnrichmentAppWithoutExplode.java:170-176, Generator.java:56-60),
    * config-file form `kafka.properties.<k>`, mapped to Spark's
    * `kafka.<k>` source/sink option convention. This is the Kerberos/SASL
    * surface: `security.protocol`, `sasl.kerberos.service.name`,
    * `sasl.jaas.config`, `sasl.mechanism`, … all flow through untouched —
    * the same GSSAPI cluster config the reference hardcodes
    * (SASL_PLAINTEXT + service name `kafka`) is expressed as two lines of
    * config here. */
  def kafkaClientOptions(conf: GraftConfig): Map[String, String] =
    conf.entries.collect {
      case (k, v) if k.startsWith("kafka.properties.") =>
        "kafka." + k.stripPrefix("kafka.properties.") -> v
    }

  /** Full source option map: consumer group, data-loss policy, and the
    * client/security pass-through. */
  def kafkaSourceOptions(conf: GraftConfig): Map[String, String] =
    Map(
      "failOnDataLoss" -> conf.get("kafka.failOnDataLoss", "false"),
      "kafka.group.id" -> conf.get("kafka.group_id", "graft-group")) ++
      kafkaClientOptions(conf)

  def main(args: Array[String]): Unit = {
    val conf = GraftConfig.load(args)
    val spark = Sessions.cluster("graft-enrichment")

    val src = CdrStreamJob.kafkaSource(
      spark,
      bootstrap = conf.get("kafka.bootstrap.servers", "localhost:9092"),
      topic = conf.get("kafka.topic", "cdr"),
      startingOffsets = startingOffsets(conf),
      extraOptions = kafkaSourceOptions(conf))

    val imsiCache = JdbcDim.imsiMsisdn(spark, conf)
    val msIpCache = JdbcDim.msIpExploded(spark, conf)

    val query = CdrStreamJob.runForeachBatch(
      src, imsiCache, msIpCache,
      path = conf.get("hdfs.path", "/tmp/graft-sink"),
      checkpoint = conf.get("hdfs.checkpointLocation", "/tmp/graft-ckpt"),
      triggerMs = conf.getLong("hdfs.rollover-interval-ms", 20000L),
      maxRecordsPerFile = conf.getLong("hdfs.max-records-per-file", 1000000L))

    query.awaitTermination()
  }
}
