package graft.apps

import graft.{GraftConfig, Sessions}
import graft.streaming.CdrStreamJob

/** Synthetic CDR generator application — the reference's `Generator.main`
  * (generator/Generator.java:25-69): rate-limited synthetic CDRs encoded as
  * CSV lines into Kafka. Deterministic LCG derivation replaces
  * `java.util.Random` so generated streams are reproducible
  * (CsvData.java:104-152 envelope: probe prefix list, imsi/msisdn null
  * probabilities, ;-wrapped ip, epoch-range timestamps).
  *
  * Usage: `GeneratorJob <config.properties>`.
  */
object GeneratorJob {

  def main(args: Array[String]): Unit = {
    val conf = GraftConfig.load(args)
    val spark = Sessions.cluster("graft-generator")

    val cdrs = CdrStreamJob.rateGenerator(
      spark, conf.getLong("generator.rowsPerSecond", 10L).toInt)

    val query = CdrStreamJob.kafkaCsvSink(
      cdrs,
      bootstrap = conf.get("kafka.bootstrap.servers", "localhost:9092"),
      topic = conf.get("kafka.topic", "cdr"),
      checkpoint = conf.get("generator.checkpoint", "/tmp/graft-gen-ckpt"),
      // producer-side SASL/Kerberos, mirroring Generator.java:58-59
      extraOptions = EnrichmentJob.kafkaClientOptions(conf))

    query.awaitTermination()
  }
}
