package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Two shapes:
  *
  *  - [[local]]: every in-process entry point (Bench, Verify, Smoke,
  *    ExplainAudit, [[Tools]]) — `local[cpus]`, one shuffle partition per
  *    core, UI off, WARN logging, then [[Tables.configure]] (UTC, parquet
  *    timestamp conventions);
  *  - [[cluster]]: the `graft.apps` jobs — master and resources come from
  *    spark-submit, the session pins only its name and UTC.
  */
object Sessions {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(): SparkSession = {
    val spark = build(_.master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
    spark
  }

  def cluster(appName: String): SparkSession =
    build(_.appName(appName).config("spark.sql.session.timeZone", "UTC"))

  private def build(shape: SparkSession.Builder => SparkSession.Builder): SparkSession =
    shape(SparkSession.builder()).getOrCreate()
}
