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
  *
  * Both install [[GraftExtensions]] (`vec_dot`, `edit_within1`, the
  * banded-interval-join rule, the skyline strategy), as every spec's
  * session does through `spark.sql.extensions`. A `--conf` that also names
  * them applies them a second time, which is harmless: the functions
  * re-register under the same names, the rule skips joins that already
  * carry its `__graft_bin` marker, and a repeated strategy plans the same
  * node.
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
    shape(SparkSession.builder().withExtensions(new GraftExtensions)).getOrCreate()
}
