package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * The `events` table's `ts` column has shifted encodings across driver-side
  * fixture regenerations — parquet TIMESTAMP(NANOS) (surfaced as LongType
  * under `spark.sql.legacy.parquet.nanosAsLong=true`), then plain
  * `timestamp[us]` (surfaced as TimestampNTZType). [[Tables.events]] adapts to
  * whichever encoding is on disk and always yields a µs-precision
  * TimestampType column — exactly the truncation DuckDB applies in
  * `CAST(ts AS TIMESTAMP)`, so oracle SQL and Spark results line up
  * bit-for-bit.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings every entry point needs. Safe to call repeatedly. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Write µs (INT64) timestamps, not INT96 — what the DuckDB oracle produces.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Pays the `.rdd` probe in [[flooredTable]] (a physical planning of the
    * scan) once per path instead of once per query: fixture
    * layout is static for a process lifetime. */
  private val scanPartsCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** `name` repartitioned up to the session's default parallelism ONLY
    * when its scan yields fewer partitions. A parquet row group is atomic
    * to a scan task, so a small fixture written as one row group (the
    * r6-regenerated testdata: parquet-cpp-arrow 16.1.0, single-rg files)
    * funnels every narrow per-row stage — the shingle/split/hash batteries
    * that dominate the doc_* operators — through ONE core until the first
    * shuffle. At real scale the scan already produces thousands of
    * partitions and this returns the scan unchanged (no shuffle added);
    * the round-robin shuffle only ever moves a sub-row-group-sized
    * input. */
  private def flooredTable(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = table(spark, sfDir, name)
    val floor = spark.sparkContext.defaultParallelism
    val n = scanPartsCache.computeIfAbsent(s"$sfDir/$name",
      _ => Integer.valueOf(df.rdd.getNumPartitions)).intValue()
    if (n >= floor) df else df.repartition(floor)
  }

  /** `documents` with scan parallelism floored at the session's default —
    * the input of every compute-heavy text operator. */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    flooredTable(spark, sfDir, "documents")

  /** `embeddings` with the same parallelism floor (vector math is as
    * compute-dense per row as shingling). */
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    flooredTable(spark, sfDir, "embeddings")

  /** `events` with `ts` normalized to a proper TimestampType (µs precision),
    * whatever encoding the driver wrote:
    *
    *   - LongType (TIMESTAMP(NANOS) under nanosAsLong): `ts div 1000` is
    *     integer division on the raw nanos — no double round-trip (a
    *     Long→Double cast loses precision above 2^53; ns epochs are ~1.7e18).
    *   - TimestampNTZType / TimestampType (`timestamp[us]`): a plain cast;
    *     the session zone is UTC so NTZ→TZ is the identity on the epoch value.
    *
    * Any other type is fixture schema drift → fail loudly in one place.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    val tsCol = raw.schema.fields.find(_.name == "ts").getOrElse(
      throw FixtureSchemaDrift(s"$sfDir/events.parquet", "ts",
        "LongType | TimestampType | TimestampNTZType", "<column missing>"))
    val normalized = tsCol.dataType match {
      case LongType                          => timestamp_micros(expr("ts div 1000"))
      case TimestampType | TimestampNTZType  => col("ts").cast(TimestampType)
      case other =>
        throw FixtureSchemaDrift(s"$sfDir/events.parquet", "ts",
          "LongType | TimestampType | TimestampNTZType", other.simpleString)
    }
    raw.withColumn("ts", normalized)
  }
}

/** One clear error for driver-side fixture regeneration changing a schema out
  * from under us — names the file, column, and expected/actual types so the
  * breakage surfaces once at load instead of as N downstream analysis errors.
  */
final case class FixtureSchemaDrift(file: String, column: String,
                                    expected: String, actual: String)
    extends RuntimeException(
      s"fixture schema drift: $file column `$column` expected $expected, got $actual — " +
        "the driver regenerated /root/testdata with a different parquet encoding; " +
        "adapt the loader in graft.Tables")
