package graft
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — iterate on one query
    // without paying the full 100+-query dump (driver always omits it)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local() // nanos-as-long, UTC, µs parquet timestamps
    new java.io.File(outDir).mkdirs()
    val attempted = Seq.newBuilder[String]
    val failed = Seq.newBuilder[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      attempted += name
      try {
        val df = fn(spark, sfDir)
        // Dump TIMESTAMP as NTZ: session tz is UTC so the wall-clock value is
        // unchanged, but the parquet file loses isAdjustedToUTC — matching the
        // naive timestamps the DuckDB oracle computes (otherwise every
        // timestamp column hash-mismatches on tz-awareness alone).
        val ntz = df.schema.fields.foldLeft(df) { (d, f) =>
          f.dataType match {
            case org.apache.spark.sql.types.TimestampType =>
              d.withColumn(f.name, org.apache.spark.sql.functions.col(f.name)
                .cast(org.apache.spark.sql.types.TimestampNTZType))
            case _ => d
          }
        }
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Util.json(SparkEntry.oracleSql))
    // Run manifest: which queries this dump attempted and which crashed —
    // lets the checker fail on a query that died before writing parquet
    // instead of mistaking its absence for "not in this subset run".
    Files.writeString(Paths.get(s"$outDir/manifest.json"), Util.json(ListMap(
      "attempted" -> attempted.result(), "failed" -> failed.result())))
    spark.stop()
  }
}
