package graft

import java.nio.file.Files


/** Source/sink format breadth beyond the parquet fixtures: ORC and CSV file
  * round-trips with the same engine guarantees the parquet path gets —
  * filter/column pushdown reaching the scan (the property that makes a
  * 100 TB scan read gigabytes) and bit-identical row content. No adapter
  * code exists for these on purpose: `spark.read.orc/csv` IS the engine
  * surface; what needs pinning is that the guarantees hold, not a wrapper.
  */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("ORC round-trip: content identical to parquet; filter + column pruning reach the ORC scan") {
    val docs = Tables.documents(spark, sf)
    val dir = tmp("graft-orc")
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)

    // content parity with the parquet source
    val a = docs.orderBy("doc_id").collect()
    val b = back.orderBy("doc_id").collect()
    assert(a.sameElements(b), "ORC round-trip must be lossless")

    // pushdown: the predicate and the 2-column projection must reach the
    // ORC scan, not run as a post-scan Filter over all columns
    val q = back.filter($"n_chars" > 200L).select($"doc_id", $"lang")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,200)]"),
      s"filter must reach the ORC scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      s"scan must prune to the referenced columns:\n$plan")
    assert(q.count() == docs.filter($"n_chars" > 200L).count())
  }

  test("CSV file round-trip: header + explicit schema, quoted text survives, filters stay correct") {
    val docs = Tables.documents(spark, sf)
    val dir = tmp("graft-csv")
    // quoteAll: document text contains commas/quotes in the general case;
    // the writer must emit RFC-4180 quoting the reader reverses exactly
    docs.write.mode("overwrite").option("header", "true").option("quoteAll", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(docs.schema).csv(dir)
    val a = docs.orderBy("doc_id").collect()
    val b = back.orderBy("doc_id").collect()
    assert(a.sameElements(b), "CSV round-trip must be lossless under quoting")
    // CSV scans can't push predicates into the format, but pruning the
    // parsed columns must still happen (the CSV parser skips unprojected
    // fields — Spark's column pruning for text formats)
    val q = back.select($"doc_id", $"n_chars").filter($"n_chars" > 200L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"CSV scan must prune parsed columns:\n$plan")
    assert(q.count() == docs.filter($"n_chars" > 200L).count())
  }
}
