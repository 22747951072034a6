package graft

import org.apache.spark.sql.types._

/** The canary for driver-side fixture regeneration: asserts the exact
  * POST-ADAPTER schema of all 10 driver tables at sf0.001, so a parquet
  * encoding change (like r6's TIMESTAMP(NANOS) → timestamp[us] flip on
  * `events.ts`) fails here in seconds with one readable diff instead of as
  * 21 downstream analysis errors.
  *
  * Timestamp columns are written by the driver without a zone annotation, so
  * the raw reader surfaces TimestampNTZType; the session zone is pinned UTC
  * everywhere (Tables.configure), making NTZ↔TZ the identity on epoch values
  * and keeping DuckDB's `CAST(ts AS TIMESTAMP)` bit-identical.
  */
class FixtureSpec extends SparkSpec {

  private def schemaOf(name: String): Seq[(String, DataType)] =
    Tables.table(spark, sf, name).schema.fields.toSeq.map(f => f.name -> f.dataType)

  test("raw fixture schemas match the documented contract (all 10 tables)") {
    val expected: Map[String, Seq[(String, DataType)]] = Map(
      "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "events" -> Seq("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType))

    val drift = Tables.names.flatMap { t =>
      val actual = schemaOf(t)
      if (actual == expected(t)) Nil
      else Seq(s"$t:\n  expected ${expected(t).map { case (n, d) => s"$n:${d.simpleString}" }.mkString(", ")}" +
        s"\n  actual   ${actual.map { case (n, d) => s"$n:${d.simpleString}" }.mkString(", ")}")
    }
    assert(drift.isEmpty,
      s"\nFIXTURE SCHEMA DRIFT — the driver regenerated /root/testdata with a " +
        s"different parquet encoding; adapt graft.Tables:\n${drift.mkString("\n")}")
  }

  test("Tables.events adapter yields µs TimestampType regardless of on-disk encoding") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.count() > 0)
  }

  test("Tables.events adapter handles legacy nanos-as-Long encoding") {
    import spark.implicits._
    // simulate the pre-r6 fixture: raw Long nanos column named ts
    val dir = java.nio.file.Files.createTempDirectory("fixture-nanos").toString
    val nanos = 1653475440123456789L // ...789 ns must truncate away, not round
    Seq((1L, nanos)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    val micros = ev.select(org.apache.spark.sql.functions.unix_micros(
      org.apache.spark.sql.functions.col("ts"))).as[Long].head()
    assert(micros === nanos / 1000L) // integer truncation, identical to DuckDB CAST
  }

  test("Tables.events raises one typed FixtureSchemaDrift on an unknown ts encoding") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fixture-drift").toString
    Seq((1L, "not-a-timestamp")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[FixtureSchemaDrift] { Tables.events(spark, dir) }
    assert(e.getMessage.contains("events.parquet"))
    assert(e.getMessage.contains("`ts`"))
    assert(e.getMessage.contains("string"))
  }

  test("Tables.events raises FixtureSchemaDrift when ts is missing entirely") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fixture-nots").toString
    Seq((1L, 2.0)).toDF("event_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[FixtureSchemaDrift] { Tables.events(spark, dir) }
    assert(e.getMessage.contains("<column missing>"))
  }

  test("Tools.replicate: factor x rows, disjoint id ranges per copy, copy 0 unchanged, salt only when asked") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max, min}
    val factor = 3
    val ev = Tables.events(spark, sf)
    val evN = Tools.replicate(ev, factor, Seq("event_id", "user_id"), keepCopy = true)
    assert(evN.count() == factor * ev.count())
    Seq("event_id", "user_id").foreach { id =>
      val ranges = evN.groupBy($"copy").agg(min(col(id)), max(col(id)))
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      assert(ranges.map(_._1).toSeq == (0L until factor))
      ranges.sliding(2).foreach { case Array(a, b) =>
        assert(a._3 < b._2, s"$id ranges of copies ${a._1} and ${b._1} overlap") }
    }
    val copy0 = evN.filter($"copy" === 0).drop("copy")
    assert(copy0.exceptAll(ev).isEmpty && ev.exceptAll(copy0).isEmpty)
    assert(Tools.replicate(ev, factor, Seq("event_id")).columns.toSeq == ev.columns.toSeq)

    // each copy's text against its source document's
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val stride = docs.agg(max($"doc_id")).head().getLong(0) + 1
    def texts(salt: Boolean): Array[(Long, String, String)] =
      Tools.replicate(docs, factor, Seq("doc_id"), salt = salt, keepCopy = true)
        .select($"copy", ($"doc_id" - $"copy" * stride).as("doc_id"), $"text".as("got"))
        .join(docs, "doc_id").select($"copy", $"text", $"got")
        .as[(Long, String, String)].collect()
    val salted = texts(salt = true)
    assert(salted.length == factor * docs.count())
    salted.foreach { case (c, orig, got) =>
      assert(got == (if (c == 0) orig else s"$orig c$c"), s"copy $c: '$got'") }
    assert(texts(salt = false).forall { case (_, orig, got) => got == orig })
  }

  test("Tools.Probe record: a skipped section holds -1 and its reason; one ASCII JSON line, keys in insertion order, strings escaped") {
    import scala.jdk.CollectionConverters._
    val p = new Tools.Probe(spark, "spec", skip = "gone")
    val awkward = "quote\" backslash\\ tab\t cr\r soh\u0001 dash\u2014 end"
    p.put("metric", "probe_spec")
    p.put("text", awkward)
    p.section("kept", "kept_why" -> "never recorded", "kept_rows", "kept_sec") {
      p.counted("kept phase", "kept_rows", "kept_sec")(spark.range(3).count())
    }
    p.section("gone", "gone_why" -> "answer-size-bound", "gone_rows", "gone_sec") {
      fail("a skipped section ran")
    }
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(p.emit(None))
    val lines = out.toString("UTF-8").split("\n").toSeq
    // one line of printable ASCII: stdout's charset may not be UTF-8
    assert(lines.size == 1 && lines.head.forall(c => c >= ' ' && c < '\u007f'), lines)
    val rec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.head)
    def keys(n: com.fasterxml.jackson.databind.JsonNode) = n.properties.asScala.toSeq.map(_.getKey)
    assert(keys(rec) ==
      Seq("metric", "text", "skipped", "kept_sec", "kept_rows", "gone_rows", "gone_sec"))
    assert(rec.get("text").asText == awkward)
    assert(rec.get("kept_rows").asLong == 3L)
    assert(rec.get("gone_rows").asLong == -1L && rec.get("gone_sec").asLong == -1L)
    assert(keys(rec.get("skipped")) == Seq("gone_why"))
    assert(rec.get("skipped").get("gone_why").asText == "answer-size-bound")
  }
}
