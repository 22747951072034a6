package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV line codec for the CDR wire format (S1/K3).
  *
  * The reference consumes CSV-encoded CDRs from Kafka with
  * `'value.csv.null-literal' = ''` (empty string decodes to SQL NULL) and
  * `'value.csv.ignore-parse-errors' = 'true'` (malformed lines dropped) —
  * /root/reference/src/main/java/org/example/EnrichmentApp.java:160-181 —
  * and its generator encodes with a plain comma-join of the six fields
  * (generator/CsvData.java:33-40).
  *
  * Decode stays inside whole-stage codegen (split + null-safe casts, no
  * UDF): unparsable *fields* null out and the row is kept — Flink's
  * ignore-parse-errors contract — while a line where nothing parses (all
  * six fields NULL) is dropped as garbage. A row with a legitimately empty
  * field (e.g. `,probeX,...` = NULL start_time under null-literal='') is
  * therefore KEPT, not conflated with a parse error. Encode coalesces every
  * field through '' so a NULL can never swallow its comma and shift the
  * remaining columns (concat_ws skips NULLs). Both directions are pure
  * column expressions, so the same codec serves batch oracle queries and
  * the streaming Kafka path unchanged.
  */
object CsvCodec {

  /** Wire schema of a CDR line (EnrichmentApp.java:163-170). */
  val schema: StructType = StructType(Seq(
    StructField("start_time", TimestampType),
    StructField("measuring_probe_name", StringType),
    StructField("imsi", LongType),
    StructField("msisdn", LongType),
    StructField("ms_ip_address", StringType),
    StructField("unique_cdr_id", LongType)))

  private val tsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Row → CSV line column (generator contract, CsvData.java:33-40).
    * Every field passes through coalesce(..., ''): concat_ws silently SKIPS
    * null arguments, so an unprotected NULL field would drop its comma and
    * shift every later column on decode. */
  def encode(df: DataFrame): Column =
    concat_ws(",",
      coalesce(date_format(col("start_time"), tsFormat), lit("")),
      coalesce(col("measuring_probe_name"), lit("")),
      coalesce(col("imsi").cast("string"), lit("")),
      coalesce(col("msisdn").cast("string"), lit("")),
      coalesce(col("ms_ip_address"), lit("")),
      coalesce(col("unique_cdr_id").cast("string"), lit("")))

  /** CSV `value` column → typed CDR columns. Field-level parse errors null
    * the field and keep the row (ignore-parse-errors parity); only lines
    * where nothing parsed (all fields NULL) are dropped as garbage.
    *
    * Decodes with codegen'd `split` + null-safe casts rather than
    * `from_csv`: the wire format is an UNQUOTED plain comma-join (the
    * reference generator, CsvData.java:33-40, and [[encode]] both emit it),
    * so a quote character can never carry CSV semantics on this wire and
    * token splitting is exactly faithful. It is also ~2× faster per 100 k
    * rows (0.49 s → 0.25 s): Catalyst pushes the garbage-drop filter below
    * the projection, duplicating the decode expression per row — a
    * duplicated `split` costs microseconds where a duplicated Univocity
    * `from_csv` parse dominated the query. The expensive timestamp parse
    * sits LAST in the filter's OR chain so the codegen short-circuit skips
    * it for any row with a surviving field. */
  def decode(lines: DataFrame, valueCol: String = "value"): DataFrame = {
    val toks = split(col(valueCol).cast("string"), ",", -1)
    // get() is null-on-out-of-bounds under ANSI; '' is the null literal
    def tok(i: Int) = nullif(get(toks, lit(i)), lit(""))
    lines
      .select(
        try_to_timestamp(tok(0), lit(tsFormat)).as("start_time"),
        tok(1).as("measuring_probe_name"),
        tok(2).try_cast("long").as("imsi"),
        tok(3).try_cast("long").as("msisdn"),
        tok(4).as("ms_ip_address"),
        tok(5).try_cast("long").as("unique_cdr_id"))
      .filter((schema.fieldNames.filterNot(_ == "start_time") :+ "start_time")
        .map(col(_).isNotNull).reduce(_ || _))
  }
}
