package graft.cdr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable queries for every CDR operator in SURVEY §2, paired with
  * DuckDB oracles over the same parquet fixtures. Both sides end in the same
  * deterministic total ORDER BY (all output columns, ASC NULLS FIRST) so the
  * hash compare cannot be broken by row order.
  */
object CdrQueries {

  // ONE definition of the deterministic-ordering contract for the whole
  // suite — a private copy here could silently desynchronize the CDR
  // oracles' ordering from the llm/relational queries
  private def orderAll(df: DataFrame): DataFrame = graft.Util.orderAll(df)

  private val sinkCols = CdrPipeline.sinkColumns

  private def ext(s: SparkSession, dir: String): DataFrame =
    CdrPipeline.extendWithPartitionCols(CdrTables.src(s, dir))

  private def unknownJoin(s: SparkSession, dir: String): DataFrame =
    CdrPipeline.unknownJoin(ext(s, dir), CdrTables.msIpExploded(s, dir))

  // ---------------------------------------------------------------- Spark

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the fixture-adapter itself (source parity: S1 decode target shape)
    "cdr_src" -> ((s, dir) => orderAll(CdrTables.src(s, dir))),

    // P1–P3: derived partition columns
    "cdr_derive" -> ((s, dir) =>
      orderAll(ext(s, dir))),

    // P1: dev-variant DATE partition column (CAST, not DATE_FORMAT)
    "cdr_derive_date" -> ((s, dir) =>
      orderAll(CdrPipeline.extendWithPartitionColsDate(CdrTables.src(s, dir)))),

    // T1/T2 + F1: UDTF-explode of the ;-delimited IP list
    "cdr_explode_ips" -> ((s, dir) =>
      orderAll(CdrPipeline.explodeIps(ext(s, dir)))),

    // J1 (+F2, P6, P7): inner lookup join on imsi
    "cdr_lookup_inner" -> ((s, dir) =>
      orderAll(CdrPipeline.knownBranch(ext(s, dir), CdrTables.imsiMsisdn(s, dir), "inner"))),

    // J2: left (production) variant — lookup misses keep the CDR
    "cdr_lookup_left" -> ((s, dir) =>
      orderAll(CdrPipeline.knownBranch(ext(s, dir), CdrTables.imsiMsisdn(s, dir), "left_outer"))),

    // J3/J4 (+F3): composite-key + range-predicate enrichment join
    "cdr_range_join" -> ((s, dir) =>
      orderAll(unknownJoin(s, dir).select((sinkCols :+ "ip" :+ "_start_time").map(col): _*))),

    // A1: whole-row argmax dedup by latest dim session per unique_cdr_id
    "cdr_dedup_argmax" -> ((s, dir) =>
      orderAll(CdrPipeline.projectToSink(CdrPipeline.dedupLatest(unknownJoin(s, dir))))),

    // A1 (aggregation form): sort-free hash-aggregate argmax — the scale
    // path for the dedup (see CdrPipeline.dedupLatestAgg scaladoc)
    "cdr_dedup_argmax_agg" -> ((s, dir) =>
      orderAll(CdrPipeline.dedupLatestAgg(unknownJoin(s, dir)))),

    // As-of join (beyond-reference operator): the J3/J4+A1 "latest dim
    // session ≤ CDR time" semantic in ONE pass — no candidate explosion,
    // one shuffle, per-partition sort (graft.operators.AsOfJoin scaladoc).
    // Output: exactly one enrichment row per exploded (CDR, ip) pair.
    "cdr_asof_enrich" -> ((s, dir) => {
      val left = CdrPipeline.explodeIps(ext(s, dir).filter(col("imsi").isNull))
      val enriched = graft.operators.AsOfJoin.leftAsOf(
        left, CdrTables.msIpExploded(s, dir),
        keys = Seq("probe", "ip"), leftTime = "start_time", rightTime = "start_time",
        payload = Seq("imsi" -> "_imsi", "msisdn" -> "_msisdn", "start_time" -> "_start_time"))
        .withColumn("imsi", coalesce(col("_imsi"), col("imsi")))
        .withColumn("msisdn", coalesce(col("_msisdn"), col("msisdn")))
        .drop("_imsi", "_msisdn")
      orderAll(enriched.select((sinkCols :+ "ip" :+ "_start_time").map(col): _*))
    }),

    // K4: the complete two-branch production pipeline
    "cdr_pipeline_full" -> ((s, dir) =>
      orderAll(CdrPipeline.full(
        CdrTables.src(s, dir),
        CdrTables.imsiMsisdn(s, dir),
        CdrTables.msIpExploded(s, dir)))),

    // F4: the reference's planned test-IMSI routing predicate
    // (`IMSI LIKE '999%'`, commented at EnrichmentApp.java:296,338) — the
    // config-gated SURVEY §2.4 row; grouped so both routing buckets and the
    // NULL-imsi bucket are visible
    "cdr_test_imsi_routing" -> ((s, dir) =>
      orderAll(CdrTables.src(s, dir)
        .groupBy(col("imsi").cast("string").like("999%").as("is_test_imsi"))
        .agg(count(lit(1)).as("n")))),

    // S1: CSV encode → decode round-trip with null-literal='' and
    // malformed-row dropping (ignore-parse-errors), EnrichmentApp.java:160-181
    // THE production codec (graft.streaming.CsvCodec) — not a re-derivation,
    // so a codec change that breaks the wire contract fails this oracle
    "cdr_csv_roundtrip" -> ((s, dir) => {
      val src = CdrTables.src(s, dir)
      val lines = src.select(graft.streaming.CsvCodec.encode(src).as("value"))
      val withJunk = lines.unionByName(
        lines.limit(1).select(lit("%%% not a cdr %%%").as("value")))
      orderAll(graft.streaming.CsvCodec.decode(withJunk))
    }),

    // S5: deterministic synthetic CDR generator (batch parity of
    // generator/CsvData.java — LCG instead of Random so the oracle can
    // re-derive identical rows)
    // THE streaming generator derivation (CdrStreamJob.syntheticCdr), driven
    // by a batch id range — one LCG definition for stream, batch, and oracle
    "cdr_generator" -> ((s, dir) =>
      orderAll(graft.streaming.CdrStreamJob.syntheticCdr(
        s.range(10000).selectExpr("id AS i")))),
  )

  // --------------------------------------------------------------- oracle

  private val cte = CdrOracle.cte

  private val srcCols = Seq("start_time", "measuring_probe_name", "imsi",
    "msisdn", "ms_ip_address", "unique_cdr_id")

  private val rangeJoinSelect =
    """SELECT s.start_time, s.measuring_probe_name,
      |  COALESCE(d.imsi, s.imsi) AS imsi, COALESCE(d.msisdn, s.msisdn) AS msisdn,
      |  s.ms_ip_address, s.unique_cdr_id, s.event_date, s.probe, s.ip,
      |  d.start_time AS _start_time
      |FROM src_exploded s LEFT JOIN ms_ip_exploded d
      |  ON s.probe = d.probe AND s.ip = d.ip AND s.start_time >= d.start_time
      |WHERE s.imsi IS NULL""".stripMargin

  private val dedupSelect =
    s"""SELECT ${sinkCols.mkString(", ")} FROM (
       |  SELECT r.*, row_number() OVER (PARTITION BY unique_cdr_id
       |    ORDER BY _start_time DESC NULLS LAST, start_time ASC,
       |             measuring_probe_name ASC, ms_ip_address ASC, ip ASC,
       |             imsi ASC NULLS FIRST, msisdn ASC NULLS FIRST) AS _rn
       |  FROM ($rangeJoinSelect) r
       |) WHERE _rn = 1""".stripMargin

  private val dedupSelectAgg =
    s"""SELECT ${sinkCols.mkString(", ")} FROM (
       |  SELECT r.*, row_number() OVER (PARTITION BY unique_cdr_id
       |    ORDER BY coalesce(_start_time, TIMESTAMP '1900-01-01') DESC,
       |             start_time DESC, measuring_probe_name DESC,
       |             ms_ip_address DESC, coalesce(ip, '') DESC,
       |             coalesce(imsi, -1) DESC, coalesce(msisdn, -1) DESC) AS _rn
       |  FROM ($rangeJoinSelect) r
       |) WHERE _rn = 1""".stripMargin

  // NB: `cte` is concatenated (never interpolated inside a .stripMargin
  // template — its `||` concat operators at line starts would be eaten as
  // margin chars), and every ORDER BY runs over a subquery wrap so output
  // aliases can't collide with base-table columns.
  private def wrap(select: String, obCols: Seq[String]): String =
    graft.Util.wrap(select, obCols)

  private val lookupSelect = (joinKind: String) =>
    s"""SELECT s.start_time, s.measuring_probe_name,
       |  COALESCE(d.imsi, s.imsi) AS imsi, COALESCE(d.msisdn, s.msisdn) AS msisdn,
       |  s.ms_ip_address, s.unique_cdr_id, s.event_date, s.probe
       |FROM src_extended s $joinKind imsi_msisdn d ON s.imsi = d.imsi
       |WHERE s.imsi IS NOT NULL""".stripMargin

  def oracle: Map[String, String] = Map(
    "cdr_src" -> (cte + wrap("SELECT * FROM src", srcCols)),

    "cdr_derive" -> (cte + wrap("SELECT * FROM src_extended", srcCols ++ Seq("event_date", "probe"))),

    "cdr_derive_date" -> (cte + wrap(
      """SELECT *, CAST(start_time AS DATE) AS event_date,
        |  substr(measuring_probe_name, 1, 2) AS probe FROM src""".stripMargin,
      srcCols ++ Seq("event_date", "probe"))),

    "cdr_explode_ips" ->
      (cte + wrap("SELECT * FROM src_exploded", srcCols ++ Seq("event_date", "probe", "ip"))),

    "cdr_lookup_inner" -> (cte + wrap(lookupSelect("JOIN"), sinkCols)),

    "cdr_lookup_left" -> (cte + wrap(lookupSelect("LEFT JOIN"), sinkCols)),

    "cdr_range_join" -> (cte + wrap(rangeJoinSelect, sinkCols ++ Seq("ip", "_start_time"))),

    // DuckDB's native ASOF JOIN is the oracle for our union-sort as-of
    // operator; the dim is pre-reduced per (probe, ip, start_time) with the
    // same deterministic argmax (imsi DESC, msisdn DESC — Spark's
    // max(struct)) so right-side ties can't flap the hash.
    "cdr_asof_enrich" -> (cte +
      """, dimd AS (
        |  SELECT probe, ip, start_time, imsi, msisdn FROM (
        |    SELECT d.*, row_number() OVER (PARTITION BY probe, ip, start_time
        |      ORDER BY imsi DESC NULLS LAST, msisdn DESC NULLS LAST) AS rn
        |    FROM ms_ip_exploded d) t WHERE rn = 1
        |)
        |""".stripMargin + wrap(
      """SELECT s.start_time, s.measuring_probe_name,
        |  COALESCE(d.imsi, s.imsi) AS imsi, COALESCE(d.msisdn, s.msisdn) AS msisdn,
        |  s.ms_ip_address, s.unique_cdr_id, s.event_date, s.probe, s.ip,
        |  d.start_time AS _start_time
        |FROM src_exploded s ASOF LEFT JOIN dimd d
        |  ON s.probe = d.probe AND s.ip = d.ip AND s.start_time >= d.start_time
        |WHERE s.imsi IS NULL""".stripMargin,
      sinkCols ++ Seq("ip", "_start_time"))),

    "cdr_dedup_argmax" -> (cte + wrap(dedupSelect, sinkCols)),

    "cdr_dedup_argmax_agg" -> (cte + wrap(dedupSelectAgg, sinkCols)),

    // full's branch2 uses the aggregation argmax (all-DESC tie chain)
    "cdr_pipeline_full" ->
      (cte + wrap(lookupSelect("LEFT JOIN") + "\nUNION ALL\n" + dedupSelectAgg, sinkCols)),

    "cdr_test_imsi_routing" -> (cte + wrap(
      """SELECT CAST(imsi AS VARCHAR) LIKE '999%' AS is_test_imsi, count(*) AS n
        |FROM src GROUP BY 1""".stripMargin,
      Seq("is_test_imsi", "n"))),

    // round-trip is lossless on well-formed rows and drops the junk row ⇒
    // oracle is the identity projection of src
    "cdr_csv_roundtrip" -> (cte + wrap("SELECT * FROM src", srcCols)),

    "cdr_generator" ->
      s"""WITH g AS (
         |  SELECT i, (1103515245 * (i + 1) + 12345) % 2147483648 AS x
         |  FROM range(10000) t(i))
         |SELECT make_timestamp((1653475440000 + (x * 1009) % 126230400000) * 1000) AS start_time,
         |  (['DE','cl','ek','ir','kg','kh','mn','nn','ns','rd','sp','sr','st','vr','yd'])[CAST(x % 15 AS INT) + 1] || '...' AS measuring_probe_name,
         |  CASE WHEN x % 2 = 0 THEN 250000000000000 + (x * 37) % 1000000 END AS imsi,
         |  CASE WHEN x % 10 = 0 THEN 79000000000 + (x * 11) % 10000000 END AS msisdn,
         |  ';10.' || CAST(x % 200 AS VARCHAR) || '.' || CAST((x // 7) % 200 AS VARCHAR) || '.' || CAST((x // 11) % 250 AS VARCHAR) || ';' AS ms_ip_address,
         |  1650000000000000 + i - i % 2 AS unique_cdr_id
         |FROM g ${graft.Util.ob(srcCols: _*)}""".stripMargin,
  )
}
