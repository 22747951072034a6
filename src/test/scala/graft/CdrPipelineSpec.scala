package graft

import java.sql.Timestamp

import graft.cdr.{CdrPipeline, CdrTables}
import org.apache.spark.sql.DataFrame

/** Unit coverage per SURVEY §5.1: one test per §2 operator family, including
  * the edge semantics the reference depends on (empty-token filtering, NULL
  * branch routing, inclusive range boundary, coalesce on lookup miss,
  * argmax tie determinism). */
class CdrPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def srcRow(id: Long, imsi: Option[Long], ips: String,
                     t: String = "2024-01-15 10:00:00", probe: String = "vi_probe") =
    (ts(t), probe, imsi, None: Option[Long], ips, id)

  private def srcDf(rows: Seq[(Timestamp, String, Option[Long], Option[Long], String, Long)]): DataFrame =
    rows.toDF("start_time", "measuring_probe_name", "imsi", "msisdn",
      "ms_ip_address", "unique_cdr_id")

  test("P2/P3: event_date is yyyy-MM-dd string, probe is 2-char prefix") {
    val out = CdrPipeline.extendWithPartitionCols(
      srcDf(Seq(srcRow(1, Some(5L), ";1.2.3.4;"))))
    val r = out.select("event_date", "probe").as[(String, String)].head()
    assert(r == ("2024-01-15", "vi"))
  }

  test("T2+F1: explode drops empty tokens from leading/trailing/double separators") {
    val out = CdrPipeline.explodeIps(
      srcDf(Seq(srcRow(1, None, "; 10.0.0.1 ;;10.0.0.2;"))))
    assert(out.select("ip").as[String].collect().toSeq == Seq("10.0.0.1", "10.0.0.2"))
  }

  test("F2/F3: branch gates are a disjoint cover of the stream") {
    val src = CdrTables.src(spark, sf)
    val n = src.count()
    val n1 = src.filter($"imsi".isNotNull).count()
    val n2 = src.filter($"imsi".isNull).count()
    assert(n1 + n2 == n && n > 0)
  }

  test("J2+P6: left lookup keeps CDR on miss, coalesce prefers looked-up values") {
    val src = srcDf(Seq(srcRow(1, Some(100L), ";a;"), srcRow(2, Some(999L), ";b;")))
    val dim = Seq((100L, 777L)).toDF("imsi", "msisdn")
    val out = CdrPipeline.lookupEnrich(src, dim, "left_outer")
      .select($"unique_cdr_id", $"imsi", $"msisdn").as[(Long, Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(out(0) == ((1L, Some(100L), Some(777L)))) // hit: msisdn enriched
    assert(out(1) == ((2L, Some(999L), None)))       // miss: original kept
  }

  test("J4/F5: range predicate start_time >= dim.start_time is inclusive") {
    val src = CdrPipeline.explodeIps(CdrPipeline.extendWithPartitionCols(
      srcDf(Seq(srcRow(1, None, ";10.0.0.1;", "2024-01-15 10:00:00")))))
    val dim = Seq(
      (ts("2024-01-15 10:00:00"), 1L, 2L, "vi", "10.0.0.1"), // == boundary: match
      (ts("2024-01-15 10:00:01"), 3L, 4L, "vi", "10.0.0.1")  // later: no match
    ).toDF("start_time", "imsi", "msisdn", "probe", "ip")
    val out = CdrPipeline.rangeEnrich(src, dim, "inner")
    assert(out.count() == 1)
    assert(out.select("_start_time").as[Timestamp].head() == ts("2024-01-15 10:00:00"))
  }

  test("A1: dedup keeps the row with max _start_time per unique_cdr_id") {
    val src = CdrPipeline.explodeIps(CdrPipeline.extendWithPartitionCols(
      srcDf(Seq(srcRow(1, None, ";10.0.0.1;10.0.0.2;", "2024-01-15 10:00:00")))))
    val dim = Seq(
      (ts("2024-01-15 08:00:00"), 10L, 20L, "vi", "10.0.0.1"),
      (ts("2024-01-15 09:00:00"), 30L, 40L, "vi", "10.0.0.2") // latest wins
    ).toDF("start_time", "imsi", "msisdn", "probe", "ip")
    val out = CdrPipeline.dedupLatest(CdrPipeline.rangeEnrich(src, dim, "left_outer"))
    assert(out.count() == 1)
    assert(out.select("imsi").as[Option[Long]].head().contains(30L))
  }

  test("A1: tie on _start_time resolves deterministically across runs") {
    val src = CdrPipeline.explodeIps(CdrPipeline.extendWithPartitionCols(
      srcDf(Seq(srcRow(1, None, ";10.0.0.1;10.0.0.2;")))))
    val dim = Seq(
      (ts("2024-01-15 08:00:00"), 10L, 20L, "vi", "10.0.0.1"),
      (ts("2024-01-15 08:00:00"), 30L, 40L, "vi", "10.0.0.2")
    ).toDF("start_time", "imsi", "msisdn", "probe", "ip")
    def run() = CdrPipeline.dedupLatest(CdrPipeline.rangeEnrich(src, dim, "left_outer"))
      .select("imsi").as[Option[Long]].collect().toSeq
    val a = run()
    assert(a == run() && a.size == 1)
    assert(a.head.contains(10L)) // total order: ip "10.0.0.1" < "10.0.0.2"
  }

  test("A1 agg form: same keys and latest-session winners as the window form") {
    val src = CdrPipeline.explodeIps(CdrPipeline.extendWithPartitionCols(
      srcDf(Seq(srcRow(1, None, ";10.0.0.1;10.0.0.2;", "2024-01-15 10:00:00")))))
    val dim = Seq(
      (ts("2024-01-15 08:00:00"), 10L, 20L, "vi", "10.0.0.1"),
      (ts("2024-01-15 09:00:00"), 30L, 40L, "vi", "10.0.0.2")
    ).toDF("start_time", "imsi", "msisdn", "probe", "ip")
    val joined = CdrPipeline.rangeEnrich(src, dim, "left_outer")
    val agg = CdrPipeline.dedupLatestAgg(joined)
    assert(agg.columns.toSeq == CdrPipeline.sinkColumns)
    assert(agg.count() == 1)
    assert(agg.select("imsi").as[Option[Long]].head().contains(30L))
    // fixture-level: same key set and count as the window form
    val ext = CdrPipeline.extendWithPartitionCols(CdrTables.src(spark, sf))
    val j = CdrPipeline.rangeEnrich(
      CdrPipeline.explodeIps(ext.filter($"imsi".isNull)),
      CdrTables.msIpExploded(spark, sf), "left_outer")
    val w = CdrPipeline.projectToSink(CdrPipeline.dedupLatest(j))
    val a = CdrPipeline.dedupLatestAgg(j)
    assert(a.count() == w.count())
    assert(a.select("unique_cdr_id").exceptAll(w.select("unique_cdr_id")).count() == 0)
  }

  test("full pipeline: output schema is the sink contract and branches union-align") {
    val out = CdrPipeline.full(
      CdrTables.src(spark, sf),
      CdrTables.imsiMsisdn(spark, sf),
      CdrTables.msIpExploded(spark, sf))
    assert(out.columns.toSeq == CdrPipeline.sinkColumns)
    // branch1: left join on unique dim key ⇒ one row per imsi-bearing CDR;
    // branch2: argmax dedup ⇒ one row per distinct unique_cdr_id among the rest
    val src = CdrTables.src(spark, sf)
    val n1 = src.filter($"imsi".isNotNull).count()
    val n2 = src.filter($"imsi".isNull).select("unique_cdr_id").distinct().count()
    assert(out.count() == n1 + n2)
  }

  test("SQL surface: the full pipeline as ONE spark.sql query equals the DataFrame form") {
    // the reference drives everything through SQL DDL + queries; a user
    // porting from it must be able to stay in SQL. Same branch split,
    // lookup/range joins, and max(named_struct) argmax — row-for-row equal.
    val src = CdrTables.src(spark, sf)
    src.createOrReplaceTempView("cdr_src_v")
    CdrTables.imsiMsisdn(spark, sf).createOrReplaceTempView("imsi_msisdn_v")
    CdrTables.msIpExploded(spark, sf).createOrReplaceTempView("ms_ip_exploded_v")
    val sqlOut = spark.sql(
      """WITH ext AS (
        |  SELECT *, date_format(start_time, 'yyyy-MM-dd') AS event_date,
        |         substring(measuring_probe_name, 1, 2) AS probe
        |  FROM cdr_src_v
        |), b1 AS (
        |  SELECT s.start_time, s.measuring_probe_name,
        |         coalesce(d.imsi, s.imsi) AS imsi,
        |         coalesce(d.msisdn, s.msisdn) AS msisdn,
        |         s.ms_ip_address, s.unique_cdr_id, s.event_date, s.probe
        |  FROM ext s LEFT OUTER JOIN imsi_msisdn_v d ON s.imsi = d.imsi
        |  WHERE s.imsi IS NOT NULL
        |), expl AS (
        |  SELECT s.start_time, s.measuring_probe_name, s.imsi, s.msisdn,
        |         s.ms_ip_address, s.unique_cdr_id, s.event_date, s.probe,
        |         trim(ip0) AS ip
        |  FROM ext s LATERAL VIEW explode(split(trim(s.ms_ip_address), ';')) t AS ip0
        |  WHERE s.imsi IS NULL AND trim(ip0) != ''
        |), rng AS (
        |  SELECT e.start_time, e.measuring_probe_name,
        |         coalesce(d.imsi, e.imsi) AS imsi,
        |         coalesce(d.msisdn, e.msisdn) AS msisdn,
        |         e.ms_ip_address, e.unique_cdr_id, e.ip,
        |         d.start_time AS _start_time
        |  FROM expl e LEFT OUTER JOIN ms_ip_exploded_v d
        |    ON e.probe = d.probe AND e.ip = d.ip AND e.start_time >= d.start_time
        |), agg AS (
        |  SELECT unique_cdr_id, max(named_struct(
        |    'st_s', coalesce(_start_time, timestamp '1900-01-01 00:00:00'),
        |    'start_time', start_time,
        |    'measuring_probe_name', measuring_probe_name,
        |    'ms_ip_address', ms_ip_address,
        |    'ip_s', coalesce(ip, ''),
        |    'imsi_s', coalesce(imsi, CAST(-1 AS BIGINT)),
        |    'msisdn_s', coalesce(msisdn, CAST(-1 AS BIGINT)))) AS w
        |  FROM rng GROUP BY unique_cdr_id
        |), b2 AS (
        |  SELECT w.start_time, w.measuring_probe_name,
        |         CASE WHEN w.imsi_s = -1 THEN CAST(NULL AS BIGINT) ELSE w.imsi_s END AS imsi,
        |         CASE WHEN w.msisdn_s = -1 THEN CAST(NULL AS BIGINT) ELSE w.msisdn_s END AS msisdn,
        |         w.ms_ip_address, unique_cdr_id,
        |         date_format(w.start_time, 'yyyy-MM-dd') AS event_date,
        |         substring(w.measuring_probe_name, 1, 2) AS probe
        |  FROM agg
        |)
        |SELECT * FROM b1 UNION ALL SELECT * FROM b2""".stripMargin)
    val dfOut = CdrPipeline.full(src,
      CdrTables.imsiMsisdn(spark, sf), CdrTables.msIpExploded(spark, sf))
    assert(sqlOut.exceptAll(dfOut).isEmpty && dfOut.exceptAll(sqlOut).isEmpty)
    assert(sqlOut.count() == dfOut.count())
  }
}
