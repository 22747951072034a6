package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.cdr.{CdrPipeline, CdrTables}
import graft.streaming.{CdrStreamJob, CsvCodec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, max}

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

  // ---- dimension index vs joins on hand-built adversarial dims

  private val t1 = ts("2024-01-15 08:00:00.000001")
  private val t2 = ts("2024-01-15 09:00:00.123456")
  private val t3 = ts("2024-01-15 09:30:00")

  private def adversarialImsi: DataFrame = Seq[(Option[Long], Option[Long])](
    (Some(100L), Some(777L)), (Some(100L), Some(778L)), // duplicated key: one row each
    (Some(101L), None),                                 // NULL msisdn: the CDR keeps its own
    (None, Some(555L))                                  // NULL key: matches nothing
  ).toDF("imsi", "msisdn")

  private def adversarialMsIp: DataFrame = Seq[(Option[Timestamp], Option[Long], Option[Long], Option[String], Option[String])](
    (Some(t1), Some(201L), Some(301L), Some("vi"), Some("10.0.0.1")),
    (Some(t2), Some(202L), Some(302L), Some("vi"), Some("10.0.0.1")),
    (Some(t2), Some(202L), None, Some("vi"), Some("10.0.0.1")),       // tied, NULL msisdn
    (Some(t3), Some(203L), Some(303L), None, Some("10.0.0.1")),       // NULL probe
    (Some(t3), Some(204L), Some(304L), Some("vi"), None),             // NULL ip
    (None, Some(205L), Some(305L), Some("vi"), Some("10.0.0.1")),     // NULL start_time
    (None, Some(206L), Some(306L), Some("vi"), Some("10.0.0.9")),     // 10.0.0.9's only row
    (Some(t1), Some(207L), Some(307L), Some("vi"), Some("10.0.0.2")),
    (Some(t1), Some(208L), Some(308L), Some("vi"), Some("10.0.0.2")), // tied, imsi decides
    (Some(t2), Some(209L), None, Some("sp"), Some("10.0.0.1"))
  ).toDF("start_time", "imsi", "msisdn", "probe", "ip")

  private def adversarialSrc: DataFrame = Seq[(Option[Timestamp], Option[String], Option[Long], Option[Long], String, Long)](
    (Some(t3), Some("vi_probe"), Some(100L), None, ";10.0.0.1;", 1L),
    (Some(t3), Some("vi_probe"), Some(101L), Some(42L), ";10.0.0.1;", 2L),
    (Some(t3), Some("vi_probe"), Some(999L), None, ";10.0.0.1;", 3L),
    // exactly at the t2 session start; its own msisdn outranks 302, so the
    // tied NULL-msisdn dim row wins once coalesced
    (Some(t2), Some("vi_probe"), None, Some(999999L), ";10.0.0.1;", 4L),
    (Some(ts("2024-01-15 09:00:00.123455")), Some("vi_probe"), None, None, ";10.0.0.1;", 5L),
    (Some(ts("2024-01-15 07:00:00")), Some("vi_probe"), None, None, ";10.0.0.1;10.0.0.9;", 6L),
    (Some(t3), Some("vi_probe"), None, None, ";10.0.0.1;10.0.0.2;", 7L),
    (Some(t3), Some("vi_probe"), None, None, ";10.0.0.2;", 8L),
    (Some(t3), Some("sp_probe"), None, None, ";10.0.0.1;", 8L),
    (None, Some("vi_probe"), None, None, ";10.0.0.1;", 9L),
    (Some(t3), None, None, None, ";10.0.0.1;", 10L)
  ).toDF("start_time", "measuring_probe_name", "imsi", "msisdn", "ms_ip_address", "unique_cdr_id")

  private def joinCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  test("dimension index: full equals the join shape as a multiset on adversarial dims") {
    val (src, imsi, msIp) = (adversarialSrc, adversarialImsi, adversarialMsIp)
    val viaIndex = CdrPipeline.full(src, imsi, msIp)
    // the join shape twoBranch keeps for dims over the size rule
    val ext = CdrPipeline.extendWithPartitionCols(src)
    val viaJoins = CdrPipeline.knownBranch(ext, imsi, "left_outer").unionByName(
      CdrPipeline.projectToSink(CdrPipeline.dedupLatestAgg(CdrPipeline.unknownJoin(ext, msIp))))
    assert(joinCount(viaIndex) == 0, viaIndex.queryExecution.optimizedPlan.treeString)
    assert(joinCount(viaJoins) == 2, viaJoins.queryExecution.optimizedPlan.treeString)
    assert(viaIndex.schema.map(f => f.name -> f.dataType) == viaJoins.schema.map(f => f.name -> f.dataType))
    assert(viaIndex.exceptAll(viaJoins).isEmpty && viaJoins.exceptAll(viaIndex).isEmpty)
    val got = viaIndex.select("unique_cdr_id", "imsi", "msisdn")
      .as[(Long, Option[Long], Option[Long])].collect().groupBy(_._1)
    assert(got(1L).map(_._3).sorted.toSeq == Seq(Some(777L), Some(778L)))
    assert(got(2L).toSeq == Seq((2L, Some(101L), Some(42L))))
    assert(got(3L).toSeq == Seq((3L, Some(999L), None)))
    assert(got(4L).toSeq == Seq((4L, Some(202L), Some(999999L))))
    assert(got(5L).toSeq == Seq((5L, Some(201L), Some(301L))))
    assert(got(6L).toSeq == Seq((6L, None, None)))
    assert(got(7L).toSeq == Seq((7L, Some(202L), Some(302L))))
    assert(got(8L).toSeq == Seq((8L, Some(209L), None)))
    assert(got(9L).toSeq == Seq((9L, None, None)))
    assert(got(10L).toSeq == Seq((10L, None, None)))
  }

  test("dimension index: enrichedStream emits one tied-latest row per id on adversarial dims") {
    val (src, imsi, msIp) = (adversarialSrc, adversarialImsi, adversarialMsIp)
    val ext = CdrPipeline.extendWithPartitionCols(src)
    val branch1 = CdrPipeline.knownBranch(ext, imsi, "left_outer").collect().toSeq
    val joined = CdrPipeline.unknownJoin(ext, msIp)
    val latest = joined.groupBy("unique_cdr_id").agg(max("_start_time").as("_latest"))
    val tied = CdrPipeline.projectToSink(joined.join(latest, "unique_cdr_id")
      .filter(col("_start_time") <=> col("_latest"))).collect().toSet
    val ids = ext.filter(col("imsi").isNull).select("unique_cdr_id").distinct().count()

    val mem = MemoryStream[String](spark)
    mem.addData(src.select(CsvCodec.encode(src)).as[String].collect().toSeq: _*)
    val q = CdrStreamJob.enrichedStream(CsvCodec.decode(mem.toDF()), imsi, msIp, gapMs = 500L)
      .writeStream.format("memory").queryName("adversarial_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-adv").toString).start()
    val out = try {
      // SessionDedup emits on its processing-time gap: poll, don't block
      val deadline = System.currentTimeMillis() + 180000
      def n() = spark.table("adversarial_out").count()
      while (n() < branch1.size + ids && System.currentTimeMillis() < deadline) Thread.sleep(200)
      spark.table("adversarial_out").collect().toSeq
    } finally q.stop()
    val knownIds = branch1.map(_.getAs[Long]("unique_cdr_id")).toSet
    val (known, unknown) = out.partition(r => knownIds(r.getAs[Long]("unique_cdr_id")))
    assert(known.groupBy(identity).map { case (r, rs) => r -> rs.size } ==
      branch1.groupBy(identity).map { case (r, rs) => r -> rs.size })
    assert(unknown.size == ids && unknown.map(_.getAs[Long]("unique_cdr_id")).distinct.size == ids)
    unknown.foreach(r => assert(tied.contains(r), s"$r is not tied for its id's latest session"))
  }
}
