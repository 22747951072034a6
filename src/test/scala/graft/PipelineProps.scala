package graft

import java.sql.Timestamp

import graft.cdr.CdrPipeline
import graft.streaming.CsvCodec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based invariants (SURVEY §5.4) over generated CDR micro-batches.
  * Each case runs real Spark jobs, so cases are small and minSuccessful is
  * tuned down — the point is shrinkable counterexamples on edge semantics
  * (null routing, empty ip lists, separator corner cases), not volume. */
object PipelineProps extends Properties("cdr") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genToken: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).map(_.take(8))

  private val genIpList: Gen[String] = for {
    ips <- Gen.listOfN(3, Gen.option(genToken))
    lead <- Gen.oneOf("", ";")
    trail <- Gen.oneOf("", ";")
  } yield ips.flatten.mkString(lead, ";", trail)

  private val genCdr: Gen[(Timestamp, String, Option[Long], Option[Long], String, Long)] = for {
    epoch <- Gen.choose(1653475440000L, 1779705840000L) // reference time domain
    probe <- genToken.map(t => (t + "xx").take(6))
    imsi <- Gen.option(Gen.choose(1L, 999999L))
    msisdn <- Gen.option(Gen.choose(1L, 999999L))
    ips <- genIpList
    id <- Gen.choose(1L, 50L) // small key space forces dedup collisions
  } yield (new Timestamp(epoch), probe, imsi, msisdn, ips, id)

  private val genBatch = Gen.listOfN(20, genCdr)

  private def df(rows: List[(Timestamp, String, Option[Long], Option[Long], String, Long)]) =
    rows.toDF("start_time", "measuring_probe_name", "imsi", "msisdn",
      "ms_ip_address", "unique_cdr_id")

  property("csv roundtrip is the identity on well-formed CDRs (up to '' ≡ NULL)") =
    Prop.forAll(genBatch) { rows =>
      val src = df(rows)
      // the wire CANNOT represent an empty string distinctly from NULL:
      // null-literal='' encodes both as an empty field and decode reads an
      // empty field as NULL (reference parity — CsvCodec scaladoc). An
      // all-None ip list with no separators produces exactly such a "" (it
      // falsified this property ~1-in-5 suite runs before canonicalizing),
      // so the identity holds up to ''→NULL. Only ms_ip_address needs the
      // canonicalization: genToken is non-empty, so probe never is.
      val expected = src
        .withColumn("ms_ip_address",
          when(col("ms_ip_address") === "", lit(null)).otherwise(col("ms_ip_address")))
      val decoded = CsvCodec.decode(src.select(CsvCodec.encode(src).as("value")))
      decoded.exceptAll(expected).isEmpty && expected.exceptAll(decoded).isEmpty
    }

  property("explode emits exactly the non-empty trimmed tokens") =
    Prop.forAll(genBatch) { rows =>
      val out = CdrPipeline.explodeIps(df(rows)).select("ip").as[String].collect()
      val expected = rows.flatMap(_._5.split(";").map(_.trim).filter(_.nonEmpty))
      out.sorted.toSeq == expected.sorted && out.forall(_.nonEmpty)
    }

  property("branch gates partition every batch; full pipeline emits n1 + distinct nullish keys") =
    Prop.forAll(genBatch) { rows =>
      val src = df(rows)
      val imsiDim = Seq((1L, 10L)).toDF("imsi", "msisdn")
      val msIpDim = Seq((new Timestamp(0L), 2L, 20L, "aa", "tok"))
        .toDF("start_time", "imsi", "msisdn", "probe", "ip")
      val out = CdrPipeline.full(src, imsiDim, msIpDim)
      val n1 = rows.count(_._3.isDefined)
      // an imsi-null row with zero non-empty ip tokens is dropped by the
      // inner-LATERAL explode (reference semantics), so it contributes no key
      val n2 = rows.filter(r => r._3.isEmpty &&
        r._5.split(";").map(_.trim).exists(_.nonEmpty)).map(_._6).distinct.size
      out.count() == n1 + n2
    }

  property("dedup emits one row per key, never with _start_time > event time") =
    Prop.forAll(genBatch) { rows =>
      val ext = CdrPipeline.extendWithPartitionCols(df(rows))
      val dim = rows.take(5).map(r =>
        (r._1, 7L, 70L, r._2.take(2), r._5.split(";").map(_.trim).find(_.nonEmpty).getOrElse("x")))
        .toDF("start_time", "imsi", "msisdn", "probe", "ip")
      val joined = CdrPipeline.rangeEnrich(
        CdrPipeline.explodeIps(ext.filter(col("imsi").isNull)), dim, "left_outer")
      val dd = CdrPipeline.dedupLatest(joined)
      val perKey = dd.groupBy("unique_cdr_id").count().filter(col("count") > 1).count()
      val violations = joined.filter(col("_start_time") > col("start_time")).count()
      perKey == 0L && violations == 0L
    }

  // ---- dimension index vs joins on dims drawn from the batch itself

  private type Session = (Option[Timestamp], Option[Long], Option[Long], String, String)

  private def minute(i: Int) = new Timestamp(1705305600000L + i * 60000L)

  /** A batch over few probes, ips, imsis and start minutes, and dims drawn
    * from it: `imsi_msisdn` rows keyed by the batch's own imsis (duplicate
    * keys, NULL keys, NULL msisdns), `ms_ip_exploded` sessions on the
    * batch's own (probe, ip) pairs starting on the batch's minutes — so
    * sessions start exactly at CDR start times — each session one to three
    * tied rows whose imsi and msisdn are each NULL or not. */
  private val genIndexCase = for {
    cdrs <- Gen.listOfN(12, for {
      t <- Gen.choose(1, 5).map(minute)
      probe <- Gen.oneOf("vi_probe", "sp_probe")
      imsi <- Gen.option(Gen.choose(1L, 4L))
      msisdn <- Gen.option(Gen.choose(900L, 903L))
      ips <- Gen.listOfN(2, Gen.oneOf("10.0.0.1", "10.0.0.2", "10.0.0.3"))
      id <- Gen.choose(1L, 8L)
    } yield (t, probe, imsi, msisdn, ips.mkString(";", ";", ";"), id))
    imsiDim <- Gen.listOfN(6, Gen.zip(
      Gen.oneOf(None +: cdrs.flatMap(_._3).map(Some(_))),
      Gen.option(Gen.choose(700L, 702L))))
    pairs = cdrs.flatMap(c => c._5.split(";").filter(_.nonEmpty).map(ip => (c._2.take(2), ip))).distinct
    sessions <- Gen.listOfN(6, for {
      key <- Gen.oneOf(pairs)
      start <- Gen.frequency(9 -> Gen.choose(0, 6).map(i => Some(minute(i))), 1 -> Gen.const(None))
      ties <- Gen.choose(1, 3)
      rows <- Gen.listOfN(ties, Gen.zip(Gen.option(Gen.choose(200L, 202L)), Gen.option(Gen.choose(300L, 302L))))
    } yield rows.map { case (imsi, msisdn) => (start, imsi, msisdn, key._1, key._2): Session })
  } yield (cdrs, imsiDim, sessions.flatten)

  property("dimension index: full == join shape as a multiset on dims drawn from the batch") =
    Prop.forAll(genIndexCase) { case (cdrs, imsiRows, sessionRows) =>
      val src = df(cdrs)
      val imsi = imsiRows.toDF("imsi", "msisdn")
      val msIp = sessionRows.toDF("start_time", "imsi", "msisdn", "probe", "ip")
      val viaIndex = CdrPipeline.full(src, imsi, msIp)
      val ext = CdrPipeline.extendWithPartitionCols(src)
      val viaJoins = CdrPipeline.knownBranch(ext, imsi, "left_outer").unionByName(
        CdrPipeline.projectToSink(CdrPipeline.dedupLatestAgg(CdrPipeline.unknownJoin(ext, msIp))))
      val indexed = viaIndex.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty
      indexed && viaIndex.exceptAll(viaJoins).isEmpty && viaJoins.exceptAll(viaIndex).isEmpty
    }
}
