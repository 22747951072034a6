package graft.cdr

import java.util.{Arrays, BitSet, Comparator}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** One `ms_ip_exploded` row of the latest session of a (probe, ip): the
  * session's start in epoch microseconds and the row's raw imsi / msisdn. */
private[cdr] case class SessionHit(start_us: Long, imsi: Option[Long], msisdn: Option[Long])

/** `imsi_msisdn` as imsi → msisdns: sorted distinct keys, key k's rows at
  * `off(k) until off(k + 1)`, NULL msisdns marked in `msisdnNull`. */
private[cdr] final class ImsiIndex(keys: Array[Long], off: Array[Int], msisdn: Array[Long],
                      msisdnNull: BitSet) extends Serializable {

  /** One msisdn per dim row carrying `imsi` (so a duplicated key keeps the
    * lookup join's multiplicity); null when no row carries it. */
  def msisdns(imsi: Long): Seq[Option[Long]] = {
    val k = Arrays.binarySearch(keys, imsi)
    if (k < 0) null
    else (off(k) until off(k + 1)).map(i => if (msisdnNull.get(i)) None else Some(msisdn(i)))
  }
}

/** `ms_ip_exploded` as (probe, ip) → sessions: keys sorted by (probe, ip)
  * in UTF-8 byte order, key k's sessions at `keyOff(k) until keyOff(k + 1)`
  * with ascending distinct `starts` (epoch micros), session s's rows — its
  * whole tie group — at `sessOff(s) until sessOff(s + 1)`, NULLs in the
  * masks. */
private[cdr] final class SessionIndex(probes: Array[UTF8String], ips: Array[UTF8String], keyOff: Array[Int],
                         starts: Array[Long], sessOff: Array[Int],
                         imsi: Array[Long], imsiNull: BitSet,
                         msisdn: Array[Long], msisdnNull: BitSet) extends Serializable {

  private def key(probe: UTF8String, ip: UTF8String): Int = {
    var lo = 0
    var hi = probes.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = SessionIndex.compareKeys(probes(mid), ips(mid), probe, ip)
      if (c < 0) lo = mid + 1 else if (c > 0) hi = mid - 1 else return mid
    }
    -1
  }

  /** Every row of the latest session of (probe, ip) starting at or before
    * `t` — the rows the range predicate `t >= start_time` keeps that no
    * other row of theirs outranks; null when none matches. */
  def latest(probe: String, ip: String, t: Long): Seq[SessionHit] = {
    val k =
      if (probe == null || ip == null) -1
      else key(UTF8String.fromString(probe), UTF8String.fromString(ip))
    if (k < 0) return null
    // first session starting after t; the one before it is the latest match
    var lo = keyOff(k)
    var hi = keyOff(k + 1)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= t) lo = mid + 1 else hi = mid
    }
    val s = lo - 1
    if (s < keyOff(k)) null
    else (sessOff(s) until sessOff(s + 1)).map(i => SessionHit(starts(s),
      if (imsiNull.get(i)) None else Some(imsi(i)),
      if (msisdnNull.get(i)) None else Some(msisdn(i))))
  }
}

private[cdr] object SessionIndex {

  /** The (probe, ip) order the keys are sorted in and searched by. */
  def compareKeys(probeA: UTF8String, ipA: UTF8String, probeB: UTF8String, ipB: UTF8String): Int = {
    val c = probeA.compareTo(probeB)
    if (c != 0) c else ipA.compareTo(ipB)
  }
}

/** Both CDR dimension lookups of one pair of dimension snapshots, built
  * once as broadcast indexes so each micro-batch enriches by lookup instead
  * of re-broadcasting the dimensions into two joins. The UDFs capture only
  * the `Broadcast` handles; [[destroy]] frees them on every executor. */
final class DimIndex private (imsiBc: Broadcast[ImsiIndex], sessionBc: Broadcast[SessionIndex]) {

  // each UDF closes over a local copy of its handle: a constructor
  // parameter read inside the lambda would capture `this` instead
  private val msisdnsUdf = {
    val bc = imsiBc
    udf((imsi: Long) => bc.value.msisdns(imsi))
  }

  // a NULL CDR start_time reaches no session: Spark returns null without
  // calling a UDF whose primitive (Long) argument is null
  private val latestUdf = {
    val bc = sessionBc
    udf((probe: String, ip: String, t: Long) => bc.value.latest(probe, ip, t))
  }

  /** The msisdns of every `imsi_msisdn` row with this imsi (null on a miss). */
  def msisdns(imsi: Column): Column = msisdnsUdf(imsi)

  /** The [[SessionHit]]s of the latest session of (probe, ip) at or before
    * `startTime` (null when none). */
  def latestSession(probe: Column, ip: Column, startTime: Column): Column =
    latestUdf(probe, ip, unix_micros(startTime))

  def destroy(): Unit = {
    imsiBc.destroy()
    sessionBc.destroy()
  }
}

object DimIndex {

  private def typed(df: DataFrame, want: (String, DataType)*): Boolean =
    want.forall { case (c, t) => df.schema.find(_.name == c).exists(_.dataType == t) }

  /** Builds the index when both dimensions pass [[graft.Util.fitsBroadcast]]
    * at [[CdrPipeline.DimBroadcastMaxBytes]] (the broadcast joins' own size
    * rule) and carry the reference's column types; otherwise None, and the
    * caller keeps the joins. Collects each dimension once, in jobs
    * described as `cdr dim index`. */
  def build(imsiMsisdn: DataFrame, msIpExploded: DataFrame): Option[DimIndex] = {
    val indexable =
      typed(imsiMsisdn, "imsi" -> LongType, "msisdn" -> LongType) &&
      typed(msIpExploded, "start_time" -> TimestampType, "imsi" -> LongType,
        "msisdn" -> LongType, "probe" -> StringType, "ip" -> StringType) &&
      Seq(imsiMsisdn, msIpExploded).forall(graft.Util.fitsBroadcast(_, CdrPipeline.DimBroadcastMaxBytes))
    if (!indexable) return None
    val sc = imsiMsisdn.sparkSession.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("cdr dim index")
    val (imsiRows, sessionRows) =
      try (
        collectCompact(imsiMsisdn.filter(col("imsi").isNotNull).select("imsi", "msisdn")),
        collectCompact(msIpExploded
          .filter(col("probe").isNotNull && col("ip").isNotNull && col("start_time").isNotNull)
          .select(col("probe"), col("ip"), unix_micros(col("start_time")), col("imsi"), col("msisdn"))))
      finally sc.setJobDescription(prior)
    Some(new DimIndex(sc.broadcast(imsiIndex(imsiRows)), sc.broadcast(sessionIndex(sessionRows))))
  }

  /** The rows of `df` as the compact `UnsafeRow`s a broadcast exchange
    * collects, not as boxed `Row`s: the driver holds them only until the
    * index arrays are built. */
  private def collectCompact(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("cdr dim index"))(qe.executedPlan.executeCollect())
  }

  /** Start offsets of the runs of equal rows (by `same(i - 1, i)`) in
    * `0 until n`, closed by `n`. */
  private def runs(n: Int)(same: (Int, Int) => Boolean): Array[Int] =
    ((0 until n).filter(i => i == 0 || !same(i - 1, i)) :+ n).toArray

  private def nullMask(rows: Array[InternalRow], field: Int): BitSet = {
    val m = new BitSet(rows.length)
    rows.indices.foreach(i => if (rows(i).isNullAt(field)) m.set(i))
    m
  }

  private def longs(rows: Array[InternalRow], field: Int): Array[Long] =
    rows.map(r => if (r.isNullAt(field)) 0L else r.getLong(field))

  /** Rows (imsi, msisdn), imsi non-null; sorted in place. */
  private def imsiIndex(rows: Array[InternalRow]): ImsiIndex = {
    Arrays.sort(rows, Comparator.comparingLong[InternalRow](_.getLong(0)))
    val keys = longs(rows, 0)
    val off = runs(rows.length)((a, b) => keys(a) == keys(b))
    new ImsiIndex(off.init.map(keys(_)), off, longs(rows, 1), nullMask(rows, 1))
  }

  /** Rows (probe, ip, start micros, imsi, msisdn), the first three
    * non-null; sorted in place. */
  private def sessionIndex(rows: Array[InternalRow]): SessionIndex = {
    Arrays.sort(rows, (a: InternalRow, b: InternalRow) => {
      val c = SessionIndex.compareKeys(a.getUTF8String(0), a.getUTF8String(1), b.getUTF8String(0), b.getUTF8String(1))
      if (c != 0) c else java.lang.Long.compare(a.getLong(2), b.getLong(2))
    })
    def sameKey(a: Int, b: Int) =
      rows(a).getUTF8String(0) == rows(b).getUTF8String(0) && rows(a).getUTF8String(1) == rows(b).getUTF8String(1)
    val starts = longs(rows, 2)
    val sessOff = runs(rows.length)((a, b) => sameKey(a, b) && starts(a) == starts(b))
    val sessions = sessOff.init
    val keyOff = runs(sessions.length)((a, b) => sameKey(sessions(a), sessions(b)))
    val keys = keyOff.init.map(k => rows(sessions(k)))
    // copies: a key must not pin its whole row's buffer
    new SessionIndex(keys.map(_.getUTF8String(0).copy()), keys.map(_.getUTF8String(1).copy()), keyOff,
      sessions.map(starts(_)), sessOff,
      longs(rows, 3), nullMask(rows, 3), longs(rows, 4), nullMask(rows, 4))
  }
}
