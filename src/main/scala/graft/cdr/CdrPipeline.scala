package graft.cdr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's CDR enrichment operators (SURVEY §2) as composable, pure
  * `DataFrame => DataFrame` transforms — the same logical pipeline runs in
  * batch (DuckDB-oracle mode) and Structured Streaming (graft.streaming).
  *
  * Scale notes (100 TB):
  *  - Both enrichments keep the *fact* side shuffle-free: the dimensions
  *    (`imsi_msisdn`, `ms_ip_exploded`) are bounded lookup tables
  *    (reference caches them at 100/1000 rows, flink.conf:37-48). While
  *    both pass the broadcast size rule ([[graft.Util.fitsBroadcast]]:
  *    Catalyst's size estimate under [[DimBroadcastMaxBytes]], or unknown),
  *    [[twoBranch]] builds a [[DimIndex]] — imsi → msisdns and
  *    (probe, ip) → sorted session starts with their tie groups, in
  *    primitive arrays behind two broadcasts — and J1–J4 become per-row
  *    lookups: no join, no exchange, and branch 2 carries one tie group
  *    per exploded (CDR, ip) into the dedup instead of every earlier
  *    session. A long-running stream builds the index once per dimension
  *    snapshot (`CdrStreamJob.runForeachBatch`). A dimension over the rule
  *    keeps the joins, each with the size-conditional broadcast hint
  *    ([[graft.Util.broadcastIfSmall]]): a dimension that outgrows
  *    executor memory degrades to Catalyst's shuffled-hash/SMJ choice
  *    instead of OOMing on a forced build side, and the range predicate
  *    of J3/J4 stays a post-join filter. Dims routed through
  *    `DimensionCache` count eagerly, so their size is always known.
  *  - The only shuffle in the whole pipeline is the argmax dedup (A1/A2),
  *    keyed by `unique_cdr_id` — exactly where the reference shuffles too
  *    (its keyBy, EnrichmentApp.java:146). Key cardinality ~ |CDRs|, values
  *    per key are the IPs × the latest session's tie group (IPs × every
  *    earlier session on the join shape), so there is no skew hazard; AQE
  *    handles stragglers.
  *  - explode (T2) is a narrow op; the F1 empty-token filter runs before the
  *    enrichment so dead rows never reach the shuffle.
  */
object CdrPipeline {

  /** Final sink schema (EnrichmentAppWithoutExplode.java:181-202; prod
    * variant: `event_date` is a STRING via DATE_FORMAT). */
  val sinkColumns: Seq[String] = Seq(
    "start_time", "measuring_probe_name", "imsi", "msisdn",
    "ms_ip_address", "unique_cdr_id", "event_date", "probe")

  /** P2+P3: derive partition columns `event_date` (string, prod contract) and
    * `probe` (EnrichmentAppWithoutExplode.java:204-212). */
  def extendWithPartitionCols(src: DataFrame): DataFrame =
    src
      .withColumn("event_date", date_format(col("start_time"), "yyyy-MM-dd"))
      .withColumn("probe", substring(col("measuring_probe_name"), 1, 2))

  /** P1+P3 (dev variant): `event_date` as a true DATE via CAST
    * (EnrichmentApp.java:206-214) — the dev app's sink declares DATE, the
    * prod app's declares STRING (SURVEY §3.2 delta b). */
  def extendWithPartitionColsDate(src: DataFrame): DataFrame =
    src
      .withColumn("event_date", col("start_time").cast("date"))
      .withColumn("probe", substring(col("measuring_probe_name"), 1, 2))

  /** T2+F1: explode the ;-delimited IP list; empty tokens (from leading /
    * trailing separators) are dropped (EnrichmentApp.java:225-233). The
    * reference needs a UDTF (`Split`, EnrichmentApp.java:364-374); Spark's
    * built-in generator expression covers it. */
  def explodeIps(df: DataFrame): DataFrame =
    df.withColumn("ip", explode(split(trim(col("ms_ip_address")), ";")))
      .withColumn("ip", trim(col("ip")))
      .filter(col("ip") =!= "")

  /** Dim-size bound under which the broadcast hint is emitted: 256 MB —
    * comfortably inside a 4 GB executor after 2× relation overhead, far
    * above the reference's 100/1000-row dims, far below Spark's 8 GB hard
    * broadcast limit. */
  val DimBroadcastMaxBytes: Long = 256L << 20

  /** J1/J2 + P6: subscriber lookup join on `imsi` with coalesce-merge
    * (EnrichmentApp.java:300-318, EnrichmentAppWithoutExplode.java:275-293).
    * Stream-static semantics: the production runner does not re-read the
    * static side per micro-batch; it enriches from a [[DimIndex]] built once
    * per dimension snapshot, so a row sees the snapshot current at its
    * trigger — FOR SYSTEM_TIME AS OF proc_time up to the cache TTL, as with
    * the reference's lookup cache. */
  def lookupEnrich(src: DataFrame, imsiMsisdn: DataFrame, joinType: String,
                   dimMaxBytes: Long = DimBroadcastMaxBytes): DataFrame = {
    val dim = imsiMsisdn.select(col("imsi").as("_imsi"), col("msisdn").as("_msisdn"))
    src.join(graft.Util.broadcastIfSmall(dim, dimMaxBytes), src("imsi") === dim("_imsi"), joinType)
      .withColumn("imsi", coalesce(col("_imsi"), col("imsi")))
      .withColumn("msisdn", coalesce(col("_msisdn"), col("msisdn")))
      .drop("_imsi", "_msisdn")
  }

  /** J3/J4 + P6: IP-session enrichment — composite equi keys (probe, ip) plus
    * the temporal range predicate `src.start_time >= dim.start_time`
    * (EnrichmentApp.java:320-340). Keeps `ip` and `_start_time` for the
    * downstream argmax dedup (A1), mirroring the reference's column flow. */
  def rangeEnrich(srcExploded: DataFrame, msIpExploded: DataFrame, joinType: String,
                  dimMaxBytes: Long = DimBroadcastMaxBytes): DataFrame = {
    val dim = msIpExploded.select(
      col("start_time").as("_start_time"), col("imsi").as("_imsi"),
      col("msisdn").as("_msisdn"), col("probe").as("_probe"), col("ip").as("_ip"))
    val cond = srcExploded("probe") === dim("_probe") &&
      srcExploded("ip") === dim("_ip") &&
      srcExploded("start_time") >= dim("_start_time")
    srcExploded.join(graft.Util.broadcastIfSmall(dim, dimMaxBytes), cond, joinType)
      .withColumn("imsi", coalesce(col("_imsi"), col("imsi")))
      .withColumn("msisdn", coalesce(col("_msisdn"), col("msisdn")))
      .drop("_imsi", "_msisdn", "_probe", "_ip")
  }

  /** A1 (batch form): per `unique_cdr_id` keep the row enriched from the
    * *latest* dim session (`max _start_time`; ties broken by a total order so
    * results are reproducible — the reference's first-seen-wins tie rule,
    * EnrichmentApp.java:385, is arrival-order-dependent and has no batch
    * meaning). In batch the 1s processing-time session window (A2,
    * EnrichmentApp.java:142-156) degenerates to this global per-key argmax —
    * SURVEY §7.4. Streaming form: graft.streaming.SessionDedup. */
  def dedupLatest(joined: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("unique_cdr_id")).orderBy(
      col("_start_time").desc_nulls_last,
      col("start_time").asc,
      col("measuring_probe_name").asc,
      col("ms_ip_address").asc, // without it the chain isn't total: rows can
      // tie on every other key yet differ here, and engines would disagree
      col("ip").asc,
      col("imsi").asc_nulls_first,
      col("msisdn").asc_nulls_first)
    joined.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** A1, aggregation form: the same per-key whole-row argmax as
    * [[dedupLatest]] but via `max(struct(...))` aggregation. Physically this
    * lowers to SortAggregate (struct buffers aren't hash-aggregable), but
    * the sort is on the 8-byte grouping key only — the window form sorts
    * every partition by the full 7-column comparison chain (timestamps +
    * strings) — and partial aggregation still collapses each partition to
    * ≤ one row per key before the shuffle. Measured ×10-stress effect on
    * the current (r6-regenerated) fixtures: 1.1 s vs 5.8 s; on the r3-era
    * fixtures' wider fan-out the same contrast was 2-4 s vs 94-375 s
    * (SCALE.md "argmax at scale").
    *
    * Total order = lexicographic struct comparison over
    * (_start_time, start_time, probe name, ip list, ip, imsi, msisdn), all
    * MAX direction, nullable fields pushed through sentinels so null
    * ordering can't differ across engines. Tie direction differs from
    * [[dedupLatest]] (all-DESC vs mixed) — both are valid refinements of
    * the reference's arrival-order tie rule (EnrichmentApp.java:385), each
    * verified against its own oracle.
    */
  def dedupLatestAgg(joined: DataFrame): DataFrame = {
    val best = joined
      .withColumn("_key", struct(
        coalesce(col("_start_time"), lit("1900-01-01 00:00:00").cast("timestamp")).as("st_s"),
        col("start_time"), col("measuring_probe_name"), col("ms_ip_address"),
        coalesce(col("ip"), lit("")).as("ip_s"),
        coalesce(col("imsi"), lit(-1L)).as("imsi_s"),
        coalesce(col("msisdn"), lit(-1L)).as("msisdn_s")))
      .groupBy(col("unique_cdr_id"))
      .agg(max(col("_key")).as("w"))
    best.select(
      col("w.start_time").as("start_time"),
      col("w.measuring_probe_name").as("measuring_probe_name"),
      when(col("w.imsi_s") === -1L, lit(null).cast("long"))
        .otherwise(col("w.imsi_s")).as("imsi"),
      when(col("w.msisdn_s") === -1L, lit(null).cast("long"))
        .otherwise(col("w.msisdn_s")).as("msisdn"),
      col("w.ms_ip_address").as("ms_ip_address"),
      col("unique_cdr_id"),
      date_format(col("w.start_time"), "yyyy-MM-dd").as("event_date"),
      substring(col("w.measuring_probe_name"), 1, 2).as("probe"))
  }

  /** P7: fixed-schema projection applied to both branches so they
    * union-align (EnrichmentApp.java:118-123). */
  def projectToSink(df: DataFrame): DataFrame =
    df.select(sinkColumns.map(col): _*)

  /** The reference's two-branch plan (EnrichmentAppWithoutExplode.run):
    * F2/F3 branch split on `imsi IS NULL`, J2 lookup enrichment for the
    * known half, T2→J4 explode/range enrichment then `dedup` for the
    * unknown half, P7 projection, K4 union. The argmax step is the only one
    * the batch and streaming forms differ in.
    *
    * When both dimensions pass the broadcast size rule, the enrichment runs
    * from a [[DimIndex]] built here from them (see the overload); otherwise
    * through the joins of [[joinShape]]. Both shapes give the same rows
    * after `dedup`. */
  def twoBranch(src: DataFrame, imsiMsisdn: DataFrame, msIpExploded: DataFrame)
               (dedup: DataFrame => DataFrame): DataFrame =
    DimIndex.build(imsiMsisdn, msIpExploded) match {
      case Some(index) => twoBranch(src, index)(dedup)
      case None => joinShape(src, imsiMsisdn, msIpExploded)(dedup)
    }

  /** [[twoBranch]] through the joins [[knownBranch]] and [[unknownJoin]]:
    * the shape for dimensions over the broadcast size rule. */
  private[graft] def joinShape(src: DataFrame, imsiMsisdn: DataFrame, msIpExploded: DataFrame)
                              (dedup: DataFrame => DataFrame): DataFrame = {
    val ext = extendWithPartitionCols(src)
    knownBranch(ext, imsiMsisdn, "left_outer")
      .unionByName(projectToSink(dedup(unknownJoin(ext, msIpExploded))))
  }

  /** [[twoBranch]] enriched from a prebuilt [[DimIndex]]. Branch 1 is one
    * lookup plus `explode_outer`: one row per dim row of the imsi, the CDR
    * alone on a miss — the left lookup join's rows. Branch 2 gives each
    * exploded (CDR, ip) only the rows of its latest session at or before
    * the CDR's `start_time`, the whole tie group, or the CDR alone when no
    * session matches. The range join's other rows are outranked on
    * `_start_time` by a row of the same (CDR, ip), so `dedup` — which keys
    * on `_start_time` first — picks the same winner from either. */
  def twoBranch(src: DataFrame, index: DimIndex)(dedup: DataFrame => DataFrame): DataFrame = {
    val ext = extendWithPartitionCols(src)
    val known = ext.filter(col("imsi").isNotNull)
      .withColumn("_msisdn", explode_outer(index.msisdns(col("imsi"))))
      .withColumn("msisdn", coalesce(col("_msisdn"), col("msisdn")))
    val unknown = explodeIps(ext.filter(col("imsi").isNull))
      .withColumn("_s", explode_outer(
        index.latestSession(col("probe"), col("ip"), col("start_time"))))
      .withColumn("_start_time", timestamp_micros(col("_s.start_us")))
      .withColumn("imsi", coalesce(col("_s.imsi"), col("imsi")))
      .withColumn("msisdn", coalesce(col("_s.msisdn"), col("msisdn")))
      .drop("_s")
    projectToSink(known).unionByName(projectToSink(dedup(unknown)))
  }

  /** Branch 1 over the partition-extended source: the rows with an `imsi`,
    * lookup-enriched and projected to the sink schema. */
  def knownBranch(ext: DataFrame, imsiMsisdn: DataFrame, joinType: String): DataFrame =
    projectToSink(lookupEnrich(ext.filter(col("imsi").isNotNull), imsiMsisdn, joinType))

  /** Branch 2's pre-dedup join over the partition-extended source: the
    * rows without an `imsi`, IP-exploded and range-joined to the IP
    * sessions (keeps `ip` and `_start_time` for the argmax). */
  def unknownJoin(ext: DataFrame, msIpExploded: DataFrame): DataFrame =
    rangeEnrich(explodeIps(ext.filter(col("imsi").isNull)), msIpExploded, "left_outer")

  /** The full production pipeline: [[twoBranch]] with the aggregation
    * argmax. At ×10 fixture scale the hash aggregate runs the 67M-row
    * dedup ~5× faster than the window form on the current fixtures (no
    * per-partition sort; ~50× on the r3-era fixtures' wider fan-out) — see
    * SCALE.md "argmax at scale". */
  def full(src: DataFrame, imsiMsisdn: DataFrame, msIpExploded: DataFrame): DataFrame =
    twoBranch(src, imsiMsisdn, msIpExploded)(dedupLatestAgg)

  /** [[full]] enriched from a prebuilt [[DimIndex]]. */
  def full(src: DataFrame, index: DimIndex): DataFrame =
    twoBranch(src, index)(dedupLatestAgg)
}
