package graft

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

/** Shared helpers for driver-checkable queries. */
object Util {

  /** SIZE-CONDITIONAL broadcast hint — the one safety-relevant broadcast
    * convention shared by every dim-join in the repo (CdrPipeline, the
    * spec-side StreamingLinkage under `src/test`): known-small → hint; known-big → unhinted (graceful
    * degrade to Catalyst's own strategy instead of a 3am broadcast OOM);
    * UNKNOWN (stats at the `defaultSizeInBytes` sentinel — e.g. a raw
    * stats-less `spark.read.jdbc` dim) → hint, preserving the pipeline's
    * no-exchange contract on the fact stream, which is what the
    * unconditional hint guaranteed and what a stats-blind drop would
    * silently shuffle every micro-batch. Reads plan stats — no Spark job. */
  def broadcastIfSmall(dim: DataFrame, maxBytes: Long): DataFrame =
    if (fitsBroadcast(dim, maxBytes)) broadcast(dim) else dim

  /** The size test of [[broadcastIfSmall]]: known-small or unknown. Also
    * gates the CDR dimension index ([[graft.cdr.DimIndex]]), so the index
    * and the broadcast joins it replaces share one size rule. */
  def fitsBroadcast(dim: DataFrame, maxBytes: Long): Boolean = {
    val size = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    size >= BigInt(dim.sparkSession.sessionState.conf.defaultSizeInBytes) ||
      size <= BigInt(maxBytes)
  }

  /** The one JSON serializer of every measurement record (Bench, Verify,
    * [[Tools]]): Jackson with the Scala module, so an ordered Scala map
    * keeps its key order and every string is escaped by the library.
    * Non-ASCII is escaped too: stdout's charset may be ASCII, and the
    * printed line must parse to the same record as the UTF-8 file. */
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(JsonWriteFeature.ESCAPE_NON_ASCII).build()

  def json(value: Any): String = mapper.writeValueAsString(value)

  /** The record at `path`, or None when it is missing or unparsable. */
  def readJson(path: String): Option[JsonNode] =
    scala.util.Try(mapper.readTree(new java.io.File(path))).toOption

  /** Print `record` as one JSON line on stdout (unless `echo` is off) and
    * persist the same line: stdout tails get truncated by a bounded
    * capture, a file does not. `envVar` overrides `defaultPath`; failure
    * to write is a warning, never a run failure. */
  def writeJson(envVar: String, defaultPath: String,
                record: collection.Map[String, Any], echo: Boolean = true): Unit = {
    val line = json(record)
    if (echo) println(line)
    val outPath = sys.env.getOrElse(envVar, defaultPath)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[json-out] could not write $outPath: ${e.getMessage}")
    }
  }

  /** Atomic small-marker write: stage under `<path>.staging`, then rename
    * into place — the name must appear ATOMICALLY with its payload
    * (fs.create makes a name visible before a byte lands, so a crash
    * mid-write would leave an empty/truncated marker that either wedges
    * recovery or rolls forward with the wrong value). ONE implementation
    * for every protocol marker — the compaction plan, the rebuild plan,
    * the tombstone-stream batch offset — so a future change to the
    * atomicity discipline (fsync, overwrite semantics) lands once
    * (review-caught: the pattern had grown three hand-rolled copies).
    * Callers' recover paths discard a stale `<path>.staging` first. */
  def atomicMarkerWrite(fs: org.apache.hadoop.fs.FileSystem,
                        path: org.apache.hadoop.fs.Path,
                        payload: String): Unit = {
    val staging = path.suffix(".staging")
    val out = fs.create(staging, true)
    try out.write(payload.getBytes("UTF-8")) finally out.close()
    require(fs.rename(staging, path), s"$path: atomic marker rename failed")
  }

  /** Deterministic total order over every output column (sorted by name,
    * ASC NULLS FIRST) — mirrored by [[ob]] on the oracle side so the driver's
    * hash compare can never be broken by row order.
    *
    * Implemented as repartition(1) + local sort, NOT a global orderBy: range
    * partitioning runs a boundary-sampling pass that RE-EXECUTES the whole
    * upstream query (measured 2× on every harness query — e.g. simhash
    * pairs 2.8 s → 5.5 s), while a single-partition exchange makes one pass
    * and yields one output file whose row order is trivially total. This is
    * the test-harness ordering contract, not a production operator — result
    * sets here are small; sorting real corpus-scale output would use the
    * parallel orderBy. */
  def orderAll(df: DataFrame): DataFrame =
    df.repartition(1)
      .sortWithinPartitions(df.columns.sorted.toIndexedSeq.map(c => col(c).asc_nulls_first): _*)

  /** DuckDB ORDER BY clause matching [[orderAll]]. */
  def ob(cols: String*): String =
    cols.sorted.map(c => s"$c ASC NULLS FIRST").mkString("ORDER BY ", ", ", "")

  /** Wrap a SELECT so the ORDER BY resolves only against output aliases. */
  def wrap(select: String, obCols: Seq[String]): String =
    s"SELECT * FROM (\n$select\n) zz ${ob(obCols: _*)}"

  /** Shared chi²-vs-reference oracle-SQL chain — the
    * `graft.llm.TextAnalysis.driftVsReference` arithmetic in DuckDB:
    * Laplace-smoothed expectation (ref_n + 1 over N_ref + B), per-bucket
    * micro snap BEFORE the per-group sum, closed-form unobserved-bucket
    * term. ONE source that both the doc_drift_ref and emb_drift_ref
    * oracles read, so the two engines' drift definitions can never drift
    * apart themselves. The caller's CTE list must already define
    * `obsCte` ($grp, bucket, o) and `refCte` (bucket, ref_n); this emits
    * the continuation CTEs plus the final ordered select. The group join
    * is null-safe (IS NOT DISTINCT FROM): a NULL group — e.g. a NULL
    * source, exactly the slice most likely to carry corrupted metadata —
    * stays its own audited row instead of vanishing. */
  def chi2DriftSql(grp: String, obsCte: String, refCte: String,
                   nBuckets: Int): String =
    s""", rt AS (
       |  SELECT CAST(coalesce(sum(ref_n), 0) + $nBuckets AS BIGINT) AS r_tot FROM $refCte
       |), stt AS (
       |  SELECT $grp, CAST(sum(o) AS BIGINT) AS n_s FROM $obsCte GROUP BY 1
       |), jd AS (
       |  SELECT $obsCte.$grp, o, coalesce(ref_n, 0) + 1 AS ref1, n_s, r_tot
       |  FROM $obsCte LEFT JOIN $refCte USING (bucket)
       |  JOIN stt ON $obsCte.$grp IS NOT DISTINCT FROM stt.$grp
       |  CROSS JOIN rt
       |), scd AS (
       |  SELECT $grp, n_s, r_tot, ref1,
       |    CAST(round(
       |      (CAST(o AS DOUBLE) - CAST(n_s AS DOUBLE) * CAST(ref1 AS DOUBLE) / CAST(r_tot AS DOUBLE))
       |      * (CAST(o AS DOUBLE) - CAST(n_s AS DOUBLE) * CAST(ref1 AS DOUBLE) / CAST(r_tot AS DOUBLE))
       |      / (CAST(n_s AS DOUBLE) * CAST(ref1 AS DOUBLE) / CAST(r_tot AS DOUBLE))
       |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS c_micro
       |  FROM jd
       |), agd AS (
       |  SELECT $grp, n_s, r_tot, CAST(count(*) AS BIGINT) AS n_hit,
       |    CAST(sum(c_micro) AS BIGINT) AS obs_micro,
       |    CAST(sum(ref1) AS BIGINT) AS m_s
       |  FROM scd GROUP BY 1, 2, 3
       |)
       |""".stripMargin + wrap(
      s"""SELECT $grp, n_s, n_hit,
         |  obs_micro + CAST(round(CAST(n_s AS DOUBLE)
         |    * (CAST(r_tot AS DOUBLE) - CAST(m_s AS DOUBLE))
         |    / CAST(r_tot AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)
         |    AS chi2_micro
         |FROM agd""".stripMargin,
      Seq(grp, "n_s", "n_hit", "chi2_micro"))
}
