package graft.streaming

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.llm.TextAnalysis.driftVsReference]]: a
  * per-source chi²-vs-reference drift MONITOR over an unbounded document
  * stream — the check a 100 TB/day ingest runs continuously ("did this
  * source's vocabulary shift against the pinned reference snapshot?")
  * instead of re-auditing the accumulated corpus.
  *
  * The stream is keyed by source; each group's state is its running
  * bucket-count array — EXACTLY `nBuckets` longs per source, forever
  * (the reason the batch operator hashes into a fixed B in the first
  * place). The reference distribution is a broadcast-sized constant
  * (`ref1` = smoothed counts, `rTot` = N_ref + B) captured in the
  * closure, mirroring the batch side's broadcast ref join.
  *
  * Chi² is recomputed from the state with [[chi2Micro]], which replays
  * the batch side's DOUBLE arithmetic token for token (same operand
  * order, same HALF_UP micro snap per bucket term, same closed-form
  * unobserved-bucket mass), so after any stream prefix the emitted
  * (source, n_s, n_hit, chi2_micro) row is bit-identical to the batch
  * [[graft.llm.TextAnalysis.driftVsReferenceHashed]] of that prefix —
  * spec-asserted mid-stream and at the end. Counts only grow, so Update
  * mode re-emits a refreshed row per touched source per trigger.
  */
object StreamingDrift {

  /** Spark `round()` on DoubleType is BigDecimal HALF_UP — `math.round`
    * (floor(x+0.5)) disagrees on values whose +0.5 rounds in FP, so the
    * twin must use the BigDecimal form for bit parity. */
  private def half_up(x: Double): Long =
    new JBigDecimal(x).setScale(0, RoundingMode.HALF_UP).longValue()

  /** The batch chi² arithmetic replayed over one source's state:
    * (n_hit, chi2_micro). `ref1(b)` must be ref_n(b)+1 (Laplace mass),
    * `rTot` = N_ref + nBuckets. */
  private[streaming] def chi2Micro(counts: Array[Long], ref1: Array[Long],
                                   rTot: Long): (Long, Long, Long) = {
    var nS = 0L
    var i = 0
    while (i < counts.length) { nS += counts(i); i += 1 }
    val nSd = nS.toDouble
    val rTotD = rTot.toDouble
    var nHit = 0L
    var mS = 0L
    var obsMicro = 0L
    var b = 0
    while (b < counts.length) {
      val o = counts(b)
      if (o > 0L) {
        val r1 = ref1(b)
        val e = nSd * r1.toDouble / rTotD
        val diff = o.toDouble - e
        obsMicro += half_up(diff * diff / e * 1e6)
        mS += r1
        nHit += 1L
      }
      b += 1
    }
    val missMicro = half_up(nSd * (rTotD - mS.toDouble) / rTotD * 1e6)
    (nS, nHit, obsMicro + missMicro)
  }

  /** Build the closure-captured reference from a static reference corpus:
    * smoothed per-bucket mass ref_n+1 (1 for buckets the reference never
    * hits) and the smoothed total N_ref + B. Driver-side by design — the
    * table is B longs, the same bounded object the batch side broadcasts. */
  def refTable(refDocs: DataFrame, nBuckets: Int): (Array[Long], Long) = {
    val session = refDocs.sparkSession
    import session.implicits._
    val arr = Array.fill(nBuckets)(1L)
    var tot = nBuckets.toLong
    graft.llm.TextAnalysis.hashBucketed(refDocs, nBuckets)
      .groupBy("bucket").count().as[(Long, Long)].collect()
      .foreach { case (b, n) => arr(b.toInt) += n; tot += n }
    (arr, tot)
  }

  /** (source, n_s, n_hit, chi2_micro) refreshed per touched source per
    * trigger. `stream` needs (source, text); tokens hash with the batch
    * twin's [[graft.llm.TextAnalysis.hashBucketed]]. */
  def run(stream: DataFrame, ref1: Array[Long], rTot: Long,
          nBuckets: Int): DataFrame = {
    val session = stream.sparkSession
    import session.implicits._
    require(ref1.length == nBuckets,
      s"StreamingDrift: ref table has ${ref1.length} buckets, expected $nBuckets")
    graft.llm.TextAnalysis.hashBucketed(stream, nBuckets)
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (String, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (source: String, recs: Iterator[(String, Long)],
         state: GroupState[Array[Long]]) =>
          val counts = state.getOption.getOrElse(new Array[Long](nBuckets))
          recs.foreach { case (_, b) => counts(b.toInt) += 1L }
          state.update(counts)
          val (nS, nHit, chi2) = chi2Micro(counts, ref1, rTot)
          Iterator.single((source, nS, nHit, chi2))
      }
      .toDF("source", "n_s", "n_hit", "chi2_micro")
  }
}
