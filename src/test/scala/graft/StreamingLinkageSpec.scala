package graft

import graft.llm.RecordLinkage
import graft.streaming.StreamingLinkage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming linkage twin: the dirty feed arrives in micro-batches and is
  * linked against the static clean dimension — prefix ≡ batch on every
  * boundary, full-stream ≡ the oracle-verified batch operator. */
class StreamingLinkageSpec extends SparkSpec {
  import spark.implicits._

  private lazy val customers = Tables.table(spark, sf, "customer")
  private lazy val clean = RecordLinkage.cleanSide(customers)

  private def dirtyRows: Seq[(Long, String, Long, Long, String)] =
    RecordLinkage.dirtySide(customers)
      .select("cust_b", "b_name", "nk", "b_cents", "b_mkt")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.select("cust_a", "cust_b", "agree_name", "agree_mkt", "agree_bal",
      "score", "cls")
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.toString)

  test("prefix == batch at every micro-batch boundary; full stream == linkPairs") {
    val rows = dirtyRows
    val half = rows.length / 2
    val mem = MemoryStream[(Long, String, Long, Long, String)](spark)
    val stream = mem.toDF().toDF("cust_b", "b_name", "nk", "b_cents", "b_mkt")
    val q = StreamingLinkage.link(stream, clean).writeStream
      .format("memory").queryName("link_sink").outputMode("append").start()
    try {
      mem.addData(rows.take(half): _*)
      q.processAllAvailable()
      val prefixGot = canon(spark.table("link_sink"))
      val prefixExp = canon(RecordLinkage.scoreCandidates(
        rows.take(half).toDF("cust_b", "b_name", "nk", "b_cents", "b_mkt")
          .join(clean, "nk")))
      assert(prefixGot == prefixExp, "prefix output != batch on the same prefix")

      mem.addData(rows.drop(half): _*)
      q.processAllAvailable()
      val fullGot = canon(spark.table("link_sink"))
      val fullExp = canon(RecordLinkage.linkPairs(customers))
      assert(fullGot == fullExp, "full stream output != batch linkPairs")
      assert(fullGot.nonEmpty, "degenerate fixture: no pairs linked")
    } finally q.stop()
  }

  test("per-batch eval report: cells of each micro-batch partition that batch's pairs") {
    val rows = dirtyRows.take(60)
    val mem = MemoryStream[(Long, String, Long, Long, String)](spark)
    val stream = mem.toDF().toDF("cust_b", "b_name", "nk", "b_cents", "b_mkt")
    val reports = scala.collection.mutable.Map.empty[Long, Seq[(String, Long, Long)]]
    val q = StreamingLinkage.evalBatches(stream, clean) { (rep, id) =>
      val cells = rep.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      if (cells.nonEmpty) reports.synchronized { reports(id) = cells }
    }
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val total = reports.values.flatten.map(_._3).sum
      val expected = RecordLinkage.scoreCandidates(
        rows.toDF("cust_b", "b_name", "nk", "b_cents", "b_mkt")
          .join(clean, "nk")).count()
      assert(total == expected,
        s"eval cells across batches must partition the pair stream: $total vs $expected")
    } finally q.stop()
  }
}
