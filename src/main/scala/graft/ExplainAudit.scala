package graft

import java.io.{File, PrintWriter}

/** Dumps `explain("formatted")` for every registered query — the plan-review
  * loop behind SCALE.md. Usage: ExplainAudit [sfDir] [outFile]. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val pw = new PrintWriter(new File(outFile))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      pw.println(s"\n=================== $name ===================")
      try {
        val df = fn(spark, sfDir)
        pw.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => pw.println(s"ERROR: ${e.getMessage}")
      }
    }
    pw.close()
    println(s"plans -> $outFile")
    spark.stop()
  }
}
