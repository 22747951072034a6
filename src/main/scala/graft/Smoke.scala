package graft

/** Local stand-in for the driver's t1 smoke: SparkEntry.entry must return
  * rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    // persist: count + show would otherwise each re-execute the full
    // two-branch enrichment plan
    val df = SparkEntry.entry(spark).persist()
    val n = df.count()
    df.show(5, truncate = false)
    df.unpersist()
    println(s"entry rows = $n (rows>0: ${n > 0})")
    spark.stop()
  }
}
