package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Tables
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, measure one workload, check its
  * output, and write the run record (raw samples; `metrics.py` turns them
  * into metrics).
  *
  * A traced run adds per-layer measurements after the workload's own:
  * `cdr_stream` adds the `CdrPipeline` ladder, the packed-store writers
  * ([[LibraryLayers]], over the `--library-sf` fixtures) and the closed
  * loop on a `local[1]` session; `cdr_stream_stateful` adds the stored
  * readers and TPC-H queries ([[LibraryLayers]] again).
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --sf <fixture dir> --library-sf <fixture dir>
  *             --work <scratch dir> --out <record.json>
  */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                          sfDir: String, librarySfDir: String, workDir: String, out: String)

  val Workloads = Seq("cdr_stream", "cdr_stream_stateful")
  val Cpus = 4

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
    spark
  }

  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val c = Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("sf"), need("library-sf"), need("work"), need("out"))
    require(Workloads.contains(c.workload), s"unknown workload ${c.workload}; one of $Workloads")
    require(c.seconds >= 1, "--seconds must be at least 1")
    c
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cfg = parse(args)
    val spark = session(Cpus, cfg.workDir)
    val tracer = if (cfg.trace) Some(new Tracer(s"${cfg.workload}-${cfg.seed}")) else None
    tracer.foreach(_.attach(spark))
    val w = new StreamWorkload(spark, cfg, tracer)
    val rec = w.run(jvmStart)
    val traced = tracer.fold(Map.empty[String, Any]) { t =>
      val lib = new LibraryLayers(spark, cfg.librarySfDir, cfg.workDir, t, cfg.seed)
      Map("library" -> (if (cfg.workload == "cdr_stream") lib.writers() else lib.readers()),
        "spans" -> t.spansJson(t.engineBySpan(spark)))
    }
    spark.stop()
    val local1 = if (!cfg.trace || cfg.workload != "cdr_stream") Map.empty[String, Any] else {
      val one = session(1, cfg.workDir)
      try Map("local1" -> new StreamWorkload(one, cfg, None).singleThread(w.lines))
      finally one.stop()
    }
    val record = rec ++ traced ++ local1 ++ Map("workload" -> cfg.workload, "seed" -> cfg.seed,
      "seconds" -> cfg.seconds, "trace" -> cfg.trace)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(cfg.out), record)
  }
}
