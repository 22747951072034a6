package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.llm.{BpeTrainer, TrainingShards}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** The composite-store library's layers, measured in traced runs: one pass
  * of the packed-store writers (in `cdr_stream`'s) or of the stored readers
  * (in `cdr_stream_stateful`'s) over the `sfDir` fixtures, each operation
  * in its own span, so the tracer attributes its jobs, stages, tasks and
  * codegen to it. It is the first pass of these plans in the session, so
  * codegen is paid here as a launched job pays it. (One traced run holding
  * both halves would pass the 180 s a run may take.)
  *
  *  - `llm.TrainingShards`, called directly: `writePackedTokenShards` on
  *    two thirds of the documents, `appendPackedTokenShards` of the rest,
  *    `readPackedTokenShards` of that store (the shape of
  *    `doc_shards_packed_append_roundtrip`), then `addTombstones` and
  *    `rebuildPackedStore` on that store. No registry query has that
  *    rebuild's answer, so the rebuild is timed, not compared.
  *  - `llm.Dedup` stored readers: `dedup_artifact` mines the artifact, then
  *    the ten `dedup_stored_*` queries read it.
  *  - `relational.RelQueries`: four of the TPC-H queries.
  *
  * Every reader's rows are collected inside its span (results are small);
  * afterwards, outside every span, they are written as parquet beside the
  * oracle SQL of the registry query with the same answer, and `run.py`
  * compares them in DuckDB. The seed shuffles the order of the readers
  * within their groups. */
final class LibraryLayers(spark: SparkSession, sfDir: String, workDir: String,
                          tracer: Tracer, seed: Long) {
  import LibraryLayers._

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val results = mutable.LinkedHashMap.empty[String, (Seq[Row], StructType)]

  private def store(name: String): String = new File(workDir, s"library/$name").getAbsolutePath

  /** Run one operation in a span named after it. A reader returns the
    * frame whose rows are its answer, checked against `oracle`. */
  private def op(name: String, layer: String, oracle: Option[String] = None)(
      body: => Option[DataFrame]): Unit = {
    System.err.println(s"[perfbench] ${java.time.LocalTime.now()} library $name")
    val before = tracer.all.size
    val error = try {
      tracer.span(name)(body.map(df => (df.collect().toSeq, df.schema))).foreach(results(name) = _)
      None
    } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val span = tracer.all.drop(before).find(_.name == name).map(_.id).getOrElse(0)
    ops += Map("name" -> name, "layer" -> layer, "span" -> span,
      "oracle" -> oracle.getOrElse(""), "error" -> error.getOrElse(""))
  }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  /** The packed-store writers and the read-back of their store. */
  def writers(): Map[String, Any] = {
    val docs = Tables.documents(spark, sfDir)
    val appended = store("appended")
    op("shards.write", "shards.write") {
      TrainingShards.writePackedTokenShards(docs.filter(col("doc_id") % 3 =!= 0), appended,
        TrainingShards.PackedShardCount, BpeTrainer.MergeSteps, TrainingShards.PackedBudget)
      None
    }
    op("shards.append", "shards.append") {
      TrainingShards.appendPackedTokenShards(docs.filter(col("doc_id") % 3 === 0), appended,
        TrainingShards.PackedShardCount)
      None
    }
    op("shards.read", "shards.read", Some("doc_shards_packed_append_roundtrip"))(
      Some(TrainingShards.readPackedTokenShards(spark, appended)))
    op("shards.tombstone", "shards.tombstone") {
      TrainingShards.addTombstones(spark, appended,
        docs.filter(col("doc_id") % 13 === 0).select("doc_id"), ingestBatch = 1L)
      None
    }
    op("shards.rebuild", "shards.rebuild") {
      TrainingShards.rebuildPackedStore(spark, appended, TrainingShards.PackedShardCount)
      None
    }
    answers()
  }

  /** The stored readers and the TPC-H queries. */
  def readers(): Map[String, Any] = {
    val rng = new scala.util.Random(seed)
    op("dedup_artifact", "dedup_artifact", Some("dedup_artifact"))(Some(query("dedup_artifact")))
    rng.shuffle(StoredReaders).foreach(q => op(q, "stored_read", Some(q))(Some(query(q))))
    rng.shuffle(RelReaders).foreach(q => op(q, "rel", Some(q))(Some(query(q))))
    answers()
  }

  /** Outside every span: write the answers for the oracle compare. */
  private def answers(): Map[String, Any] = {
    System.err.println(s"[perfbench] ${java.time.LocalTime.now()} library answers")
    val dump = store("answers")
    val oracle = ops.flatMap { o =>
      val name = o("name").toString
      val q = o("oracle").toString
      results.get(name).filter(_ => q.nonEmpty).map { case (rows, schema) =>
        write(rows, schema, s"$dump/$name")
        name -> SparkEntry.oracleSql(q)
      }
    }.toMap
    Map("sf" -> sfDir, "answers" -> dump, "ops" -> ops.toList, "oracle_sql" -> oracle)
  }

  /** Write collected rows as one parquet file, timestamps as
    * TIMESTAMP_NTZ, as `graft.Verify` dumps them for the DuckDB compare. */
  private def write(rows: Seq[Row], schema: StructType, path: String): Unit = {
    val df = spark.createDataFrame(rows.asJava, schema)
    val ntz = schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType) d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
      else d
    }
    ntz.coalesce(1).write.mode("overwrite").parquet(path)
  }
}

object LibraryLayers {
  val StoredReaders: Seq[String] = Seq(
    "dedup_stored_attribution", "dedup_stored_clusters", "dedup_stored_keep",
    "dedup_stored_keep_best", "dedup_stored_pagerank", "dedup_stored_scoped",
    "dedup_stored_pipeline", "dedup_stored_curate", "dedup_stored_terms",
    "dedup_stored_triangles")
  val RelReaders: Seq[String] = Seq(
    "q1_agg", "q3_join_topk", "q6_forecast_revenue", "q14_promo_revenue")
}
