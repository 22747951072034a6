package graft.llm

import java.util.concurrent.atomic.AtomicLong

import graft.{Tables, Util}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** In-engine linear-classifier training — full-batch subgradient descent on
  * the hinge loss (the linear-SVM / perceptron family): the "train the
  * quality filter where the data lives" operator. Production pipelines
  * train their fastText-style gates on a labeled slice and then score the
  * full corpus with them; [[nbClassify]]'s Naive-Bayes gate covers the
  * count-only case, this covers the discriminative case — and the
  * iteration IS the PageRank shape applied to ML: per step, one
  * corpus-sized aggregation (margins), one more over the violating subset
  * (gradient), a d-row driver update, repeat k times.
  *
  * Integer-exact by construction, like every oracle-gated operator here:
  * features are [[Sketches.featureHashEmbed]]'s integer hashed
  * bag-of-words counts, weights live in integer micros, the per-doc margin
  * `Σ_j w_j·x_j` is a BIGINT sum, the hinge gate `y·margin < 10⁶`
  * compares integers, the gradient `Σ_violators (−y·x_j)` is a BIGINT
  * sum, and the update `w − (lr·grad) div n` is truncating integer
  * division (Java `/`, Spark `div` and DuckDB `//` all truncate toward
  * zero — verified, including negatives). Nothing floating ever crosses
  * an engine boundary, so a k-step unrolled SQL replay is bit-identical.
  *
  * Hinge (not logistic) is deliberate: the subgradient needs only an
  * integer comparison, whereas a sigmoid would put `exp` on the engine
  * boundary where the two runtimes' last-ULP behavior is not contractual.
  *
  * Scale (100 TB): each step is two map-side-combined aggregations over
  * the feature table (margins keyed by doc, gradient keyed by dim) with
  * the d-row weight table broadcast; driver state is d longs (the bounded
  * driver-state convention shared with the LSH planes and BPE merges —
  * NOT a data collect). k driver round-trips for k steps, exactly like
  * PageRank's fixed rounds. The labeled slice in production is a sample;
  * the full-corpus pass here is the fixture form of the same plan.
  */
object LinearTrainer {

  /** ±1 label: the en-vs-rest language gate (the fixture's only
    * categorical signal with both classes populated at every SF). */
  private def labels(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"))

  /** Feature-pipeline materialization counter — a spec pins that
    * [[classify]] runs the tokenize/hash/join pipeline exactly once (it
    * used to run twice: once inside `train`, once for scoring). */
  private[graft] val featureBuilds = new AtomicLong(0L)

  /** (doc_id, dim, weight, y) — hashed features joined with labels,
    * checkpointed once so the k training steps never re-run the
    * tokenize/hash pipeline. */
  private def featureTable(docs: DataFrame, d: Int): DataFrame = {
    featureBuilds.incrementAndGet()
    Sketches.featureHashEmbed(docs, d)
      .join(labels(docs), "doc_id")
      .localCheckpoint(eager = true)
  }

  /** Train `steps` full-batch subgradient steps; returns the whole
    * training trajectory — (step, dim, w_micro, n_viol) for every step —
    * so the oracle pins each update, not just the endpoint. `n_viol` is
    * the step's margin-violation count BEFORE its update (step k's row
    * shows what step k's gradient saw). */
  def train(docs: DataFrame, d: Int = 16, steps: Int = 3,
            lrMicro: Long = 100000L): DataFrame =
    trainOn(featureTable(docs, d), docs.count(), d, steps, lrMicro)

  /** The training loop over an already-materialized feature table — the
    * seam [[classify]] uses to share one checkpointed `fx` between
    * training and scoring. The corpus-sized margin aggregation now runs
    * ONCE per step (it used to run twice — once for the gradient's input
    * and again for a separate `viol.count()`): the violating-doc set is
    * checkpointed with the count riding the checkpoint job as an
    * [[Observation]] (the CC convergence-fuse pattern,
    * [[graft.operators.ConnectedComponents]] — the metric can't ride the
    * gradient collect directly because AQE broadcasts the tiny violating
    * side, and observed metrics under a broadcast-exchange subtree don't
    * propagate to the action's listener), and the gradient job then joins
    * the cached set instead of recomputing margins. */
  private def trainOn(fx: DataFrame, nDocs: Long, d: Int, steps: Int,
                      lrMicro: Long): DataFrame = {
    val spark = fx.sparkSession
    import spark.implicits._
    require(d >= 2 && steps >= 1 && lrMicro > 0, s"bad train params ($d, $steps, $lrMicro)")
    require(nDocs > 0, "empty corpus")
    val w = Array.fill(d)(0L)
    val traj = Seq.newBuilder[(Long, Long, Long, Long)]
    for (t <- 1 to steps) {
      val wDf = w.zipWithIndex.toSeq
        .map { case (wv, j) => (j.toLong, wv) }.toDF("dim", "w")
      // pass 1: per-doc margins -> the violating doc set (hinge: y·m < 1),
      // materialized once; n_viol rides the checkpoint job's tasks.
      val obs = Observation(s"svm_viol_$t")
      val viol = fx.join(broadcast(wDf), "dim")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(expr("weight * w")).as("margin"))
        .filter(expr("y * margin < 1000000"))
        .select(col("doc_id"))
        .observe(obs, count(lit(1)).as("n_viol"))
        .localCheckpoint(eager = true)
      val nViol = obs.get("n_viol").asInstanceOf[Long]
      // pass 2: gradient over violators — d rows collected (bounded driver
      // state, not a data collect); a dim absent from every violating doc
      // keeps gradient 0
      val gRows = fx.join(viol, "doc_id")
        .groupBy(col("dim"))
        .agg(sum(expr("-y * weight")).as("g"))
        .collect()
      val grad = Array.fill(d)(0L)
      gRows.foreach(r => grad(r.getLong(0).toInt) = r.getLong(1))
      for (j <- 0 until d)
        w(j) = w(j) - (lrMicro * grad(j)) / nDocs
      for (j <- 0 until d) traj += ((t.toLong, j.toLong, w(j), nViol))
    }
    traj.result().toDF("step", "dim", "w_micro", "n_viol")
  }

  /** Score every document with the final trained weights: margin, ±1
    * prediction (0 margin -> −1, the strict-inequality convention), truth
    * and correctness — the corpus-scoring half a deployed gate runs. The
    * feature table is built and checkpointed ONCE and shared between the
    * training loop and the scoring pass. */
  def classify(docs: DataFrame, d: Int = 16, steps: Int = 3,
               lrMicro: Long = 100000L): DataFrame = {
    val fx = featureTable(docs, d)
    val wFinal = trainOn(fx, docs.count(), d, steps, lrMicro)
      .filter(col("step") === steps.toLong)
      .select(col("dim"), col("w_micro").as("w"))
    fx.join(broadcast(wFinal), "dim")
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(expr("weight * w")).as("margin_micro"))
      .withColumn("pred", when(col("margin_micro") > 0L, 1L).otherwise(-1L))
      .withColumn("correct", when(col("pred") === col("y"), 1L).otherwise(0L))
      .select(col("doc_id"), col("margin_micro"), col("pred"),
        col("y").as("label"), col("correct"))
  }

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_svm_train" -> ((s, dir) => Util.orderAll(train(docs(s, dir)))),
    "text_svm_classify" -> ((s, dir) => Util.orderAll(classify(docs(s, dir)))))

  /** Feature CTE shared by both oracles — doc_feature_hash's exact chain
    * (dense-rank vocab, multiplicative hash, ±1 sign) + the en label. */
  private val featCte: String =
    """WITH vocab AS (
      |  SELECT token, dense_rank() OVER (ORDER BY token) AS tid
      |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents) t
      |), fx AS (
      |  SELECT doc_id, hb % 16 AS dim,
      |    CAST(sum(CASE WHEN (hb // 16) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
      |  FROM (
      |    SELECT doc_id, ((tid % 3037000493) * 2654435761) // 65536 AS hb
      |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) o
      |    JOIN vocab USING (token)
      |  ) q GROUP BY doc_id, hb % 16
      |), lab AS (
      |  SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y
      |  FROM documents
      |), fxy AS (
      |  SELECT fx.doc_id, dim, weight, y FROM fx JOIN lab USING (doc_id)
      |), nd AS (SELECT count(*) AS n FROM documents)
      |""".stripMargin

  /** One unrolled training step: weights `win` -> `wout`, violation CTE
    * `v_t`. Margins LEFT-join the weight table so a dim with no weight row
    | contributes 0 (never happens after step 1 — w covers all dims — but
    * step 1's all-zero table is synthesized the same way). */
  private def stepSql(t: Int, win: String, wout: String): String =
    s""", m_$t AS (
       |  SELECT f.doc_id, f.y, CAST(sum(f.weight * w.w) AS BIGINT) AS margin
       |  FROM fxy f JOIN $win w USING (dim) GROUP BY f.doc_id, f.y
       |), v_$t AS (
       |  SELECT doc_id FROM m_$t WHERE y * margin < 1000000
       |), g_$t AS (
       |  SELECT w.dim,
       |    COALESCE((SELECT CAST(sum(-f.y * f.weight) AS BIGINT)
       |              FROM fxy f JOIN v_$t USING (doc_id) WHERE f.dim = w.dim), 0) AS g
       |  FROM $win w
       |), $wout AS (
       |  SELECT w.dim, CAST(w.w - (100000 * g.g) // (SELECT n FROM nd) AS BIGINT) AS w
       |  FROM $win w JOIN g_$t g USING (dim)
       |)
       |""".stripMargin

  private val w0 = ", w_0 AS (SELECT unnest(range(0, 16)) AS dim, CAST(0 AS BIGINT) AS w)"

  private def chain(steps: Int): String =
    w0 + (1 to steps).map(t => stepSql(t, s"w_${t - 1}", s"w_$t")).mkString

  def oracle: Map[String, String] = Map(
    "text_svm_train" -> (featCte + chain(3) + Util.wrap(
      (1 to 3).map(t =>
        s"""SELECT CAST($t AS BIGINT) AS step, dim, w AS w_micro,
           |  (SELECT CAST(count(*) AS BIGINT) FROM v_$t) AS n_viol
           |FROM w_$t""".stripMargin).mkString("\nUNION ALL\n"),
      Seq("step", "dim"))),

    "text_svm_classify" -> (featCte + chain(3) + Util.wrap(
      """SELECT m.doc_id, m.margin AS margin_micro,
        |  CAST(CASE WHEN m.margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
        |  m.y AS label,
        |  CAST(CASE WHEN (CASE WHEN m.margin > 0 THEN 1 ELSE -1 END) = m.y
        |       THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM (
        |  SELECT f.doc_id, f.y, CAST(sum(f.weight * w.w) AS BIGINT) AS margin
        |  FROM fxy f JOIN w_3 w USING (dim) GROUP BY f.doc_id, f.y
        |) m""".stripMargin,
      Seq("doc_id"))))
}
