package graft

/** The cluster-deployment entry point (`--conf
  * spark.sql.extensions=graft.GraftExtensions`) must install vec_dot and
  * the banded-interval-join rule with NO driver code. The shared test
  * session is built with exactly that conf (SparkSpec), so these assertions
  * exercise the same path spark-submit would.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("vec_dot resolves in SQL with no manual register call") {
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(spark.sql("SELECT vec_dot(array(1d, 2d), array(3d, 4d)) AS d")
      .head().getDouble(0) == 11.0)
  }

  test("the banded rule is injected: pure range joins rewrite, equi+range joins don't") {
    Seq((1L, 10L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, 11L, java.sql.Timestamp.valueOf("2024-01-01 10:02:00")))
      .toDF("user_id", "event_id", "ts").createOrReplaceTempView("ext_ev")
    spark.conf.set("spark.graft.bandedIntervalJoin.smallSideThreshold", "0")
    try {
      // pure range join: rewritten by the injected rule, with NO
      // experimental.extraOptimizations involvement
      assert(spark.experimental.extraOptimizations.isEmpty)
      val pure = spark.sql(
        """SELECT a.event_id FROM ext_ev a JOIN ext_ev b
          |  ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECOND""".stripMargin)
        .queryExecution.optimizedPlan.toString
      assert(pure.contains("__graft_bin"), s"injected rule did not fire:\n$pure")
      // an equi conjunct means Spark hash-joins already — banding would
      // only add a 2x probe-side explode, so the rule must decline
      val equi = spark.sql(
        """SELECT a.event_id FROM ext_ev a JOIN ext_ev b
          |  ON a.user_id = b.user_id
          | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECOND""".stripMargin)
        .queryExecution.optimizedPlan.toString
      assert(!equi.contains("__graft_bin"),
        s"rule must not band an equi+range join:\n$equi")
      // hot-equi-key opt-in: with bandEquiJoins set the same join rewrites
      spark.conf.set("spark.graft.bandedIntervalJoin.bandEquiJoins", "true")
      val hot = spark.sql(
        """SELECT a.event_id FROM ext_ev a JOIN ext_ev b
          |  ON a.user_id = b.user_id
          | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECOND""".stripMargin)
        .queryExecution.optimizedPlan.toString
      assert(hot.contains("__graft_bin"),
        s"bandEquiJoins opt-in must band the hot-key join:\n$hot")
    } finally {
      spark.conf.unset("spark.graft.bandedIntervalJoin.smallSideThreshold")
      spark.conf.unset("spark.graft.bandedIntervalJoin.bandEquiJoins")
    }
  }

  test("a second application of the extensions stays harmless: withExtensions under a spark.sql.extensions conf naming them") {
    // the shared session's SparkContext names GraftExtensions in
    // spark.sql.extensions, so a session built the way graft.Sessions
    // builds one (withExtensions) gets them applied twice
    val twice = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    try {
      assert(twice.sessionState.planner.strategies
        .count(_ == graft.plans.SkylineStrategy) == 2,
        "the extensions were not applied twice; the case is vacuous")
      assert(twice.sql("SELECT vec_dot(array(1d, 2d), array(3d, 4d)) AS d")
        .head().getDouble(0) == 11.0)
      assert(twice.sql("SELECT edit_within1('graft', 'craft') AS e").head().getBoolean(0))
      // the rewrite happens once: the plan equals the shared session's,
      // where the extensions are applied once
      def bandedPlan(s: org.apache.spark.sql.SparkSession) = {
        s.conf.set("spark.graft.bandedIntervalJoin.smallSideThreshold", "0")
        s.createDataFrame(Seq(
            (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
            (2L, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"))))
          .toDF("event_id", "ts").createOrReplaceTempView("ext_ev2")
        val q = s.sql(
          """SELECT a.event_id AS a, b.event_id AS b FROM ext_ev2 a JOIN ext_ev2 b
            |  ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECOND""".stripMargin)
        val plan = q.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#")
        val rows = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        s.conf.unset("spark.graft.bandedIntervalJoin.smallSideThreshold")
        (plan, rows)
      }
      val (plan2, rows2) = bandedPlan(twice)
      val (plan1, rows1) = bandedPlan(spark)
      assert(plan2.contains("__graft_bin"), s"banded rule did not fire:\n$plan2")
      assert(plan2 == plan1, s"applied twice:\n$plan2\napplied once:\n$plan1")
      assert(rows2 == rows1 && rows2 == Set((1L, 1L), (1L, 2L), (2L, 2L)))
      val pts = twice.createDataFrame(Seq((1L, 1L, 5.0), (2L, 3L, 3.0),
        (3L, 2L, 2.0), (4L, 5L, 1.0))).toDF("id", "x", "y")
      assert(graft.operators.Skyline(pts, "x", "y").select("id")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }
}
