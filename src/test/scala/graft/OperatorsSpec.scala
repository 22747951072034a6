package graft

import java.sql.Timestamp

import graft.operators.IntervalJoin
import org.apache.spark.sql.functions._

/** Operator-level checks whose point is the PLAN as much as the result:
  * the banded interval join must equal the naive theta join, and bucketed
  * tables must co-locate a join with no shuffle exchange. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("interval join: banded plan == naive theta join, horizon boundary inclusive") {
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (1L, 11L, ts("2024-01-01 10:04:59")), // inside 5 min
      (1L, 12L, ts("2024-01-01 10:05:00")), // exactly on the horizon: inclusive
      (1L, 13L, ts("2024-01-01 10:20:00")), // outside
      (2L, 20L, ts("2024-01-01 10:00:00")), // other key
      (2L, 21L, ts("2024-01-01 10:00:00"))  // equal ts, both directions pair
    ).toDF("user_id", "event_id", "ts")

    val banded = IntervalJoin.pairsWithin(ev, 300)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val naive = ev.as("a").join(ev.as("b"),
        $"a.user_id" === $"b.user_id" &&
          $"b.ts" >= $"a.ts" && $"b.ts" <= $"a.ts" + expr("INTERVAL 300 SECONDS") &&
          $"a.event_id" =!= $"b.event_id")
      .select($"a.event_id", $"b.event_id").as[(Long, Long)].collect().toSet

    assert(banded == naive)
    assert(banded.contains(10L -> 12L), "horizon boundary must be inclusive")
    assert(banded.contains(20L -> 21L) && banded.contains(21L -> 20L))
    assert(!banded.exists(p => p._1 == 13L || p._2 == 13L))
  }

  test("BandedIntervalJoinRule: theta range join becomes an equi join, same rows") {
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (1L, 11L, ts("2024-01-01 10:04:59")),
      (1L, 12L, ts("2024-01-01 10:05:00")),
      (1L, 13L, ts("2024-01-01 10:20:00")),
      (2L, 20L, ts("2024-01-01 10:00:00")),
      (2L, 21L, ts("2024-01-01 10:00:00"))
    ).toDF("user_id", "event_id", "ts")
    ev.createOrReplaceTempView("opspec_ev")
    // deliberately NO other equi key: without the rewrite this is a pure
    // theta join (nested-loop); the rule must manufacture the equi key
    val sql =
      """SELECT a.event_id AS id_a, b.event_id AS id_b
        |FROM opspec_ev a JOIN opspec_ev b
        |  ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECOND
        | AND a.event_id <> b.event_id""".stripMargin
    val naive = spark.sql(sql).as[(Long, Long)].collect().toSet

    // this 6-row relation is below the default small-side guard — zero the
    // threshold so the rewrite path itself is what's under test
    spark.conf.set("spark.graft.bandedIntervalJoin.smallSideThreshold", "0")
    try {
      val rewritten = spark.sql(sql)
      val opt = rewritten.queryExecution.optimizedPlan.toString
      assert(opt.contains("__graft_bin"), s"rule did not fire:\n$opt")
      assert(opt.contains("explode"), s"left side not bucket-replicated:\n$opt")
      val phys = rewritten.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin"),
        s"range join still nested-loop after rewrite:\n$phys")
      assert(rewritten.as[(Long, Long)].collect().toSet == naive)
      // idempotence: the marker must stop a second application
      val twice = plans.BandedIntervalJoinRule(
        rewritten.queryExecution.optimizedPlan)
      assert(twice.toString.split("__graft_bin_l#").length ==
        rewritten.queryExecution.optimizedPlan.toString.split("__graft_bin_l#").length)
    } finally {
      spark.conf.unset("spark.graft.bandedIntervalJoin.smallSideThreshold")
    }
  }

  test("BandedIntervalJoinRule guards: tiny inputs and the kill switch skip the rewrite") {
    val ev = Seq((1L, 10L, ts("2024-01-01 10:00:00")),
      (1L, 11L, ts("2024-01-01 10:04:00"))).toDF("user_id", "event_id", "ts")
    ev.createOrReplaceTempView("opspec_tiny")
    val sql =
      """SELECT a.event_id AS id_a, b.event_id AS id_b
        |FROM opspec_tiny a JOIN opspec_tiny b
        |  ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECOND""".stripMargin
    try {
      // default 64 KB small-side guard: a 2-row relation must NOT pay the
      // 2× explode — the nested loop is noise at this size
      val opt = spark.sql(sql).queryExecution.optimizedPlan.toString
      assert(!opt.contains("__graft_bin"), s"guard did not skip tiny join:\n$opt")
      // kill switch wins even with the size guard zeroed
      spark.conf.set("spark.graft.bandedIntervalJoin.smallSideThreshold", "0")
      spark.conf.set("spark.graft.bandedIntervalJoin.enabled", "false")
      val off = spark.sql(sql).queryExecution.optimizedPlan.toString
      assert(!off.contains("__graft_bin"), s"kill switch ignored:\n$off")
      spark.conf.set("spark.graft.bandedIntervalJoin.enabled", "true")
      val on = spark.sql(sql).queryExecution.optimizedPlan.toString
      assert(on.contains("__graft_bin"), s"rule should fire with guard zeroed:\n$on")
      // asymmetric join: a big probe against a tiny dim must REWRITE under
      // the default guard — the guard requires BOTH sides small (a
      // broadcast nested loop still evaluates |probe| × |dim| predicates)
      spark.conf.unset("spark.graft.bandedIntervalJoin.smallSideThreshold")
      spark.range(100000)
        .selectExpr("id % 7 AS user_id", "id AS event_id",
          "timestamp_millis(1704100000000 + id * 1000) AS ts")
        .createOrReplaceTempView("opspec_big")
      val asym =
        """SELECT a.event_id AS id_a, b.event_id AS id_b
          |FROM opspec_big a JOIN opspec_tiny b
          |  ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 300 SECOND""".stripMargin
      val asymPlan = spark.sql(asym).queryExecution.optimizedPlan.toString
      assert(asymPlan.contains("__graft_bin"),
        s"big-probe × tiny-dim must still rewrite (min-side guard bug):\n$asymPlan")
    } finally {
      spark.conf.unset("spark.graft.bandedIntervalJoin.smallSideThreshold")
      spark.conf.unset("spark.graft.bandedIntervalJoin.enabled")
    }
  }

  test("connected components: long-diameter chain converges via large-star/small-star fallback") {
    // 300-node chain: diameter 299 >> the hash-min budget of 3 rounds. The
    // old implementation threw here; the alternating fallback must finish in
    // O(log d) rounds and still produce exact min labels.
    val n = 300L
    val nodes = spark.range(n).toDF("id")
    val edges = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val (out, stats) = graft.operators.ConnectedComponents.run(nodes, edges, maxIter = 3)
    assert(!stats.hashMinConverged && stats.hashMinRounds == 3)
    assert(stats.alternatingRounds <= 12,
      s"alternating should be O(log 300) ~ 9 rounds, took ${stats.alternatingRounds}")
    val labels = out.as[(Long, Long)].collect().toMap
    assert(labels.size == n && labels.values.forall(_ == 0L),
      s"all 300 chain nodes must label to 0, got ${labels.values.toSet}")
  }

  test("connected components: alternating standalone == union-find on a multi-component graph") {
    // two chains and an isolated node — exercises leaf/center/absent cases
    val edges = Seq((5L, 4L), (4L, 3L), (9L, 8L), (8L, 7L), (7L, 6L)).toDF("src", "dst")
    val (leafMap, rounds) = graft.operators.ConnectedComponents.alternating(edges)
    assert(rounds <= 6)
    val m = leafMap.as[(Long, Long)].collect().toMap
    // centers (3 and 6) are absent from the left side; every leaf maps to its min
    assert(m == Map(4L -> 3L, 5L -> 3L, 7L -> 6L, 8L -> 6L, 9L -> 6L), s"got $m")
  }

  test("connected components: convergence check is fused — one job per hash-min round PAIR") {
    // With AQE off, one Spark action == one job. The fused loop runs exactly
    // one action per TWO logical rounds (round 2 of each pair chains lazily
    // on round 1 inside the same observed localCheckpoint) plus two setup
    // checkpoints (sym, initial labels). The r13 loop paid one action per
    // round; the pre-r8 loop additionally paid an isEmpty job per round.
    // AQE off: one action == one job; broadcast off: no per-join broadcast
    // collect jobs muddying the count
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    try {
      val nodes = spark.range(6).toDF("id")
      val edges = spark.range(5).select(col("id").as("src"), (col("id") + 1).as("dst"))
      spark.sparkContext.addSparkListener(listener)
      val (_, stats) = graft.operators.ConnectedComponents.run(nodes, edges)
      // the listener bus is async: poll until the count is stable
      var prev = -1
      while (jobs.get() != prev) { prev = jobs.get(); Thread.sleep(200) }
      assert(stats.hashMinConverged)
      assert(jobs.get() == (stats.hashMinRounds + 1) / 2 + 2,
        s"expected ${(stats.hashMinRounds + 1) / 2} pair jobs + 2 setup, saw ${jobs.get()}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bt)
    }
  }

  test("PageRank: integer damping on a star — hub outranks leaves, exact micro-units") {
    import graft.operators.PageRank
    // star 1-(2,3,4) plus isolated node 9; 3 rounds, hand-unrolled:
    // it1 hub 2 700 000 / leaf 433 333; it2 1 254 999 / 915 000;
    // it3 2 483 250 / 505 583; isolated keeps pure damping mass
    val out = PageRank(
      Seq(1L, 2L, 3L, 4L, 9L).toDF("id"),
      Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst"), 3)
      .as[(Long, Long)].collect().toMap
    assert(out(9L) == 150000L, s"isolated node: ${out(9L)}")
    assert(out(1L) == 2483250L, s"hub: ${out(1L)}")
    assert(Seq(2L, 3L, 4L).forall(out(_) == 505583L), s"leaves: $out")
    // a regular graph is a fixpoint of the integer recurrence: the
    // triangle keeps exactly the initial mass every round
    val tri = PageRank(
      Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst"), 3)
      .as[(Long, Long)].collect().toMap
    assert(tri.values.forall(_ == 1000000L), s"triangle drifted: $tri")
    // symmetrization: a directed edge list ranks like its undirected form
    val rev = PageRank(
      Seq(1L, 2L, 3L, 4L, 9L).toDF("id"),
      Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "dst"), 3)
      .as[(Long, Long)].collect().toMap
    assert(rev == out, "edge direction leaked into the undirected semantics")
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val bt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.table(spark, sf, "orders")
        .write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_b")
      Tables.table(spark, sf, "lineitem")
        .write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and it still returns the right rows
      val expected = Tables.table(spark, sf, "lineitem").join(
        Tables.table(spark, sf, "orders"), $"l_orderkey" === $"o_orderkey").count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bt)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("ZOrder: hand-checked interleave; a user-range filter touches fewer files than on a time-ordered layout") {
    import graft.operators.ZOrder
    import org.apache.spark.sql.functions.{col, dayofyear, input_file_name}
    // x=0b011, y=0b001: x bits land at even positions (0,2), y at odd (1)
    // → 0b111 = 7; asymmetric pair pins the (even=x, odd=y) convention
    val z = Seq((3L, 1L)).toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y"), 4).as("z")).as[Long].head()
    assert(z == 7L, s"interleave(3, 1) must be 7, got $z")
    val z2 = Seq((1L, 3L)).toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y"), 4).as("z")).as[Long].head()
    assert(z2 == 11L, s"interleave(1, 3) must be 0b1011 = 11, got $z2")

    // layout contrast on the real fixture: same rows, same file count,
    // time-ordered vs z-ordered by (user, day) — then the same narrow
    // user-range scan. Files are counted by which actually yield rows:
    // that is precisely what clustering changes (and what footer min/max
    // pruning skips at scale).
    val ev = Tables.events(spark, sf)
    val users = ev.select($"user_id").distinct().as[Long].collect().sorted
    val (lo, hi) = (users(0), users(math.min(2, users.length - 1)))
    val nFiles = 16
    val timeDir = java.nio.file.Files.createTempDirectory("graft-ztime").toString
    val zDir = java.nio.file.Files.createTempDirectory("graft-zcurve").toString
    ev.repartitionByRange(nFiles, $"ts").sortWithinPartitions($"ts")
      .write.mode("overwrite").parquet(timeDir)
    ZOrder.writeZOrdered(ev, zDir, ZOrder.bounded($"user_id"),
      dayofyear($"ts").cast("long"), numFiles = nFiles)
    def filesTouched(dir: String): Long =
      spark.read.parquet(dir)
        .filter($"user_id" >= lo && $"user_id" <= hi)
        .select(input_file_name()).distinct().count()
    val (tFiles, zFiles) = (filesTouched(timeDir), filesTouched(zDir))
    assert(zFiles < tFiles,
      s"z-order must confine a user range to fewer files: time=$tFiles z=$zFiles")
    // layout must not change content
    assert(spark.read.parquet(zDir).count() == ev.count())
  }

  test("TableProfile: hand-checked long-format profile; min/max in native order; no Expand rewrite") {
    import graft.operators.TableProfile
    val df = Seq(
      (Some(3L), Some("b"), Some(1.25), Some("2024-01-01 00:00:01")),
      (Some(20L), None, Some(-0.5), Some("2024-01-01 00:00:02")),
      (None, Some("a"), Some(1.25), None)
    ).toDF("id", "s", "d", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val prof = TableProfile(df)
    val rows = prof.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    // numeric order, not lexicographic: max id is "20" (lexicographic max is "3")
    assert(rows("id") == ((3L, 1L, 2L, "3", "20")), s"got ${rows("id")}")
    assert(rows("s")  == ((3L, 1L, 2L, "a", "b")), s"got ${rows("s")}")
    // doubles as cents; -0.5 sorts below 1.25
    assert(rows("d")  == ((3L, 0L, 2L, "-50", "125")), s"got ${rows("d")}")
    // timestamps as epoch micros (session tz UTC)
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 1)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(rows("ts") == ((3L, 1L, 2L, base.toString, (base + 1000000L).toString)),
      s"got ${rows("ts")}")
    // the profile must NOT plan via the multi-distinct Expand rewrite (the
    // ×(#cols+1) row replication + 7-key SortAggregate path — see scaladoc);
    // the count-by-value stage must be a hash aggregate
    val expands = prof.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.isEmpty, s"expected no Expand, got ${expands.size}")
    val physical = prof.queryExecution.executedPlan match {
      // initialPlan, not inputPlan: pre-AQE inputPlan precedes
      // EnsureRequirements and would hide the aggregate split
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val hashAggs = physical.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(hashAggs.nonEmpty, "count-by-value stage must hash-aggregate")
    // unsupported column types fail loudly, naming the column
    val err = intercept[IllegalArgumentException] {
      TableProfile(Seq((1L, Array(1.0f))).toDF("k", "vec"))
    }
    assert(err.getMessage.contains("vec"), err.getMessage)
  }

  test("CorrelationMatrix: hand-checked pairs in one aggregate") {
    import graft.operators.CorrelationMatrix
    // y = 2x (corr 1), z = -x (corr -1), w uncorrelated with x by symmetry
    val df = Seq(
      (1.0, 2.0, -1.0, 1.0), (2.0, 4.0, -2.0, -1.0),
      (3.0, 6.0, -3.0, -1.0), (4.0, 8.0, -4.0, 1.0)
    ).toDF("x", "y", "z", "w")
    val out = CorrelationMatrix(df, Seq("x", "y", "z", "w"))
      .as[(String, String, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(out.size == 6, s"4 columns must yield 6 pairs: $out")
    assert(out(("x", "y")) == 1.0 && out(("x", "z")) == -1.0 &&
      out(("y", "z")) == -1.0, s"got $out")
    assert(out(("x", "w")) == 0.0, s"symmetric w must decorrelate from x: $out")
    // single aggregate over a single pass: no join, no second scan
    val one = CorrelationMatrix(df, Seq("x", "y", "z", "w"))
    val aggs = one.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size == 1, s"expected exactly 1 Aggregate, got ${aggs.size}")
  }

  test("ConstraintCheck: every rule class counts its violations on a dirty fixture") {
    import graft.operators.ConstraintCheck
    import graft.operators.ConstraintCheck._
    val dim = Seq(10L, 20L).toDF("k")
    val df = Seq(
      (Some(10L), Some("a"), 5.0),
      (Some(10L), None, -1.0),      // null s; below range
      (Some(99L), Some("c"), 50.0), // orphan fk; above range
      (None, Some("d"), 5.0)        // null fk value: NOT an fk violation
    ).toDF("fk", "s", "v")
    val out = ConstraintCheck(df, Seq(
      NotNull("s"),
      InRange("v", Some(0.0), Some(10.0)),
      Unique(Seq("fk")),
      ForeignKey("fk", dim, "k")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("not_null(s)") == ((1L, 4L)), s"got $out")
    assert(out("range(v,0.0,10.0)") == ((2L, 4L)), s"got $out")
    // fk=10 twice -> 1 surplus; nulls group too (one null key, no surplus)
    assert(out("unique(fk)") == ((1L, 4L)), s"got $out")
    // 3 non-null probes, 1 orphan (99); the null fk is skipped, not violated
    assert(out("fk(fk->k)") == ((1L, 3L)), s"got $out")
  }

  test("ewma: hand-checked 3-step smoothing; prefix renormalization; per-user isolation") {
    // α = 0.2, values 1, 2, 4: ewma_1 = 1 (single tap, renormalized),
    // ewma_2 = (0.2·2 + 0.16·1)/0.36, ewma_3 = (0.2·4 + 0.16·2 + 0.128·1)/0.488
    val ev = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 7L, ts("2024-01-01 10:00:01"), 2.0),
      (3L, 7L, ts("2024-01-01 10:00:02"), 4.0),
      (4L, 8L, ts("2024-01-01 10:00:00"), 9.0) // other user: its own series
    ).toDF("event_id", "user_id", "ts", "value")
    val out = graft.relational.RelQueries.ewmaBounded(ev)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(out(1L) == 1.0 && out(4L) == 9.0, s"single-tap rows renormalize to the value: $out")
    assert(out(2L) == math.rint((0.2 * 2 + 0.16 * 1) / 0.36 * 1e6) / 1e6, s"got $out")
    assert(out(3L) == math.rint((0.2 * 4 + 0.16 * 2 + 0.128 * 1) / 0.488 * 1e6) / 1e6,
      s"got $out")
  }
}
