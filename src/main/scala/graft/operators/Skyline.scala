package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** 2-D Pareto skyline (maximize both dimensions): the rows not dominated by
  * any other row, where `u` dominates `t` iff `u.x >= t.x && u.y >= t.y` and
  * at least one inequality is strict. The "best tradeoff frontier" report —
  * e.g. which parts are simultaneously among the largest AND priciest — that
  * a naive SQL writes as a quadratic `NOT EXISTS` self-join (the oracle form).
  *
  * Distributed shape (Börzsönyi et al., ICDE'01 divide-and-conquer):
  *
  *  1. **Partition-local prune, NO shuffle.** Each scan partition streams
  *     through a staircase sweep ([[localSkyline]]) that retains only rows
  *     no same-partition row dominates. This is one of the repo's few
  *     `mapPartitions` operators, deliberately: the same prune written with
  *     a `spark_partition_id()` window forces Spark to insert
  *     `Exchange hashpartitioning(_pid)` — a full shuffle of the input to
  *     enforce a partitioning the data already has (plan-audited; the
  *     window form was the first draft). The sweep holds only the running
  *     frontier in memory (O(frontier), expected O(log n) on random data),
  *     never the partition.
  *  2. **Global resolve.** The union of local frontiers — tiny relative to
  *     the input — gathers to one partition and the identical sweep runs
  *     once more. Exact: if `u` dominates `t`, then the maximal dominator
  *     of `t` in u's partition survives its local sweep (dominance is
  *     transitive) and eliminates `t` globally.
  *
  * At 100 TB / 10k partitions the gather moves 10k × O(frontier) rows —
  * the same driver-merge shape as every TakeOrderedAndProject.
  *
  * Semantics pinned by the spec + DuckDB oracle: duplicate `(x, y)` points
  * do not dominate each other (no strict inequality), so ALL copies of a
  * frontier point are returned. Rows with a NULL or NaN dimension are
  * excluded (the fixture has none; NULL comparisons would vacuously keep
  * such rows in the quadratic oracle, and a NaN admitted to the staircase
  * compares false with everything and masks real dominators — excluding
  * both is the defensible semantics and keeps the forms equal on real
  * data). Signed zeros are canonicalized (`-0.0` ≡ `0.0`).
  *
  * `x` must be integral, `y` numeric; all other columns pass through
  * untouched.
  */
object Skyline {

  /** Plans through the custom [[graft.plans.SkylineNode]] /
    * [[graft.plans.SkylineExec]] operator (see that file for why the
    * physical form beats the typed-Dataset `mapPartitions` draft: no
    * De/SerializeObject walls, survivors-only row copies). The session
    * must carry [[graft.GraftExtensions]], which injects the planner
    * strategy ([[graft.Sessions]] builds every session with it). */
  def apply(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val spark = df.sparkSession
    val clean = df.filter(df.col(xCol).isNotNull && df.col(yCol).isNotNull &&
      !df.col(yCol).cast("double").isNaN)
    val analyzed = org.apache.spark.sql.graft.PlanHooks.analyzed(clean)
    def attr(name: String) = analyzed.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"skyline dim `$name` not in ${analyzed.output.map(_.name)}"))
    org.apache.spark.sql.graft.PlanHooks.ofRows(spark,
      graft.plans.SkylineNode(attr(xCol), attr(yCol), analyzed))
  }

  /** The first-draft typed-Dataset form, kept as the cross-checked twin of
    * the custom physical operator (spec-asserted equal on adversarial
    * partitionings). */
  private[graft] def viaDataset(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val clean = df.filter(df.col(xCol).isNotNull && df.col(yCol).isNotNull &&
      !df.col(yCol).cast("double").isNaN)
    val xi = clean.schema.fieldIndex(xCol)
    val yi = clean.schema.fieldIndex(yCol)
    val enc = Encoders.row(clean.schema)
    val local = clean.mapPartitions(it => localSkyline(it, xi, yi))(enc)
    local.repartition(1).mapPartitions(it => localSkyline(it, xi, yi))(enc)
  }

  /** Streaming exact skyline of one iterator. State is the frontier only:
    * `stair` maps x → best y seen at that x, with y strictly decreasing as
    * x increases (the staircase invariant), and `keep` holds the surviving
    * rows per frontier point (all duplicates of a frontier point survive).
    *
    * Per row: one ceiling lookup decides dominance (the ceiling entry has
    * the max y among all x' >= x, so it alone witnesses any domination);
    * an accepted row then evicts the lower-left entries it dominates —
    * each entry is evicted at most once, so the sweep is O(n log f) for
    * frontier size f. */
  private[graft] def localSkyline(it: Iterator[Row], xi: Int, yi: Int): Iterator[Row] =
    sweepGeneric[Row](it,
      r => r.get(xi).asInstanceOf[Number].longValue(),
      r => r.get(yi).asInstanceOf[Number].doubleValue(),
      identity) // external Rows are already immutable copies

  /** The sweep over any row representation: `getX`/`getY` read the
    * dimensions, `retain` stabilizes a row before it enters the frontier
    * buffer (identity for immutable Rows, `.copy()` for reused unsafe
    * InternalRows — only survivors pay it). */
  private[graft] def sweepGeneric[R](it: Iterator[R], getX: R => Long,
                                     getY: R => Double, retain: R => R): Iterator[R] = {
    val stair = new java.util.TreeMap[Long, Double]()
    val keep = mutable.Map.empty[(Long, Double), mutable.ArrayBuffer[R]]
    it.foreach { row =>
      val x = getX(row)
      // + 0.0 canonicalizes -0.0 to 0.0: the stair compares primitives
      // (-0.0 == 0.0) but `keep` is keyed on boxed bits (-0.0 != 0.0 under
      // Double.equals) — an uncanonicalized signed zero desyncs the two
      // maps and leaks a dominated row (review-caught). NaN rows are the
      // caller's job to exclude (apply/viaDataset filter them with the
      // NULLs): NaN compares false with everything, so one admitted NaN
      // would sit in the staircase masking real dominators.
      val y = getY(row) + 0.0
      val e = stair.ceilingEntry(x)
      val dominated = e != null &&
        ((e.getKey > x && e.getValue >= y) || (e.getKey == x && e.getValue > y))
      if (!dominated) {
        // evict entries this row dominates: same x with smaller y, and
        // strictly-smaller x with y <= ours (the staircase invariant makes
        // the left-walk stop at the first undominated entry)
        if (stair.containsKey(x)) {
          val atX: Double = stair.get(x)
          if (atX < y) { keep.remove((x, atX)); stair.remove(x) }
        }
        var lo = stair.lowerEntry(x)
        while (lo != null && lo.getValue <= y) {
          keep.remove((lo.getKey.longValue(), lo.getValue.doubleValue()))
          stair.remove(lo.getKey)
          lo = stair.lowerEntry(x)
        }
        // any surviving same-x entry is an exact y tie, so the put is
        // idempotent there; otherwise it records this row's frontier point
        stair.put(x, y)
        keep.getOrElseUpdate((x, y), mutable.ArrayBuffer.empty[R]) += retain(row)
      }
    }
    keep.valuesIterator.flatten
  }
}
