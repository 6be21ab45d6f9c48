package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Plan-derived compute-cost model.
  *
  * Complexity = total input GB x a multiplier derived from keyword counts
  * in the lowercased extended plan. Constants are ported verbatim from the
  * reference (`dbfs_spark_cache/query_complexity_estimation.py:86-199`);
  * the 16 golden multiplier values in
  * `tests/test_dbfs_spark_cache.py:56-92` pin them. Calibration:
  * `count()` on 1 GB == complexity 1.0 (`qce.py:206-209`).
  */
object Complexity {

  /** Non-overlapping substring count, same semantics as Python
    * `str.count`. */
  private[graft] def countOcc(text: String, sub: String): Int = {
    if (sub.isEmpty) return 0
    var i = 0; var n = 0
    while ({ i = text.indexOf(sub, i); i >= 0 }) { n += 1; i += sub.length }
    n
  }

  private val MultiplierBase = 0.6
  // (base relative to a count()==1.0, incremental factor per repeat)
  // — reference qce.py:116-124.
  private case class Factor(base: Double, inc: Double)
  private val Join = Factor(2.0 / MultiplierBase, 1.5)
  private val WindowF = Factor(2.5 / MultiplierBase, 1.8)
  private val AggSimple = Factor(1.0 / MultiplierBase, 1.1)
  private val AggComplex = Factor(1.6 / MultiplierBase, 1.4)
  private val Sort = Factor(1.4 / MultiplierBase, 1.3)
  private val Distinct = Factor(1.5 / MultiplierBase, 1.4)
  private val Udf = Factor(1.2 / MultiplierBase, 1.2)

  /** (complexity, multiplier) from a lowercased plan string and total GB
    * (reference `qce.py:86-199`, keyword counting `:127-135`). */
  def calculateFromPlan(queryPlanLower: String, totalSizeGb: Double): (Double, Double) = {
    val p = queryPlanLower
    val joinN = countOcc(p, "join")
    val windowN = countOcc(p, "window")
    val aggregateN = countOcc(p, "aggregate")
    val sortN = countOcc(p, "sort") + countOcc(p, "order by")
    val distinctN = countOcc(p, "distinct") + countOcc(p, "distinct ")
    val udfN = countOcc(p, "udf")

    var multiplier = MultiplierBase
    def apply(f: Factor, n: Int): Unit =
      if (n > 0) multiplier *= f.base * math.pow(f.inc, (n - 1).toDouble)

    apply(Join, joinN)
    apply(WindowF, windowN)
    apply(Sort, sortN)
    apply(Distinct, distinctN)
    apply(Udf, udfN)

    // Simple vs complex aggregate split (reference qce.py:142-146):
    // complex when the plan carries grouping expressions or >1 "agg".
    val isComplexStructure =
      p.contains("groupingexpressions") || countOcc(p, "agg") > 1
    if (aggregateN > 0) {
      val f = if (isComplexStructure) AggComplex else AggSimple
      apply(f, aggregateN)
    }
    (totalSizeGb * multiplier, multiplier)
  }

  /** Per-input-file sizes in GB (reference `qce.py:17-83`).
    *
    * Unlike the reference's one-`getFileStatus`-RPC-per-file loop, files
    * are grouped by parent directory and sized with ONE `listStatus` per
    * directory — at 100 TB / 1M files the reference pattern is ~1M
    * sequential driver RPCs inside every cache decision; this is
    * O(directories). Files missing from a listing (moved mid-probe) fall
    * back to an individual probe. */
  def inputFileSizesGb(df: DataFrame): Seq[Double] =
    inputFileSizesGb(Freshness.InputListing(df))

  /** Sizes from a listing the freshness probe may already have made. */
  private[graft] def inputFileSizesGb(inputs: Freshness.InputListing): Seq[Double] = {
    val files = try inputs.files.toSeq catch { case _: Throwable => Seq.empty }
    if (files.isEmpty) return Seq.empty
    val byDir = files.map(new Path(_)).groupBy(_.getParent)
    byDir.toSeq.flatMap { case (dir, paths) =>
      val listed: Map[String, Long] = inputs.listStatus(dir)
        .fold(Map.empty[String, Long])(_.map(st => st.getPath.getName -> st.getLen).toMap)
      paths.flatMap { p =>
        listed.get(p.getName).orElse {
          try Some(p.getFileSystem(inputs.conf).getFileStatus(p).getLen)
          catch { case _: Throwable => None }
        }.map(_.toDouble / (1024.0 * 1024 * 1024))
      }
    }
  }

  /** Structured estimator (config `useTreeEstimator`): count operator
    * NODES in the optimized logical plan instead of keywords in the
    * explain text. Immune to the keyword method's substring traps (a
    * column named "joined" inflates the join count — SURVEY §4.3) while
    * feeding the exact same golden factor table. `Distinct` is rewritten
    * to `Aggregate`/`Deduplicate` during optimization, so those nodes
    * carry the distinct factor when they group without aggregating. */
  def multiplierFromTree(df: DataFrame): Double = {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.{logical => l}
    val plan = df.queryExecution.optimizedPlan
    var joinN, windowN, sortN, aggSimpleN, aggComplexN, distinctN = 0
    plan.foreach {
      case _: l.Join => joinN += 1
      case _: l.Window => windowN += 1
      case _: l.Sort => sortN += 1
      case _: l.Deduplicate => distinctN += 1
      case a: l.Aggregate =>
        val plainGroupBy = a.aggregateExpressions.forall(e =>
          a.groupingExpressions.exists(_.semanticEquals(e)))
        if (plainGroupBy && a.groupingExpressions.nonEmpty) distinctN += 1
        else if (a.groupingExpressions.nonEmpty || a.aggregateExpressions.size > 1)
          aggComplexN += 1
        else aggSimpleN += 1
      case _ => ()
    }
    val udfN = plan.collect {
      case p => p.expressions.map(_.collect { case _: ScalaUDF => 1 }.sum).sum
    }.sum

    var multiplier = MultiplierBase
    def apply(f: Factor, n: Int): Unit =
      if (n > 0) multiplier *= f.base * math.pow(f.inc, (n - 1).toDouble)
    apply(Join, joinN)
    apply(WindowF, windowN)
    apply(Sort, sortN)
    apply(Distinct, distinctN)
    apply(Udf, udfN)
    apply(AggComplex, aggComplexN)
    apply(AggSimple, aggSimpleN)
    multiplier
  }

  /** (complexity, multiplier, totalSizeGb) for a DataFrame (reference
    * `qce.py:202-257`): zero input size still yields a plan multiplier;
    * an unreadable plan degrades to multiplier 1.0. */
  def estimate(df: DataFrame): (Double, Double, Double) =
    estimate(df, Freshness.InputListing(df))

  /** [[estimate]] over a listing shared with the freshness probe. */
  private[graft] def estimate(
      df: DataFrame, inputs: Freshness.InputListing): (Double, Double, Double) = {
    val totalSize = inputFileSizesGb(inputs).sum
    if (CacheConfig.current.useTreeEstimator) {
      val m = try multiplierFromTree(df) catch { case _: Throwable => 1.0 }
      return (totalSize * m, m, totalSize)
    }
    val plan = PlanFingerprint.extendedPlanText(df).toLowerCase
    if (totalSize == 0.0) {
      if (plan.startsWith("error:")) (0.0, 1.0, 0.0)
      else {
        val (_, m) = calculateFromPlan(plan, 0.0)
        (0.0, m, 0.0)
      }
    } else if (plan.startsWith("error:")) (totalSize, 1.0, totalSize)
    else {
      val (c, m) = calculateFromPlan(plan, totalSize)
      (c, m, totalSize)
    }
  }
}
