package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import graft.{CacheConfig, PlanFingerprint}

/** Notebook cells over the generated tables. Every builder makes a fresh
  * frame, as re-running a notebook cell does. Aggregates are exact
  * (counts and sums of whole cents), so a cached re-read must equal the
  * uncached result bit for bit. */
final class NotebookQueries(spark: SparkSession, data: String, seed: Long) {
  private def t(name: String): DataFrame = spark.read.parquet(s"$data/$name")
  private val cents: Column = (col("o_totalprice") * 100).cast("long")

  def scanAgg(): DataFrame =
    t("orders").groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum(cents).as("cents"))

  def joinAgg(): DataFrame =
    t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
          .as("revenue_cents"),
        count(lit(1)).as("n"))

  def manyFiles(): DataFrame =
    t("lineitem_mf").groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"),
        countDistinct(col("shard")).as("shards"))

  /** A long chain of derived columns: a lineage whose rendered plan runs
    * to tens of thousands of characters while the work stays one scan and
    * one aggregate (each column reads only base columns, so optimisation
    * prunes the chain). `variant` changes every constant, so two variants
    * never share a fingerprint. */
  def deep(variant: Int, steps: Int = NotebookQueries.DeepSteps): DataFrame = {
    val rng = new scala.util.Random(seed * 31 + variant)
    var df = t("orders")
    var last = "o_custkey"
    for (i <- 1 to steps) {
      last = f"derived_metric_of_notebook_cell_$i%03d"
      val a = 1 + rng.nextInt(97)
      val b = rng.nextInt(1000)
      df = df.withColumn(last, (col("o_custkey") % 1009 * a + col("o_orderkey") % 7 + b) % 10007)
    }
    df.groupBy("o_orderstatus")
      .agg(sum(col(last)).as("acc"), count(lit(1)).as("n"))
  }

  def skipSmall(): DataFrame =
    t("orders").filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(cents).as("cents"))

  /** The cached per-customer aggregate, re-derived inside a bigger join. */
  def derived(): DataFrame =
    t("customer").join(scanAgg(), col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum("n_orders").as("n_orders"), sum("cents").as("cents"),
        count(lit(1)).as("customers"))
}

object NotebookQueries {
  /** 34 steps render a plan of about 31k characters: past 30k, the size
    * class of q_ppr's 38.8k-character plan. */
  val DeepSteps = 34
}

/** `notebook_rerun`: a fixed list of cells replayed pass after pass. The
  * first pass writes, later passes hit (the first two warm the JVM and are
  * not measured); skip cells always fall below the default thresholds;
  * the direct cell re-hashes the same rows; the derived cell runs with
  * auto-substitution on. */
object NotebookRerun {

  private final case class NbCell(
      cls: String,
      kind: Int, // 0 cacheToDbfs forced write, 1 default thresholds, 2 direct, 3 derived
      build: () => DataFrame)

  def run(h: Harness, data: String, seed: Long, direct: (Seq[Row], StructType)): Unit = {
    val spark = h.spark
    val q = new NotebookQueries(spark, data, seed)
    val cells = Seq(
      NbCell("scan_agg", 0, () => q.scanAgg()),
      NbCell("join_agg", 0, () => q.joinAgg()),
      NbCell("many_files", 0, () => q.manyFiles()),
      NbCell("deep", 0, () => q.deep(0)),
      NbCell("skip_small", 1, () => q.skipSmall()),
      NbCell("skip_deep", 1, () => q.deep(1)),
      NbCell("direct", 2, () => null),
      NbCell("derived", 3, () => q.derived()))

    // Assumed mix: one cell of each class per pass.
    val (directRows, directSchema) = direct
    var pass = 1
    var substituted = 0
    var derivedRuns = 0
    // Pass 1 writes every entry on a cold JVM and pass 2 is the first to
    // hit; both warm the JVM, and the measured window starts after them.
    // With one warm-up pass, how many later passes fit decides how much of
    // the JIT's warm-up the medians see, and that swung them by 25%.
    while (pass <= 2 || h.timeLeft) {
      val traced = h.tr.enabled && pass % 2 == 1
      for (c <- cells if h.timeLeft) {
        c.kind match {
          case 0 | 1 =>
            val r = h.run(c.cls, traced)(c.build())(
              df => CacheCalls.cacheToDbfs(df, forceWrite = c.kind == 0, h.tr))(_.collect())
            val kind = if (r.error.isEmpty) h.classify(r, direct = false) else "error"
            val expected =
              if (c.kind == 1) Kind.Skip else if (pass == 1) Kind.Miss else Kind.Hit
            h.record(r, c.cls, pass, kind, Some(expected), Some(c.cls), traced)
          case 2 =>
            val r = h.run(c.cls, traced)(null)(
              _ => CacheCalls.createCachedDataFrame(spark, directRows, directSchema, h.tr))(
              df => Array(Row(df.count())))
            val kind = if (r.error.isEmpty) h.classify(r, direct = true) else "error"
            val expected = if (pass == 1) Kind.DirectMiss else Kind.DirectHit
            val rows = if (r.error.isEmpty) r.result.collect() else Array.empty[Row]
            h.record(r.copy(rows = rows), c.cls, pass, kind, Some(expected), Some(c.cls), traced)
          case 3 =>
            // Analysis runs when the frame is built, so the call is the
            // build under the flag: the substitution rule's whole cost.
            val r = CacheConfig.withConfig(CacheConfig.current.copy(autoSubstitute = true)) {
              h.run(c.cls, traced)(null)(_ =>
                h.tr.span("autosub.analyze") { c.build() })(_.collect())
            }
            val hit = r.error.isEmpty && CacheCalls.cacheTableOf(r.result).isDefined
            derivedRuns += 1
            if (hit) substituted += 1
            h.record(r, c.cls, pass, Kind.Derived, None, Some(c.cls), traced,
              "substituted" -> hit)
        }
      }
      if (pass == 2) h.startClock()
      pass += 1
    }
    // Checks after the measured window: the data never changes, so one
    // uncached result per cell class checks every pass.
    h.verify(cells.map { c =>
      if (c.kind == 2) {
        h.noteShape(c.cls, "rows" -> directRows.size, "cols" -> directSchema.size)
        c.cls -> Digest.of(directRows)
      } else {
        val df = c.build()
        h.noteShape(c.cls, "plan_chars" -> PlanFingerprint.getQueryPlan(df).length,
          "files" -> df.inputFiles.length)
        c.cls -> Digest.of(df.collect())
      }
    }.toMap)
    h.extra("substitution_ratio") =
      if (derivedRuns == 0) 0.0 else substituted.toDouble / derivedRuns
  }
}
