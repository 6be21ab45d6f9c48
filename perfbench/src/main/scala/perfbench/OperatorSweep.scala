package perfbench

import scala.util.Random

import org.apache.spark.sql.Row

import graft.SparkEntry

/** `operator_sweep`: passes over a fixed list of oracle-gated operator
  * queries, each built (operators run their eager jobs while the frame is
  * built) and executed into a noop sink. No cache call is made. Pass 0
  * warms the JVM and writes each result for the oracle check; it is not
  * measured. */
object OperatorSweep {

  /** Many Spark jobs per query. */
  val Iterative = Seq("q_dedup_components_inc")
  /** Per-row CPU. */
  val Rowwise = Seq("q_edit_pairs", "q_dup_hist", "q_minhash_recall")
  val Queries: Seq[String] = Iterative ++ Rowwise

  def family(q: String): String = if (Iterative.contains(q)) "iterative" else "rowwise"

  def run(h: Harness, opsDir: String, seed: Long, outDir: String): Unit = {
    val spark = h.spark
    var pass = 0
    while (pass == 0 || h.timeLeft) {
      val traced = h.tr.enabled && pass % 2 == 1
      val order = new Random(seed * 1000 + pass).shuffle(Queries)
      for (q <- order if pass == 0 || h.timeLeft) {
        val r = h.run(q, traced)(null)(_ =>
          h.tr.span("op.build") { SparkEntry.queries(q)(spark, opsDir) }) { df =>
          h.tr.span("op.exec") {
            if (pass == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
            else df.write.format("noop").mode("overwrite").save()
          }
          Array.empty[Row]
        }
        h.record(r, q, pass, Kind.Op, None, None, traced, "family" -> family(q))
      }
      if (pass == 0) h.startClock()
      pass += 1
    }
    h.extra("op_outputs") = Queries.map(q => q -> s"$outDir/$q").toMap
    h.extra("oracle_sql") = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
  }
}
