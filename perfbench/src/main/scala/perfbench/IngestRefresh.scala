package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row}

import graft.Management

/** One arriving data version: `staged` replaces `target` in the mutable
  * table and gets modification time `mtimeMs` from the generator's clock;
  * `direct` holds the rows this version hands to `createCachedDataFrame`. */
final case class Version(n: Int, staged: String, target: String, mtimeMs: Long, direct: String)

/** `ingest_refresh`: a mutable orders table receives versions. Each
  * version runs a miss/write cell per query, re-reads, and a direct-data
  * cell on new rows; every few versions superseded entries are cleared
  * through Management. */
object IngestRefresh {

  /** Assumed: superseded entries are cleared every second version. */
  val MgmtEvery = 2
  /** Versions that warm the JVM before the measured window. A version's
    * cells keep getting faster until about the seventh (2.4 s at the
    * third, 1.8-2.1 s at the eighth, 4 vCPUs), so with fewer warm-up
    * versions the pass time swung with how many versions a run fit: the
    * relative quartile spread of pass_s over ten seeds was 0.24 with three
    * warm-up versions. */
  val WarmUp = 5

  def run(
      h: Harness,
      data: String,
      versions: Seq[Version],
      initialDirect: String,
      loadRows: String => (Seq[Row], StructType)): Unit = {
    val spark = h.spark
    def orders(): DataFrame = spark.read.parquet(s"$data/ingest/orders")
    val cents = (col("o_totalprice") * 100).cast("long")
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "ingest_orders" -> (() => orders().groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(cents).as("cents"), max("o_orderkey").as("max_key"))),
      "ingest_join" -> (() => orders()
        .join(spark.read.parquet(s"$data/customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"), sum(cents).as("cents"))))
    // Each query is read two or three times per write (its write, then one
    // or two re-reads): the two- and three-display sequences the reference
    // library's published measurements time.
    val rereads = Seq("ingest_orders", "ingest_join", "ingest_orders")

    queries.foreach { case (cls, q) =>
      val df = q()
      h.noteShape(cls, "plan_chars" -> graft.PlanFingerprint.getQueryPlan(df).length,
        "files" -> df.inputFiles.length)
    }

    // Tables written per version, so superseded ones can be cleared.
    val written = mutable.Map.empty[Int, mutable.Set[String]]
    // Version 0 is the generated table as it stands; later ones arrive.
    val all = Version(0, "", "", 0L, initialDirect) +: versions
    var i = 0
    while (i < WarmUp || (i < all.length && h.timeLeft)) {
      val v = all(i)
      val traced = h.tr.enabled && i % 2 == 0
      val (rows, schema) = loadRows(v.direct)
      val arrival =
        if (v.n == 0) System.nanoTime()
        else {
          val target = Paths.get(v.target)
          Files.move(Paths.get(v.staged), target, StandardCopyOption.REPLACE_EXISTING)
          if (!target.toFile.setLastModified(v.mtimeMs))
            throw new IllegalStateException(s"cannot set mtime of $target")
          System.nanoTime()
        }
      val mine = written.getOrElseUpdate(v.n, mutable.Set.empty)
      val results = mutable.ArrayBuffer.empty[(CellRun, String, String, Option[String])]
      def cacheCell(cls: String, expect: String): Unit = {
        val r = h.run(cls, traced)(queries.toMap.apply(cls)())(
          df => CacheCalls.cacheToDbfs(df, forceWrite = true, h.tr))(_.collect())
        val kind = if (r.error.isEmpty) h.classify(r, direct = false) else "error"
        if (r.error.isEmpty) CacheCalls.cacheTableOf(r.result).foreach(mine += _)
        results += ((r, cls, kind, Some(expect)))
      }
      // The first write cell's result is the version's first fresh result.
      cacheCell(queries.head._1, Kind.Miss)
      val freshMs = (System.nanoTime() - arrival) / 1e6
      queries.tail.foreach { case (cls, _) => cacheCell(cls, Kind.Miss) }
      rereads.foreach(cls => cacheCell(cls, Kind.Hit))
      val d = h.run("direct_new", traced)(null)(
        _ => CacheCalls.createCachedDataFrame(spark, rows, schema, h.tr))(
        df => Array(Row(df.count())))
      val dKind = if (d.error.isEmpty) h.classify(d, direct = true) else "error"
      if (d.error.isEmpty) CacheCalls.cacheTableOf(d.result).foreach(mine += _)
      val dRows = if (d.error.isEmpty) d.result.collect() else Array.empty[Row]

      // Checks, after the version's timed cells: the uncached result of
      // the same data version, and the rows handed to the direct call.
      val recs = results.map { case (r, cls, kind, expect) =>
        h.record(r, cls, v.n, kind, expect, Some(cls), traced, "version" -> v.n)
      }
      h.record(d.copy(rows = dRows), "direct_new", v.n, dKind, Some(Kind.DirectMiss),
        Some("direct_new"), traced, "version" -> v.n)
      val want = queries.map { case (cls, q) => cls -> Digest.of(q().collect()) }.toMap +
        ("direct_new" -> Digest.of(rows))
      h.verify(want)
      if (recs.head("ok") == true && i >= WarmUp) h.fresh += freshMs

      if (v.n > 0 && v.n % MgmtEvery == 0 && h.timeLeft) {
        val superseded = written.filter(_._1 < v.n).values.flatten.toSet
        var listed = 0
        val m = h.run("mgmt", traced)(null) { _ =>
          val entries = h.tr.span("mgmt.list",
              (es: Seq[graft.CacheEntry]) => Seq("entries" -> es.size.toDouble)) {
            Management.getCachedDataframeMetadata(spark)
          }
          listed = entries.size
          h.tr.span("mgmt.clear") {
            entries.filter(e => superseded(e.hashName))
              .foreach(e => Management.clearCacheForHash(spark, e.hashName))
          }
          null
        }(_ => Array.empty[Row])
        h.known --= superseded
        written.filterInPlace((n, _) => n >= v.n)
        h.record(m, "mgmt", v.n, Kind.Mgmt, None, None, traced,
          "version" -> v.n, "entries" -> listed)
      }
      if (i == WarmUp - 1) h.startClock()
      i += 1
    }
  }
}
