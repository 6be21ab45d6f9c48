package perfbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft._
import graft.extensions._

/** The library calls a cell makes. Untraced, each is the public call
  * itself. Traced, each calls the same public layer functions in the
  * order the library's own entry point does, one span per layer, so the
  * spans add up to the call and nothing inside the program is changed. */
object CacheCalls {

  /** `cacheToDbfs` with the configured 130 / 1.01 thresholds
    * (`forceWrite = false`) or with both thresholds off. */
  def cacheToDbfs(df: DataFrame, forceWrite: Boolean, tr: Tracer): DataFrame =
    if (!tr.active) {
      if (forceWrite)
        df.cacheToDbfs(overridePreferSparkCache = true,
          dbfsCacheComplexityThreshold = None, dbfsCacheMultiplierThreshold = None)
      else df.cacheToDbfs(overridePreferSparkCache = true)
    } else {
      val cfg = CacheConfig.current
      if (forceWrite) tracedCacheToDbfs(df, None, None, tr)
      else tracedCacheToDbfs(df, cfg.defaultComplexityThreshold,
        cfg.defaultMultiplierThreshold, tr)
    }

  def createCachedDataFrame(
      spark: SparkSession, rows: Seq[Row], schema: StructType, tr: Tracer): DataFrame =
    if (!tr.active) spark.createCachedDataFrame(rows, schema)
    else tracedCreateCachedDataFrame(spark, rows, schema, tr)

  // The library keeps these two checks private; same conditions here.
  private def uncacheable(plan: String): Boolean =
    Seq("Scan ExistingRDD", "ExternalRDD", "LocalRelation", "LocalTableScan", "LogicalRDD")
      .exists(plan.contains)

  private def locationExists(spark: SparkSession, table: String): Boolean =
    try {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(loc)
    } catch { case NonFatal(_) => true }

  private def flag(b: Boolean): Double = if (b) 1.0 else 0.0

  private def tracedCacheToDbfs(
      df: DataFrame,
      complexityThreshold: Option[Double],
      multiplierThreshold: Option[Double],
      tr: Tracer): DataFrame = {
    val spark = df.sparkSession
    val cfg = CacheConfig.current
    val conf = spark.sparkContext.hadoopConfiguration
    val plan = tr.span("plan_fp", (p: String) => Seq("chars" -> p.length.toDouble)) {
      PlanFingerprint.getQueryPlan(df)
    }
    if (uncacheable(plan)) return df
    val bypass = tr.span("plan_fp.guards") {
      DirectData.taggedHash(df).isDefined || CacheIO.existingCacheScan(df, plan).isDefined
    }
    if (bypass) return df
    val info = tr.span("freshness", (m: ListMap[String, String]) => Seq("dirs" -> m.size.toDouble)) {
      Freshness.inputDirModTimes(df)
    }
    tr.annotate("freshness", Seq("files" -> df.inputFiles.length.toDouble))
    val (hash, _, metaPath, _) = tr.span("metadata") { CacheMetadata.tableCacheInfo(info, plan) }
    val table = cfg.tableNameFromHash(hash)
    val hit = tr.span("lookup", (h: Option[DataFrame]) => Seq("hit" -> flag(h.isDefined))) {
      if (!CacheIO.exists(metaPath, conf)) None
      else if (!spark.catalog.tableExists(table)) None
      else if (!locationExists(spark, table)) None
      else Some(spark.read.table(table))
    }
    hit match {
      case Some(h) => return h
      case None => ()
    }
    val (complexity, multiplier, _) = tr.span("complexity") { Complexity.estimate(df) }
    if (complexityThreshold.exists(t => t > 0 && complexity < t) ||
        multiplierThreshold.exists(t => t > 0 && multiplier < t)) return df
    // CacheIO.writeCache: metadata, the identical-sidecar check, table,
    // sidecar, substitution index, re-read.
    val (h2, _, metaPath2, metaTxt) = tr.span("metadata") {
      CacheMetadata.tableCacheInfo(info, plan)
    }
    val table2 = cfg.tableNameFromHash(h2)
    tr.span("write") {
      val same = tr.span("write.check") {
        CacheIO.readTextIfExists(metaPath2, conf).contains(metaTxt) &&
        spark.catalog.tableExists(table2) && locationExists(spark, table2)
      }
      if (!same) {
        tr.span("write.table") { CacheIO.writeCacheData(df, table2) }
        tr.span("write.sidecar") { CacheIO.writeText(metaPath2, metaTxt, conf) }
      }
    }
    annotateWrite(spark, table2, tr)
    tr.span("autosub.register") { graft.plans.AutoSubstitute.register(plan, h2) }
    tr.span("write.reread") { spark.read.table(table2) }
  }

  private def tracedCreateCachedDataFrame(
      spark: SparkSession, rows: Seq[Row], schema: StructType, tr: Tracer): DataFrame = {
    val cfg = CacheConfig.current
    val dataHash = tr.span("direct_hash", (_: String) => Seq("rows" -> rows.size.toDouble)) {
      DirectData.hashRows(rows, schema)
    }
    val name = s"data_$dataHash"
    val table = cfg.tableNameFromHash(name)
    val exists = tr.span("lookup", (b: Boolean) => Seq("hit" -> flag(b))) {
      spark.catalog.tableExists(table)
    }
    if (exists) return tr.span("lookup.read") { spark.read.table(table) }
    tr.span("write") {
      val src = tr.span("write.prepare") {
        spark.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          schema)
      }
      tr.span("write.table") { CacheIO.writeCacheData(src, table) }
      val txt = tr.span("metadata") {
        CacheMetadata.renderDirectData(dataHash,
          LocalDateTime.now(ZoneOffset.UTC).format(Freshness.TsFormat))
      }
      tr.span("write.sidecar") {
        CacheIO.writeText(cfg.metadataPath(name), txt, spark.sparkContext.hadoopConfiguration)
      }
    }
    annotateWrite(spark, table, tr)
    tr.span("write.reread") { spark.read.table(table) }
  }

  /** Bytes and files the table write left, counted after the span. */
  private def annotateWrite(spark: SparkSession, table: String, tr: Tracer): Unit = {
    val (bytes, files) = tableFootprint(spark, table)
    tr.annotate("write", Seq("bytes" -> bytes.toDouble, "files" -> files.toDouble))
  }

  def tableFootprint(spark: SparkSession, table: String): (Long, Int) =
    try {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(loc, true)
      var bytes = 0L
      var files = 0
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) { bytes += st.getLen; files += 1 }
      }
      (bytes, files)
    } catch { case NonFatal(_) => (0L, 0) }

  /** The cache table a frame is a bare scan of, if any. */
  def cacheTableOf(df: DataFrame): Option[String] = {
    val db = CacheConfig.current.cacheDatabase
    val plan = df.queryExecution.analyzed.toString
    PlanFingerprint.findCatalogTablePattern(plan, db, "data_")
      .orElse(PlanFingerprint.findCatalogTablePattern(plan, db))
  }
}
