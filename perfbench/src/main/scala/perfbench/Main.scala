package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Row, SparkSession}

import graft.CacheConfig
import graft.extensions._

/** Runs one workload in one JVM and writes its raw records (cells, set-up
  * samples, spans, input shape) to `<work>/results.json` and
  * `<work>/spans.jsonl`. Statistics, the oracle check and the printed
  * result are `run.py`'s. Inputs come only from `<work>/manifest.json`. */
object Main {

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = new File(arg(args, "work")).getAbsolutePath
    val cores = arg(args, "cores").toInt
    val setups = arg(args, "setups").toInt
    val manifest: JsonNode = new ObjectMapper().readTree(new File(s"$work/manifest.json"))
    val data = manifest.get("data").asText()

    // Set-up: session start plus the first cold cache call, repeated on a
    // fresh session and cache each time; the last session runs the workload.
    var spark: SparkSession = null
    val setupS = (1 to setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse$i")
        .config("spark.local.dir", s"$work/tmp")
        .withExtensions(new graft.functions.GraftSparkExtensions)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      CacheConfig.current = CacheConfig(
        sparkCacheDir = s"$work/cache$i/",
        cacheDatabase = "cache_db",
        preferSparkCache = false,
        autoSubstitute = false)
      spark.read.parquet(s"$data/nation")
        .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
        .cacheToDbfs(overridePreferSparkCache = true,
          dbfsCacheComplexityThreshold = None, dbfsCacheMultiplierThreshold = None)
        .collect()
      (System.nanoTime() - t0) / 1e9
    }

    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tr = new Tracer(traced)
    def loadRows(path: String): (Seq[Row], StructType) = {
      val df = spark.read.parquet(path)
      (df.collect().toIndexedSeq, df.schema)
    }
    // Inputs the workload loads before timing starts.
    val prepared: Harness => Unit = workload match {
      case "notebook_rerun" =>
        val direct = loadRows(manifest.get("direct").asText())
        h => NotebookRerun.run(h, data, seed, direct)
      case "ingest_refresh" =>
        val versions = manifest.get("versions").elements().asScala.map { v =>
          Version(v.get("n").asInt, v.get("staged").asText, v.get("target").asText,
            v.get("mtime_ms").asLong, v.get("direct").asText)
        }.toIndexedSeq
        val initial = manifest.get("initial_direct").asText()
        h => IngestRefresh.run(h, data, versions, initial, loadRows)
      case "operator_sweep" =>
        h => OperatorSweep.run(h, manifest.get("ops_dir").asText(), seed, s"$work/opout")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val h = new Harness(spark, tr, counters, seconds)
    prepared(h)

    val storedBytes = {
      val db = CacheConfig.current.cacheDatabase
      if (!spark.catalog.databaseExists(db)) 0L
      else spark.catalog.listTables(db).collect().toSeq
        .map(t => CacheCalls.tableFootprint(spark, s"$db.${t.name}")._1).sum
    }
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "measured_s" -> h.measuredS, "setup_s" -> setupS, "cells" -> h.cells,
      "fresh_ms" -> h.fresh, "wrong_hits" -> h.wrongHits, "checks" -> h.checks,
      "failures" -> h.failures, "shape" -> h.shape, "cache_stored_bytes" -> storedBytes)
    h.extra.foreach { case (k, v) => out(k) = v }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new File(s"$work/results.json"), out)
    val spans = tr.spans.map(s => json.writeValueAsString(Map(
      "id" -> s.id, "parent" -> s.parent, "cell" -> s.cell, "name" -> s.name,
      "t0" -> s.t0, "t1" -> s.t1, "attrs" -> s.attrs.toMap)))
    Files.write(Paths.get(s"$work/spans.jsonl"), spans.asJava, StandardCharsets.UTF_8)
    spark.stop()
  }
}
