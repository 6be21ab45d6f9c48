package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extensions._

/** Freshness-probe edge cases (reference `core_caching.py:212-297`). */
class FreshnessSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("one entry per input directory with its newest child mtime") {
    // nation.parquet is a single FILE, so the probed dir is its parent —
    // dir-level granularity (one listStatus per dir) like the reference.
    val df = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
    val m = Freshness.inputDirModTimes(df)
    assert(m.size == 1)
    val (dir, ts) = m.head
    assert(dir.endsWith("sf0.001"))
    assert(ts.matches("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d{3}"))
  }

  test("_delta_log children are excluded from the freshness probe") {
    val d = Files.createTempDirectory("graft-fresh").toString
    spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
      .write.mode("overwrite").parquet(s"$d/t")
    val before = Freshness.inputDirModTimes(spark.read.parquet(s"$d/t"))
    Thread.sleep(1100)
    // a delta-log write must NOT invalidate
    Files.createDirectory(Paths.get(s"$d/t/_delta_log"))
    val after = Freshness.inputDirModTimes(spark.read.parquet(s"$d/t"))
    assert(after == before, "_delta_log mtime must not leak into the probe")
  }

  test("cache-table reads produce no self-invalidating sources") {
    val base = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
      .withColumn("fr", lit(9))
    val cached = base.cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
    // The cache table lives under the warehouse, not the metadata cacheDir;
    // the probe must still resolve to a stable map so cache-on-cache
    // plans re-fingerprint deterministically.
    val m1 = Freshness.inputDirModTimes(cached.filter(col("fr") === 9))
    val m2 = Freshness.inputDirModTimes(cached.filter(col("fr") === 9))
    assert(m1 == m2)
  }

  test("multiple input dirs coalesce by parent and sort deterministically") {
    // both single-file tables share the sf0.001 parent => one dir entry
    val a = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
    val b = spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
    val m = Freshness.inputDirModTimes(
      a.join(b, col("n_regionkey") === col("r_regionkey")))
    assert(m.size == 1 && m.keys.head.endsWith("sf0.001"))
    // genuinely distinct parents (directory-style tables) stay separate
    val d = Files.createTempDirectory("graft-fresh2").toString
    a.write.mode("overwrite").parquet(s"$d/na")
    b.write.mode("overwrite").parquet(s"$d/re")
    val m2 = Freshness.inputDirModTimes(
      spark.read.parquet(s"$d/na").join(
        spark.read.parquet(s"$d/re"),
        col("n_regionkey") === col("r_regionkey")))
    assert(m2.size == 2)
    assert(m2.keys.toSeq == m2.keys.toSeq.sorted)
  }

  test("a rewrite 300 ms later within the same second misses the cache") {
    val d = Files.createTempDirectory("graft-fresh-ms").toFile
    spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
      .write.mode("overwrite").parquet(s"$d/t")
    val children = new java.io.File(d, "t").listFiles()
    val part = children.filter(_.getName.endsWith(".parquet")).head
    val t0 = 1700000000100L // 100 ms into its second
    children.foreach(f => assert(f.setLastModified(t0)))
    def query() = spark.read.parquet(s"$d/t").groupBy("n_regionkey").count()
    def cacheIt() = query().cacheToDbfs(
      overridePreferSparkCache = true,
      dbfsCacheComplexityThreshold = None,
      dbfsCacheMultiplierThreshold = None)
    val written = CacheIO.tableHash(cacheIt())
    assert(CacheIO.readCacheIfExist(query()).isDefined)
    // same bytes, modified 300 ms later in the same second
    Files.write(part.toPath, Files.readAllBytes(part.toPath))
    assert(part.setLastModified(t0 + 300))
    assert(CacheIO.readCacheIfExist(query()).isEmpty, "a newer data version must not hit")
    assert(CacheIO.tableHash(cacheIt()) != written)
  }

  test("freshness and the cost model share one listing without changing either") {
    val d = Files.createTempDirectory("graft-fresh-share").toString
    val src = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
    Seq("a", "b", "c").foreach(p => src.repartition(2).write.mode("overwrite").parquet(s"$d/$p"))
    val df = spark.read.parquet(s"$d/a", s"$d/b", s"$d/c").groupBy("n_regionkey").count()
    val inputs = Freshness.InputListing(df)
    val fresh = Freshness.inputDirModTimes(df, inputs)
    assert(fresh.size == 3 && fresh == Freshness.inputDirModTimes(df))
    val sizes = Complexity.inputFileSizesGb(inputs)
    assert(sizes.size == 6 && sizes == Complexity.inputFileSizesGb(df))
    assert(Complexity.estimate(df, inputs) == Complexity.estimate(df))
  }

  test("direct-data catalog reads yield an empty source map") {
    val df = spark.createCachedDataFrame(
      Seq(org.apache.spark.sql.Row(7, "x")), "id INT, v STRING")
    assert(Freshness.inputDirModTimes(df).isEmpty)
  }

  test("Delta schema-change errors force invalidation; other errors mean unknown source") {
    // The reference's Delta branch (core_caching.py:258-269), pinned
    // without a Delta jar: the real error carries the
    // DELTA_SCHEMA_CHANGE_SINCE_ANALYSIS code in its message.
    val delta = Freshness.inputFilesSafe(throw new RuntimeException(
      "[DELTA_SCHEMA_CHANGE_SINCE_ANALYSIS] The schema of your Delta " +
        "table has changed in an incompatible way"))
    assert(delta.isLeft)
    assert(delta.swap.toOption.get.keySet ==
      Set(Freshness.SchemaChangedPlaceholder),
      "schema change must map to the invalidation placeholder")
    // Any other inputFiles failure: unknown source, empty map (no
    // placeholder, no throw).
    val other = Freshness.inputFilesSafe(
      throw new RuntimeException("FileNotFoundException: gone"))
    assert(other == Left(scala.collection.immutable.ListMap.empty))
    // Success passes the file list through untouched.
    assert(Freshness.inputFilesSafe(Array("f1", "f2")) == Right(Array("f1", "f2")) ||
      Freshness.inputFilesSafe(Array("f1", "f2")).toOption.get.toList == List("f1", "f2"))
  }
}
