package graft

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame

/** Input-source freshness probe.
  *
  * The newest modification time of every input directory is baked into the
  * cache fingerprint, so a data change produces a new hash and therefore a
  * cache miss (reference `dbfs_spark_cache/core_caching.py:212-297`).
  * Probes are per *directory*, not per file — one `listStatus` per input
  * dir regardless of file count, which is what keeps this viable against
  * 100 TB sources with millions of files.
  */
object Freshness {

  val SchemaChangedPlaceholder = "<schema_changed_placeholder>"
  val DirectDataCacheMarker = "<direct_data_cache>"

  /** Timestamp format of creation times in metadata text and the cache
    * registry (reference `core_caching.py:378`: `%Y-%m-%d %H:%M:%S`). */
  val TsFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def formatMillis(millis: Long): String =
    LocalDateTime
      .ofInstant(Instant.ofEpochMilli(millis), ZoneOffset.UTC)
      .format(TsFormat)

  /** Format of the input-directory modification times in a fingerprint:
    * milliseconds, so a data version written within the same second as
    * the one before still changes the fingerprint. Only freshness
    * entries use it; creation times keep [[TsFormat]]. */
  private val ModTimeFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")

  private def formatModTime(millis: Long): String =
    LocalDateTime
      .ofInstant(Instant.ofEpochMilli(millis), ZoneOffset.UTC)
      .format(ModTimeFormat)

  /** One look at a query's input files for one call: the file list is
    * fetched at most once and each directory listed at most once, so the
    * freshness probe and the cost model's input sizing share a single
    * listing per `cacheToDbfs` call. */
  private[graft] final class InputListing(
      fetchFiles: => Array[String],
      val conf: org.apache.hadoop.conf.Configuration) {
    lazy val files: Array[String] = fetchFiles
    private val listed = mutable.HashMap.empty[Path, Option[Array[FileStatus]]]

    /** The directory's children; None when it cannot be listed. */
    def listStatus(dir: Path): Option[Array[FileStatus]] =
      listed.getOrElseUpdate(dir,
        try Some(dir.getFileSystem(conf).listStatus(dir))
        catch { case _: Throwable => None })
  }

  private[graft] object InputListing {
    def apply(df: DataFrame): InputListing =
      new InputListing(df.inputFiles, df.sparkSession.sparkContext.hadoopConfiguration)
  }

  /** Max modification time per input directory, formatted, in sorted dir
    * order (reference `core_caching.py:212-297`). Special results:
    *  - empty map: reads a catalog `data_*` table, or no file inputs
    *  - `Map(SchemaChangedPlaceholder -> now)`: analysis-time schema change
    *
    * Skips `_delta_log/` entries and standard cache dirs
    * (`^<cacheDir>/<32hex>/?$`, reference `:289-293`) so cache-on-cache
    * reads don't self-invalidate.
    */
  def inputDirModTimes(df: DataFrame): ListMap[String, String] =
    inputDirModTimes(df, InputListing(df))

  private[graft] def inputDirModTimes(
      df: DataFrame, inputs: InputListing): ListMap[String, String] = {
    val cfg = CacheConfig.current
    val plan = PlanFingerprint.getQueryPlan(df)

    // Reading a catalog data_* table => standard caching logic, no sources
    // (reference core_caching.py:244-250).
    if (PlanFingerprint
        .findCatalogTablePattern(plan, cfg.cacheDatabase, "data_")
        .isDefined) return ListMap.empty

    inputFilesSafe(inputs.files) match {
      case Left(special) => special
      case Right(files) if files.isEmpty => ListMap.empty
      case Right(_) => dirModTimes(inputs)
    }
  }

  /** `inputFiles` fetch with the reference's error contract
    * (`core_caching.py:258-269`): a Delta-style "schema changed since
    * analysis" error maps to `Left(Map(SchemaChangedPlaceholder → now))`
    * — a freshness value no cache entry can ever match, forcing
    * invalidation — and any other failure maps to `Left(empty)` (treat
    * as unknown source). Extracted so the Delta branch is testable in a
    * build with no Delta jar (`FreshnessSpec` pins all three outcomes);
    * the error-code match is on the message substring, exactly what
    * `DELTA_SCHEMA_CHANGE_SINCE_ANALYSIS` carries on a real cluster. */
  private[graft] def inputFilesSafe(
      fetch: => Array[String]): Either[ListMap[String, String], Array[String]] =
    try Right(fetch)
    catch {
      case e: Throwable if Option(e.getMessage)
            .exists(_.contains("SCHEMA_CHANGE")) =>
        Left(ListMap(
          SchemaChangedPlaceholder -> LocalDateTime
            .now(ZoneOffset.UTC)
            .format(TsFormat)))
      case _: Throwable => Left(ListMap.empty)
    }

  /** Dir-level mod-time map for an explicit file list — the core of
    * [[inputDirModTimes]], also used when fingerprinting logical-plan
    * subtrees (auto-substitution) where no DataFrame exists. */
  def dirModTimesForFiles(
      inputFiles: Array[String],
      hadoopConf: org.apache.hadoop.conf.Configuration): ListMap[String, String] =
    dirModTimes(new InputListing(inputFiles, hadoopConf))

  private def dirModTimes(inputs: InputListing): ListMap[String, String] = {
    val cfg = CacheConfig.current
    val cacheDirBase = cfg.cacheDirSlash.stripSuffix("/")
    val cacheDirRe =
      ("^" + java.util.regex.Pattern.quote(cacheDirBase) +
        "/[a-f0-9]{32}/?$").r

    val dirs = inputs.files.map(f => new Path(f).getParent).distinct
    val entries = dirs.sortBy(_.toString).flatMap { d =>
      if (cacheDirRe.findFirstIn(stripScheme(d.toString)).isDefined) None
      else lastModTimeOfDir(d, inputs).map(d.toString -> _)
    }
    ListMap(entries.toIndexedSeq: _*)
  }

  private def stripScheme(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?", "")

  /** Newest mod time among a dir's non-`_delta_log` children, falling back
    * to the dir's own mod time (reference `core_caching.py:217-240`). */
  private def lastModTimeOfDir(dir: Path, inputs: InputListing): Option[String] =
    inputs.listStatus(dir).flatMap { children =>
      val kept = children.filterNot(_.getPath.getName == "_delta_log")
      try Some(formatModTime(
        if (kept.isEmpty) dir.getFileSystem(inputs.conf).getFileStatus(dir).getModificationTime
        else kept.map(_.getModificationTime).max))
      catch { case _: Throwable => None }
    }
}
