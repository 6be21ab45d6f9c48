package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExtendedMode

/** Query-plan fingerprinting.
  *
  * The reference identifies a DataFrame by
  * `MD5(input-source mod-times + cleaned explain(extended) text)`
  * (`dbfs_spark_cache/core_caching.py:300-325`, `:384-406`). In Scala we
  * read the explain text in-process from `queryExecution` instead of
  * capturing stdout through py4j; the cleaning regexes are identical so
  * semantically-equal plans hash equal across sessions.
  */
object PlanFingerprint {

  private val exprIdRe = "#\\d+".r
  // Spark 4's extended explain embeds session-monotonic markers that are
  // NOT part of the plan's identity: physical `[plan_id=NN]` tags, CTE
  // definition/reference ids, and `cachedcolumnbuffers`-style object
  // addresses. Leaving any of them in makes two structurally identical
  // plans hash differently across (or even within) sessions — i.e. the
  // cache never hits. Reference strips only `#\d+` because PySpark 3.5
  // explain text had no plan_id (`core_caching.py:315-316`).
  private val planIdRe = "\\[plan_id=\\d+\\]".r
  private val cteIdRe = "CTERelation(Def|Ref) \\d+".r
  // Object addresses print as `SimpleClassName@hexhash`. Anchor on an
  // uppercase-initial identifier so data literals in analyzed plans
  // (printed unquoted, e.g. `user@abcdef12` in a Filter) are NOT
  // stripped — two queries differing only in such literals must not
  // fingerprint identically.
  private val objAddrRe = "([A-Z][A-Za-z0-9_$]*)@[0-9a-f]{6,}".r
  // Higher-order-function lambda variables print as `lambda x_NN` where
  // NN is a SESSION-GLOBAL counter (`UnresolvedNamedLambdaVariable`
  // freshVarName) — two constructions of the identical query render
  // `lambda x_5` vs `lambda x_15` and would never re-hit the cache.
  // Unlike `#\d+` the counter cannot simply be dropped: distinct
  // variables in one plan must stay distinct (`x_1 * x_1` is not
  // `x_1 * x_2`), so [[canonicalizeLambdaVars]] renumbers them by order
  // of first appearance instead.
  private val lambdaVarRe = "lambda ([A-Za-z$][A-Za-z0-9$]*)_(\\d+)".r
  private val wsRe = "\\s+".r

  // Balanced-paren spans of `lambdafunction(...)` — the ONLY places
  // Catalyst prints real lambda variables. Renumbering is scoped to
  // them so a data literal that happens to read `lambda x_5` (analyzed
  // plans print literals unquoted, same hazard the object-address
  // anchor guards) is never rewritten — two queries differing only in
  // such literals must not collide on one canonical fingerprint.
  private def lambdaFunctionSpans(s: String): Seq[(Int, Int)] = {
    val marker = "lambdafunction("
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var from = s.indexOf(marker)
    while (from >= 0) {
      var i = from + marker.length - 1 // at the opening '('
      var depth = 0
      var end = -1
      while (i < s.length && end < 0) {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case _ => ()
        }
        i += 1
      }
      val stop = if (end >= 0) end else s.length - 1
      spans += ((from, stop))
      // nested lambdafunctions sit inside this span already
      from = s.indexOf(marker, stop + 1)
    }
    spans.toSeq
  }

  private def canonicalizeLambdaVars(s: String): String = {
    if (!s.contains("lambdafunction(")) return s
    val spans = lambdaFunctionSpans(s)
    // One GLOBAL order-of-appearance map (not per span): a nested
    // lambda referencing an outer variable must canonicalize to the
    // same token in both spans.
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    lambdaVarRe.replaceAllIn(s, m => {
      val inSpan = spans.exists(sp => m.start >= sp._1 && m.start <= sp._2)
      if (!inSpan) scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        val idx = seen.getOrElseUpdate(m.matched, seen.size)
        scala.util.matching.Regex
          .quoteReplacement(s"lambda ${m.group(1)}_c$idx")
      }
    })
  }

  /** Apply the fingerprint cleaning to arbitrary plan text (used when
    * fingerprinting logical-plan subtrees for auto-substitution). */
  private[graft] def cleanPlanText(raw: String): String = clean(raw)

  private def clean(raw: String): String = {
    // The replacer's return value is a replacement TEMPLATE: a literal
    // `$` in the captured class name (legal in Scala object/inner-class
    // toStrings like `Foo$@1a2b3c`) would throw and collapse different
    // queries onto one "Error: ..." fingerprint — a silent wrong hit.
    val noAddr = objAddrRe.replaceAllIn(
      raw, m => scala.util.matching.Regex.quoteReplacement(m.group(1)))
    val noIds = Seq(exprIdRe, planIdRe, cteIdRe)
      .foldLeft(noAddr)((t, re) => re.replaceAllIn(t, ""))
    wsRe.replaceAllIn(canonicalizeLambdaVars(noIds), " ").trim
  }

  /** Cache-fingerprint plan text: the cleaned ANALYZED logical plan.
    *
    * The reference hashes `explain(extended)` (`core_caching.py:300-325`),
    * but that text includes the optimized/physical sections, which are
    * rewritten to `InMemoryRelation` the moment a DataFrame is
    * `.cache()`d — so a spark-cached DataFrame would fingerprint
    * differently from the identical uncached query and the
    * backup-then-rehit workflow could never hit. The analyzed plan is
    * computed before cache substitution, fully captures query semantics
    * (sources, projections, literals), and is cache-state-invariant.
    * Input *paths* are covered by the freshness map that is hashed
    * alongside this text (`CacheMetadata.render`). Returns an
    * `Error: ...` string instead of throwing, as the reference does.
    */
  def getQueryPlan(df: DataFrame): String =
    try {
      // `toString` truncates node field lists at
      // spark.sql.debug.maxToStringFields (default 25): two distinct
      // wide plans sharing a 25-column prefix would render as
      // `... N more fields` and hash EQUAL — a silent wrong cache hit.
      // Render with an explicit non-truncating maxFields instead.
      val raw = df.queryExecution.analyzed.treeString(
        verbose = true, addSuffix = false, maxFields = Int.MaxValue,
        printOperatorId = false)
      if (raw.contains("UDF"))
        log(
          "UDF detected in query plan, cache invalidation for UDF code " +
            "not implemented!")
      // Photon plan-note passthrough (reference `core_caching.py:320-321`):
      // surface the runtime's "not fully supported" explanation so a user
      // caching on a Photon cluster sees why the cached query may run on
      // the non-Photon path. Unreachable locally (no Photon) — parity by
      // inspection, pinned by PlanStabilitySpec on synthetic plan text.
      photonNote(raw).foreach(note =>
        log(s"Photon limitations might affect caching:\n$note"))
      clean(raw)
    } catch {
      case e: Throwable => s"Error: ${e.getMessage}"
    }

  /** The Photon "not fully supported" explanation embedded in a plan
    * text, if present (reference `core_caching.py:320-321`): everything
    * after the marker sentence. */
  private[graft] def photonNote(planText: String): Option[String] = {
    val marker = "Photon does not fully support the query because:"
    val i = planText.indexOf(marker)
    if (i < 0) None else Some(planText.substring(i + marker.length))
  }

  /** Cleaned extended-explain text (all four sections) — the input to
    * the keyword cost model, which the reference counts over the full
    * extended output (`query_complexity_estimation.py:127-135`). Not
    * used for fingerprinting (see [[getQueryPlan]]). */
  def extendedPlanText(df: DataFrame): String =
    try clean(df.queryExecution.explainString(ExtendedMode))
    catch { case e: Throwable => s"Error: ${e.getMessage}" }

  /** MD5 hex digest over UTF-8 bytes (reference `core_caching.py:399`). */
  def md5Hex(s: String): String =
    hex(MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  private[graft] def hex(digest: Array[Byte]): String =
    digest.map(b => f"$b%02x").mkString

  /** Find `hive_metastore.{db}.{prefix}<32hex>` or
    * `spark_catalog.{db}.{prefix}<32hex>` in plan/metadata text and return
    * the `{prefix}<32hex>` table identifier (reference
    * `hashing.py:14-35`). Also matches a bare `{db}.{prefix}<32hex>` since
    * local Spark plans may omit the catalog name.
    */
  def findCatalogTablePattern(
      text: String,
      dbName: String,
      tablePrefix: String = ""): Option[String] = {
    val db = java.util.regex.Pattern.quote(dbName)
    val pfx = java.util.regex.Pattern.quote(tablePrefix)
    val grp = s"($pfx[a-f0-9]{32})"
    List(
      s"hive_metastore\\.$db\\.$grp",
      s"spark_catalog\\.$db\\.$grp",
      s"$db\\.$grp"
    ).view
      .map(_.r.findFirstMatchIn(text))
      .collectFirst { case Some(m) => m.group(1) }
  }

  /** Extract the 32-hex hash of a referenced cache table from metadata/plan
    * text (reference `utils.py:22-51`; no prefix). */
  def getHashFromMetadata(metadataTxt: String): Option[String] =
    findCatalogTablePattern(metadataTxt, CacheConfig.current.cacheDatabase)

  private[graft] def log(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger("graft").info(msg)
}
