package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What a cell's library call did, read off its returned frame. */
object Kind {
  val Hit = "hit"
  val Miss = "miss"
  val Skip = "skip"
  val DirectHit = "direct_hit"
  val DirectMiss = "direct_miss"
  val Derived = "derived"
  val Op = "op"
  val Mgmt = "mgmt"
}

/** The timed part of one cell: its frame, the library call's result and
  * the action's rows, with the call and the whole cell timed apart. */
final case class CellRun(
    id: Int,
    result: DataFrame,
    rows: Array[Row],
    callMs: Double,
    cellMs: Double,
    error: Option[String])

/** Runs cells, classifies and checks them, and keeps every record of the
  * run in memory until [[Harness.json]] writes them out. */
final class Harness(
    val spark: SparkSession,
    val tr: Tracer,
    val counters: SparkCounters,
    seconds: Double) {

  val cells = ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  val failures = ArrayBuffer.empty[String]
  val fresh = ArrayBuffer.empty[Double]
  val shape = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** Cache tables this run has seen created; a call returning one of
    * these hit, a call returning a new one wrote it. */
  val known = mutable.Set.empty[String]
  var wrongHits = 0
  var checks = 0
  private var nextCell = 0

  private var deadlineNs = Long.MaxValue
  private var startNs = 0L

  /** Starts the measured window; a workload calls it once its warm-up is
    * done. Cells recorded before it are not measured. */
  def startClock(): Unit = {
    startNs = System.nanoTime()
    deadlineNs = startNs + (seconds * 1e9).toLong
  }

  def measuredS: Double = if (startNs == 0L) 0.0 else (System.nanoTime() - startNs) / 1e9

  def timeLeft: Boolean = System.nanoTime() < deadlineNs

  /** Builds the frame, makes the library call and runs the action, timing
    * the call and the whole cell; traced, under one root span with the
    * Spark listener counts attached. */
  def run(cls: String, traced: Boolean)(build: => DataFrame)(call: DataFrame => DataFrame)(
      action: DataFrame => Array[Row]): CellRun = {
    val id = nextCell
    nextCell += 1
    tr.cell = id
    tr.active = traced
    val before = if (traced) counters.snapshot(spark.sparkContext) else null
    val t0 = System.nanoTime()
    var tc0, tc1 = t0
    var result: DataFrame = null
    var rows: Array[Row] = Array.empty
    val error =
      try {
        tr.span("cell") {
          val df = tr.span("spark.build") { build }
          tc0 = System.nanoTime()
          result = tr.span("call") { call(df) }
          tc1 = System.nanoTime()
          rows = tr.span("spark.action") { action(result) }
        }
        None
      } catch {
        case NonFatal(e) =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val t1 = System.nanoTime()
    if (traced) tr.annotate("cell", counters.delta(before, counters.snapshot(spark.sparkContext)))
    tr.active = false
    CellRun(id, result, rows, (tc1 - tc0) / 1e6, (t1 - t0) / 1e6, error)
  }

  /** Kind of a cache call's outcome: skip when the frame is not a cache
    * scan, hit when the table existed before the call, miss otherwise. */
  def classify(r: CellRun, direct: Boolean): String =
    CacheCalls.cacheTableOf(r.result) match {
      case None => Kind.Skip
      case Some(t) if known(t) => if (direct) Kind.DirectHit else Kind.Hit
      case Some(t) =>
        known += t
        if (direct) Kind.DirectMiss else Kind.Miss
    }

  /** Digests of returned rows waiting for their uncached reference. */
  private val pending = ArrayBuffer.empty[(mutable.LinkedHashMap[String, Any], String, String)]

  /** Records a cell. `expected` is the kind the cell must have (a miss
    * that hits is a wrong hit). `check` names the uncached result the
    * returned rows must equal; the digests are compared by [[verify]],
    * after the timed window. */
  def record(
      r: CellRun,
      cls: String,
      pass: Int,
      kind: String,
      expected: Option[String],
      check: Option[String],
      traced: Boolean,
      fields: (String, Any)*): mutable.LinkedHashMap[String, Any] = {
    val m = mutable.LinkedHashMap[String, Any](
      "id" -> r.id, "cls" -> cls, "pass" -> pass, "kind" -> kind,
      "expected" -> expected.getOrElse(kind),
      "call_ms" -> r.callMs, "cell_ms" -> r.cellMs, "ok" -> true, "traced" -> traced,
      "measured" -> (startNs != 0L))
    fields.foreach { case (k, v) => m(k) = v }
    cells += m
    r.error.foreach(fail(m, _))
    if (r.error.isEmpty) {
      expected.foreach { e =>
        if (e != kind) {
          fail(m, s"expected $e, got $kind")
          if (e == Kind.Miss && kind == Kind.Hit) wrongHits += 1
        }
      }
      check.foreach(c => pending += ((m, c, Digest.of(r.rows))))
    }
    m
  }

  /** Compares every pending digest with the uncached one it names. */
  def verify(want: String => String): Unit = {
    pending.foreach { case (m, c, got) =>
      checks += 1
      val w = want(c)
      if (got != w) fail(m, s"digest $got != uncached $w")
    }
    pending.clear()
  }

  def fail(m: mutable.LinkedHashMap[String, Any], why: String): Unit = {
    m("ok") = false
    failures += s"cell ${m("id")} ${m("cls")} pass ${m("pass")}: $why"
  }

  def noteShape(cls: String, fields: (String, Any)*): Unit = {
    val m = shape.getOrElseUpdate(cls, mutable.LinkedHashMap.empty)
    fields.foreach { case (k, v) => m(k) = v }
  }
}
