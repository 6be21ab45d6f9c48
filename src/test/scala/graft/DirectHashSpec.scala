package graft

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}
import java.util.TimeZone

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The direct-data hash kernel against the string encoder it replaced.
  *
  * `DirectHashSpec.oracleHash` is that encoder kept as a test oracle: one
  * `StringBuilder` over the schema's catalog string and every cell, MD5
  * over its UTF-8 bytes. Its binary and timestamp cases carry the
  * amended encodings (hex bytes, UTC instant); every other case is the
  * original code. The golden digests were computed with the original
  * `hashRows`, so they pin byte identity for existing `data_*` entries. */
class DirectHashSpec extends AnyFunSuite {
  import DirectHashSpec._

  private val C = DirectData.ChunkRows

  test("golden digests: existing data_ entries keep their names") {
    withZone("UTC") {
      val cases = Seq(
        "mixed" -> (mixedRows, mixedSchema),
        "mixed-empty" -> (Seq.empty[Row], mixedSchema),
        "double" -> (numRows.map(v => Row(v, v.toString)), doubleSchema),
        "float" -> (numRows.map(v => Row(v.toFloat, v.toString)), floatSchema),
        "generated" -> (genRows(10000, 11L, newTypes = false), genSchema(newTypes = false)))
      for ((name, (rows, schema)) <- cases) {
        assert(DirectData.hashRows(rows, schema) == Golden(name), name)
        assert(oracleHash(rows, schema) == Golden(name), s"$name (oracle)")
      }
    }
  }

  test("kernel equals the string-encoder oracle: empty, one row, chunk size +-1, pooled sizes") {
    withZone("UTC") {
      for (newTypes <- Seq(false, true); n <- Seq(0, 1, C - 1, C, C + 1, 2 * C + 1, 9 * C + 5)) {
        val schema = genSchema(newTypes)
        val rows = genRows(n, n.toLong * 31 + 7, newTypes)
        val want = oracleHash(rows, schema)
        assert(DirectData.hashRows(rows, schema) == want, s"n=$n newTypes=$newTypes")
        // any Seq: a List is iterated, never indexed by position
        assert(DirectData.hashRows(rows.toList, schema) == want, s"n=$n (List)")
      }
    }
  }

  test("binary cells hash by their bytes") {
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("b", BinaryType)))
    def rows = Seq(Row(1, Array[Byte](1, 2, 3)), Row(2, Array[Byte]()), Row(3, null))
    // fresh array objects each time: equal contents must give equal names
    assert(DirectData.hashRows(rows, schema) == DirectData.hashRows(rows, schema))
    assert(DirectData.hashRows(rows, schema) !=
      DirectData.hashRows(Seq(Row(1, Array[Byte](1, 2, 4)), Row(2, Array[Byte]()), Row(3, null)), schema))
  }

  test("timestamps hash by instant: two fall-back instants one hour apart differ") {
    val schema = StructType(Seq(StructField("t", TimestampType)))
    // 01:30 on 2021-11-07 happens twice in New York (EDT, then EST).
    val early = Timestamp.from(Instant.parse("2021-11-07T05:30:00Z"))
    val late = Timestamp.from(Instant.parse("2021-11-07T06:30:00Z"))
    val inNewYork = withZone("America/New_York") {
      assert(early.toString == late.toString, "the zone must render both instants alike")
      (DirectData.hashRows(Seq(Row(early)), schema), DirectData.hashRows(Seq(Row(late)), schema))
    }
    assert(inNewYork._1 != inNewYork._2)
    // the driver's zone is not part of the identity
    withZone("UTC") {
      assert(DirectData.hashRows(Seq(Row(early)), schema) == inNewYork._1)
      // java.time.Instant cells (the java8 datetime API) name the same data
      assert(DirectData.hashRows(Seq(Row(early.toInstant)), schema) == inNewYork._1)
    }
  }

  test("an encoder exception reaches the caller and leaves no extra live threads") {
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("d", DoubleType)))
    def rows(n: Int, bad: Int) = Vector.tabulate(n)(i => Row(i, if (i == bad) "oops" else i * 0.5))
    // warm the pool, then fail on the caller thread and inside pool tasks
    DirectData.hashRows(rows(4 * C, -1), schema)
    val before = poolThreads()
    assert(before <= DirectData.Parallelism)
    for (round <- 0 until 5) {
      intercept[ClassCastException](DirectData.hashRows(rows(10, 3), schema))
      intercept[ClassCastException](DirectData.hashRows(rows(6 * C, 2 * C + round), schema))
    }
    assert(poolThreads() <= DirectData.Parallelism)
    // the pool still serves later calls
    assert(DirectData.hashRows(rows(4 * C, -1), schema) == oracleHash(rows(4 * C, -1), schema))
  }

  private def poolThreads(): Int = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.count(t => t.isAlive && t.getName.startsWith("graft-direct-hash"))
  }
}

object DirectHashSpec {

  /** Digests of the original string encoder (`hashRows` before the
    * chunked kernel), computed in the UTC zone. */
  val Golden: Map[String, String] = Map(
    "mixed" -> "83ec5e0b0321c27f1c83efcd8338f0b7",
    "mixed-empty" -> "61130f69c0d83a774a160fa4ab439c4f",
    "double" -> "80ba93a0bcaf8fcccd1e172ed2ab5860",
    "float" -> "6aec79baf7598ae832e9b4d3c4775b53",
    "generated" -> "72f12ded2aeee6794940911d0d97fca0")

  def withZone[T](id: String)(body: => T): T = {
    val saved = TimeZone.getDefault
    TimeZone.setDefault(TimeZone.getTimeZone(id))
    try body
    finally TimeZone.setDefault(saved)
  }

  // --- the replaced string encoder ---------------------------------------

  private def cellBytes(v: Any, dt: DataType, sb: StringBuilder): Unit = {
    sb.append('|')
    if (v == null) { sb.append("null"); return }
    dt match {
      case DoubleType => sb.append("d:").append(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
      case FloatType => sb.append("f:").append(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]))
      case ArrayType(et, _) =>
        sb.append("a[")
        v.asInstanceOf[scala.collection.Seq[Any]].foreach(e => cellBytes(e, et, sb))
        sb.append(']')
      case st: StructType =>
        sb.append("s{")
        val r = v.asInstanceOf[Row]
        st.fields.zipWithIndex.foreach { case (f, i) => cellBytes(r.get(i), f.dataType, sb) }
        sb.append('}')
      // amended: bytes by content, timestamps by instant
      case BinaryType =>
        sb.append("binary:")
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case TimestampType =>
        val i = v match {
          case t: Timestamp => t.toInstant
          case i: Instant => i
        }
        sb.append("timestamp:").append(i.toString)
      case _ => sb.append(dt.simpleString).append(':').append(v.toString)
    }
  }

  def oracleHash(rows: Seq[Row], schema: StructType): String = {
    val sb = new StringBuilder(schema.catalogString)
    rows.foreach { r =>
      sb.append('\n')
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        cellBytes(if (r.isNullAt(i)) null else r.get(i), f.dataType, sb)
      }
    }
    PlanFingerprint.md5Hex(sb.toString)
  }

  // --- fixtures ------------------------------------------------------------

  val mixedSchema: StructType = StructType(Seq(
    StructField("i", IntegerType),
    StructField("l", LongType),
    StructField("s", ShortType),
    StructField("y", ByteType),
    StructField("b", BooleanType),
    StructField("d", DoubleType),
    StructField("f", FloatType),
    StructField("dec", DecimalType(12, 4)),
    StructField("dt", DateType),
    StructField("str", StringType),
    StructField("arr", ArrayType(IntegerType)),
    StructField("st", StructType(Seq(
      StructField("x", LongType),
      StructField("tags", ArrayType(StringType))))),
    StructField("recs", ArrayType(StructType(Seq(
      StructField("k", StringType),
      StructField("v", DoubleType)))))))

  private def dec(s: String) = new java.math.BigDecimal(s)

  val mixedRows: Seq[Row] = Seq(
    Row(1, 2L, 3.toShort, 4.toByte, true, 1.5, 2.5f, dec("12345.6789"),
      Date.valueOf("2020-01-15"), "plain", Seq(1, 2, 3),
      Row(7L, Seq("a", "b")), Seq(Row("k1", 0.25), Row("k2", -1.0))),
    Row(Int.MinValue, Long.MinValue, Short.MinValue, Byte.MinValue, false,
      Double.NaN, Float.NaN, dec("-0.0001"), Date.valueOf("1969-12-31"),
      "na\u00efve \u65e5\u672c \ud83d\ude00", Seq(),
      Row(-1L, Seq(null, "z\u00e9")), Seq()),
    Row(Int.MaxValue, Long.MaxValue, Short.MaxValue, Byte.MaxValue, true,
      -0.0, -0.0f, dec("99999999.9999"), null, "", Seq(0, null),
      Row(null, null), Seq(null, Row(null, Double.NegativeInfinity))),
    Row(null, null, null, null, null, null, null, null, null, null, null, null, null),
    Row(0, 0L, 0.toShort, 0.toByte, false, Double.PositiveInfinity,
      Float.MinPositiveValue, dec("0"), Date.valueOf("2000-02-29"),
      "pipe|and\nnewline \\ null", null, null, null))

  val doubleSchema: StructType = StructType(Seq(
    StructField("v", DoubleType), StructField("text", StringType)))
  val floatSchema: StructType = StructType(Seq(
    StructField("v", FloatType), StructField("text", StringType)))
  val numRows: Seq[Double] = Seq(0.0, -0.0, 6.1, 6.1000001, 1e-300, -2.5e10, Double.NaN)

  private val extraFields = Seq(
    StructField("bin", BinaryType),
    StructField("ts", TimestampType))

  def genSchema(newTypes: Boolean): StructType =
    StructType(mixedSchema.fields.toSeq ++ (if (newTypes) extraFields else Nil))

  private val charPool =
    "abcdefghijklmnopqrstuvwxyzABCXYZ0123456789 -_|\n\u00ef\u00e9\u65e5\u672c\ud83d\ude00"

  /** `n` seeded rows of [[genSchema]]; about one cell in ten is null. */
  def genRows(n: Int, seed: Long, newTypes: Boolean): Vector[Row] = {
    val r = new scala.util.Random(seed)
    def orNull(v: => Any): Any = if (r.nextInt(10) == 0) null else v
    def str(): String = {
      val len = r.nextInt(12)
      val sb = new StringBuilder
      for (_ <- 0 until len) sb.append(charPool.charAt(r.nextInt(charPool.length)))
      sb.toString
    }
    def dbl(): Double = r.nextInt(20) match {
      case 0 => Double.NaN
      case 1 => -0.0
      case 2 => Double.PositiveInfinity
      case _ => (r.nextDouble() - 0.5) * math.pow(10, r.nextInt(12) - 4)
    }
    def long(): Long = r.nextInt(30) match {
      case 0 => Long.MinValue
      case 1 => Long.MaxValue
      case _ => r.nextLong() >> r.nextInt(60)
    }
    Vector.fill(n) {
      val base = Seq[Any](
        orNull(r.nextInt() >> r.nextInt(31)),
        orNull(long()),
        orNull((r.nextInt(65536) - 32768).toShort),
        orNull((r.nextInt(256) - 128).toByte),
        orNull(r.nextBoolean()),
        orNull(dbl()),
        orNull(dbl().toFloat),
        orNull(java.math.BigDecimal.valueOf(r.nextLong() % 1000000000000L, 4)),
        orNull(Date.valueOf(LocalDate.ofEpochDay(r.nextInt(60000) - 20000L))),
        orNull(str()),
        orNull(Seq.fill(r.nextInt(4))(orNull(r.nextInt(1000)))),
        orNull(Row(orNull(long()), orNull(Seq.fill(r.nextInt(3))(orNull(str()))))),
        orNull(Seq.fill(r.nextInt(3))(orNull(Row(orNull(str()), orNull(dbl()))))))
      val extra =
        if (!newTypes) Nil
        else Seq[Any](
          orNull(Array.fill(r.nextInt(6))(r.nextInt(256).toByte)),
          orNull {
            val t = new Timestamp(r.nextLong() % 4000000000000L)
            t.setNanos(r.nextInt(1000000000))
            t
          })
      Row.fromSeq(base ++ extra)
    }
  }
}
