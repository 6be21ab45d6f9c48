package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val rows = Seq(
    Row(1L, "a", 0.1, null),
    Row(2L, "b", 1e-5, Seq(1, 2)),
    Row(3L, "c", Double.NaN, Row("x", 2)),
    Row(3L, "c", Double.NaN, Row("x", 2)))

  test("digest ignores row order") {
    assert(Digest.of(rows) == Digest.of(rows.reverse))
    assert(Digest.of(rows) == Digest.of(Seq(rows(2), rows(0), rows(3), rows(1))))
  }

  test("digest sees a changed, missing or duplicated row") {
    val d = Digest.of(rows)
    assert(Digest.of(rows.updated(0, Row(1L, "a", 0.1000000001, null))) != d)
    assert(Digest.of(rows.take(3)) != d)
    assert(Digest.of(rows :+ rows.head) != d)
  }

  test("digest tells types and nulls apart") {
    assert(Digest.of(Seq(Row(1L))) != Digest.of(Seq(Row(1))))
    assert(Digest.of(Seq(Row(null))) != Digest.of(Seq(Row("null"))))
    assert(Digest.of(Seq(Row("a", "b"))) != Digest.of(Seq(Row("ab", ""))))
  }

  test("empty results have a digest") {
    assert(Digest.of(Nil) == Digest.of(Seq.empty[Row]))
    assert(Digest.of(Nil) != Digest.of(Seq(Row())))
  }
}
