package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result: the row count plus two wrapping
  * sums of each row's MD5. Equal multisets of rows give equal digests in
  * any order; a changed, missing or duplicated row changes it. Values are
  * rendered exactly (doubles by their shortest round-trip form), so a
  * cached re-read must match the uncached result bit for bit. */
object Digest {

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("\u0000N")
    case r: Row =>
      sb.append('{')
      var i = 0
      while (i < r.length) { render(r.get(i), sb); sb.append(','); i += 1 }
      sb.append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { e => render(e, sb); sb.append(',') }
      sb.append(']')
    case m: scala.collection.Map[_, _] =>
      sb.append('<')
      m.toSeq.map { case (k, x) =>
        val b = new java.lang.StringBuilder
        render(k, b); b.append(':'); render(x, b); b.toString
      }.sorted.foreach(e => sb.append(e).append(','))
      sb.append('>')
    case d: Double => sb.append("d").append(java.lang.Double.toString(d))
    case f: Float => sb.append("f").append(java.lang.Float.toString(f))
    case b: Array[Byte] => sb.append("b").append(java.util.Arrays.toString(b))
    case other => sb.append(other.getClass.getSimpleName.take(2)).append(other.toString)
  }

  def rowKey(r: Row): String = {
    val sb = new java.lang.StringBuilder
    render(r, sb)
    sb.toString
  }

  def of(rows: Iterable[Row]): String = {
    var n = 0L
    var hi = 0L
    var lo = 0L
    val md = MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val bb = ByteBuffer.wrap(md.digest(rowKey(r).getBytes(StandardCharsets.UTF_8)))
      hi += bb.getLong
      lo += bb.getLong
      n += 1
    }
    f"$n%d:$hi%016x$lo%016x"
  }
}
