package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Future, LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}

import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}

/** Direct-data caching: gives in-memory data a stable, file-backed
  * identity so downstream plans hash deterministically (reference
  * `dbfs_spark_cache/core_caching.py:119-206`, README invalidation matrix).
  *
  * The content hash is `"data_" + MD5(row digest)`. The reference digests
  * via `pd.util.hash_pandas_object` (`hashing.py:37-72`) — pandas-specific
  * bits we don't reproduce; the contract (pinned by the reference's
  * `tests/test_hashing.py:36-73`) is only: deterministic, and sensitive to
  * schema (incl. float32 vs float64), column order, row order and any
  * value perturbation. We MD5 a type-tagged canonical byte encoding of
  * (schema catalogString, every cell in row-major order); see
  * [[hashRows]] and README "Direct data" for the encoding.
  *
  * Datasets cannot carry instance attributes like the reference's
  * `_is_direct_data_cache` tag (`core_caching.py:176-178`), so identity
  * lives in a weak map keyed by the analyzed logical plan (SURVEY §1.6).
  */
object DirectData {

  private val registry =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[LogicalPlan, String]())

  private[graft] def tag(df: DataFrame, hashName: String): DataFrame = {
    registry.put(df.queryExecution.logical, hashName)
    df
  }

  /** The `_direct_data_cache_hash` equivalent, if this exact DataFrame
    * object came from [[createCachedDataFrame]]. */
  def taggedHash(df: DataFrame): Option[String] =
    Option(registry.get(df.queryExecution.logical))

  /** True when the analyzed plan is nothing but a scan of `tableId` —
    * the reference only lets *pure* scans of a `data_*` table reuse its
    * hash; any Project/Filter/Join on top must re-hash
    * (`core_caching.py:543-552`, integration notebook `:852-1049`). */
  def isPureScanOf(df: DataFrame, tableId: String): Boolean = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => strip(child)
      case other => other
    }
    val core = strip(df.queryExecution.analyzed)
    core.isInstanceOf[LeafNode] &&
    df.queryExecution.analyzed.toString.contains(tableId)
  }

  // --- deterministic content hashing -------------------------------------
  //
  // The hash is MD5 over the UTF-8 bytes of one canonical text: the
  // schema's catalogString, then per row '\n' and per cell '|' followed by
  // `null`, `d:<doubleToLongBits>`, `f:<floatToIntBits>`, `a[<cells>]`,
  // `s{<cells>}`, `binary:<hex bytes>`, `timestamp:<UTC instant>` or
  // `<type simpleString>:<value toString>`. The text is never built as a
  // string: rows are encoded straight to bytes, in fixed row-range chunks
  // on a small shared pool, and the caller digests the chunks in order.

  /** Rows per chunk. An input of at most one chunk is encoded on the
    * caller's thread. */
  private[graft] val ChunkRows = 2048

  /** Encoder threads. The caller runs the digest, so a few encoders keep
    * MD5 busy; more would only wait on it. */
  private[graft] val Parallelism =
    math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))

  /** Chunks in flight per call: encoded bytes held are O(window), not
    * O(rows). */
  private val Window = 2 * Parallelism

  private lazy val pool: ExecutorService = {
    val n = new AtomicInteger
    val ex = new ThreadPoolExecutor(Parallelism, Parallelism, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](),
      new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-direct-hash-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    ex.allowCoreThreadTimeOut(true)
    ex
  }

  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
  private val Hex = ascii("0123456789abcdef")
  private val MinLong = ascii(Long.MinValue.toString)
  private val NullCell = ascii("|null")

  /** Byte buffer for the encoded text. With a digest it is a fixed window
    * flushed into the digest when full; without one it grows to hold a
    * whole chunk. */
  private final class Out(md: MessageDigest) {
    var buf = new Array[Byte](1 << 16)
    var len = 0
    private val digits = new Array[Byte](20)

    private def room(n: Int): Unit =
      if (len + n > buf.length) {
        if (md != null) { md.update(buf, 0, len); len = 0 }
        if (len + n > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(len + n, 2 * buf.length))
      }

    def flush(): Unit = { md.update(buf, 0, len); len = 0 }

    def byte(b: Char): Unit = { room(1); buf(len) = b.toByte; len += 1 }

    def bytes(b: Array[Byte]): Unit = {
      room(b.length)
      System.arraycopy(b, 0, buf, len, b.length)
      len += b.length
    }

    /** UTF-8 of `s`; ASCII is copied without an encoder pass. */
    def string(s: String): Unit = {
      val n = s.length
      room(n)
      var i = 0
      while (i < n && s.charAt(i) < 0x80) { buf(len + i) = s.charAt(i).toByte; i += 1 }
      if (i == n) len += n
      else bytes(s.getBytes(StandardCharsets.UTF_8))
    }

    /** `v.toString` as ASCII digits. */
    def long(v: Long): Unit =
      if (v == Long.MinValue) bytes(MinLong)
      else {
        room(20)
        var x = v
        if (x < 0) { buf(len) = '-'; len += 1; x = -x }
        var p = digits.length
        while ({ p -= 1; digits(p) = ('0' + x % 10).toByte; x /= 10; x != 0 }) ()
        System.arraycopy(digits, p, buf, len, digits.length - p)
        len += digits.length - p
      }

    def hex(b: Array[Byte]): Unit = {
      room(2 * b.length)
      var i = 0
      while (i < b.length) {
        buf(len) = Hex((b(i) >> 4) & 0xf)
        buf(len + 1) = Hex(b(i) & 0xf)
        len += 2
        i += 1
      }
    }
  }

  /** Writes one non-null value of a data type; compiled once per schema. */
  private type Cell = (Any, Out) => Unit

  private def cell(c: Cell, v: Any, out: Out): Unit =
    if (v == null) out.bytes(NullCell)
    else { out.byte('|'); c(v, out) }

  private def compile(dt: DataType): Cell = dt match {
    case DoubleType =>
      val tag = ascii("d:")
      (v, out) => { out.bytes(tag); out.long(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])) }
    case FloatType =>
      val tag = ascii("f:")
      (v, out) => { out.bytes(tag); out.long(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong) }
    case ArrayType(et, _) =>
      val (tag, elem) = (ascii("a["), compile(et))
      (v, out) => {
        out.bytes(tag)
        v.asInstanceOf[scala.collection.Seq[Any]].foreach(e => cell(elem, e, out))
        out.byte(']')
      }
    case st: StructType =>
      val (tag, fields) = (ascii("s{"), st.fields.map(f => compile(f.dataType)))
      (v, out) => {
        out.bytes(tag)
        val r = v.asInstanceOf[Row]
        var i = 0
        while (i < fields.length) { cell(fields(i), r.get(i), out); i += 1 }
        out.byte('}')
      }
    // Bytes by content: the JVM's `[B@<identity>` text named equal data
    // differently on every call.
    case BinaryType =>
      val tag = ascii("binary:")
      (v, out) => { out.bytes(tag); out.hex(v.asInstanceOf[Array[Byte]]) }
    // The UTC instant: `Timestamp.toString` renders in the JVM's default
    // zone, where two instants of a DST fall-back hour read alike.
    case TimestampType =>
      val tag = ascii("timestamp:")
      (v, out) => {
        val instant = v match {
          case t: Timestamp => t.toInstant
          case i: Instant => i
          case other => throw new ClassCastException(
            s"${other.getClass.getName} is not a valid external type for $dt")
        }
        out.bytes(tag); out.string(instant.toString)
      }
    // `<simpleString>:<toString>`; boxed integers and strings are written
    // without building their text.
    case _ =>
      val tag = ascii(dt.simpleString + ":")
      (v, out) => {
        out.bytes(tag)
        v match {
          case s: String => out.string(s)
          case i: java.lang.Integer => out.long(i.longValue)
          case l: java.lang.Long => out.long(l.longValue)
          case s: java.lang.Short => out.long(s.longValue)
          case b: java.lang.Byte => out.long(b.longValue)
          case other => out.string(other.toString)
        }
      }
  }

  private def encode(rows: Array[Row], cells: Array[Cell], out: Out): Unit = {
    var r = 0
    while (r < rows.length) {
      val row = rows(r)
      out.byte('\n')
      var i = 0
      while (i < cells.length) {
        cell(cells(i), if (row.isNullAt(i)) null else row.get(i), out)
        i += 1
      }
      r += 1
    }
  }

  private def nextChunk(it: Iterator[Row]): Array[Row] = {
    val chunk = new Array[Row](ChunkRows)
    var n = 0
    while (n < ChunkRows && it.hasNext) { chunk(n) = it.next(); n += 1 }
    if (n == ChunkRows) chunk else java.util.Arrays.copyOf(chunk, n)
  }

  /** Encodes the remaining chunks on the pool, at most [[Window]] at a
    * time, and digests them in row order on the caller's thread. An
    * encoder's exception is rethrown here; unstarted chunks are dropped. */
  private def digestChunks(
      first: Array[Row], it: Iterator[Row], cells: Array[Cell], md: MessageDigest): Unit = {
    val inFlight = new java.util.ArrayDeque[Future[Out]]()
    val spare = new java.util.ArrayDeque[Out]()
    def submit(rows: Array[Row]): Unit = {
      val out = if (spare.isEmpty) new Out(null) else spare.pop()
      inFlight.add(pool.submit(new Callable[Out] {
        def call(): Out = { encode(rows, cells, out); out }
      }))
    }
    try {
      submit(first)
      while (!inFlight.isEmpty) {
        while (inFlight.size < Window && it.hasNext) submit(nextChunk(it))
        val out =
          try inFlight.poll().get()
          catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
        md.update(out.buf, 0, out.len)
        out.len = 0
        spare.push(out)
      }
    } finally inFlight.forEach(_.cancel(false))
  }

  /** MD5 over (schema incl. dtypes, row order, cell values) — the Scala
    * analogue of `_hash_input_data` (`hashing.py:37-72`). Accepts any
    * `Seq`; rows are read once, in order, by one iterator. */
  def hashRows(rows: Seq[Row], schema: StructType): String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(schema.catalogString.getBytes(StandardCharsets.UTF_8))
    val cells = schema.fields.map(f => compile(f.dataType))
    val it = rows.iterator
    val first = nextChunk(it)
    if (it.hasNext) digestChunks(first, it, cells, md)
    else {
      val out = new Out(md)
      encode(first, cells, out)
      out.flush()
    }
    PlanFingerprint.hex(md.digest())
  }

  /** Content-hash local rows; create-or-reuse the `data_<md5>` cache
    * table; return a table-backed, tagged DataFrame (reference
    * `core_caching.py:119-206`). */
  def createCachedDataFrame(
      spark: SparkSession,
      rows: Seq[Row],
      schema: StructType): DataFrame = {
    val cfg = CacheConfig.current
    val dataHash = hashRows(rows, schema)
    val cacheHashName = s"data_$dataHash"
    val tableName = cfg.tableNameFromHash(cacheHashName)
    val conf = spark.sparkContext.hadoopConfiguration
    val metadataFilePath = cfg.metadataPath(cacheHashName)

    if (spark.catalog.tableExists(tableName)) {
      PlanFingerprint.log(s"Using existing direct data cache: $tableName")
      tag(spark.read.table(tableName), cacheHashName)
    } else {
      val dfSource = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        schema)
      CacheIO.writeCacheData(dfSource, tableName)
      val metadataTxt = CacheMetadata.renderDirectData(
        dataHash,
        LocalDateTime.now(ZoneOffset.UTC).format(Freshness.TsFormat))
      CacheIO.writeText(metadataFilePath, metadataTxt, conf)
      tag(spark.read.table(tableName), cacheHashName)
    }
  }

  /** DDL-string schema variant (`"a INT, b STRING"` — reference
    * `tests/test_create_cached_dataframe.py:72`). */
  def createCachedDataFrame(
      spark: SparkSession,
      rows: Seq[Row],
      ddl: String): DataFrame =
    createCachedDataFrame(spark, rows, StructType.fromDDL(ddl))

  /** Typed variant for `Seq[Product]` with an Encoder. */
  def createCachedDataFrameTyped[T: Encoder](
      spark: SparkSession,
      data: Seq[T]): DataFrame = {
    val ds = spark.createDataset(data)(implicitly[Encoder[T]])
    val df = ds.toDF()
    createCachedDataFrame(spark, df.collect().toIndexedSeq, df.schema)
  }
}
