package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.commons.codec.binary.Hex
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-local text hashing for the dedup operators, as native codegen
  * expressions.
  *
  * The composed-operator formulation (tokens -> zip_with n-gram arrays ->
  * explode strings -> distinct -> conv(substr(md5(..),1,15),16,10)) is
  * correct but pays three scale taxes the 100 TB path cannot afford:
  * higher-order lambdas are CodegenFallback (interpreted, allocation-heavy,
  * GC-variance-prone — the driver's round-1 bench saw q20 at 9x its local
  * time under container contention), the per-doc `distinct` shuffles full
  * shingle STRINGS across the cluster, and `conv` routes every hash through
  * a hex string + BigInteger parse. These expressions do the whole
  * text -> hashes pipeline in one tight loop per row:
  *
  *  - [[ShingleHash60]]: word n-grams -> md5-low-60-bit hashes, deduped
  *    in-expression (doc-local dedup == the relational
  *    `SELECT DISTINCT doc_id, shingle` because doc_id is part of the key),
  *    so the downstream explode emits 8-byte longs and NO distinct shuffle
  *    is needed at all.
  *  - [[SimHash16]]: the complete 16-bit SimHash fingerprint per document —
  *    what was explode(tokens) x explode(16 bits) + two shuffled
  *    aggregations becomes a shuffle-free scan.
  *  - [[LshBands]]: a shingle-hash set's MinHash-LSH band keys — all
  *    `bands * rowsPerBand` minima and the md5 band buckets in one loop,
  *    where the composed form ran one interpreted `array_min(transform)`
  *    lambda per minimum.
  *
  * Bit-compatibility contract (pinned by the DuckDB oracle, q19-q21):
  * tokenization matches `filter(split(text,'\s+'), _ <> '')` (Java regex
  * `\s` = [ \t\n\x0B\f\r]); the hash value equals
  * `conv(substr(md5(s),1,15),16,10)` = the md5 digest's first 8 bytes as a
  * big-endian long >>> 4 (15 hex nibbles, 60 bits, sign-free in any int64
  * engine).
  */
object TextHash {

  private val digests: ThreadLocal[MessageDigest] =
    new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest =
        MessageDigest.getInstance("MD5")
    }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Whitespace tokens, empties dropped — identical to
    * [[graft.text.TextAnalysis.tokens]].
    */
  private def tokenize(s: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](16)
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  /** First 15 hex chars of md5(bytes) as an unsigned 60-bit long. */
  private def low60(md: MessageDigest, bytes: Array[Byte]): Long = {
    val d = md.digest(bytes) // digest() resets the instance
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
  }

  /** Deduped 60-bit hashes of the word `n`-grams of `text` (called from
    * generated code — keep the signature Java-friendly).
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text.toString)
    val count = toks.length - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Long])
    val md = digests.get()
    val seen = new java.util.HashSet[java.lang.Long](count * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Long](count)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      val h = low60(md, sb.toString.getBytes(StandardCharsets.UTF_8))
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** 16-bit SimHash of `text` with per-occurrence token votes, or -1 if
    * the text has no tokens (callers surface that as NULL — matching the
    * relational formulation, where a token-less doc has no vote rows and
    * vanishes from the output).
    */
  def simhashOrSentinel(text: UTF8String): Long = {
    val toks = tokenize(text.toString)
    if (toks.isEmpty) return -1L
    val md = digests.get()
    val votes = new Array[Int](16)
    var i = 0
    while (i < toks.length) {
      // seed-2 member of the portable family: md5("2:" || tok) low60 mod 2^16
      val h16 = (low60(md,
        ("2:" + toks(i)).getBytes(StandardCharsets.UTF_8)) & 0xffffL).toInt
      var j = 0
      while (j < 16) {
        votes(j) += (((h16 >> j) & 1) * 2) - 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 16) {
      if (votes(j) > 0) fp |= 1L << j
      j += 1
    }
    fp
  }

  /** MinHash-LSH band keys of one shingle-hash set: for each band b a
    * `(band, bucket)` struct, `bucket` the lowercase-hex md5 of the
    * band's minima `m(b*rowsPerBand) … m(b*rowsPerBand + rowsPerBand-1)`
    * joined by ",", where minimum i is the smallest
    * [[PortableHash.minhash]] member i over the set's non-null hashes,
    * each first reduced mod [[PortableHash.MinhashPrime]]. Bit-identical
    * to `md5(concat_ws(",", array_min(transform(shs, x ->
    * minhash(x % prime, i)))…))`: Java `%` is Spark's remainder, the
    * affine step stays below 2^62, a long prints as `Long.toString`,
    * and an empty set's null minima leave `concat_ws` an empty string.
    * `a`/`b` are the family's [[affineFamily]], built once per
    * expression, not per row.
    */
  def lshBands(shs: ArrayData, bands: Int, rowsPerBand: Int,
      a: Array[Long], b: Array[Long]): ArrayData = {
    val k = bands * rowsPerBand
    val p = PortableHash.MinhashPrime
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < shs.numElements()) {
      if (!shs.isNullAt(j)) {
        any = true
        val h31 = shs.getLong(j) % p
        var i = 0
        while (i < k) {
          val v = (a(i) * h31 + b(i)) % p
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    val md = digests.get()
    val sb = new java.lang.StringBuilder
    val out = new Array[Any](bands)
    var band = 0
    while (band < bands) {
      sb.setLength(0)
      var r = 0
      while (any && r < rowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(mins(band * rowsPerBand + r))
        r += 1
      }
      // Spark's md5: DigestUtils.md5Hex, i.e. this lowercase hex
      val hex = Hex.encodeHexString(
        md.digest(sb.toString.getBytes(StandardCharsets.UTF_8)))
      out(band) = new GenericInternalRow(
        Array[Any](band, UTF8String.fromString(hex)))
      band += 1
    }
    new GenericArrayData(out)
  }

  /** The first `k` [[PortableHash.affineParams]] as `(a, b)` arrays. */
  def affineFamily(k: Int): (Array[Long], Array[Long]) =
    (0 until k).map(PortableHash.affineParams).toArray.unzip

  /** Column API: `array<struct<band int, bucket string>>`, one
    * [[lshBands]] key per band of an `array<bigint>` shingle set.
    */
  def lshBands(shs: Column, bands: Int, rowsPerBand: Int): Column =
    ColumnBridge.column(LshBands(ColumnBridge.expression(shs), bands,
      rowsPerBand))

  /** md5-low-60 of a Scala string — for deriving deterministic constants
    * (e.g. LSH hyperplane components) at PLAN time with the same hash
    * family the portable column expressions use.
    */
  def md5Low60(s: String): Long =
    low60(digests.get(), s.getBytes(StandardCharsets.UTF_8))

  /** Polynomial rolling hash over the codepoints of `text`:
    * `acc = (acc*257 + cp) mod (2^31-1)`, acc0 = 0. Streams through the
    * string in one pass — the classic document-fingerprint recurrence —
    * and every intermediate stays below 2^40, so the arithmetic is exact
    * in ANY int64 engine (the DuckDB oracle replays it as a list_reduce
    * over `unicode(s[i])`, which indexes codepoints identically).
    */
  def rollingHash(text: UTF8String): Long = {
    val s = text.toString
    var acc = 0L
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      acc = (acc * 257L + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    acc
  }

  /** One-pass token statistics: (n_tokens, sum_len, n_stop) where
    * sum_len counts CODEPOINTS per token (Spark `length` semantics ==
    * DuckDB `length`) and n_stop counts tokens whose lowercase equals a
    * stopword. Replaces a tokenize + two interpreted higher-order
    * lambdas (filter/aggregate are CodegenFallback) with one walk.
    */
  def tokenStats(text: UTF8String, stops: java.util.HashSet[String])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val toks = tokenize(text.toString)
    var sumLen = 0L
    var nStop = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      sumLen += t.codePointCount(0, t.length)
      if (stops.contains(t.toLowerCase(java.util.Locale.ROOT))) nStop += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](toks.length, sumLen, nStop))
  }

  /** Column API: struct(n_tokens int, sum_len long, n_stop int). */
  def tokenStats(text: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(TokenStats(ColumnBridge.expression(text), stopwords))

  /** Deduped word `n`-gram STRINGS (insertion order) — for operators
    * that need the gram text itself (n-gram statistics); the hashed
    * variant is the dedup-pipeline path.
    */
  def shingleStrings(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text.toString)
    val count = toks.length - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val seen = new java.util.LinkedHashSet[String](count * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Column API: deduped word-n-gram strings (array<string>). */
  def shingleStringsCol(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleStrings(ColumnBridge.expression(text), n))

  /** Column API: deduped md5-low60 word-n-gram hashes (array<long>). */
  def shingleHash60(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHash60(ColumnBridge.expression(text), n))

  /** Column API: codepoint rolling-hash fingerprint (long). */
  def rollingFingerprint(text: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(text)))

  /** Column API: 16-bit SimHash fingerprint; NULL when no tokens. */
  def simhash16(text: Column): Column =
    ColumnBridge.column(SimHash16(ColumnBridge.expression(text)))
}

/** See [[TextHash.shingleHashes]]. */
case class ShingleHash60(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 2 && n <= 5, "shingle width 2..5")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash60"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string column, got ${child.dataType.sql}")

  override def nullSafeEval(t: Any): Any =
    TextHash.shingleHashes(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.shingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash60 =
    copy(child = newChild)
}

/** See [[TextHash.lshBands]]. */
case class LshBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  require(bands >= 1 && rowsPerBand >= 1, "at least one band of one row")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "lsh_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<bigint> column, got ${t.sql}")
  }

  @transient private lazy val family =
    TextHash.affineFamily(bands * rowsPerBand)

  /** [[TextHash.lshBands]] of one row with this expression's family.
    * (Called from generated code — keep the signature Java-friendly.)
    */
  def keys(shs: ArrayData): ArrayData =
    TextHash.lshBands(shs, bands, rowsPerBand, family._1, family._2)

  override def nullSafeEval(shs: Any): Any = keys(shs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("lshBands", this)
    defineCodeGen(ctx, ev, c => s"$self.keys($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBands =
    copy(child = newChild)
}

/** See [[TextHash.shingleStrings]]. */
case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 2 && n <= 5, "shingle width 2..5")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string column, got ${child.dataType.sql}")

  override def nullSafeEval(t: Any): Any =
    TextHash.shingleStrings(t.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.shingleStrings($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

/** See [[TextHash.tokenStats]]. The stopword set is a plan-time constant
  * shared across rows via a codegen reference object.
  */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(w => s.add(w.toLowerCase(java.util.Locale.ROOT)))
    s
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))
  override def prettyName: String = "token_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string column, got ${child.dataType.sql}")

  override def nullSafeEval(t: Any): Any =
    TextHash.tokenStats(t.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet,
      classOf[java.util.HashSet[String]].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.tokenStats($c, $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** See [[TextHash.rollingHash]]. */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string column, got ${child.dataType.sql}")

  override def nullSafeEval(t: Any): Any =
    TextHash.rollingHash(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.rollingHash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** See [[TextHash.simhashOrSentinel]]; sentinel surfaces as NULL. */
case class SimHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash16"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string column, got ${child.dataType.sql}")

  override def nullSafeEval(t: Any): Any = {
    val h = TextHash.simhashOrSentinel(t.asInstanceOf[UTF8String])
    if (h < 0) null else h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val h = ctx.freshName("h")
      s"""
         |long $h = graft.functions.TextHash.simhashOrSentinel($c);
         |if ($h < 0) { ${ev.isNull} = true; } else { ${ev.value} = $h; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}
