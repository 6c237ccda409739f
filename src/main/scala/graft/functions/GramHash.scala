package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-gram hashing + winnowing window minima — the per-gram inner
  * loops of the x24/x25 winnowing fingerprints and c15's content-defined
  * chunk boundaries.
  *
  * The `transform(sequence(...), i -> conv(substr(md5(array_join(slice(ws,
  * i+1, n), ' ')), 1, 6), 16, 10))` chains these replace are CodegenFallback
  * higher-order functions: per GRAM an interpreted lambda builds a slice
  * array, joins it to a fresh string, md5s it through the interpreted
  * expression path, and boxes the result — for every word of every
  * document. These kernels do one byte-walk per row and one MessageDigest
  * per gram (the [[Shingles]]/[[Md5Seed]] pattern), inside the surrounding
  * WholeStageCodegen span. Hash values are bit-identical:
  * `conv(substr(md5(s), 1, 6), 16, 10)` IS [[Md5Seed.prefixLong]] (the
  * contract pinned in that file), and GramHashSpec re-derives every value
  * against the SQL template.
  */

/** `graft_gram_h6(ws, n, salt)` — for every FULL n-word window of `ws`
  * (joined by one space, exactly `array_join(slice(ws, i+1, n), ' ')` —
  * null words skipped like array_join does), the first-6-hex-digit md5
  * prefix of gram+salt as a long. A row with fewer than n words yields an
  * EMPTY array (the x24 full-windows contract).
  */
case class GramHash6(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression
    with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), IntegerType, StringType)
  override def prettyName: String = "graft_gram_h6"

  override protected def nullSafeEval(ws: Any, n: Any, salt: Any): Any =
    GramHash.gramH6(
      ws.asInstanceOf[ArrayData],
      n.asInstanceOf[Int],
      salt.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ws, n, salt) => s"graft.functions.GramHash.gramH6($ws, $n, $salt)")

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression
  ): GramHash6 = copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_gram_h14(ws, n, salt)` — [[GramHash6]] with a 14-hex-digit
  * (56-bit) prefix: `conv(substr(md5(gram || salt), 1, 14), 16, 10)` per
  * full n-word window — the c28 maximal-span gram keys (and the c3/c16
  * gk width). 14 hex digits = the first 7 digest bytes, big-endian.
  */
case class GramHash14(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression
    with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), IntegerType, StringType)
  override def prettyName: String = "graft_gram_h14"

  override protected def nullSafeEval(ws: Any, n: Any, salt: Any): Any =
    GramHash.gramH14(
      ws.asInstanceOf[ArrayData],
      n.asInstanceOf[Int],
      salt.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ws, n, salt) => s"graft.functions.GramHash.gramH14($ws, $n, $salt)")

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression
  ): GramHash14 = copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_win_min(hs, w)` — winnowing window minima over a long array with
  * x24's edge rule: size ≥ w → array_min of every w-window; 1 ≤ size < w →
  * the single global min; empty → empty. Replaces the
  * `transform(sequence(0, size(hs) - w), j -> array_min(slice(hs, j+1, w)))`
  * interpreted chain.
  */
case class WinMin(left: Expression, right: Expression)
    extends BinaryExpression
    with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), IntegerType)
  override def prettyName: String = "graft_win_min"

  override protected def nullSafeEval(hs: Any, w: Any): Any =
    GramHash.winMin(hs.asInstanceOf[ArrayData], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hs, w) => s"graft.functions.GramHash.winMin($hs, $w)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): WinMin = copy(left = newLeft, right = newRight)
}

object GramHash {

  /** One digest instance per evaluation call would be correct but slow;
    * MessageDigest is not thread-safe, so keep one per thread.
    */
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def gramH6(ws: ArrayData, n: Int, salt: UTF8String): ArrayData =
    gramHash(ws, n, salt, 3)

  def gramH14(ws: ArrayData, n: Int, salt: UTF8String): ArrayData =
    gramHash(ws, n, salt, 7)

  /** Shared gram walk: per full n-word window, the first `nBytes` digest
    * bytes of md5(gram || salt) big-endian — nBytes = 3 is the 6-hex-digit
    * prefix, 7 the 14-digit one (both exactly `conv(substr(md5(s), 1,
    * 2·nBytes), 16, 10)`).
    */
  private def gramHash(ws: ArrayData, n: Int, salt: UTF8String, nBytes: Int): ArrayData = {
    val nWords = ws.numElements()
    val count  = math.max(nWords - n + 1, 0)
    if (count == 0) return new GenericArrayData(Array.emptyLongArray)
    val words = Array.tabulate(nWords) { i =>
      if (ws.isNullAt(i)) null else ws.getUTF8String(i).getBytes
    }
    val saltBytes = salt.getBytes
    val out       = new Array[Long](count)
    val buf       = new java.io.ByteArrayOutputStream(64)
    val d         = md5.get()
    var w         = 0
    while (w < count) {
      buf.reset()
      var j     = 0
      var first = true
      while (j < n) {
        val wb = words(w + j)
        if (wb != null) { // array_join/concat_ws skip null elements
          if (!first) buf.write(' ')
          buf.write(wb, 0, wb.length)
          first = false
        }
        j += 1
      }
      buf.write(saltBytes, 0, saltBytes.length)
      d.reset()
      val dig = d.digest(buf.toByteArray)
      var v   = 0L
      var bi  = 0
      while (bi < nBytes) { v = (v << 8) | (dig(bi) & 0xffL); bi += 1 }
      out(w) = v
      w += 1
    }
    new GenericArrayData(out)
  }

  /** See [[PhashPix]]: row i reads one byte of md5("{src}|px{i div 8}") —
    * substr(hex, (i%8)*4+1, 2) is exactly digest byte (i%8)*2, so the eight
    * row digests are computed once each and each pixel is one array read.
    * `% 256` is a no-op on a single byte but kept in the formula contract.
    */
  def phashPix(src: Long): ArrayData = {
    val out = new Array[Long](64)
    val d   = md5.get()
    var row = 0
    while (row < 8) {
      d.reset()
      val dig =
        d.digest((src.toString + "|px" + row).getBytes(StandardCharsets.UTF_8))
      var j = 0
      while (j < 8) {
        out(row * 8 + j) = (dig(j * 2) & 0xffL) % 256
        j += 1
      }
      row += 1
    }
    new GenericArrayData(out)
  }

  /** aHash bit vector for the m10/m11 pixel stream: [[phashPix]]'s 64
    * pixels, an optional single-pixel perturbation ((pix + 128) % 256 at
    * `pertPos`; pertPos < 0 = none), mean = Σpix div 64, bit i =
    * pix(i) > mean — the fused form of the interpreted
    * `aggregate(pix, …) div 64` + `transform(pix, x -> CASE …)` chains.
    */
  def phashBits(src: Long, pertPos: Int): ArrayData = {
    val pixArr = phashPix(src).asInstanceOf[GenericArrayData]
    val pix    = new Array[Long](64)
    var i      = 0
    var sum    = 0L
    while (i < 64) { pix(i) = pixArr.getLong(i); i += 1 }
    if (pertPos >= 0 && pertPos < 64) pix(pertPos) = (pix(pertPos) + 128) % 256
    i = 0
    while (i < 64) { sum += pix(i); i += 1 }
    val mean = sum / 64
    val out  = new Array[Long](64)
    i = 0
    while (i < 64) { out(i) = if (pix(i) > mean) 1L else 0L; i += 1 }
    new GenericArrayData(out)
  }

  /** The 4 × 16-bit banded-LSH keys of a 64-bit vector: key b =
    * fold(acc·2 + bit) over bits[16b .. 16b+15] — exactly
    * `transform(sequence(0, 3), b -> aggregate(slice(bits, b*16+1, 16),
    * 0L, (acc, x) -> acc*2 + x))` (slice truncates at the array end, so a
    * short array yields the same shorter folds).
    */
  def bandKeys(bits: ArrayData): ArrayData = {
    val n   = bits.numElements()
    val out = new Array[Long](4)
    var b   = 0
    while (b < 4) {
      var acc = 0L
      var i   = b * 16
      val end = math.min(i + 16, n)
      while (i < end) { acc = acc * 2 + bits.getLong(i); i += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** m11's exact-Hamming flip: flip bit positions (fstart + j·fstep) mod 64
    * for j in 0..f−1 — `array_contains` semantics (a position is flipped at
    * most ONCE even if the progression revisits it), matching the
    * spelled-out `transform(sequence(0, 63), i -> CASE WHEN
    * array_contains(flips, i) THEN 1 - bits[i] ELSE bits[i] END)` template.
    * The template always yields 64 elements, so any other input length is
    * rejected rather than silently diverging from it.
    */
  def flipBits(bits: ArrayData, f: Int, fstart: Long, fstep: Long): ArrayData = {
    val n = bits.numElements()
    require(n == 64, s"graft_flip_bits needs a 64-element bit array, got $n elements")
    var mask = 0L
    var j    = 0
    while (j < f) {
      val p = (((fstart + j * fstep) % 64) + 64) % 64
      mask |= 1L << p
      j += 1
    }
    val out = new Array[Long](n)
    var i   = 0
    while (i < n) {
      val bit = bits.getLong(i)
      out(i) = if (((mask >>> i) & 1L) == 1L) 1L - bit else bit
      i += 1
    }
    new GenericArrayData(out)
  }

  def winMin(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    if (n < w) {
      var m = hs.getLong(0)
      var i = 1
      while (i < n) { m = math.min(m, hs.getLong(i)); i += 1 }
      return new GenericArrayData(Array(m))
    }
    val out = new Array[Long](n - w + 1)
    var j   = 0
    while (j <= n - w) {
      var m = hs.getLong(j)
      var i = 1
      while (i < w) { m = math.min(m, hs.getLong(j + i)); i += 1 }
      out(j) = m
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_phash_pix(src)` — the m10/m11 deterministic 8×8 "fake decode"
  * pixel stream: pix[i] = conv(substr(md5(src || '|px' || (i div 8)),
  * (i % 8) * 4 + 1, 2), 16, 10) % 256 for i in 0..63 — eight md5 digests
  * per IMAGE instead of sixty-four interpreted md5 lambda evaluations per
  * image (each element of the old `transform(sequence(0, 63), ...)`
  * re-computed its row digest through the interpreted path).
  */
case class PhashPix(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def prettyName: String = "graft_phash_pix"

  override protected def nullSafeEval(src: Any): Any =
    GramHash.phashPix(src.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, src => s"graft.functions.GramHash.phashPix($src)")

  override protected def withNewChildInternal(newChild: Expression): PhashPix =
    copy(child = newChild)
}

/** `graft_phash_bits(src, pertPos)` — the m10/m11 aHash bit vector
  * (pixels → optional single-pixel +128 perturbation → mean → bits) in one
  * codegen'd call: replaces three chained interpreted HOFs per image
  * (the pixel transform, the `aggregate` mean fold and the bit-threshold
  * transform). pertPos < 0 = no perturbation.
  */
case class PhashBits(left: Expression, right: Expression)
    extends BinaryExpression
    with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def prettyName: String = "graft_phash_bits"

  override protected def nullSafeEval(src: Any, pertPos: Any): Any =
    GramHash.phashBits(src.asInstanceOf[Long], pertPos.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (src, p) => s"graft.functions.GramHash.phashBits($src, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): PhashBits = copy(left = newLeft, right = newRight)
}

/** `graft_band_keys(bits)` — the 4 × 16-bit banded-LSH keys of a 64-bit
  * vector (the m10/m11 `transform(sequence(0, 3), b -> aggregate(...))`
  * fold, codegen'd).
  */
case class BandKeys(child: Expression)
    extends UnaryExpression
    with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def prettyName: String = "graft_band_keys"

  override protected def nullSafeEval(bits: Any): Any =
    GramHash.bandKeys(bits.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, bits => s"graft.functions.GramHash.bandKeys($bits)")

  override protected def withNewChildInternal(newChild: Expression): BandKeys =
    copy(child = newChild)
}

/** `graft_flip_bits(bits, f, fstart, fstep)` — m11's planted exact-Hamming
  * perturbation: flip positions (fstart + j·fstep) mod 64, j < f, each at
  * most once (array_contains semantics).
  */
case class FlipBits(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression
    with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), IntegerType, LongType, LongType)
  override def prettyName: String = "graft_flip_bits"

  override protected def nullSafeEval(bits: Any, f: Any, fstart: Any, fstep: Any): Any =
    GramHash.flipBits(
      bits.asInstanceOf[ArrayData],
      f.asInstanceOf[Int],
      fstart.asInstanceOf[Long],
      fstep.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      (b, f, st, sp) => s"graft.functions.GramHash.flipBits($b, $f, $st, $sp)")

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression,
      newFourth: Expression
  ): FlipBits =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}
