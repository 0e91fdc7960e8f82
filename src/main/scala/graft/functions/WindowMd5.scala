package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `window_md5(text, width, hex_prefix)` — the distinct lowercase md5 hex
  * digests of every `width`-character window of `text` whose digest starts
  * with `hex_prefix`, in first-occurrence order. Windows start at character
  * positions 1 … `length(text) - width + 1` and are hashed over their UTF-8
  * bytes, so for `length(text) >= width` the result equals
  * {{{
  * array_distinct(filter(
  *   transform(sequence(1, length(text) - width + 1),
  *             i -> md5(cast(substring(text, i, width) as binary))),
  *   h -> startswith(h, hex_prefix)))
  * }}}
  * Text shorter than `width` gives an empty array (the spelling above
  * would count `sequence` down instead); a null argument gives null; a
  * width below 1 is an error.
  *
  * Why native: the spelling above is an interpreted lambda (Spark's
  * higher-order functions are `CodegenFallback`) that allocates a
  * substring, a binary copy, a `MessageDigest` and a 32-char hex string
  * per WINDOW — one per character of the corpus. Here one compiled call per
  * row walks the bytes with `UTF8String.numBytesForFirstByte` (the
  * boundaries `substring` uses), feeds each window to the thread's one
  * digest, and tests the prefix on the digest's nibbles before encoding:
  * windows that are not sampled allocate nothing. */
case class WindowMd5(text: Expression, width: Expression, prefix: Expression)
    extends TernaryExpression {

  override def first: Expression = text
  override def second: Expression = width
  override def third: Expression = prefix

  private def is(dt: DataType, want: DataType): Boolean = dt == want || dt == NullType

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(is(text.dataType, StringType) && is(width.dataType, IntegerType) &&
          is(prefix.dataType, StringType)))
      TypeCheckResult.TypeCheckFailure(
        s"window_md5 requires (string, int width, string hex_prefix); " +
          s"got (${text.dataType}, ${width.dataType}, ${prefix.dataType})")
    else if (width.foldable && width.dataType == IntegerType &&
             Option(width.eval()).exists(_.asInstanceOf[Int] < 1))
      TypeCheckResult.TypeCheckFailure(s"window_md5 width must be >= 1; got ${width.eval()}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "window_md5"

  override def nullSafeEval(t: Any, w: Any, p: Any): Any =
    WindowMd5.compute(t.asInstanceOf[UTF8String], w.asInstanceOf[Int],
      p.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, w, p) =>
      s"${ev.value} = graft.functions.WindowMd5.compute($t, $w, $p);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WindowMd5 =
    copy(text = newFirst, width = newSecond, prefix = newThird)
}

object WindowMd5 {

  /** One digest per executor thread, i.e. per running task. */
  private val digests = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  def compute(text: UTF8String, width: Int, prefix: UTF8String): ArrayData = {
    require(width >= 1, s"window_md5 width must be >= 1; got $width")
    val want = nibbles(prefix)
    val bytes = text.getBytes
    val n = bytes.length
    var end = 0
    var chars = 0
    while (chars < width && end < n) {
      end += UTF8String.numBytesForFirstByte(bytes(end)); chars += 1
    }
    if (want == null || chars < width) return new GenericArrayData(Array.empty[Any])
    end = math.min(end, n) // a malformed trailing sequence may claim bytes past n
    val md = digests.get()
    val digest = new Array[Byte](16)
    val out = new java.util.LinkedHashSet[UTF8String]()
    var start = 0
    var more = true
    while (more) {
      md.update(bytes, start, end - start)
      md.digest(digest, 0, 16)
      if (startsWith(digest, want)) out.add(hex(digest))
      more = end < n
      if (more) {
        start += UTF8String.numBytesForFirstByte(bytes(start))
        end = math.min(end + UTF8String.numBytesForFirstByte(bytes(end)), n)
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** The prefix as nibble values, or null when no hex digest can start
    * with it (a character outside [0-9a-f], or longer than 32). */
  private def nibbles(prefix: UTF8String): Array[Int] = {
    val p = prefix.getBytes
    if (p.length > 32) return null
    val out = new Array[Int](p.length)
    var i = 0
    while (i < p.length) {
      out(i) = Hex.indexOf(p(i))
      if (out(i) < 0) return null
      i += 1
    }
    out
  }

  private def startsWith(digest: Array[Byte], want: Array[Int]): Boolean = {
    var i = 0
    while (i < want.length) {
      val b = digest(i >> 1)
      val nib = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
      if (nib != want(i)) return false
      i += 1
    }
    true
  }

  private def hex(digest: Array[Byte]): UTF8String = {
    val s = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      s(2 * i) = Hex((digest(i) >> 4) & 0xf)
      s(2 * i + 1) = Hex(digest(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(s)
  }
}
