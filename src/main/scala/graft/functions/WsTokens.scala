package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The whitespace tokenizer every text operator shares, as one byte scan.
  *
  * Semantics are exactly `filter(split(s, "\\s+"), t => length(t) > 0)`:
  * tokens are the maximal runs between Java regex `\s` characters, which
  * without UNICODE_CHARACTER_CLASS are the six ASCII bytes
  * `[ \t\n\x0B\f\r]` (NBSP, U+2003 and U+3000 are token characters). In
  * valid UTF-8 those bytes never occur inside a multi-byte sequence, so a
  * byte scan finds the same boundaries the regex finds over chars. The
  * composed form is interpreted (`ArrayFilter` is `CodegenFallback`) and
  * its regex split decodes and re-encodes every string; this scan stays
  * in generated code and allocates no intermediate strings.
  *
  * Input that is not valid UTF-8 is first decoded and re-encoded
  * (`fromString(toString)`, malformed bytes → U+FFFD): that is the round
  * trip `split` makes, so the output is bit-identical on every input.
  */
object WsTokenizer {

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  /** Input bytes as the regex split would see them. */
  private def canonical(s: UTF8String): UTF8String =
    if (s.isValid) s else UTF8String.fromString(s.toString)

  /** Token (start, end) offsets, relative to the string's first byte,
    * packed as start << 32 | end. */
  private def spans(base: AnyRef, off: Long, n: Int): Array[Long] = {
    var out = new Array[Long](8)
    var k = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(Platform.getByte(base, off + i))) i += 1
        if (k == out.length) out = java.util.Arrays.copyOf(out, k * 2)
        out(k) = (start.toLong << 32) | i
        k += 1
      }
    }
    java.util.Arrays.copyOf(out, k)
  }

  /** Tokens as slices of ONE private copy of the input's bytes. Row
    * buffers are reused between rows, so the slices must never point
    * into the input itself. */
  def tokens(input: UTF8String): ArrayData = {
    val s = canonical(input)
    val n = s.numBytes
    val bytes = new Array[Byte](n)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset, bytes,
      Platform.BYTE_ARRAY_OFFSET, n)
    val sp = spans(bytes, Platform.BYTE_ARRAY_OFFSET, n)
    val out = new Array[Any](sp.length)
    var k = 0
    while (k < sp.length) {
      val start = (sp(k) >>> 32).toInt
      out(k) = UTF8String.fromBytes(bytes, start, sp(k).toInt - start)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** `xxhash64(token)` (seed 42) of every token, hashed in place: no
    * token string is built. */
  def tokenHashes(input: UTF8String): ArrayData = {
    val s = canonical(input)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val sp = spans(base, off, s.numBytes)
    val out = new Array[Long](sp.length)
    var k = 0
    while (k < sp.length) {
      val start = (sp(k) >>> 32).toInt
      out(k) = XXH64.hashUnsafeBytes(base, off + start, sp(k).toInt - start, 42L)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Shared shape of the two tokenizer expressions: string in (implicitly
  * cast, as `split` casts its input), one static [[WsTokenizer]] method
  * called by both the interpreted and the generated path. */
sealed abstract class WsTokenizerExpr extends UnaryExpression with ImplicitCastInputTypes {
  /** The [[WsTokenizer]] method; a def, not a constructor parameter, so
    * that Java serialization finds the no-arg constructor it needs. */
  protected def method: String
  protected def scan(s: UTF8String): ArrayData

  // the element type (AbstractDataType) is private to Spark: inferred
  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    scan(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WsTokenizer.$method($c)")
}

/** `ws_tokens(str) → array<string>`: see [[WsTokenizer]]. */
case class WsTokens(child: Expression) extends WsTokenizerExpr {
  override protected def method: String = "tokens"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"
  override protected def scan(s: UTF8String): ArrayData = WsTokenizer.tokens(s)
  override protected def withNewChildInternal(newChild: Expression): WsTokens =
    copy(child = newChild)
}

/** `ws_token_hashes(str) → array<bigint>`: `xxhash64` of each
  * [[WsTokens]] token, without building the token strings. */
case class WsTokenHashes(child: Expression) extends WsTokenizerExpr {
  override protected def method: String = "tokenHashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ws_token_hashes"
  override protected def scan(s: UTF8String): ArrayData = WsTokenizer.tokenHashes(s)
  override protected def withNewChildInternal(newChild: Expression): WsTokenHashes =
    copy(child = newChild)
}
