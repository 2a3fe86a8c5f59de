package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native character n-gram enumeration as one codegen'd Catalyst
  * expression: `char_ngrams(text, n)` → `array<string>` of every
  * n-codepoint substring, value-identical to
  * `transform(sequence(1, length(text) - n + 1), i -> substring(text, i, n))`
  * on texts with at least n codepoints (shorter texts yield an empty
  * array — callers filter them out exactly as the transform form
  * required, because sequence() steps DOWNWARD when start > stop).
  *
  * WHY an expression (guide §4.1, the WinnowFps/SimHash48 pattern):
  * higher-order `transform` evaluates its lambda INTERPRETED per
  * element, and each `substring(text, i, n)` call re-walks the string
  * from byte 0 to find the i-th codepoint — an O(L²) byte walk per
  * document plus a boxed lambda invocation per gram (text_char_ngrams
  * measured ~1.2 µs per trigram on a 32-core scan of a 1.5 M-trigram
  * corpus). This form walks the UTF-8 byte stream ONCE, records each
  * codepoint's byte offset, and emits each gram as a zero-copy slice
  * of the document's byte array: O(L) per document, whole-stage
  * codegen'd, map-stage only.
  */
case class CharNgrams(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override protected def nullSafeEval(text: Any, n: Any): Any =
    CharNgrams.compute(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"graft.functions.CharNgrams.compute($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharNgrams =
    copy(left = newLeft, right = newRight)

  /** `n` is a literal, so a null or non-positive one is rejected here,
    * at analysis, instead of at the first executor row. */
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        right.eval() match {
          case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
          case n => TypeCheckResult.TypeCheckFailure(s"char_ngrams requires n >= 1, got $n")
        }
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"char_ngrams requires (string, literal int), got " +
            s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
}

object CharNgrams {

  val info = new ExpressionInfo(classOf[CharNgrams].getName, "char_ngrams")

  /** All n-codepoint grams of `text` as zero-copy byte slices.
    * Codepoint == one UTF-8 sequence, the same unit Spark's `length`
    * and `substring` count, so values match the substring form on any
    * input including multi-byte text. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    require(n >= 1, s"char_ngrams: n must be >= 1, got $n")
    val bytes = text.getBytes // copies only when the UTF8String is a slice
    val len = bytes.length
    // byte offset of each codepoint, plus the terminal offset
    val offs = new Array[Int](len + 1)
    var nCp = 0
    var off = 0
    while (off < len) {
      offs(nCp) = off
      off += UTF8String.numBytesForFirstByte(bytes(offs(nCp)))
      nCp += 1
    }
    offs(nCp) = len
    if (nCp < n) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](nCp - n + 1)
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}
