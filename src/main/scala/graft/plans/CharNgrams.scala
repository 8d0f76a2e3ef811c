package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Character n-gram kernel (codepoint-aligned). Like [[NgramBuilder]],
  * a top-level object so generated Java calls the static forwarder
  * directly inside whole-stage codegen.
  *
  * One byte pass records UTF-8 character start offsets (a start byte is
  * any byte with `(b & 0xC0) != 0x80`), then each gram is a contiguous
  * byte slice between two recorded starts — O(len + grams) per string,
  * never the O(len²) that per-gram `substring()` calls would cost, and
  * multi-byte characters are never split. Parity: DuckDB's char-indexed
  * `substring(w, i, n)` walks the same codepoint boundaries. */
object CharNgramBuilder {
  /** Fills `starts` (length > bytes.length) with the UTF-8 character
    * start offsets of `bytes`, then `bytes.length` after the last one,
    * and returns the character count. The caller owns `starts`, so a
    * per-row scan allocates nothing here. */
  def charStarts(bytes: Array[Byte], starts: Array[Int]): Int = {
    val len = bytes.length
    var nChars = 0
    var p = 0
    while (p < len) {
      if ((bytes(p) & 0xC0) != 0x80) { starts(nChars) = p; nChars += 1 }
      p += 1
    }
    starts(nChars) = len
    nChars
  }

  def build(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val starts = new Array[Int](len + 1)
    val nChars = charStarts(bytes, starts)
    val count = nChars - n + 1
    if (count <= 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      out(i) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, starts(i), starts(i + n)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression: `graft_char_ngrams(text, n)` →
  * `array<string>` of the text's character n-grams, for `explode(...)`.
  *
  * The character-level sibling of [[WordNgrams]], for kernels that work
  * below the word boundary: BPE-style pair statistics (q145), n-gram
  * language ID, char-gram fingerprints. The HOF spelling
  * `transform(sequence(1, length(w) - 1), i -> substring(w, i, n))` is
  * CodegenFallback AND quadratic (each `substring` re-walks the string);
  * this stays inside whole-stage codegen and is linear per row.
  *
  * `n` must be a foldable positive integer — it parameterizes the plan,
  * it is not data. */
final case class CharNgrams(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if !right.foldable =>
        TypeCheckResult.TypeCheckFailure(
          "graft_char_ngrams requires a literal gram size")
      case (StringType, IntegerType) =>
        val n = right.eval()
        if (n == null || n.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(
            s"graft_char_ngrams requires a positive gram size, got $n")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_char_ngrams requires (string, int) arguments, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(str: Any, n: Any): Any =
    CharNgramBuilder.build(str.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) =>
      s"${ev.value} = graft.plans.CharNgramBuilder.build($s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharNgrams =
    copy(left = newLeft, right = newRight)
}
