package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused char-n-gram → md5-bucket kernel. Like [[CharNgramBuilder]], a
  * top-level object so generated Java calls the static forwarder
  * directly inside whole-stage codegen.
  *
  * Bucket of a gram `g` is bit-identical to the SQL spelling
  * `CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT) % mod`:
  * the first 15 hex characters of the md5 digest are the first 7.5
  * digest bytes big-endian — a 60-bit non-negative value — and `%` on
  * non-negative operands agrees between Spark BIGINT and Java long.
  * Parity is pinned by CharGramBucketsSpec against that exact SQL
  * chain on fixture documents (recall-critical: the classifier weight
  * table is keyed by these buckets).
  *
  * Why fused (VERDICT r14 item 4): the shared classifier-gram build
  * was `explode(char_ngrams)` → `distinct` → per-distinct-gram md5 →
  * broadcast join back — materializing ~30M gram STRINGS (at sf0.1)
  * plus a distinct shuffle plus a per-occurrence hash-probe, all to
  * attach 12 bits per occurrence. This kernel walks the text's UTF-8
  * char starts once (the [[CharNgramBuilder]] scan) and emits the
  * bucket array directly; a small per-thread gram→bucket cache keeps
  * the md5 count at one per DISTINCT gram per task (the gram alphabet
  * is bounded: ≤ |charset|³ values), so per occurrence the cost is one
  * zero-copy map probe, no string materialization, no join, no
  * shuffle. */
object CharGramBucketBuilder {
  /** Per-thread md5 instance + gram→bucket memo. The memo is valid for
    * ONE (n is irrelevant, the key is the gram bytes) modulus at a
    * time — `mod` changes clear it — and is size-capped so a
    * pathological charset cannot grow it unboundedly. */
  private final class Ctx {
    val md5: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    val cache = new java.util.HashMap[UTF8String, java.lang.Long](1 << 12)
    var cacheMod: Long = 0L
  }
  private val ctxLocal = new ThreadLocal[Ctx] {
    override def initialValue(): Ctx = new Ctx
  }
  private val CacheCap = 1 << 16

  /** md5-derived bucket of `bytes[from, until)` — see the parity
    * contract in the object doc. */
  def bucketOf(md5: java.security.MessageDigest,
      bytes: Array[Byte], from: Int, until: Int, mod: Long): Long = {
    md5.reset()
    md5.update(bytes, from, until - from)
    val d = md5.digest()
    val v = ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
      ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
      ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xf0L) >>> 4)
    v % mod
  }

  def build(s: UTF8String, n: Int, mod: Long): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val starts = new Array[Int](len + 1)
    val nChars = CharNgramBuilder.charStarts(bytes, starts)
    val count = nChars - n + 1
    if (count <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val ctx = ctxLocal.get()
    if (ctx.cacheMod != mod) { ctx.cache.clear(); ctx.cacheMod = mod }
    val cache = ctx.cache
    val out = new Array[Long](count)
    var i = 0
    while (i < count) {
      val from = starts(i)
      val until = starts(i + n)
      // zero-copy probe view over the text's bytes; only a cache MISS
      // copies the gram out (the stored key must not pin the document)
      val probe = UTF8String.fromBytes(bytes, from, until - from)
      val hit = cache.get(probe)
      if (hit != null) out(i) = hit.longValue()
      else {
        val b = bucketOf(ctx.md5, bytes, from, until, mod)
        if (cache.size() >= CacheCap) cache.clear()
        cache.put(
          UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, from, until)),
          java.lang.Long.valueOf(b))
        out(i) = b
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Native Catalyst expression: `graft_char_gram_buckets(text, n, mod)`
  * → `array<bigint>` of the md5 bucket (mod `mod`) of each character
  * n-gram of `text`, for `explode(...)`. The fused sibling of
  * `graft_char_ngrams` for consumers that only ever need the BUCKET of
  * each gram, never the gram itself (the classifier feature build).
  *
  * `n` and `mod` must be foldable positive integers — they
  * parameterize the plan, they are not data. */
final case class CharGramBuckets(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_gram_buckets"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        val n = second.eval()
        val m = third.eval()
        if (n == null || n.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(
            s"graft_char_gram_buckets requires a positive gram size, got $n")
        else if (m == null || m.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(
            s"graft_char_gram_buckets requires a positive modulus, got $m")
        else TypeCheckResult.TypeCheckSuccess
      case (StringType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_char_gram_buckets requires literal gram size and modulus")
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        "graft_char_gram_buckets requires (string, int, int) arguments, " +
          s"got (${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }

  override def nullSafeEval(str: Any, n: Any, mod: Any): Any =
    CharGramBucketBuilder.build(str.asInstanceOf[UTF8String],
      n.asInstanceOf[Int], mod.asInstanceOf[Int].toLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n, m) =>
      s"${ev.value} = graft.plans.CharGramBucketBuilder.build($s, $n, (long) $m);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): CharGramBuckets =
    copy(first = newFirst, second = newSecond, third = newThird)
}
