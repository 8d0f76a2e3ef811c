package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistryBase, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: fused cosine similarity over two
  * array<double> columns.
  *
  * Why a custom Expression (the builder brief's option (b)) instead of
  * the `aggregate(zip_with(...))` higher-order formulation: HOFs are
  * CodegenFallback — every element goes through interpreted expression
  * dispatch with per-lambda allocations. This expression generates a
  * single tight Java loop via doGenCode, ~50× faster per row, which at
  * 100 TB is the difference between the ANN re-rank being free or being
  * the bottleneck.
  *
  * Numerical contract: dot, |a|² and |b|² accumulate in ARRAY ORDER with
  * IEEE double adds — exactly the operation sequence of the sequential
  * HOF fold and of DuckDB's list_sum(list_transform(...)), so results are
  * bit-identical to the correctness oracle (no tolerance needed).
  * Zero-norm inputs yield NaN (plain IEEE division) rather than the ANSI
  * DIVIDE_BY_ZERO error the declarative `/` would raise — similarity of
  * a zero vector is undefined, not exceptional.
  */
final case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = $a.getDouble($i);
          double $yi = $b.getDouble($i);
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** graft's SQL surface: the Catalyst kernels by SQL name, plus the
  * [[RangeJoinRule]] optimizer rule. [[graft.GraftSession.builder]]
  * attaches this to every session it builds, and each `newSession()`
  * sibling inherits its parent's extensions, so no query or test
  * registers anything. A session built elsewhere loads the same class
  * through `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
final class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Pre-CBO: the rule runs once, after operator optimization. Inside
    // that fixed-point batch (injectOptimizerRule) constraint inference
    // would add an isnotnull(x div W) filter to the fact side of every
    // rewritten join.
    ext.injectPreCBORule(_ => RangeJoinRule)
    GraftExtensions.functions.foreach { case (name, cls) =>
      // builds from the class's all-Expression constructor and rejects
      // any other arity with Spark's WRONG_NUM_ARGS error
      val (info, build) =
        FunctionRegistryBase.build[Expression](name, None)(ClassTag(cls))
      ext.injectFunction((FunctionIdentifier(name), info, build))
    }
  }
}

object GraftExtensions {
  /** SQL name → kernel class, one entry per function. */
  val functions: Seq[(String, Class[_ <: Expression])] = Seq(
    "graft_cosine" -> classOf[CosineSimilarity],
    "graft_polyhash" -> classOf[PolyHash],
    "graft_nfc" -> classOf[NfcNormalize],
    "graft_word_ngrams" -> classOf[WordNgrams],
    "graft_char_ngrams" -> classOf[CharNgrams],
    "graft_sign_project" -> classOf[SignProject],
    "graft_classifier_score" -> classOf[ClassifierScore],
    "graft_minhash_sig" -> classOf[MinHashSig],
    "graft_char_gram_buckets" -> classOf[CharGramBuckets],
    // Spark ships these two for its internal runtime-filter rewrite but
    // does NOT register them as SQL functions; exposing them makes the
    // bloom-prune pattern (build a bloom over the SMALL side, push it as
    // a filter into the BIG side's scan) writable as a query — see q98.
    // Inputs are xxhash64 longs, matching the internal usage.
    "graft_bloom_agg" -> classOf[BloomFilterAggregate],
    "graft_bloom_contains" -> classOf[BloomFilterMightContain])
}
