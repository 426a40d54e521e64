package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.functions.{Codec, DotProduct, HtmlText, UnigramSegment, IntSqDist, Md5Prefix64, NfcNormalize, Norm2, PayloadCompress, PayloadDecompress, SignedHadamard, SortedIntersectCount, VecAggMax, VecAggMin, VecAggSumDouble, VecAggSumLong, WinnowGrams, WordpieceEncode, ZlibCompress, ZlibDecompress}

/** Session extension entry point — the one place that installs this
  * library's native functions and planner rules on a session:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (the form [[GraftSession]] sets for every graft main and the test
  * suites), or programmatically `withExtensions(new GraftExtensions)` on
  * a session builder. Installs:
  *
  *  - the 19 functions of [[GraftExtensions.functions]] as
  *    session-registry functions, available to `spark.sql` text and to
  *    `call_function` (the column helpers in `graft.functions`):
  *    vector math (`vec_dot`, `vec_norm2`, `vec_isqd`, `vec_hadamard`,
  *    `vec_icount`), elementwise array aggregates (`vec_agg_sum_l`,
  *    `vec_agg_sum_d`, `vec_agg_min`, `vec_agg_max`), hashing and text
  *    (`md5_prefix64`, `winnow_grams`, `nfc_normalize`, `html_text`,
  *    `unigram_segment`, `wordpiece_encode`) and payload codecs
  *    (`zlib_compress`, `zlib_decompress`, `payload_compress`,
  *    `payload_decompress`);
  *  - [[VecRewrite]], an optimizer rule that rewrites the declarative
  *    higher-order-function formulations of dot product and squared norm
  *    into the codegen expressions;
  *  - [[graft.plans.PrefixSumStrategy]], the planner strategy for the
  *    prefix-sum operator (q65, q108).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => VecRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.PrefixSumStrategy)
  }
}

object GraftExtensions {

  private def fn[T <: Expression: ClassTag](name: String)(
      build: Seq[Expression] => T): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(implicitly[ClassTag[T]].runtimeClass.getName, name), build)

  /** A literal integer argument (a nibble count, a gram or window size). */
  private def intArg(e: Expression): Int = e.eval(null).asInstanceOf[Number].intValue()

  /** Every graft SQL function: its name and its builder. Literal
    * arguments are decoded here, or by the expression's companion where
    * the decoding needs checks of its own (`UnigramSegment.fromExprs`,
    * `Codec.codecArg`). The aggregates are bare `AggregateFunction`
    * builders, the registry convention for built-in aggregates: the
    * analyzer wraps them in `AggregateExpression` itself. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn("vec_dot")(e => DotProduct(e(0), e(1))),
    fn("vec_norm2")(e => Norm2(e.head)),
    fn("vec_isqd")(e => IntSqDist(e(0), e(1))),
    fn("vec_hadamard")(e => SignedHadamard(e.head)),
    fn("vec_icount")(e => SortedIntersectCount(e(0), e(1))),
    fn("vec_agg_sum_l")(e => VecAggSumLong(e.head)),
    fn("vec_agg_sum_d")(e => VecAggSumDouble(e.head)),
    fn("vec_agg_min")(e => VecAggMin(e.head)),
    fn("vec_agg_max")(e => VecAggMax(e.head)),
    fn("md5_prefix64")(e => Md5Prefix64(e.head, intArg(e(1)))),
    fn("winnow_grams")(e => WinnowGrams(e.head, intArg(e(1)), intArg(e(2)))),
    fn("nfc_normalize")(e => NfcNormalize(e.head)),
    fn("html_text")(e => HtmlText(e.head)),
    fn("unigram_segment")(UnigramSegment.fromExprs),
    fn("wordpiece_encode") { e =>
      val vocab = e(1).eval(null).asInstanceOf[ArrayData]
      WordpieceEncode(e.head, (0 until vocab.numElements()).map(vocab.getUTF8String(_).toString))
    },
    fn("zlib_compress")(e => ZlibCompress(e.head)),
    fn("zlib_decompress")(e => ZlibDecompress(e.head)),
    fn("payload_compress")(e => PayloadCompress(e.head, Codec.codecArg(e(1)))),
    fn("payload_decompress")(e => PayloadDecompress(e.head, Codec.codecArg(e(1)))))
}

/** Rewrites interpreted higher-order-function vector math into the native
  * codegen expressions:
  *
  *  - `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)`
  *    → `vec_dot(a, b)`
  *  - `aggregate(a, 0.0D, (acc, v) -> acc + v * v)` → `vec_norm2(a)`
  *
  * Spark's HOFs are CodegenFallback — every lambda application is an
  * interpreted call per array element per row (the round-1 q31 hotspot:
  * 4.8s → 0.4s at sf0.1). The replacements compute the identical
  * left-to-right double fold, so results are bit-equal; a user writing the
  * declarative HOF form gets the native plan for free.
  *
  * Semantics caveat (why this is gated on `spark.graft.rewriteVecHof`,
  * default true): on MISMATCHED array lengths `zip_with` null-pads and the
  * sum degrades to null, while `vec_dot` raises. For dense fixed-dimension
  * embedding columns a length mismatch is always a data bug; set the flag
  * to false to keep the null-poisoning behavior.
  */
object VecRewrite extends Rule[LogicalPlan] {

  private object AsDouble {
    /** Strips the widening cast the HOF formulation needs for float
      * arrays; matches bare references for double arrays (where the
      * analyzer/SimplifyCasts leaves no cast behind). */
    def unapply(e: Expression): Option[Expression] = e match {
      case Cast(c, DoubleType, _, _) => Some(c)
      case _ if e.dataType == DoubleType => Some(e)
      case _ => None
    }
  }

  private object DoubleZero {
    def unapply(e: Expression): Boolean = e match {
      case Literal(v: Double, DoubleType) => v == 0.0
      case _ => false
    }
  }

  private def vecArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  private def isIdentity(f: Expression): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(a: NamedLambdaVariable), _) =>
      v.exprId == a.exprId
    case _ => false
  }

  /** `(acc, v) -> acc + v` with each lambda argument used exactly once. */
  private def isSumMerge(f: Expression): Boolean = f match {
    case LambdaFunction(
        Add(acc: NamedLambdaVariable, v: NamedLambdaVariable, _),
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
      acc.exprId == a.exprId && v.exprId == b.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.rewriteVecHof", "true") != "true") return plan
    plan.transformAllExpressions {
      case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(
            Multiply(AsDouble(x: NamedLambdaVariable), AsDouble(y: NamedLambdaVariable), _),
            Seq(xv: NamedLambdaVariable, yv: NamedLambdaVariable), _)),
          zero, merge, finish)
          if DoubleZero.unapply(zero) && isSumMerge(merge) && isIdentity(finish) &&
            // IEEE multiply commutes bit-exactly, so either variable pairing
            // yields the identical per-element product
            ((x.exprId == xv.exprId && y.exprId == yv.exprId) ||
             (x.exprId == yv.exprId && y.exprId == xv.exprId)) &&
            vecArray(a.dataType) && vecArray(b.dataType) =>
        DotProduct(a, b)

      case ArrayAggregate(a, zero, LambdaFunction(
            Add(acc: NamedLambdaVariable,
              Multiply(AsDouble(v1: NamedLambdaVariable), AsDouble(v2: NamedLambdaVariable), _), _),
            Seq(accV: NamedLambdaVariable, vV: NamedLambdaVariable), _),
          finish)
          if DoubleZero.unapply(zero) && isIdentity(finish) &&
            acc.exprId == accV.exprId &&
            v1.exprId == vV.exprId && v2.exprId == vV.exprId &&
            vecArray(a.dataType) =>
        Norm2(a)
    }
  }
}
