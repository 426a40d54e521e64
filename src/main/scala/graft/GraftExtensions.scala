package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.functions.{Codec, DotProduct, HtmlText, UnigramSegment, IntSqDist, Md5Prefix64, NfcNormalize, Norm2, PayloadCompress, PayloadDecompress, SignedHadamard, SortedIntersectCount, VecAggMax, VecAggMin, VecAggSumDouble, VecAggSumLong, WinnowGrams, WordpieceEncode, ZlibCompress, ZlibDecompress}

/** Session extension entry point — the deployment-shaped way to install
  * this library's native expressions and optimizer rules on a cluster:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (the form [[GraftSession]] sets for every graft main and the test
  * suites), or programmatically `withExtensions(new GraftExtensions)` on
  * a session builder. Installs:
  *
  *  - the native functions (`vec_dot`, `vec_norm2`, `md5_prefix64`,
  *    `zlib_compress`, `zlib_decompress`, `payload_compress`,
  *    `payload_decompress`) as session-registry functions —
  *    available to `spark.sql` text and `call_function` without any
  *    per-query temp registration;
  *  - [[VecRewrite]], an optimizer rule that rewrites the declarative
  *    higher-order-function formulations of dot product and squared norm
  *    into the codegen expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_norm2"),
      new ExpressionInfo(classOf[Norm2].getName, "vec_norm2"),
      (exprs: Seq[Expression]) => Norm2(exprs.head)))
    ext.injectFunction((FunctionIdentifier("vec_isqd"),
      new ExpressionInfo(classOf[IntSqDist].getName, "vec_isqd"),
      (exprs: Seq[Expression]) => IntSqDist(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_hadamard"),
      new ExpressionInfo(classOf[SignedHadamard].getName, "vec_hadamard"),
      (exprs: Seq[Expression]) => SignedHadamard(exprs.head)))
    ext.injectFunction((FunctionIdentifier("vec_icount"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "vec_icount"),
      (exprs: Seq[Expression]) => SortedIntersectCount(exprs(0), exprs(1))))
    // elementwise array aggregates (bare AggregateFunction builders — the
    // analyzer wraps them, the registry convention for built-in aggregates)
    ext.injectFunction((FunctionIdentifier("vec_agg_sum_l"),
      new ExpressionInfo(classOf[VecAggSumLong].getName, "vec_agg_sum_l"),
      (exprs: Seq[Expression]) => VecAggSumLong(exprs.head)))
    ext.injectFunction((FunctionIdentifier("vec_agg_sum_d"),
      new ExpressionInfo(classOf[VecAggSumDouble].getName, "vec_agg_sum_d"),
      (exprs: Seq[Expression]) => VecAggSumDouble(exprs.head)))
    ext.injectFunction((FunctionIdentifier("vec_agg_min"),
      new ExpressionInfo(classOf[VecAggMin].getName, "vec_agg_min"),
      (exprs: Seq[Expression]) => VecAggMin(exprs.head)))
    ext.injectFunction((FunctionIdentifier("vec_agg_max"),
      new ExpressionInfo(classOf[VecAggMax].getName, "vec_agg_max"),
      (exprs: Seq[Expression]) => VecAggMax(exprs.head)))
    ext.injectFunction((FunctionIdentifier("md5_prefix64"),
      new ExpressionInfo(classOf[Md5Prefix64].getName, "md5_prefix64"),
      (exprs: Seq[Expression]) => Md5Prefix64(exprs.head,
        exprs(1).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("winnow_grams"),
      new ExpressionInfo(classOf[WinnowGrams].getName, "winnow_grams"),
      (exprs: Seq[Expression]) => WinnowGrams(exprs.head,
        exprs(1).eval(null).asInstanceOf[Number].intValue(),
        exprs(2).eval(null).asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
    ext.injectFunction((FunctionIdentifier("html_text"),
      new ExpressionInfo(classOf[HtmlText].getName, "html_text"),
      (exprs: Seq[Expression]) => HtmlText(exprs.head)))
    ext.injectFunction((FunctionIdentifier("unigram_segment"),
      new ExpressionInfo(classOf[UnigramSegment].getName, "unigram_segment"),
      (exprs: Seq[Expression]) => UnigramSegment.fromExprs(exprs)))
    ext.injectFunction((FunctionIdentifier("wordpiece_encode"),
      new ExpressionInfo(classOf[WordpieceEncode].getName, "wordpiece_encode"),
      (exprs: Seq[Expression]) => {
        val arr = exprs(1).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        WordpieceEncode(exprs.head,
          (0 until arr.numElements()).map(j => arr.getUTF8String(j).toString))
      }))
    ext.injectFunction((FunctionIdentifier("zlib_compress"),
      new ExpressionInfo(classOf[ZlibCompress].getName, "zlib_compress"),
      (exprs: Seq[Expression]) => ZlibCompress(exprs.head)))
    ext.injectFunction((FunctionIdentifier("zlib_decompress"),
      new ExpressionInfo(classOf[ZlibDecompress].getName, "zlib_decompress"),
      (exprs: Seq[Expression]) => ZlibDecompress(exprs.head)))
    ext.injectFunction((FunctionIdentifier("payload_compress"),
      new ExpressionInfo(classOf[PayloadCompress].getName, "payload_compress"),
      (exprs: Seq[Expression]) => PayloadCompress(exprs.head, Codec.codecArg(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("payload_decompress"),
      new ExpressionInfo(classOf[PayloadDecompress].getName, "payload_decompress"),
      (exprs: Seq[Expression]) => PayloadDecompress(exprs.head, Codec.codecArg(exprs(1)))))
    ext.injectOptimizerRule(_ => VecRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.PrefixSumStrategy)
  }
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
