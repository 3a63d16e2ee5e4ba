package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration for graft's native expressions.
  *
  * Two paths, same function:
  *  - `GraftExtensions` for `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (the SparkSessionExtensions injection point — cluster-config style);
  *  - `GraftFunctions.register(spark)` for imperative registration on an
  *    existing session (idempotent; query builders call it so the functions
  *    exist no matter who built the session — driver smoke included).
  */
object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) =>
        children match {
          case Seq(a, b) => DotProduct(a, b)
          case _ =>
            throw new IllegalArgumentException(
              s"graft_dot expects 2 arguments, got ${children.length}")
        },
    ),
    (
      FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2Dist2].getName, "graft_l2sq"),
      (children: Seq[Expression]) =>
        children match {
          case Seq(a, b) => L2Dist2(a, b)
          case _ =>
            throw new IllegalArgumentException(
              s"graft_l2sq expects 2 arguments, got ${children.length}")
        },
    ),
    (
      FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets"),
      (children: Seq[Expression]) =>
        children match {
          case Seq(a, b) => LshBuckets(a, b)
          case _ =>
            throw new IllegalArgumentException(
              s"graft_lsh_buckets expects 2 arguments, got ${children.length}")
        },
    ),
    (
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      // optional second arg (nHashes) must be a foldable int; defaults to 128
      (children: Seq[Expression]) =>
        MinHashSig(
          children(0),
          children.lift(1).map(_.eval().asInstanceOf[Number].intValue()).getOrElse(128),
        ),
    ),
  )

  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/** `spark.sql.extensions` entry point: SQL functions + the HOF→native
  * dot-product optimizer rewrite.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => DotProductRewrite)
  }
}
