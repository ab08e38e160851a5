package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Engine extension point, wired the idiomatic Spark way: sessions add
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * and the native vector expressions become SQL- and
  * `call_function`-addressable (`SELECT graft_cosine(a.v, b.v) …`).
  * Injection happens per-session at build time — no global registry
  * mutation, cluster-safe.
  *
  * Functions only, no optimizer rules: the one rule this used to
  * inject (a `min_by(struct(*))` rewrite of the rank-1 latest-wins
  * window) planned as a two-sided SortAggregate whenever the row
  * carried a string, and measured slower than Spark's own
  * WindowGroupLimit plan it was meant to beat (SCALING.md).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(clazz: Class[_], name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(clazz.getName, null, name, usage, "",
      "", "", "", "", "", "built-in")

  private def asVec(e: Expression): Expression = Cast(e, ArrayType(DoubleType))

  // arity check at resolution time (r14 review): children(i) alone
  // silently DROPPED extra arguments (graft_dot(a, b, c) returned
  // dot(a, b) — a plausible wrong answer through the SQL front door)
  // and threw a raw IndexOutOfBounds on too few, instead of the
  // analysis error every built-in raises
  private def binary(name: String, mk: (Expression, Expression) => Expression)
      (children: Seq[Expression]): Expression = {
    if (children.size != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> "2",
          "actualNum" -> children.size.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    mk(asVec(children(0)), asVec(children(1)))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info(classOf[DotProduct], "graft_dot",
        "graft_dot(a, b) - dot product of two double arrays"),
      binary("graft_dot", DotProduct.apply)))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      info(classOf[CosineSimilarity], "graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two double arrays"),
      binary("graft_cosine", CosineSimilarity.apply)))
  }
}
