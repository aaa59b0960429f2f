package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Column-level entry points + registration for graft's native expressions.
  *
  * `graft_dot` is the SQL-visible one. It reaches SQL through
  * [[graft.plans.GraftSparkExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftSparkExtensions`, at session
  * build) or through [[GraftFunctions.register]] on a running session.
  */
object GraftFunctions {

  import org.apache.spark.sql.GraftShim

  /** Codegen'd dot product (see [[DotProduct]] for exact semantics). */
  def graft_dot(a: Column, b: Column): Column =
    GraftShim.column(DotProduct(GraftShim.expression(a), GraftShim.expression(b)))

  /** Codegen'd PQ encode→reconstruct (see [[PqEncode]] for exact
    * semantics). `book` is laid out `[subspace][code][dim]`, flattened.
    */
  def graft_pq_encode(vec: Column, book: Seq[Double],
                      m: Int, nCodes: Int, subDim: Int): Column =
    GraftShim.column(PqEncode(GraftShim.expression(vec), book, m, nCodes, subDim))

  /** Heap-based top-k aggregate (see [[TopKByScore]]): returns
    * `array<struct<score,id>>` sorted (score desc, id asc).
    */
  def graft_topk(score: Column, id: Column, k: Int): Column =
    GraftShim.column(
      TopKByScore(GraftShim.expression(score), GraftShim.expression(id), k)
        .toAggregateExpression())

  /** `graft_dot`'s SQL function description: name, info, builder. */
  private[graft] val dotFunction
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1)))

  /** Make the functions SQL-callable on a live session:
    * `SELECT graft_dot(e1, e2) FROM ...`.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", dotFunction._3, "built-in")
}
