package graft

import graft.functions.{CosineSimilarity, L2DistanceE8, SimHashAgg, TopKByScore, TopKStrByScore}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration: makes the engine's native functions
  * available to ANY session (including pure-SQL users) via
  *
  * {{{
  *   builder.withExtensions(new GraftExtensions)   // a SparkSession.Builder
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * [[GraftSession]] registers it on every engine session.
  *
  * This is the injection point for the whole custom ladder — functions now;
  * resolution rules / planner strategies use the same hook when an operator
  * needs them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "cosine_similarity(a, b) takes exactly two arguments")
        CosineSimilarity(children.head, children(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("l2_distance_e8"),
      new ExpressionInfo(classOf[L2DistanceE8].getName, "l2_distance_e8"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "l2_distance_e8(a, b) takes exactly two arguments")
        L2DistanceE8(children.head, children(1))
      }))

    // the k argument must be a foldable literal — the heap size is fixed at
    // plan time (an aggregate can't resize per row)
    def litK(e: Expression, fn: String): Int = {
      require(e.foldable, s"$fn: k must be a literal")
      e.eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$fn: k must be an integer literal, got $other")
      }
    }
    // aggregate builders return the AggregateFunction; the analyzer wraps it
    // in an AggregateExpression during resolution (same contract as the
    // built-in sum/min registrations)
    ext.injectFunction((
      new FunctionIdentifier("top_k_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "top_k_by_score"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "top_k_by_score(score double, id bigint, k int) takes three arguments")
        TopKByScore(children.head, children(1), litK(children(2), "top_k_by_score"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("top_k_str_by_score"),
      new ExpressionInfo(classOf[TopKStrByScore].getName, "top_k_str_by_score"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "top_k_str_by_score(score double, id string, k int) takes three arguments")
        TopKStrByScore(children.head, children(1),
          litK(children(2), "top_k_str_by_score"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          "simhash(md5_hex string) takes exactly one argument")
        SimHashAgg(children.head)
      }))
  }
}
