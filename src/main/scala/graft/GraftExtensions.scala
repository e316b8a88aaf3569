package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{BytesToIp6, CountMin, DotProduct, Ip4ToNum, Ip6ToBytes, MomentsAgg, NumToIp4, TopKAgg, ZOrder2}

/** Spark extension entry point: registers graft's native expressions
  * into the session's function registry, so the library's surface is
  * reachable from plain SQL too:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT graft_ip4_to_num(host), graft_dot(a, b) ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Wrong arity must surface as the standard analyzer error, not an
    * IndexOutOfBounds escaping from the builder lambda.
    */
  private def arity(name: String, expected: Int, args: Seq[Expression]): Unit =
    if (args.length != expected) {
      throw new AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    }

  /** `k` arguments must be integer LITERALS: a non-foldable expression
    * (e.g. a column reference) would otherwise escape as an internal
    * eval error from the builder instead of this user-facing message.
    */
  private def intLiteral(name: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$name k must be an integer literal, got non-literal ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$name k must be an integer literal, got $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.EliminateIpRoundtrips)
    ext.injectFunction((
      FunctionIdentifier("graft_ip4_to_num"),
      new ExpressionInfo(classOf[Ip4ToNum].getName, "graft_ip4_to_num"),
      (args: Seq[Expression]) => { arity("graft_ip4_to_num", 1, args); Ip4ToNum(args.head) }))
    ext.injectFunction((
      FunctionIdentifier("graft_num_to_ip4"),
      new ExpressionInfo(classOf[NumToIp4].getName, "graft_num_to_ip4"),
      (args: Seq[Expression]) => { arity("graft_num_to_ip4", 1, args); NumToIp4(args.head) }))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => { arity("graft_dot", 2, args); DotProduct(args(0), args(1)) }))
    ext.injectFunction((
      FunctionIdentifier("graft_ip6_to_bytes"),
      new ExpressionInfo(classOf[Ip6ToBytes].getName, "graft_ip6_to_bytes"),
      (args: Seq[Expression]) => { arity("graft_ip6_to_bytes", 1, args); Ip6ToBytes(args.head) }))
    ext.injectFunction((
      FunctionIdentifier("graft_bytes_to_ip6"),
      new ExpressionInfo(classOf[BytesToIp6].getName, "graft_bytes_to_ip6"),
      (args: Seq[Expression]) => { arity("graft_bytes_to_ip6", 1, args); BytesToIp6(args.head) }))
    ext.injectFunction((
      FunctionIdentifier("graft_zorder2"),
      new ExpressionInfo(classOf[ZOrder2].getName, "graft_zorder2"),
      (args: Seq[Expression]) => { arity("graft_zorder2", 2, args); ZOrder2(args(0), args(1)) }))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      (args: Seq[Expression]) => {
        arity("graft_topk", 3, args)
        val k = intLiteral("graft_topk", args(2))
        TopKAgg(args(0), args(1), k).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_moments"),
      new ExpressionInfo(classOf[MomentsAgg].getName, "graft_moments"),
      (args: Seq[Expression]) => {
        arity("graft_moments", 2, args)
        MomentsAgg(args(0),
          intLiteral("graft_moments", args(1))).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(CountMin.getClass.getName, "graft_cms_estimate"),
      (args: Seq[Expression]) => {
        arity("graft_cms_estimate", 2, args)
        Bridge.converted(
          CountMin.estimate(Bridge.column(args(0)), Bridge.column(args(1))))
      }))
  }
}
