package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** SparkSessionExtensions entry point: injects the engine's native SQL
  * functions and optimizer rules when a session is constructed — through
  * [[GraftSession.builder]], or `--conf
  * spark.sql.extensions=graft.plans.GraftExtensions` on spark-submit. There
  * is no post-construction path: `getOrCreate` on an existing session
  * ignores extensions, so every session must be built with them, and then
  * every query sees the same rule set. A rule can be switched off per
  * session with `spark.sql.optimizer.excludedRules`.
  *
  * Registered surface:
  *  - functions `haversine_m`, `cosine_sim`, `double_order_bits`,
  *    `double_order_bits_inv`, `l2_sq`, `jaro_winkler`;
  *  - optimizer rules [[OutlierIdiomRule]], [[CircleFilterRule]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.haversineFunction)
    ext.injectFunction(GraftExtensions.cosineFunction)
    ext.injectFunction(GraftExtensions.orderBitsFunction)
    ext.injectFunction(GraftExtensions.orderBitsInvFunction)
    ext.injectFunction(GraftExtensions.l2SqFunction)
    ext.injectFunction(GraftExtensions.jaroWinklerFunction)
    ext.injectOptimizerRule(_ => OutlierIdiomRule)
    ext.injectOptimizerRule(_ => CircleFilterRule)
  }
}

object GraftExtensions {
  private val haversineBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 4,
      s"haversine_m expects 4 arguments, got ${children.length}")
    val Seq(a1, o1, a2, o2) = children.map(c => Cast(c, DoubleType): Expression)
    HaversineExpression(a1, o1, a2, o2)
  }

  private val haversineFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("haversine_m"),
    new ExpressionInfo(classOf[HaversineExpression].getName, "haversine_m"),
    haversineBuilder)

  // Cast to array<float> like haversineBuilder casts to double: SQL double
  // literals / double embeddings would otherwise be read as 4-byte floats
  // from 8-byte slots (CosineExpression.checkInputDataTypes is the backstop).
  private val cosineBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2,
      s"cosine_sim expects 2 arguments, got ${children.length}")
    val Seq(a, b) = children.map(c => Cast(c, ArrayType(FloatType)): Expression)
    CosineExpression(a, b)
  }

  private val cosineFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineExpression].getName, "cosine_sim"),
    cosineBuilder)

  private val orderBitsBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1,
      s"double_order_bits expects 1 argument, got ${children.length}")
    DoubleOrderBitsExpression(Cast(children.head, DoubleType))
  }

  private val orderBitsFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("double_order_bits"),
    new ExpressionInfo(classOf[DoubleOrderBitsExpression].getName, "double_order_bits"),
    orderBitsBuilder)

  private val orderBitsInvBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1,
      s"double_order_bits_inv expects 1 argument, got ${children.length}")
    DoubleOrderBitsInverseExpression(
      Cast(children.head, org.apache.spark.sql.types.LongType))
  }

  private val orderBitsInvFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("double_order_bits_inv"),
    new ExpressionInfo(classOf[DoubleOrderBitsInverseExpression].getName,
      "double_order_bits_inv"),
    orderBitsInvBuilder)

  private val l2SqBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2,
      s"l2_sq expects 2 arguments, got ${children.length}")
    val Seq(a, b) = children.map(c =>
      Cast(c, ArrayType(org.apache.spark.sql.types.LongType)): Expression)
    L2SqExpression(a, b)
  }

  private val l2SqFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("l2_sq"),
    new ExpressionInfo(classOf[L2SqExpression].getName, "l2_sq"),
    l2SqBuilder)

  private val jaroWinklerBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2,
      s"jaro_winkler expects 2 arguments, got ${children.length}")
    val Seq(a, b) = children.map(c =>
      Cast(c, org.apache.spark.sql.types.StringType): Expression)
    JaroWinklerExpression(a, b)
  }

  private val jaroWinklerFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinklerExpression].getName, "jaro_winkler"),
    jaroWinklerBuilder)
}
