package graft.adtl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst-native UUIDv5 expression with whole-stage codegen — unlike a
  * Scala UDF, this stays inside generated code (no serialization boundary,
  * no closure dispatch per row). The namespace UUID rides along as two long
  * literals so the expression is self-contained and foldable-friendly.
  *
  * Registered per-session under `graft_uuid5` and invoked via
  * `call_function` (the public Column-from-Expression route in Spark 4).
  */
case class Uuid5Expr(nsHi: Expression, nsLo: Expression, seed: Expression)
    extends TernaryExpression {

  override def first: Expression = nsHi
  override def second: Expression = nsLo
  override def third: Expression = seed

  override def dataType: DataType = StringType
  override def nullable: Boolean = seed.nullable
  override def prettyName: String = "graft_uuid5"

  // both paths call the static forwarder of `Uuid5.uuid5String`: a method
  // on this case class's companion gets no forwarder when its name clashes
  // with an Expression method (`eval`), and generated code cannot reach it
  override protected def nullSafeEval(hi: Any, lo: Any, s: Any): Any =
    UTF8String.fromString(Uuid5.uuid5String(
      hi.asInstanceOf[Long], lo.asInstanceOf[Long], s.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hi, lo, s) =>
      s"UTF8String.fromString(graft.adtl.Uuid5.uuid5String($hi, $lo, $s.toString()))")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(nsHi = newFirst, nsLo = newSecond, nsThird = newThird)

  private def copy(nsHi: Expression, nsLo: Expression, nsThird: Expression): Uuid5Expr =
    Uuid5Expr(nsHi, nsLo, nsThird)
}

object Uuid5Expr {
  @volatile private var registered = Set.empty[String]

  /** Idempotently register `graft_uuid5` in the session's function registry. */
  def register(spark: SparkSession): Unit = {
    val id = spark.sessionState.toString
    if (!registered.contains(id)) synchronized {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_uuid5",
        exprs => Uuid5Expr(exprs(0), exprs(1), exprs(2)),
        "scala_udf")
      registered += id
    }
  }
}
