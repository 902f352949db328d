package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One graft SQL function's registry entry: the (name, info, builder) triple
  * that `SparkSessionExtensions.injectFunction` takes. Each kernel object
  * defines ONE `entry`; its `register(spark)` and [[graft.GraftExtensions]]
  * install that same entry, so the two routes cannot drift.
  */
final case class FunctionEntry(id: FunctionIdentifier, info: ExpressionInfo,
    build: Seq[Expression] => Expression) {

  /** Idempotently register this function in the session's registry. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(id, info, build)
}

object FunctionEntry {
  /** An entry whose info carries only the expression class and the name. */
  def apply(name: String, cls: Class[_])(build: Seq[Expression] => Expression): FunctionEntry =
    FunctionEntry(FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** A one-argument function. */
  def unary(name: String, cls: Class[_])(f: Expression => Expression): FunctionEntry =
    FunctionEntry(name, cls) { args =>
      require(args.length == 1, s"$name takes one argument")
      f(args.head)
    }

  /** A two-argument function. */
  def binary(name: String, cls: Class[_])(f: (Expression, Expression) => Expression): FunctionEntry =
    FunctionEntry(name, cls) { args =>
      require(args.length == 2, s"$name takes two arguments")
      f(args.head, args(1))
    }
}
