package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's native SQL functions: ONE (identifier, info, builder) list,
  * shared by [[GraftExtensions]] and [[register]], so arity validation and
  * construction can never diverge between the two registration paths. */
object NativeFunctions {

  private def native(name: String, cls: Class[_ <: Expression], args: String*)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      { children =>
        require(children.length == args.length,
          s"graft: $name requires exactly ${args.length} " +
            s"argument${if (args.length == 1) "" else "s"} (${args.mkString(", ")}); " +
            s"got ${children.length}")
        build(children)
      })

  private[graft] val registrations
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      native("rolling_hash", classOf[RollingHash], "string")(c => RollingHash(c(0))),
      native("window_md5", classOf[WindowMd5], "string", "width", "hex_prefix")(
        c => WindowMd5(c(0), c(1), c(2))),
      native("quant_dot", classOf[QuantProdSum], "array", "array", "scale")(
        c => QuantProdSum(c(0), c(1), c(2))),
      native("quant_dist2", classOf[QuantDiffSum], "array", "array", "scale")(
        c => QuantDiffSum(c(0), c(1), c(2))),
      native("int_dot", classOf[IntDotSum], "array", "array")(c => IntDotSum(c(0), c(1))))

  /** Session-local registration for library code that builds SQL
    * expression strings (KMeans, the vector and dedup queries): idempotent,
    * so it works whether or not the session was built with
    * `GraftExtensions` (which injects the same list). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registrations.foreach { case (fid, info, builder) =>
      if (!reg.functionExists(fid)) reg.registerFunction(fid, info, builder)
    }
  }
}
