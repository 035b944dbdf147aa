package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayCountInSetExpr, DotProductExpr, PlaneProjectExpr}

/** Session extensions exposing the engine's native expressions to SQL
  * (`spark.sql("... dot_product(a, b) ...")`).
  *
  * Two registration paths:
  *  - at session build: `.withExtensions(new GraftExtensions)` or
  *    `--conf spark.sql.extensions=graft.GraftExtensions`;
  *  - post-hoc on an existing session: [[GraftExtensions.register]]
  *    (driver-owned sessions we don't construct, e.g. notebook envs).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}

  /** cosine_sim(a, b) = dot(a,b) / (√dot(a,a) · √dot(b,b)) — composed
    * entirely from codegen expressions, so the SQL surface matches the
    * Column-level [[graft.operators.Similarity.cosine]] bit-for-bit. */
  private[graft] val cosineBuilder: Seq[Expression] => Expression = exprs => {
    val (a, b) = (exprs(0), exprs(1))
    Divide(DotProductExpr(a, b),
      Multiply(Sqrt(DotProductExpr(a, a)), Sqrt(DotProductExpr(b, b))))
  }

  /** count_in_set(toks, 'w1', 'w2', ...) — trailing args must be string
    * literals (the word set is a compile-time constant baked into the
    * generated code; a data-dependent set would be a join, not a
    * function). */
  private[graft] val countInSetBuilder: Seq[Expression] => Expression =
    exprs => {
      val words = exprs.tail.map { w =>
        require(w.foldable && w.dataType ==
          org.apache.spark.sql.types.StringType,
          s"count_in_set: word args must be string literals, got $w")
        w.eval().toString
      }
      ArrayCountInSetExpr(exprs.head, words)
    }

  /** plane_project(vec, k) — `k` (the hyperplane index) must be an
    * integer literal for the same constant-baking reason. */
  private[graft] val planeProjectBuilder: Seq[Expression] => Expression =
    exprs => {
      val k = exprs(1)
      require(k.foldable, s"plane_project: plane index must be a literal")
      PlaneProjectExpr(exprs.head, k.eval().asInstanceOf[Number].intValue())
    }

  /** Every SQL function: its name, the expression class its
    * `ExpressionInfo` names, and its builder. Both registration paths
    * read this one table. */
  private[graft] val functions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_product", classOf[DotProductExpr],
      exprs => DotProductExpr(exprs(0), exprs(1))),
    ("cosine_sim", classOf[DotProductExpr], cosineBuilder),
    ("count_in_set", classOf[ArrayCountInSetExpr], countInSetBuilder),
    ("plane_project", classOf[PlaneProjectExpr], planeProjectBuilder))

  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(
        spark, name, builder)
    }
}
