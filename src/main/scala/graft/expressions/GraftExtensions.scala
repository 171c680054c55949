package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for graft's native Catalyst expressions — the
  * `SparkSessionExtensions` registration point, so a SQL-only user of
  * the library gets the codegen'd hot-path functions without touching
  * the Column API:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.expressions.GraftExtensions …
  *   // or, on a session builder: .withExtensions(new GraftExtensions)
  *   spark.sql("SELECT vec_dot(a.e, b.e) FROM …")
  * }}}
  *
  * Registered functions (each IS the expression the Column API uses —
  * one implementation, two surfaces):
  *  - `vec_dot(array<double>, array<double>)` → double
  *    ([[DotProduct]]: whole-stage-codegen sequential dot product,
  *    NULL on length mismatch)
  *  - `sorted_intersect_size(array<bigint>, array<bigint>)` → int
  *    ([[SortedIntersectSize]]: two-pointer merge over value-sorted,
  *    duplicate-free arrays)
  *  - `unpack_frame(binary)` → array<int>
  *    ([[UnpackFrame]]: the reference's 16-byte LE wire frame; NULL on
  *    the length guard)
  *  - `simhash(array<bigint>, bits)` → bigint
  *    ([[SimhashBits]]: the one-pass SimHash vote fold every dedup
  *    gate keys on; `bits` must be an integer LITERAL ≤ 31 — the
  *    width is compiled into the expression, exactly as the Column
  *    API's)
  *
  * Injection is idempotent per session build and makes no session
  * mutable-state assumptions — exactly the contract
  * `spark.sql.extensions` expects.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def arity(name: String, n: Int)(es: Seq[Expression]): Seq[Expression] = {
    require(es.length == n,
      s"$name expects $n argument(s), got ${es.length}")
    es
  }

  /** The function descriptions injected by [[GraftExtensions]];
    * exposed so tests (and users composing their own extension chains)
    * can register them individually. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      es => { val a = arity("vec_dot", 2)(es); DotProduct(a(0), a(1)) }),
    (FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName,
        "sorted_intersect_size"),
      es => { val a = arity("sorted_intersect_size", 2)(es)
        SortedIntersectSize(a(0), a(1)) }),
    (FunctionIdentifier("unpack_frame"),
      new ExpressionInfo(classOf[UnpackFrame].getName, "unpack_frame"),
      es => { val a = arity("unpack_frame", 1)(es); UnpackFrame(a(0)) }),
    (FunctionIdentifier("simhash"),
      new ExpressionInfo(classOf[SimhashBits].getName, "simhash"),
      es => {
        val a = arity("simhash", 2)(es)
        val bits = a(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
              org.apache.spark.sql.types.IntegerType) => v
          case _ => throw new IllegalArgumentException(
            "simhash width must be an INTEGER LITERAL (it compiles into the expression)")
        }
        SimhashBits(org.apache.spark.sql.catalyst.expressions.Cast(a(0),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)), bits)
      }))
}
