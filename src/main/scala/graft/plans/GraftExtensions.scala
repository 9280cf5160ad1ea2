package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer for the engine's custom expressions —
  * the idiomatic injection point (a session builder's `withExtensions(new
  * GraftExtensions)` or `spark.sql.extensions=graft.plans.GraftExtensions`),
  * so `float_dot` / `float_cosine` / `rhp_table_keys` resolve in plain SQL
  * text in every session of a cluster, not just after a per-session
  * `VectorExpressions.register` call.
  *
  * `rhp_table_keys(vec, dim, bitsPerTable, tables)` derives its hyperplanes
  * from the (foldable) parameters via [[graft.functions.VectorFns.rhpPlanes]]
  * — deterministic everywhere, nothing to broadcast.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    val v = e.eval()
    require(v != null, s"$what must not be NULL")
    v.asInstanceOf[Number].intValue()
  }

  // arity checks fail function misuse with a clear message instead of an
  // IndexOutOfBoundsException surfacing from deep inside resolution
  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$name requires $n arguments, got ${args.length}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("float_dot"),
      info("float_dot", "float_dot(a, b) - codegen'd dot product of two array<float>"),
      (args: Seq[Expression]) => {
        arity("float_dot", args, 2)
        FloatDotProduct(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("float_cosine"),
      info("float_cosine", "float_cosine(a, b) - fused single-pass cosine similarity"),
      (args: Seq[Expression]) => {
        arity("float_cosine", args, 2)
        FloatCosineSimilarity(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "jaro_winkler(a, b) - codegen'd Jaro-Winkler similarity"),
      (args: Seq[Expression]) => {
        arity("jaro_winkler", args, 2)
        JaroWinklerSim(args(0), args(1))
      }))
    // the native as-of join ([[AsofJoinStrategy]]) — sessions built without
    // extensions get it lazily via AsofJoin.asofNative's ensureStrategy
    ext.injectPlannerStrategy(_ => new AsofJoinStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughAsofJoin)
    ext.injectFunction((FunctionIdentifier("rhp_table_keys"),
      info("rhp_table_keys",
        "rhp_table_keys(vec, dim, bitsPerTable, tables) - multi-table RHP-LSH bucket keys"),
      (args: Seq[Expression]) => {
        arity("rhp_table_keys", args, 4)
        val dim = intArg(args(1), "dim")
        val bits = intArg(args(2), "bitsPerTable")
        val tables = intArg(args(3), "tables")
        RhpTableKeys(args(0),
          graft.functions.VectorFns.rhpPlanes(dim, bits, tables), bits)
      }))
  }
}
