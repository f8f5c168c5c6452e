package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: registers graft's native expressions
  * as SQL functions and plans the [[graft.plans.TopKPerGroup]] node.
  * Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or call [[GraftExtensions.registerAll]] on a live session — after
  * which `SELECT graft_dot(a, b)` works from plain SQL, and the typed
  * [[dot]] helper from the DataFrame API. ([[graft.ops.TopK]] injects
  * its strategy at runtime into sessions built without the extension.) */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

object GraftExtensions {

  private type FunctionEntry =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def entry(name: String, clazz: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): FunctionEntry = (
    FunctionIdentifier(name),
    new ExpressionInfo(clazz.getCanonicalName, name),
    (children: Seq[Expression]) => {
      require(children.length == arity,
        s"$name takes exactly $arity argument(s)")
      build(children)
    })

  /** Literal int argument of a SQL call (`graft_lsh_sig(text, 3, 4)`). */
  private def intArg(name: String, e: Expression): Int = {
    require(e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType,
      s"$name expects a literal int, got $e")
    val v = e.eval()
    // null.asInstanceOf[Int] would silently unbox to 0 — a NULL literal
    // must be rejected like a non-literal, not build a 0-gram signature
    require(v != null, s"$name expects a literal int, got NULL")
    v.asInstanceOf[Int]
  }

  private[functions] val dotFunction: FunctionEntry =
    entry("graft_dot", classOf[DotProduct], 2)(c => DotProduct(c.head, c(1)))

  private[functions] val all: Seq[FunctionEntry] = Seq(
    dotFunction,
    entry("graft_jaccard", classOf[JaccardSorted], 2)(c =>
      JaccardSorted(c.head, c(1))),
    entry("graft_simhash32", classOf[SimHash32], 1)(c => SimHash32(c.head)),
    entry("graft_simhash_tok", classOf[SimHashTok], 1)(c => SimHashTok(c.head)),
    entry("graft_rolling_hash", classOf[RollingWordHash], 1)(c =>
      RollingWordHash(c.head)),
    entry("graft_lsh_sig", classOf[LshSignature], 3)(c =>
      LshSignature(c.head, intArg("graft_lsh_sig.n", c(1)),
        intArg("graft_lsh_sig.bands", c(2)))))

  /** Register on an already-built session (tests, REPL). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }

  /** Typed Column helper over the native expression — no registry
    * needed; builds the expression node directly. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(DotProduct(bridge.expression(a), bridge.expression(b)))
  }
}
