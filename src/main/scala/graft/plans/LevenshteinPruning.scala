package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: cheap length-difference pruning for levenshtein
  * thresholds.
  *
  * `levenshtein(a, b) < k` implies `abs(length(a) − length(b)) < k` (edit
  * distance is lower-bounded by the length difference — each edit changes
  * the length by at most 1). The rewrite conjoins that O(1) bound BEFORE the
  * O(|a|·|b|) dynamic program:
  *
  *   levenshtein(a,b) < k   ⇒   abs(len(a) − len(b)) < k  AND  levenshtein(a,b) ≤ k−1
  *
  * On similarity joins (J7 anti-join, J8 dictionary join) most candidate
  * pairs fail the length bound, so the quadratic-cost comparator is skipped
  * for them — the same cheap-predicate-first discipline the reference
  * hand-codes (`/root/reference/src/cmnd/main.py:57-60`) but applied BY THE
  * OPTIMIZER, not the query author.
  *
  * The rewritten comparison uses `<=` with k−1 (integer-equivalent) so the
  * pattern cannot rematch — the rule is idempotent across optimizer passes.
  *
  * Two ways to enable:
  *  - existing session: `spark.experimental.extraOptimizations ++= Seq(LevenshteinPruning)`
  *  - at build time: `.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object LevenshteinPruning extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThan(lev: Levenshtein, Literal(k: Int, IntegerType)) if lev.threshold.isEmpty =>
      And(
        LessThan(Abs(Subtract(Length(lev.left), Length(lev.right))), Literal(k)),
        LessThanOrEqual(lev, Literal(k - 1)))
    case GreaterThan(Literal(k: Int, IntegerType), lev: Levenshtein) if lev.threshold.isEmpty =>
      And(
        LessThan(Abs(Subtract(Length(lev.left), Length(lev.right))), Literal(k)),
        LessThanOrEqual(lev, Literal(k - 1)))
  }

  /** Idempotent per-session registration on an already-built session. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(LevenshteinPruning))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ LevenshteinPruning
}

/** `spark.sql.extensions` entry point: the engine's whole Catalyst surface
  * in one switch — the optimizer rule above, the kernel step's planner
  * strategy ([[graft.pipe.ExtractKernelStrategy]]), plus every native expression
  * registered as a PERMANENT SQL function (`injectFunction` lands in the
  * session's FunctionRegistry at build time, so a pure-SQL user — a
  * notebook, a Thrift server, `spark-sql` with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` — gets
  * `html_main_text(...)` etc. without touching the Scala API; the
  * per-session `register()` helpers remain for sessions built without
  * extensions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => LevenshteinPruning)
    e.injectPlannerStrategy(_ => graft.pipe.ExtractKernelStrategy)
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
  }
}

object GraftExtensions {

  /** The engine's native-expression surface — ONE list
    * ([[graft.functions.NativeFunctions.all]]) drives injectFunction here,
    * the per-module `register()` helpers, and `registerAll`, so the SQL
    * and Scala surfaces cannot drift. */
  def functions: Seq[(String, Seq[Expression] => Expression)] =
    graft.functions.NativeFunctions.all

  /** Register the whole native surface on an already-built session (the
    * ad-hoc twin of the extensions path, driven by the SAME list). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.functions.NativeFunctions.registerAll(spark)
}
