package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Divide, Expression, ExpressionInfo, Floor, Literal, Multiply, Round}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.functions.{CosineSimilarity, DotProduct, EuclideanDistance, ShingleArray, SimHash64}

/** Session-extension registration (SparkSessionExtensions — SURVEY §7 /
  * prompt's custom-operator surface (d)): exposes graft's native
  * Catalyst expressions to SQL, so `spark.sql("SELECT cosine_sim(a, b)")`
  * plans the same codegen'd expression as the Scala DSL.
  *
  * Use either:
  *   a session builder's `.withExtensions(new GraftExtensions)`
  *   // or config: spark.sql.extensions=graft.GraftExtensions
  * or post-hoc on an existing session: `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.cosineSim)
    e.injectFunction(GraftExtensions.dotProduct)
    e.injectFunction(GraftExtensions.l2Distance)
    e.injectFunction(GraftExtensions.shinglesFn)
    e.injectFunction(GraftExtensions.distinctShinglesFn)
    e.injectFunction(GraftExtensions.simhashFn)
    e.injectOptimizerRule(_ => PortableRoundRule)
  }
}

/** Optimizer rule (Catalyst `Rule[LogicalPlan]` — SURVEY §7 custom-
  * operator surface (c)): rewrites `round(x, n)` on DOUBLE columns to
  * the engine-portable floor form floor(x·10ⁿ + 0.5)/10ⁿ, the same
  * discipline every graft query applies by hand (`catalog.Parity.pround`).
  * Spark's `Round` is BigDecimal-HALF_UP over the double's shortest
  * decimal representation; other engines (DuckDB, Postgres, most libm
  * users) round the binary double directly, and the two disagree
  * whenever a value lands on a half boundary — so plain SQL `round`
  * is NOT reproducible across engines. With this rule a user's ad-hoc
  * `spark.sql("... round(x, 9) ...")` gets the portable semantics
  * automatically (ties toward +∞, matching FLOOR-form SQL on the
  * other engine). Only literal scales 0..12 on DOUBLE children
  * rewrite (10ⁿ exact in double); `bround` (HALF_EVEN) is untouched.
  * Caveat: a fully-foldable argument (a literal) may constant-fold
  * with stock semantics before any optimizer rule runs — the rule
  * targets COLUMN data, which is where cross-engine reproducibility
  * matters.
  */
object PortableRoundRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case r @ Round(child, Literal(scale: Int, IntegerType), _)
          if child.dataType == DoubleType && scale >= 0 && scale <= 12 =>
        val s = Literal(math.pow(10, scale), DoubleType)
        if (scale == 0) Cast(Floor(Add(child, Literal(0.5, DoubleType))), DoubleType)
        else Divide(
          Cast(Floor(Add(Multiply(child, s), Literal(0.5, DoubleType))), DoubleType),
          s)
    }
}

object GraftExtensions {
  // the non-deprecated ExpressionInfo constructor validates group/source
  // enums that don't apply to session-registered functions — the classic
  // 5-arg form is the right surface here
  @scala.annotation.nowarn("cat=deprecation")
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[CosineSimilarity].getName, null, name, usage, "")

  private def binary(name: String, f: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, s"$name(a, b) over array<float>"),
      exprs => {
        require(exprs.length == 2, s"$name expects 2 arguments, got ${exprs.length}")
        f(exprs(0), exprs(1))
      })

  val cosineSim: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    binary("cosine_sim", CosineSimilarity.apply)
  val dotProduct: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    binary("dot_product", DotProduct.apply)
  val l2Distance: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    binary("l2_distance", EuclideanDistance.apply)

  /** The shingle-kernel family needs a literal k — extract it or fail
    * with the function name (a non-literal k cannot ride codegen'd
    * kernel construction). */
  private def litInt(name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal INT k, got $other")
  }

  val shinglesFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("shingles"), info("shingles", "shingles(text, k) — k-word shingles of normalized text"),
      exprs => {
        require(exprs.length == 2, s"shingles expects 2 arguments, got ${exprs.length}")
        ShingleArray(exprs(0), litInt("shingles", exprs(1)), distinct = false)
      })
  val distinctShinglesFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("distinct_shingles"), info("distinct_shingles", "distinct_shingles(text, k)"),
      exprs => {
        require(exprs.length == 2, s"distinct_shingles expects 2 arguments, got ${exprs.length}")
        ShingleArray(exprs(0), litInt("distinct_shingles", exprs(1)), distinct = true)
      })
  val simhashFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("simhash64"), info("simhash64", "simhash64(text, k) — 64-bit SimHash of the k-shingle multiset"),
      exprs => {
        require(exprs.length == 2, s"simhash64 expects 2 arguments, got ${exprs.length}")
        SimHash64(exprs(0), litInt("simhash64", exprs(1)))
      })

  /** Register on an already-built session (tests / notebooks). */
  def register(spark: SparkSession): Unit =
    Seq(cosineSim, dotProduct, l2Distance,
        shinglesFn, distinctShinglesFn, simhashFn).foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }

  /** Post-hoc twin of the builder-time `injectOptimizerRule` path: adds
    * [[PortableRoundRule]] to THIS session's experimental optimizations
    * (per-session state — a `newSession()` can opt in without touching
    * the parent). */
  def registerOptimizations(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(PortableRoundRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PortableRoundRule
}
