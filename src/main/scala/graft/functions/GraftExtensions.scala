package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If,
  IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Catalyst optimizer rule (SURVEY.md §2 custom-operator tier (c)):
  * hamming_dist(x, x) is 0 for every non-null x, so fold it before the
  * per-row loop ever runs — null-safely (`null → null`, matching the
  * unfolded expression bit-for-bit) and only for deterministic x.
  * The shape to note for scale: an engine-specific algebraic identity
  * the generic optimizer can't know, installed as a first-class
  * `Rule[LogicalPlan]` instead of a wrapper API users must remember
  * to call. */
object SimplifyVectorIdentities extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case NativeExpressions.HammingDist(a, b)
        if a.deterministic && a.semanticEquals(b) =>
      if (a.nullable) If(IsNull(a), Literal(null, IntegerType), Literal(0))
      else Literal(0)
  }
}

/** SparkSessionExtensions wiring (SURVEY.md §2 custom-operator tier (c),
  * spark_guide registration pattern) and the ONLY path by which the
  * engine's native functions, optimizer rule and planner strategy reach
  * a session: [[graft.Session.build]] installs it on every session, and
  * a deployment can name it in `spark.sql.extensions`. SQL text can then
  * call `cosine_sim`, `hamming_dist`, `dot_product` and `normalize_text`,
  * and no query function registers anything at run time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    def function(name: String, cls: Class[_], build: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    import NativeExpressions._
    function("cosine_sim", classOf[CosineSim], es => CosineSim(es(0), es(1)))
    function("hamming_dist", classOf[HammingDist], es => HammingDist(es(0), es(1)))
    function("dot_product", classOf[DotProduct], es => DotProduct(es(0), es(1)))
    function("normalize_text", classOf[NormalizeText], es => NormalizeText(es(0)))
    e.injectOptimizerRule(_ => SimplifyVectorIdentities)
    // tier (c) complete: the whole-operator CosineTopK plan node gets a
    // physical strategy in every extended session
    e.injectPlannerStrategy(_ => graft.plans.CosineTopKStrategy)
  }
}
