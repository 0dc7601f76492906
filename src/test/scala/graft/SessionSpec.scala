package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.plans.CosineTopKExec

/** [[Session.build]] is the only session builder: what it installs must
  * be there without any per-session registration. The shared test
  * session is one of its sessions. */
class SessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("a factory session resolves the native SQL functions, plans CosineTopK, runs in UTC") {
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0, 0.0), array(1.0, 0.0)),
        |  hamming_dist('1010', '1001'),
        |  dot_product(array(1.0, 2.0), array(3.0, 4.0)),
        |  normalize_text('  Hello,  World! ')""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getInt(1) == 2)
    assert(r.getDouble(2) == 11.0)
    assert(r.getString(3) == "hello world")
    val plan = SparkEntry.queries("llm_sim_topk_exec")(spark, sf).queryExecution.executedPlan
    assert(find(plan)(_.isInstanceOf[CosineTopKExec]).isDefined, plan.toString.take(1500))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
