package graft

import org.apache.spark.sql.SparkSession

/** GraftExtensions installs the native functions at session-build time
  * (the `spark.sql.extensions` deployment path). */
class ExtensionsSpec extends SparkSpec {

  test("withExtensions session resolves cosine_sim/hamming_dist in SQL") {
    val shared = spark // materialize the shared session first
    // getOrCreate only applies extensions to a NEWLY built session —
    // clear the default/active pointers so one is actually built (the
    // JVM-wide SparkContext is reused), then restore the shared session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      assert(s2 ne shared)
      val d = s2.sql("SELECT hamming_dist('1010', '1001') AS d")
        .collect().head.getInt(0)
      assert(d == 2)
      val c = s2.sql("SELECT cosine_sim(array(1.0, 0.0), array(1.0, 0.0)) AS c")
        .collect().head.getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("injected planner strategy plans CosineTopK without manual registration") {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      // build the plan node directly — only the extension-injected
      // strategy can plan it here
      val corpus = Seq((3L, Seq(1.0f, 0.0f)), (4L, Seq(0.6f, 0.8f)),
        (5L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
      val df = org.apache.spark.sql.GraftColumnBridge.ofRows(s2,
        graft.plans.CosineTopK(Seq((0L, Seq(1.0f, 0.0f))), 2,
          corpus.queryExecution.logical)())
      val out = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(out.toSeq == Seq((0L, 1, 3L), (0L, 2, 4L))) // exact, then 0.6
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("two CosineTopK nodes compose in one tree (per-node exprIds)") {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import org.apache.spark.sql.functions.col
      import s2.implicits._
      // companion-constant output attrs would give BOTH nodes the same
      // exprIds — a union/join of two sim-search frames then carries
      // duplicate ids and misresolves. Per-node attrs must make this
      // compose cleanly.
      val corpusA = Seq((3L, Seq(1.0f, 0.0f)), (4L, Seq(0.0f, 1.0f)))
        .toDF("vec_id", "embedding")
      val corpusB = Seq((7L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
      def topk(qid: Long, c: org.apache.spark.sql.DataFrame) =
        org.apache.spark.sql.GraftColumnBridge.ofRows(s2,
          graft.plans.CosineTopK(Seq((qid, Seq(1.0f, 0.0f))), 1,
            c.queryExecution.logical)())
      val a = topk(0L, corpusA)
      val b = topk(1L, corpusB)
      val u = a.unionByName(b).orderBy("query_id")
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(u.toSeq == Seq((0L, 3L), (1L, 7L)))
      val j = a.select(col("query_id").as("qa"), col("neighbor_id").as("na"))
        .crossJoin(b.select(col("query_id").as("qb"), col("neighbor_id").as("nb")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(j.toSeq == Seq((0L, 3L, 1L, 7L)))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("optimizer rule folds hamming_dist(x, x) to a null-safe constant") {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val df = Seq(Some("1010"), None).toDF("s")
        .selectExpr("s", "hamming_dist(s, s) AS d")
      // the self-compare never reaches execution: the optimized plan has
      // no HammingDist left
      val folded = !df.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.NativeExpressions.HammingDist]))
      assert(folded, df.queryExecution.optimizedPlan.toString)
      val rows = df.collect().map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
      assert(rows(Some("1010")) == Some(0)) // non-null folds to 0
      assert(rows(None).isEmpty)            // null stays null
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
