package graft

import org.apache.spark.sql.functions._
import graft.functions.{NativeExpressions, VectorAggregators}
import graft.operators.VectorOps

/** Native Catalyst expression correctness: codegen == interpreted ==
  * HOF composition (bit-for-bit), SQL registration, aggregator laws. */
class NativeExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf).limit(50).cache()

  test("native cosine_sim is bit-identical to the zip_with+aggregate HOF form") {
    val both = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("hof"),
        NativeExpressions.cosine_sim(col("a.embedding"), col("b.embedding")).as("native"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, n) => assert(h == n, s"hof=$h native=$n") }
  }

  test("cosine_sim codegen path equals interpreted eval") {
    // force interpreted eval by disabling codegen for one run
    val pair = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
    val withCodegen = pair
      .select(NativeExpressions.cosine_sim(col("a.embedding"), col("b.embedding")))
      .as[Double].collect().toSeq
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val factoryMode = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = pair
        .select(NativeExpressions.cosine_sim(col("a.embedding"), col("b.embedding")))
        .as[Double].collect().toSeq
      assert(withCodegen == interpreted)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    }
  }

  test("native dot_product is bit-identical to the zip_with+aggregate HOF form") {
    val both = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        VectorOps.dot(col("a.embedding"), col("b.embedding")).as("hof"),
        NativeExpressions.dot_product(col("a.embedding"), col("b.embedding")).as("native"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, n) => assert(h == n, s"hof=$h native=$n") }
  }

  test("hamming_dist: zero for equal strings, counts differing positions, length gap") {
    val df = Seq(
      ("0011", "0011", 0),
      ("0011", "0000", 2),
      ("1111", "0000", 4),
      ("111", "11100", 2) // common prefix equal, 2 extra chars
    ).toDF("a", "b", "want")
    val got = df.select(
      NativeExpressions.hamming_dist(col("a"), col("b")).as("got"), col("want"))
      .as[(Int, Int)].collect()
    got.foreach { case (g, w) => assert(g == w) }
  }

  test("SQL registration: cosine_sim/hamming_dist callable from spark.sql") {
    emb.createOrReplaceTempView("emb_native_test")
    val n = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS s
        |FROM emb_native_test a JOIN emb_native_test b ON a.vec_id < b.vec_id
        |WHERE cosine_sim(a.embedding, b.embedding) > -2""".stripMargin).count()
    assert(n > 0)
    assert(spark.sql("SELECT hamming_dist('101', '100') AS d").as[Int].head == 1)
  }

  test("centroid aggregator: mean of identical vectors is the vector") {
    val vecs = Seq(
      (0, Seq(1.0f, 2.0f, 3.0f)),
      (0, Seq(1.0f, 2.0f, 3.0f)),
      (1, Seq(4.0f, 0.0f, 0.0f))).toDF("label", "embedding")
    val out = vecs.as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(VectorAggregators.Centroid.toColumn.name("c"))
      .collect().toMap
    assert(out(0) == Seq(1.0, 2.0, 3.0))
    assert(out(1) == Seq(4.0, 0.0, 0.0))
  }

  test("normalize_text equals the lower+regex+trim chain it replaces") {
    val chain = (c: org.apache.spark.sql.Column) =>
      trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))
    // edge shapes: case folds, digit/symbol mixes, space runs at every
    // position, deletion-created space adjacency, empty / all-deleted
    // rows, and NON-ASCII rows that must take the exact fallback chain
    // (including U+212A KELVIN SIGN, whose lowercase lands INSIDE [a-z])
    val rows = Seq(
      "Hello, World!", "  a  b  ", "A!B", "a ! b", "a \t b", "", "!!!",
      "MiXeD 42 CaSe", "trail ", " lead", "a  b   c", "tab\tsep",
      "café au lait", "Kelvin scale", "İstanbul",
      "Éclair 9", "snake_case-words", "a.b,c;d:e") ++
      // pseudo-random ASCII soup (deterministic): every printable class
      (1 to 50).map(i => (0 until 40).map(j =>
        (32 + ((i * 131 + j * 37) % 95)).toChar).mkString)
    val df = rows.toDF("text")
    val got = df.select(
      NativeExpressions.normalize_text(col("text")).as("native"),
      chain(col("text")).as("chain"))
      .as[(String, String)].collect()
    got.zip(rows).foreach { case ((n, c), in) =>
      assert(n == c, s"input=${in.take(60)} native=$n chain=$c")
    }
    // and the real corpus column agrees end-to-end
    val corpus = Tables.documents(spark, sf).select(
      NativeExpressions.normalize_text(col("text")).as("native"),
      chain(col("text")).as("chain"))
      .filter(col("native") =!= col("chain")).count()
    assert(corpus == 0L)
  }
}
