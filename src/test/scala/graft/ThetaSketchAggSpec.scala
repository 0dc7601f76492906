package graft

import org.apache.spark.sql.functions._
import graft.functions.ThetaSketchAgg._

/** Theta-sketch guarantee pins (what `agg_theta_overlap` leans on):
  * estimates stay within the published k=4096 bound (≈±3.1% at 2σ;
  * asserted at 5%) even in the SAMPLING regime (n ≫ k), the guarantee
  * survives repartitioning (the Union merge path), and intersection —
  * the operation HLL lacks — bounds the exact overlap. Small streams
  * (< k entries) are EXACT by construction, which is what makes the
  * declared query's booleans deterministic. */
class ThetaSketchAggSpec extends SparkSpec {
  import spark.implicits._

  test("small streams are exact; estimate equals the true distinct count") {
    val df = (1 to 1000).map(i => s"item_${i % 300}").toDF("x").repartition(6)
    val est = df.agg(theta_estimate(theta_sketch(col("x"))).as("e"))
      .as[Double].head()
    assert(est == 300.0) // below k: no sampling, exact
  }

  test("sampling regime: 100k distinct within 5% under any partitioning") {
    val df = (1 to 100000).map(i => s"u$i").toDF("x")
    for (parts <- Seq(1, 8)) {
      val est = df.repartition(parts)
        .agg(theta_estimate(theta_sketch(col("x"))).as("e"))
        .as[Double].head()
      assert(math.abs(est - 100000) <= 5000, s"parts=$parts est=$est")
    }
  }

  test("intersection estimate bounds the exact overlap (HLL can't do this)") {
    // A = 1..60k, B = 40k..100k → |A∩B| = 20001
    val a = (1 to 60000).map(i => ("a", s"u$i"))
    val b = (40000 to 100000).map(i => ("b", s"u$i"))
    val wide = (a ++ b).toDF("g", "x").repartition(8)
      .groupBy("g").agg(theta_sketch(col("x")).as("sk"))
      .agg(first(when(col("g") === "a", col("sk")), ignoreNulls = true).as("ska"),
        first(when(col("g") === "b", col("sk")), ignoreNulls = true).as("skb"))
    val inter = wide.select(
      theta_intersect_estimate(col("ska"), col("skb")).as("i"))
      .as[Double].head()
    // intersection error compounds (both sketches sample) — 10% bar,
    // the same bound the declared query asserts
    assert(math.abs(inter - 20001) <= 2000, s"inter=$inter")
  }

  test("difference estimate (AnotB) bounds the exact |A \\ B|") {
    // A = 1..60k, B = 40k..100k → |A\B| = 39999
    val a = (1 to 60000).map(i => ("a", s"u$i"))
    val b = (40000 to 100000).map(i => ("b", s"u$i"))
    val diff = (a ++ b).toDF("g", "x").repartition(8)
      .groupBy("g").agg(theta_sketch(col("x")).as("sk"))
      .agg(first(when(col("g") === "a", col("sk")), ignoreNulls = true).as("ska"),
        first(when(col("g") === "b", col("sk")), ignoreNulls = true).as("skb"))
      .select(theta_diff_estimate(col("ska"), col("skb")).as("d"))
      .as[Double].head()
    assert(math.abs(diff - 39999) <= 4000, s"diff=$diff")
  }

  test("the estimates compile: CODEGEN_ONLY gives the default mode's values") {
    // A = 1..3000, B = 2000..5000: below k, so every value is exact
    val a = (1 to 3000).map(i => ("a", s"u$i"))
    val b = (2000 to 5000).map(i => ("b", s"u$i"))
    def estimates(): Seq[Double] = {
      val r = (a ++ b).toDF("g", "x").repartition(4)
        .groupBy("g").agg(theta_sketch(col("x")).as("sk"))
        .agg(first(when(col("g") === "a", col("sk")), ignoreNulls = true).as("ska"),
          first(when(col("g") === "b", col("sk")), ignoreNulls = true).as("skb"))
        .select(theta_estimate(col("ska")),
          theta_intersect_estimate(col("ska"), col("skb")),
          theta_diff_estimate(col("ska"), col("skb")))
        .head()
      Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    val default = estimates()
    assert(default == Seq(3000.0, 1001.0, 1999.0))
    val factoryMode = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      assert(estimates() == default)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
  }

  test("serialized partials round-trip: merge of deserialized halves is consistent") {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.SetOperation
    val halves = Seq((1 to 50000), (25001 to 75000)).map { r =>
      r.map(i => s"u$i").toDF("x")
        .agg(theta_sketch(col("x")).as("sk"))
        .as[Array[Byte]].head()
    }
    val u = SetOperation.builder().buildUnion()
    halves.foreach(bytes => u.union(Memory.wrap(bytes)))
    val est = u.getResult().getEstimate
    assert(math.abs(est - 75000) <= 3750, s"union est=$est") // 5%
  }
}
