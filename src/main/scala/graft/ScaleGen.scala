package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: synthesize a LARGER scale factor from an existing one by
  * key-shifted replication — `factor` replicas of every table, each with
  * its key columns offset by `r * 10^8` so join relationships (orders ⋈
  * customer, lineitem ⋈ part/supplier) hold within each replica and all
  * cardinalities grow by `factor`. Documents and embeddings replicate
  * as BOUNDED near-dup pairs (groups of two replicas, see the inline
  * notes): dup-cluster size stays O(1) while cluster count grows with
  * the corpus — the realistic dedup shape at scale. The first cut made
  * all `factor` replicas of a doc mutual near-dups, which grew the true
  * near-dup pair count quadratically in the factor and dominated every
  * dedup-family bench row at sf10.
  *
  * This exists for the sf1 BENCH checkpoint (scale growth of each query,
  * hunting super-linear behavior), not for correctness runs — the DuckDB
  * oracle gate stays on the driver-generated sf0.01. Bounded probe
  * queries (doc_id < 150 subsets, fixed query vectors) deliberately keep
  * their size: only replica 0 holds those ids, which is exactly the
  * bounded-probe contract; corpus-wide queries scale with the factor.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val spark = Session.build(src, Session.cpus)
    generate(spark, src, out, factorS.toInt)
    // main OWNS its session; generate() never stops a caller's (the
    // spec drives it inside the shared test session)
    spark.stop()
    println(s"""{"scaled":"$src","to":"$out","factor":${factorS.toInt}}""")
  }

  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    val OFF = 100000000L // all sf0.1 keys are far below 10^8

    // loud guard, not an assumption: re-running over an ALREADY-scaled
    // dir (keys ≥ OFF) would silently collide replica key ranges —
    // breaking FK joins and dedup structure while every test stays
    // green. One cheap agg per table buys a hard failure instead.
    def checked(base: DataFrame, keys: String*): DataFrame = {
      if (factor > 1 && keys.nonEmpty) {
        val aggs = keys.map(k => max(col(k).cast("long")).as(k))
        val row = base.agg(aggs.head, aggs.tail: _*).head()
        keys.zipWithIndex.foreach { case (k, i) =>
          require(row.isNullAt(i) || row.getLong(i) < OFF,
            s"ScaleGen: max($k)=${row.getLong(i)} >= replica offset $OFF " +
              s"in $src — already-scaled source? replica key ranges would collide")
        }
      }
      base
    }

    def replicate(base: DataFrame)(shift: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until factor).map(r => shift(base, r * OFF)).reduce(_.unionByName(_))
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // fixed-size dimensions copy through unscaled (25 nations stay 25
    // nations at every TPC-H sf; scaling them would distort every
    // broadcast-dim join the bench exercises)
    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")
    // names get a DOUBLED-digit replica prefix (r11, r22, …): cloning
    // names verbatim makes every name appear `factor` times, which
    // quadratically inflates any name-blocked join (llm_fuzzy_join's
    // deletion-key buckets grew ~100× on the first cut of this
    // generator) — and a single-digit distinguisher would still leave
    // every replica pair at edit distance 1, i.e. a LEGITIMATE fuzzy
    // match. Doubling the digit puts any two replicas ≥2 edits apart,
    // so the edit-distance-≤1 workload scales by corpus size, not by
    // clone-family size²
    def mark(nameCol: String, o: Long)(d: DataFrame): DataFrame =
      if (o == 0L) d
      else d.withColumn(nameCol,
        concat(lit(s"r${o / OFF}${o / OFF}"), col(nameCol)))
    write(replicate(checked(Tables.customer(spark, src), "c_custkey")) { (d, o) =>
      mark("c_name", o)(d.withColumn("c_custkey", col("c_custkey") + o)) },
      "customer")
    write(replicate(checked(Tables.supplier(spark, src), "s_suppkey")) { (d, o) =>
      mark("s_name", o)(d.withColumn("s_suppkey", col("s_suppkey") + o)) },
      "supplier")
    write(replicate(checked(Tables.part(spark, src), "p_partkey")) { (d, o) =>
      d.withColumn("p_partkey", col("p_partkey") + o) }, "part")
    write(replicate(checked(Tables.orders(spark, src), "o_orderkey", "o_custkey")) { (d, o) =>
      d.withColumn("o_orderkey", col("o_orderkey") + o)
        .withColumn("o_custkey", col("o_custkey") + o) }, "orders")
    write(replicate(checked(Tables.lineitem(spark, src),
        "l_orderkey", "l_partkey", "l_suppkey")) { (d, o) =>
      d.withColumn("l_orderkey", col("l_orderkey") + o)
        .withColumn("l_partkey", col("l_partkey") + o)
        .withColumn("l_suppkey", col("l_suppkey") + o) }, "lineitem")
    // events.ts arrives as TIMESTAMP(NANOS); Tables.events already
    // truncates to µs, so the scaled copy is a plain µs timestamp
    write(replicate(checked(Tables.events(spark, src), "event_id", "user_id")) { (d, o) =>
      d.withColumn("event_id", col("event_id") + o)
        .withColumn("user_id", col("user_id") + o) }, "events")
    // Documents: BOUNDED near-dup clusters. The first cut prefixed every
    // replica with a tiny marker, which made all `factor` replicas of a
    // doc mutual near-dups — so the TRUE near-dup pair count grew
    // quadratically in the factor and every dedup-family bench row
    // (minhash/simhash/semdedup/CC) inherited an O(factor²) output: the
    // sf10 run measured llm_semdedup at 24.7× and llm_dedup_minhash at
    // 16.5× growth on 10× data, all of it legitimate pair volume
    // manufactured by the generator. A real corpus keeps dup-cluster
    // SIZE O(1) while cluster COUNT grows with the corpus, so replicas
    // now come in groups of two (g = (r+1)/2): both members interleave a
    // group marker token after every 3rd word — every 3-word shingle
    // crossing a chunk boundary carries the marker, so cross-group
    // Jaccard ≈ 1/7, far below the 8×4 banding threshold, and the
    // marker's token weight dominates SimHash votes so fingerprints land
    // ~32 bits apart — and the even member adds one extra prefix token,
    // making each group an edit-distance-tiny near-dup PAIR. Cluster
    // size stays ≤2 at any factor; pair count grows linearly.
    def interleave(text: Column, g: Long): Column =
      array_join(transform(
        sequence(lit(0),
          greatest(floor((size(split(text, " ")) + lit(2)) / lit(3)).cast("int") - 1,
            lit(0))),
        i => concat_ws(" ", slice(split(text, " "), i * 3 + 1, lit(3)))),
        s" gg$g ")
    write(replicate(checked(Tables.documents(spark, src), "doc_id")) { (d, o) =>
      val r = o / OFF
      val g = (r + 1) / 2
      val marked =
        if (r == 0L) d
        else {
          val base = interleave(col("text"), g)
          val t = if (r % 2 == 0) concat(lit(s"pp$g "), base) else base
          d.withColumn("text", t).withColumn("n_chars", length(col("text")).cast("long"))
        }
      marked.withColumn("doc_id", col("doc_id") + o) }, "documents")
    // Embeddings: same bounded-pair structure. Verbatim replica vectors
    // were EXACT dups (cosine 1), the factor²-pair shape again; each
    // group now applies a deterministic coordinate permutation + sign
    // flip (an isometry: norms and within-group geometry preserved,
    // cross-group cosine ≈ a random ±1/√dim, below every near-dup
    // threshold), and the even member jitters one coordinate by 2% so
    // each group is a genuine near-dup pair rather than an exact clone.
    // head(1) instead of head(): an empty source table has no dim to
    // probe, and the replicas of an empty table are empty regardless —
    // write it verbatim and skip the remap machinery entirely
    val dim = Tables.embeddings(spark, src).select(size(col("embedding")))
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)
    // (sign table column, remapped vector) — the ±1 sign table
    // materializes as ONE dim-length array per row via a named column;
    // referencing the array(...) literal from inside the transform
    // lambda would re-evaluate the dim-element CreateArray once per
    // OUTPUT ELEMENT (O(dim²) work per row — for 64 dims that is 4096
    // literal evaluations per vector)
    def remap(v: Column, sg: Column, r: Long): Column = {
      val g = (r + 1) / 2
      transform(sequence(lit(0), lit(dim - 1)), i => {
        val src = (i + lit(g.toInt)) % dim + 1
        val jit = if (r % 2 == 0) when(i === 0, lit(1.02f)).otherwise(lit(1.0f))
                  else lit(1.0f)
        (element_at(v, src) * element_at(sg, i + 1) * jit).cast("float")
      })
    }
    def signTable(g: Long): Column = array((0 until dim).map(i =>
      lit(if (scala.util.hashing.MurmurHash3.stringHash(s"sg-$g-$i") % 2 == 0) 1.0f
          else -1.0f)): _*)
    write(replicate(checked(Tables.embeddings(spark, src), "vec_id")) { (d, o) =>
      val r = o / OFF
      val remapped =
        if (r == 0L || dim == 0) d
        else d.withColumn("sg", signTable((r + 1) / 2))
          .withColumn("embedding", remap(col("embedding"), col("sg"), r))
          .drop("sg")
      remapped.withColumn("vec_id", col("vec_id") + o) }, "embeddings")
  }
}
