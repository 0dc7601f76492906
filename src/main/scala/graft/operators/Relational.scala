package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator surface (SURVEY.md §2 Part B rows B10-B30).
  *
  * The reference's only relational shapes are projection (`list_chunks`,
  * /root/reference/src/data_manager.rs:83-91), range predicates
  * (`find_chunk`, :93-121) and the value-match cleanup in `delete_chunk_id`
  * (/root/reference/src/rocksdb_storage_engine.rs:94-99) — a degenerate
  * join. Everything else here is the north-star batch surface mapped to
  * Spark built-ins so Catalyst owns the physical strategy.
  *
  * Float discipline (SURVEY.md §7.3): every money aggregate runs in
  * DECIMAL(18,2) (exact) and is CAST to DOUBLE only at the end, so the
  * DuckDB oracle hashes bit-identically. Every query ends in a total
  * orderBy with a unique tiebreaker.
  */
object Relational {

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  // ---------------------------------------------------------------- B10
  /** Projection: select / computed column / drop, pushed to the parquet
    * scan (ReadSchema pruning — only 5 of 11 lineitem columns read). */
  def projBasic(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 1000)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        (dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double").as("disc_price"))
      // (l_orderkey, l_linenumber) is NOT unique in the testdata — order by
      // every output column for a total, engine-independent row order
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "disc_price")

  // ---------------------------------------------------------------- B11
  /** Predicates: =, BETWEEN, IN, LIKE, OR/AND/NOT, date compare. */
  def filterPred(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        (col("l_returnflag") === "R" &&
          col("l_quantity").between(10, 20) &&
          col("l_shipdate") >= lit("1999-01-01").cast("timestamp")) ||
        (col("l_linestatus").isin("F") &&
          col("l_quantity") < 3 &&
          !(col("l_returnflag") === "A")))
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity")

  // ---------------------------------------------------------------- B12
  /** Equi inner join lineitem ⋈ orders (both large → Spark picks
    * sort-merge/shuffle-hash; at 100 TB both sides partition on the key). */
  def joinInner(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("revenue"))
      .orderBy("o_orderpriority")

  // ---------------------------------------------------------------- B13
  /** Broadcast join with a small dim table (part): the dim ships to every
    * executor, no shuffle of the fact side — the 100 TB-critical pattern. */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("p_brand")

  // ---------------------------------------------------------------- B14
  /** Left outer join: every customer, with order count 0 when no orders. */
  def joinOuter(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(dec2(col("o_totalprice"))).cast("double"), lit(0.0)).as("total"))
      .orderBy("c_custkey")

  // ---------------------------------------------------------------- B15a
  /** Left semi join: orders having at least one heavy lineitem (EXISTS). */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(
        Tables.lineitem(s, d).filter(col("l_quantity") > 45).select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")

  // ---------------------------------------------------------------- B15b
  /** Left anti join: customers with no orders (NOT EXISTS) — same shape as
    * the reference's dedup-on-ingest gate (SURVEY.md Part A row A4). */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  // ---------------------------------------------------------------- B16
  /** Theta join — COUNT form: per nation, how many (supplier, customer)
    * pairs have s_acctbal > c_acctbal. The output needs only the COUNT,
    * so enumerating the join rows (the naive plan this replaced) grows
    * quadratically with scale — 13.4× on 10× data at sf10, ~10⁴× join
    * rows at the 100× question. Instead this is the [[aggMannWhitney]]
    * rank-count fold: union both sides tagged into a per-(nation, bal)
    * VALUE HISTOGRAM (one map-side-combined aggregate — the only
    * corpus-grained exchange), then a running customer count over each
    * nation's distinct balances gives, at every balance, the customers
    * strictly below it; Σ n_sup(bal) · cust_below(bal) is the pair count.
    * Strict `>` is free: the rows-to-−1 frame over the DISTINCT-value
    * frame excludes the current balance's own customers. O(n log n), one
    * linear shuffle + one histogram-sized window — same oracle SQL (the
    * relation is unchanged), PlanSpec pins that no Join survives. The
    * genuine pair-enumerating theta capability lives in
    * [[joinThetaPairs]], whose RESULT is the join rows. */
  def joinTheta(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
      .select(col("s_nationkey").as("nationkey"), col("s_acctbal").as("bal"),
        lit(1L).as("ns"), lit(0L).as("nc"))
    val cust = Tables.customer(s, d)
      .select(col("c_nationkey").as("nationkey"), col("c_acctbal").as("bal"),
        lit(0L).as("ns"), lit(1L).as("nc"))
    val hist = sup.unionByName(cust)
      .groupBy("nationkey", "bal")
      .agg(sum("ns").as("n_sup"), sum("nc").as("n_cust"))
    val below = Window.partitionBy("nationkey").orderBy("bal")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cust_below", coalesce(sum("n_cust").over(below), lit(0L)))
      .groupBy("nationkey")
      .agg(sum(col("n_sup") * col("cust_below")).as("n_pairs"))
      // nations contributing no qualifying pair never appear in the
      // inner-join form; n_pairs = 0 is exactly that set
      .filter(col("n_pairs") > 0)
      .orderBy("nationkey")
  }

  // ---------------------------------------------------------------- B16b
  /** Theta join — PAIR form: the B16 capability pinned by a query whose
    * RESULT genuinely is the join rows (not a count a fold can compute):
    * for a FIXED probe set of suppliers (s_suppkey < 20 — the bounded-
    * probe discipline of the doc_id < 150 pair queries), every
    * same-nation customer whose balance sits within 500 below the
    * supplier's, with the gap. Output grows linearly with the customer
    * table (probe side constant), so the enumeration is scale-honest;
    * the equi key on nation carries the join, the band predicate
    * post-filters. All-decimal gap arithmetic — exact on both engines. */
  def joinThetaPairs(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).filter(col("s_suppkey") < 20).as("s")
      .join(Tables.customer(s, d).as("c"),
        col("s.s_nationkey") === col("c.c_nationkey") &&
          col("s.s_acctbal") - col("c.c_acctbal") >= 0 &&
          col("s.s_acctbal") - col("c.c_acctbal") < 500)
      .select(col("s.s_suppkey").as("suppkey"), col("c.c_custkey").as("custkey"),
        (col("s.s_acctbal") - col("c.c_acctbal")).as("gap"))
      .orderBy("suppkey", "custkey")

  // ---------------------------------------------------------------- B17
  /** Range/interval-containment join: order keys (points) vs chunk-catalog
    * block ranges (intervals) — the reference's find path (A7/A12) as a
    * join. No forced broadcast: the catalog side is DERIVED FROM orders,
    * so it grows with the corpus and a pinned `broadcast()` would
    * eventually not fit (11.4× growth on 10× data at sf10 with the hint).
    * AQE still broadcasts while the build side is small; at 100 TB the
    * scale path is [[joinRangeBucketed]], which rides an equi-join. */
  def joinRange(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.orders(s, d).filter(col("o_orderkey") < 1000)
      .select(col("o_orderstatus").as("dataset_id"), col("o_orderkey").as("pt"))
    val ivs = ChunkCatalog.catalog(s, d)
      .select("dataset_id", "chunk_id", "block_start", "block_end")
    pts.join(ivs, Seq("dataset_id"))
      .filter(col("block_start") <= col("pt") && col("pt") < col("block_end"))
      .groupBy("dataset_id", "chunk_id")
      .agg(count(lit(1)).as("n_pts"), min("pt").as("min_pt"), max("pt").as("max_pt"))
      .orderBy("dataset_id", "chunk_id")
  }

  /** [[joinRange]]'s 100 TB shape MADE REAL instead of deferred to a
    * comment: grid-bucket BOTH sides so the range predicate rides an
    * EQUI-join. Intervals replicate into every bucket they span
    * (`explode(sequence(...))` — replication factor = interval length /
    * bucket width, a constant); each point lives in exactly one bucket,
    * so no pair dedup is needed and the exact predicate re-applies as a
    * post-filter. Output is IDENTICAL to [[joinRange]] — the oracle is
    * the plain overlap SQL, proving the bucketed plan computes the same
    * relation — and PlanSpec pins that no nested-loop join survives. */
  def joinRangeBucketed(s: SparkSession, d: String): DataFrame = {
    val bw = 256L
    val pts = Tables.orders(s, d).filter(col("o_orderkey") < 1000)
      .select(col("o_orderstatus").as("dataset_id"), col("o_orderkey").as("pt"),
        expr(s"o_orderkey div $bw").as("bkt"))
    val ivs = ChunkCatalog.catalog(s, d)
      .select(col("dataset_id").as("iv_ds"), col("chunk_id"),
        col("block_start"), col("block_end"))
      .withColumn("bkt", explode(sequence(
        expr(s"block_start div $bw"), expr(s"(block_end - 1) div $bw"))))
    pts.join(ivs,
        pts("dataset_id") === ivs("iv_ds") && pts("bkt") === ivs("bkt"))
      .filter(col("block_start") <= col("pt") && col("pt") < col("block_end"))
      .groupBy("dataset_id", "chunk_id")
      .agg(count(lit(1)).as("n_pts"), min("pt").as("min_pt"), max("pt").as("max_pt"))
      .orderBy("dataset_id", "chunk_id")
  }

  // ---------------------------------------------------------------- B18
  /** As-of join: for each purchase event, the most recent signup ts of the
    * same user at-or-before it. Implemented as a union + running
    * last-non-null window — one shuffle on user_id, no point-lookup loop. */
  /** NEAREST as-of with tolerance — pandas `merge_asof(direction=
    * "nearest", tolerance=...)`: [[joinAsof]] matches strictly
    * backward; sensor/attribution joins often want the closest match
    * in EITHER direction, bounded by a window. Per purchase: the
    * running last signup (backward) and first following signup
    * (forward) come from two frames on ONE (user_id, ts) window
    * exchange; the smaller |Δt| wins, ties to the earlier signup, and
    * matches beyond 3 days are nulled. All comparisons are integer
    * unix seconds — exact in both engines. */
  def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val tolSec = 3L * 86400
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "signup"))
    val pre = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val post = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val sig = when(col("event_type") === "signup", col("ts"))
    ev.select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"),
        last(sig, ignoreNulls = true).over(pre).as("prev_su"),
        first(sig, ignoreNulls = true).over(post).as("next_su"))
      .filter(col("event_type") === "purchase")
      .withColumn("dp", unix_timestamp(col("ts")) - unix_timestamp(col("prev_su")))
      .withColumn("dn", unix_timestamp(col("next_su")) - unix_timestamp(col("ts")))
      .selectExpr("event_id", "user_id", "ts",
        s"""CASE
           |  WHEN prev_su IS NOT NULL AND (next_su IS NULL OR dp <= dn)
           |    THEN CASE WHEN dp <= $tolSec THEN prev_su END
           |  WHEN next_su IS NOT NULL
           |    THEN CASE WHEN dn <= $tolSec THEN next_su END
           |END AS nearest_signup_ts""".stripMargin,
        s"""CASE
           |  WHEN prev_su IS NOT NULL AND (next_su IS NULL OR dp <= dn)
           |    THEN CASE WHEN dp <= $tolSec THEN dp END
           |  WHEN next_su IS NOT NULL
           |    THEN CASE WHEN dn <= $tolSec THEN dn END
           |END AS diff_seconds""".stripMargin)
      .orderBy("event_id")
  }

  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "signup"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("signup_ts",
        last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "signup_ts")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- B19
  /** Cross join (tiny dims only — guarded by size at scale). */
  def joinCross(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).crossJoin(Tables.nation(s, d))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  // ---------------------------------------------------------------- B20
  /** Hash aggregation, TPC-H Q1 shape: partial (map-side) + final agg via
    * HashAggregateExec; exact decimal arithmetic throughout. */
  def aggBasic(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        round(sum(dec2(col("l_quantity"))).cast("double") / count(lit(1)), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---------------------------------------------------------------- B21
  /** Distinct aggregates (expand + two-phase agg under the hood). */
  def aggDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_supps"),
        sum_distinct(dec2(col("l_quantity"))).cast("double").as("sum_d_qty"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- B22a
  /** Rollup with grouping indicators (NULL keys coalesced to 'ALL' so
    * NULLS-ordering differences between engines cannot bite). */
  def aggRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"), col("g_rf"), col("g_ls"))
      .orderBy("rf", "ls", "g_rf", "g_ls")

  // ---------------------------------------------------------------- B22b
  /** Cube over orders dims. */
  def aggCube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        col("n"), col("total"))
      .orderBy("st", "pri")

  // ---------------------------------------------------------------- B23
  /** Approximate distinct (HLL++) — mergeable across partitions, the
    * 100 TB answer to COUNT(DISTINCT). The raw estimates differ per
    * engine, so the oracle check reduces each engine's OWN estimate to a
    * within-5% boolean against the exact count (rsd 0.02 / lgK 14 put 5%
    * at ≥2.5σ; the sketches are deterministic per dataset, and the
    * booleans are verified true at sf0.001/0.01/0.1); scalatest
    * additionally bounds the estimates. */
  def aggApprox(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // sketches in ONE pure non-distinct pass. Never mix countDistinct
    // into the same Aggregate: the distinct rewrite Expands the input ×2
    // and every expanded row then drags the multi-kiloword HLL++ buffer
    // (measured 15× slower at sf0.1)
    val sketches = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        // Datasketches HLL: the mergeable-sketch form (hll_union across
        // shards is how 100 TB distinct counts compose); register-max
        // merge is commutative so the estimate is partition-order-stable
        hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), 14)).as("hll_parts"))
    // the exact cross-check runs as its OWN two-phase distinct aggregate
    // (map-side dedup, no Expand) and joins back on the 3-row group key
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    sketches.join(exact, "l_returnflag")
      .select(
        col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) * 20 <= col("exact_parts"))
          .as("hllpp_within_5pct"),
        (abs(col("hll_parts") - col("exact_parts")) * 20 <= col("exact_parts"))
          .as("dsk_within_5pct"))
      .orderBy("l_returnflag")
  }

  /** Gap-filled resample: [[tsResample]]'s dense grid with
    * last-observation-carried-forward imputation — the canonical
    * prepare-for-modeling step a sparse metric series needs. LOCF is
    * `last(_, ignoreNulls)` over an UNBOUNDED-PRECEDING row frame, ONE
    * window pass per user partition on top of the grid join; the frame
    * never materializes the history (running state is a single value),
    * so the shape is linear at any series length. */
  def tsGapfill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id") < 10)
    val bounds = ev.agg(
      timestamp_seconds(expr("unix_timestamp(min(ts)) div 14400") * 14400).as("lo"),
      timestamp_seconds(expr("unix_timestamp(max(ts)) div 14400") * 14400).as("hi"))
    val grid = bounds.select(explode(sequence(
        col("lo"), col("hi"), expr("INTERVAL 4 HOURS"))).as("bucket"))
      .crossJoin(ev.select(col("user_id")).distinct())
    val actual = ev
      .groupBy(col("user_id"),
        window(col("ts"), "4 hours").getField("start").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    val locf = Window.partitionBy("user_id").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(actual, Seq("user_id", "bucket"), "left_outer")
      .select(col("user_id"), col("bucket"),
        col("n").isNotNull.as("observed"),
        coalesce(last(col("sum_value"), ignoreNulls = true).over(locf), lit(0.0))
          .as("filled_value"))
      .orderBy("user_id", "bucket")
  }

  /** Gap fill by LINEAR INTERPOLATION — [[tsGapfill]]'s LOCF holds the
    * last observation flat; interpolation draws the line between the
    * surrounding observed buckets (the standard choice for sampled
    * continuous signals). Same grid; two windows per user (running
    * last-observed before, first-observed after) instead of one;
    * leading/trailing gaps fall back to nearest-observed, empty users
    * to 0.
    *
    * Float discipline: CENT-integer fixed point,
    * (pv·(Δtot−Δt) + nv·Δt) div Δtot — a first cut computed
    * pv + (nv−pv)·Δt/Δtot in doubles with round-4, and the sf0.1 sweep
    * caught one row in 1800 where the exact value sat ON the .00005
    * boundary: both engines held the SAME double but their round()
    * implementations disagree there. The rearranged numerator is
    * non-negative, so integer `div` floors identically in both engines
    * (the [[GraphOps.pageRank]] precedent). Scale shape: the grid is
    * (users × buckets) metadata,
    * orders smaller than events; all four window functions share one
    * (user_id, bucket) spec, so Spark fuses them into ONE Window
    * operator — a single sort, no re-exchange between the directions
    * (PlanSpec pins the operator count; the only other user_id
    * exchange in the plan is the grid's `distinct`). */
  def tsInterpolate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id") < 10)
    val bounds = ev.agg(
      timestamp_seconds(expr("unix_timestamp(min(ts)) div 14400") * 14400).as("lo"),
      timestamp_seconds(expr("unix_timestamp(max(ts)) div 14400") * 14400).as("hi"))
    val grid = bounds.select(explode(sequence(
        col("lo"), col("hi"), expr("INTERVAL 4 HOURS"))).as("bucket"))
      .crossJoin(ev.select(col("user_id")).distinct())
    val actual = ev
      .groupBy(col("user_id"),
        window(col("ts"), "4 hours").getField("start").as("bucket"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("sum_cents"))
    val pre = Window.partitionBy("user_id").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val post = Window.partitionBy("user_id").orderBy("bucket")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val pv = last(col("sum_cents"), ignoreNulls = true).over(pre)
    val pb = last(when(col("sum_cents").isNotNull, col("bucket")),
      ignoreNulls = true).over(pre)
    val nv = first(col("sum_cents"), ignoreNulls = true).over(post)
    val nb = first(when(col("sum_cents").isNotNull, col("bucket")),
      ignoreNulls = true).over(post)
    grid.join(actual, Seq("user_id", "bucket"), "left_outer")
      // all four window columns in ONE select: withColumn chaining
      // splits them into separate Window operators the optimizer does
      // not fully re-collapse (measured: 3 Window nodes); a single
      // projection keeps the one fused operator PlanSpec pins
      .select(col("user_id"), col("bucket"), col("sum_cents"),
        pv.as("pv"), pb.as("pb"), nv.as("nv"), nb.as("nb"))
      .withColumn("dt",
        unix_timestamp(col("bucket")) - unix_timestamp(col("pb")))
      .withColumn("dtot",
        unix_timestamp(col("nb")) - unix_timestamp(col("pb")))
      .selectExpr("user_id", "bucket", "sum_cents IS NOT NULL AS observed",
        """CASE WHEN sum_cents IS NOT NULL THEN sum_cents
          |     WHEN pv IS NOT NULL AND nv IS NOT NULL
          |       THEN (pv * (dtot - dt) + nv * dt) div dtot
          |     WHEN pv IS NOT NULL THEN pv
          |     WHEN nv IS NOT NULL THEN nv
          |     ELSE 0L END AS filled_cents""".stripMargin)
      .orderBy("user_id", "bucket")
  }

  /** Equi-width histogram (10 cent-exact price buckets × return flag).
    * The bucket id is INTEGER arithmetic on cents — `round(price·100)`
    * is exact for 2-decimal data, so engines cannot disagree on a bucket
    * edge the way float division lets them. One hash aggregate over
    * (flag, bucket): the 100 TB histogram is a 30-row shuffle. */
  def aggHistogram(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val bucket = least(lit(9L),
      expr("cast(round(l_extendedprice * 100) as bigint) div 1100000")).as("bucket")
    li.select(col("l_returnflag"), bucket, col("l_extendedprice"))
      .groupBy("l_returnflag", "bucket")
      .agg(count(lit(1)).as("n"),
        min("l_extendedprice").as("lo_price"),
        max("l_extendedprice").as("hi_price"))
      .orderBy("l_returnflag", "bucket")
  }

  /** Data-quality constraint suite (the Deequ-style pre-flight a lake
    * pipeline runs before publishing a table): completeness (no null
    * keys), key uniqueness, referential integrity (orders→customer,
    * lineitem→orders), and a domain check — each reduced to a count of
    * VIOLATIONS, so the all-green state is a row of zeros that
    * hash-compares exactly. Each constraint is one aggregate or one
    * anti-join on the key — nothing scans twice, dims broadcast. */
  def dqChecks(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val cust = Tables.customer(s, d)
    val nullKeys = orders
      .agg(sum(when(col("o_orderkey").isNull || col("o_custkey").isNull, 1L)
        .otherwise(0L)).as("orders_null_keys"))
    val dupKeys = orders.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("orders_dup_keys"))
    // no broadcast hint: customer grows with SF (the planner still
    // broadcasts while it fits, like the sibling lineitem⟕orders check)
    val orphanOrders = orders.join(cust,
        orders("o_custkey") === cust("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orders_orphan_cust"))
    val orphanItems = li.join(orders,
        li("l_orderkey") === orders("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("lineitem_orphan_orders"))
    val domain = li
      .agg(sum(when(col("l_quantity") <= 0 || col("l_discount") < 0 ||
        col("l_discount") > 1, 1L).otherwise(0L)).as("lineitem_domain_violations"))
    nullKeys.crossJoin(dupKeys).crossJoin(orphanOrders)
      .crossJoin(orphanItems).crossJoin(domain)
  }

  /** Conversion funnel (signup → purchase → purchase within 24 h): the
    * event-sequence analytics a product team runs daily. Stage
    * membership is two conditional min-aggregates and one equi-join on
    * user_id — event payloads never shuffle, only (user, ts) pairs, and
    * the funnel output is a single row of counts however large the
    * event log is. */
  /** Truncated EWMA — exponential smoothing as a WINDOW expression:
    * the textbook recurrence y_t = αx_t + (1−α)y_{t−1} is inherently
    * sequential (no engine parallelizes it); truncating to 8 lags
    * bounds the state (weights below 2⁻⁸ are noise) and turns it into
    * a fixed-order weighted sum over lag() columns — embarrassingly
    * parallel, and the honest scale contract. α = 1/2 makes every
    * weight 2^-(j+1), EXACTLY representable, so the only float ops are
    * exact scalings plus one ordered sum chain; leading rows normalize
    * over the lags that exist. All 8 lags share one window spec = one
    * Window operator, one exchange. */
  def winEwma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lags = (0 to 7).map(j => lag(col("value"), j).over(w))
    val weights = (0 to 7).map(j => math.pow(0.5, j + 1))
    val num = lags.zip(weights)
      .map { case (l, wt) => coalesce(l * lit(wt), lit(0.0)) }
      .reduce(_ + _)
    val den = lags.zip(weights)
      .map { case (l, wt) => when(l.isNotNull, lit(wt)).otherwise(lit(0.0)) }
      .reduce(_ + _)
    Tables.events(s, d).filter(col("user_id") < 10)
      .select(col("event_id"), col("user_id"), col("value"),
        round(num / den, 4).as("ewma"))
      .orderBy("event_id")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences — the sequence model behind "what do users do AFTER
    * X" product analytics ([[evFunnel]] checks ONE fixed path; the
    * matrix scores every pair). One lead() window per user + one
    * (from, to) rollup; row-normalization rides a window over the
    * aggregated matrix (K² rows), never the events. Transition
    * probability = count/row-total, a single ordered double division,
    * so the oracle hash-matches. */
  def evMarkov(s: SparkSession, d: String): DataFrame = {
    val nxt = lead(col("event_type"), 1).over(
      Window.partitionBy("user_id").orderBy("ts", "event_id"))
    Tables.events(s, d)
      .select(col("event_type").as("from_type"), nxt.as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum("n").over(Window.partitionBy("from_type")), 6))
      .orderBy("from_type", "to_type")
  }

  def evFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("signup_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
      .join(su, "user_id")
      .filter(col("p_ts") >= col("signup_ts"))
      .groupBy("user_id").agg(min("p_ts").as("first_purchase_ts"))
    su.join(pu, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_signed_up"),
        sum(when(col("first_purchase_ts").isNotNull, 1L).otherwise(0L))
          .as("n_purchased_after"),
        sum(when(col("first_purchase_ts") <=
            col("signup_ts") + expr("INTERVAL 24 HOURS"), 1L).otherwise(0L))
          .as("n_converted_24h"))
  }

  /** Weekly cohort retention matrix: users grouped by first-activity
    * week, counted in each later week they were active. (user, week)
    * de-dups map-side before anything joins; the matrix is
    * |cohorts|×|weeks| rows — constant-size output over any event
    * volume. `date_trunc(week)` is ISO-Monday in both engines and the
    * offset is integer epoch arithmetic, so the matrix hash-matches. */
  def evRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val act = ev.distinct()
    val cohort = act.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    act.join(cohort, "user_id")
      .select(col("cohort_wk").cast("date").as("cohort_week"),
        expr("(unix_timestamp(wk) - unix_timestamp(cohort_wk)) div 604800")
          .as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** SQL-standard NTILE bucket of 1-based position `pos` among `n`
    * ordered rows: the first (n mod k) buckets take ⌈n/k⌉ rows, the
    * rest ⌊n/k⌋ — the closed form of what the ntile() window function
    * computes from a running position, usable wherever the position is
    * known WITHOUT sorting the whole partition. Double division is
    * exact here (operands ≪ 2⁵³; a misrounded ceil would need a
    * near-integer ratio within one ulp — the closest non-integer ratio
    * is 1/(q+1) away, 8 orders of magnitude wider). */
  private def ntileBucket(k: Int, pos: Column, n: Column): Column = {
    val q = floor(n / k).cast("long")
    val r = (n % k).cast("long")
    when(pos <= r * (q + 1), ceil(pos / (q + 1)))
      .otherwise(r + ceil((pos - r * (q + 1)) / q))
      .cast("int")
  }

  /** Test-only exposure of [[ntileBucket]] (WindowTwoPhaseSpec proves
    * the closed form against the ntile window across edge cases). */
  private[graft] def ntileBucketForTest(k: Int, pos: Column, n: Column): Column =
    ntileBucket(k, pos, n)

  /** NTILE quartiles (the ranking-window family member win_rank/win_dist
    * don't cover): quartile assignment over a UNIQUE sort
    * (price, orderkey) — ntile on a non-unique order is
    * engine-dependent at bucket boundaries, on a unique one it is
    * deterministic everywhere — then per-quartile size and price range.
    *
    * TWO-PHASE, not one ntile window: partitioning by the 3-value
    * status column caps the sort at 3 tasks at ANY corpus size (13.3×
    * growth on 10× data at sf10 — a parallelism ceiling, not a plan
    * defect). Value-bucket the order key (floor(price/1000) — ties
    * can't straddle buckets), aggregate per-bucket count/min/max
    * map-side, and resolve each BUCKET to a quartile from its position
    * interval [offset+1, offset+cnt] via [[ntileBucket]]: buckets
    * wholly inside one quartile contribute their aggregates directly
    * (no row ever sorts); only the ≤3 boundary-straddling buckets per
    * status sort their own rows for exact in-bucket positions. The
    * windows here run over the per-bucket TABLE (~hundreds of rows)
    * and the boundary subset — identical output, same oracle, and the
    * corpus-scale work is one map-side aggregate. */
  def winNtile(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("bo", floor(col("o_totalprice") / 1000).cast("long"))
    val buckets = o.groupBy("o_orderstatus", "bo")
      .agg(count(lit(1)).as("cnt"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
    val wAsc = Window.partitionBy("o_orderstatus").orderBy("bo")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("o_orderstatus")
    val marked = buckets
      .withColumn("offset", coalesce(sum("cnt").over(wAsc), lit(0L)))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("q_first", ntileBucket(4, col("offset") + 1, col("n")))
      .withColumn("q_last", ntileBucket(4, col("offset") + col("cnt"), col("n")))
    // quartile is monotone in position, so q_first == q_last means every
    // row of the bucket lands in that quartile — fold the aggregates
    val whole = marked.filter(col("q_first") === col("q_last"))
      .select(col("o_orderstatus"), col("q_first").as("quartile"),
        col("cnt"), col("lo"), col("hi"))
    val bb = marked.filter(col("q_first") =!= col("q_last"))
      .select(col("o_orderstatus"), col("bo"), col("offset"), col("n"))
    val wIn = Window.partitionBy("o_orderstatus", "bo")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val boundary = o.join(broadcast(bb), Seq("o_orderstatus", "bo"))
      .withColumn("pos", col("offset") + row_number().over(wIn))
      .select(col("o_orderstatus"),
        ntileBucket(4, col("pos"), col("n")).as("quartile"),
        lit(1L).as("cnt"),
        col("o_totalprice").as("lo"), col("o_totalprice").as("hi"))
    whole.unionByName(boundary)
      .groupBy("o_orderstatus", "quartile")
      .agg(sum("cnt").as("n"),
        min("lo").as("lo_price"), max("hi").as("hi_price"))
      .orderBy("o_orderstatus", "quartile")
  }

  /** Grouped quantiles via the KLL sketch ([[graft.functions.KllQuantileAgg]])
    * with the estimates' EXACT ranks re-checked in a second scan — the
    * `agg_approx` oracle shape (each engine asserts its own sketch's rank
    * error; the booleans and exact counts hash-compare). `agg_percentile`
    * sorts the full per-group value stream; at 100 TB the KLL partials
    * carry O(k·log n) bytes per partition instead, and the rank guarantee
    * (k=200 ⇒ ±1.65% at 99% confidence; checked here at ±2.5%) survives
    * any merge order. The 3-row sketch output broadcasts back onto the
    * fact scan for the exact-rank count, so the check itself is one more
    * map-side pass, never a sort. */
  def aggQuantileSketch(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("price"))
    val sk = li.groupBy("l_returnflag")
      .agg(graft.functions.KllQuantileAgg
        .kll_quantiles(col("price"), 200, Seq(0.5, 0.9, 0.99)).as("s"))
      .select(col("l_returnflag"),
        col("s.quantiles")(0).as("q50"),
        col("s.quantiles")(1).as("q90"),
        col("s.quantiles")(2).as("q99"))
    def rankOk(q: String, r: Double, out: String): Column =
      (abs(sum(when(col("price") <= col(q), 1L).otherwise(0L)) /
        count(lit(1)) - r) <= 0.025).as(out)
    li.join(broadcast(sk), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        rankOk("q50", 0.5, "p50_ok"),
        rankOk("q90", 0.9, "p90_ok"),
        rankOk("q99", 0.99, "p99_ok"))
      .orderBy("l_returnflag")
  }

  /** Statistical aggregates (corr / covar_samp / stddev_samp) assembled
    * from EXACT decimal moment sums (n, Σx, Σy, Σxy, Σx², Σy²) with the
    * closed form evaluated in double only at the end. Spark's built-in
    * `corr`/`stddev` stream double moments whose last ulps depend on
    * partition order; the exact-moment form is deterministic AND the
    * mergeable shape (moment sums combine associatively across shards —
    * the same reason sketches scale). */
  /** Per-group least-squares regression — [[aggStats]] stops at
    * correlation; the regression LINE (price ~ quantity per return
    * flag) is the model a monitoring dashboard actually plots. Same
    * float discipline: the five sufficient statistics are EXACT
    * decimal sums (order-free across partial aggregation); slope =
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept and R² derive from the
    * same sums in one identically-ordered double expression per
    * column, rounded at the end. One scan, one rollup — the 100 TB
    * shape of any sufficient-statistics model fit. */
  def aggLinreg(s: SparkSession, d: String): DataFrame = {
    val x = dec2(col("l_quantity"))
    val y = dec2(col("l_extendedprice"))
    val m = Tables.spread(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val n = col("n_rows").cast("double")
    def d8(c: Column): Column = c.cast("double")
    val cxy = n * d8(col("sxy")) - d8(col("sx")) * d8(col("sy"))
    val vx = n * d8(col("sxx")) - d8(col("sx")) * d8(col("sx"))
    val vy = n * d8(col("syy")) - d8(col("sy")) * d8(col("sy"))
    m.select(
        col("l_returnflag"), col("n_rows"),
        round(cxy / vx, 6).as("slope"),
        round((d8(col("sy")) - cxy / vx * d8(col("sx"))) / n, 4).as("intercept"),
        round(cxy * cxy / (vx * vy), 6).as("r2"))
      .orderBy("l_returnflag")
  }

  /** Cumulative Poisson(1) CDF quantized to 16-bit integer thresholds —
    * the single source for [[aggBootstrap]]'s Spark plan AND its
    * DuckDB oracle (embedding the same longs in both sides removes the
    * float-compare hazard entirely: resample weights are decided by
    * integer comparisons on a 16-bit md5 value). */
  private[operators] val PoisCdf16: Seq[Long] = {
    val e1 = math.exp(-1)
    val ps = (0 to 5).map(k => e1 / (1 to k).product)
    ps.scanLeft(0.0)(_ + _).tail.map(c => math.floor(c * 65536).toLong)
  }

  /** Poisson bootstrap — THE resampling technique that works at 100 TB:
    * a classical bootstrap draws n rows with replacement (a global
    * operation no cluster can do cheaply); Poisson bootstrap gives each
    * row an independent Poisson(1) weight per replicate, so all B
    * resamples materialize as B weight columns in ONE scan and the
    * standard error of the mean falls out of the replicate spread
    * (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", Google 2012). Weights are deterministic: the B=8
    * replicate draws are the eight disjoint 16-bit slices of ONE md5 of
    * (orderkey, linenumber) — a 128-bit digest is exactly 8 independent
    * uniform 16-bit draws, so one hash per row replaces the former
    * per-replicate hashing (8 md5/row, the reason this was the suite's
    * slowest query) with identical estimator semantics. Each slice
    * compares against the integer CDF thresholds above — every engine
    * and every re-run draws the identical resamples, which is what lets
    * DuckDB replay the whole estimator and hash-match. Per group the
    * aggregate carries 2B+2 sufficient statistics, nothing else. */
  /** Replicate count shared by [[aggBootstrap]] and its oracle. */
  private val BootReps = 8

  def aggBootstrap(s: SparkSession, d: String): DataFrame = {
    val B = BootReps
    val x = dec2(col("l_quantity"))
    // materialize the hashes ONCE per row in a projection below the
    // aggregate: inlining into every CASE arm made the aggregate
    // evaluate ~2·|CDF| hash chains per replicate per row (≈96/row —
    // benched 16 s at sf0.1); here the weight CASE reads a long column.
    // The two-step projection (digest, then slices) keeps ONE md5/row
    // even if CollapseProject inlines the digest into all 8 slice
    // expressions — codegen subexpression elimination dedups the
    // repeated md5 subtree within the collapsed Project.
    def kOf(b: Int) = PoisCdf16.zipWithIndex
      .foldRight(lit(PoisCdf16.size): Column) { case ((t, k), rest) =>
        when(col(s"h$b") < t, k).otherwise(rest)
      }
    // weights k$b are projected BELOW the aggregate too: each CASE
    // ladder runs once per row instead of twice (sum(x·k) and sum(k)
    // would otherwise each evaluate it inside the aggregate). The
    // measure rides as exact CENTS (long) — the 2B+2 sufficient sums
    // are then pure long arithmetic, overflow-safe to ~10^14 rows,
    // and the oracle replays the identical integer sums.
    val hashed = Tables.spread(s, d, "lineitem")
      .select(col("l_returnflag"),
        (x * 100).cast("long").as("xc"),
        md5(concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")).cast("binary")).as("hhex"))
      .select(
        Seq(col("l_returnflag"), col("xc")) ++
          (0 until B).map(b =>
            conv(substring(col("hhex"), 1 + 4 * b, 4), 16, 10)
              .cast("long").as(s"h$b")): _*)
      .select(
        Seq(col("l_returnflag"), col("xc")) ++
          (0 until B).map(b => kOf(b).cast("long").as(s"k$b")): _*)
    val aggs =
      Seq(count(lit(1)).as("n"), sum(col("xc")).as("sx")) ++
        (0 until B).flatMap { b =>
          Seq(sum(col("xc") * col(s"k$b")).as(s"sw$b"),
            sum(col(s"k$b")).as(s"c$b"))
        }
    val m = hashed.groupBy("l_returnflag")
      .agg(aggs.head, aggs.tail: _*)
    // /100 restores units: sw is cents·weight, c is a pure count
    val means = (0 until B).map(b =>
      col(s"sw$b").cast("double") / 100d / col(s"c$b"))
    val mbar = means.reduce(_ + _) / B
    val se = sqrt(means.map(mb => (mb - mbar) * (mb - mbar))
      .reduce(_ + _) / (B - 1))
    val meanObs = col("sx").cast("double") / 100d / col("n")
    m.select(col("l_returnflag"), col("n").as("n_rows"),
        round(meanObs, 4).as("mean_obs"),
        round(se, 6).as("boot_se"),
        round(meanObs - lit(1.96) * se, 4).as("ci_lo"),
        round(meanObs + lit(1.96) * se, 4).as("ci_hi"))
      .orderBy("l_returnflag")
  }

  /** Chi-square test of independence over the returnflag × linestatus
    * contingency table, reported PER CELL (observed, expected, χ²
    * contribution) rather than as one scalar — the per-cell view is
    * what a data-quality dashboard plots, and it sidesteps the only
    * float hazard (a cross-engine sum of 6 doubles in unspecified
    * order). Scale shape: the only wide operation is the first
    * `groupBy`, which reduces 100 TB of fact rows to |flags|×|statuses|
    * cells; the three marginal totals are windows over that tiny
    * aggregated frame, so they cost nothing at any scale. All marginals
    * are exact longs; doubles appear only in the final per-row closed
    * form, identically ordered in both engines. */
  def aggChi2(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
    val e = (col("rt") * col("ct")).cast("double") / col("nt")
    val dev = col("n").cast("double") - col("expected_raw")
    cells
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        sum("n").over(Window.partitionBy("l_returnflag")).as("rt"),
        sum("n").over(Window.partitionBy("l_linestatus")).as("ct"),
        sum("n").over(Window.partitionBy()).as("nt"))
      .withColumn("expected_raw", e)
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        round(col("expected_raw"), 4).as("expected"),
        round(dev * dev / col("expected_raw"), 6).as("contrib"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Autocorrelation of each user's value series at lags 1–3 — the
    * seasonality/trend probe behind forecast-readiness checks. The
    * estimator is Pearson correlation over (vₜ, vₜ₊ₖ) pairs, assembled
    * from EXACT decimal sufficient statistics (the same order-free
    * moment-sum discipline as [[aggStats]]/[[aggLinreg]]). All three
    * lag columns share ONE window spec (one sort, one exchange — the
    * [[winEwma]] lesson); `stack` then pivots lag to rows so one hash
    * aggregate computes all (user, lag) cells. Per-user windows keep
    * the sort partition-local — no global sort at any scale. */
  def tsAcf(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val v = dec2(col("value"))
    val base = Tables.events(s, d).filter(col("user_id") < 20)
      .select(col("user_id"), v.as("v"),
        lead(v, 1).over(w).as("l1"),
        lead(v, 2).over(w).as("l2"),
        lead(v, 3).over(w).as("l3"))
      .selectExpr("user_id",
        "stack(3, 1, v, l1, 2, v, l2, 3, v, l3) as (lag, a, b)")
      .filter(col("b").isNotNull)
    val m = base.groupBy("user_id", "lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"))
    val n = col("n_pairs").cast("double")
    def d8(c: String): Column = col(c).cast("double")
    m.select(col("user_id"), col("lag"), col("n_pairs"),
        round((n * d8("sab") - d8("sa") * d8("sb")) /
          sqrt((n * d8("saa") - d8("sa") * d8("sa")) *
               (n * d8("sbb") - d8("sb") * d8("sb"))), 6).as("acf"))
      .orderBy("user_id", "lag")
  }

  /** Gini concentration coefficient of order value per status — the
    * inequality metric a mixture-balancing pipeline reports per data
    * source. Closed form over the ascending sort:
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx). The rank is a per-group
    * window over a UNIQUE order (price, orderkey — the [[winNtile]]
    * determinism rule) and both Σ terms are exact decimals (rank ×
    * decimal stays decimal), so the only doubles are the final closed
    * form. One partition-local sort + one rollup; the group count is
    * the output size regardless of input volume. */
  def aggGini(s: SparkSession, d: String): DataFrame = {
    // TWO-PHASE global position: the 3-value status partition key
    // capped the rank sort at 3 tasks at any scale (38 s at sf10).
    // Value-bucket the order key (equal prices can't straddle buckets),
    // count per bucket map-side, convert counts to per-bucket position
    // offsets with a window over the BUCKET table (value-domain-sized,
    // not corpus-sized), then row_number WITHIN each (status, bucket) —
    // hundreds of parallel sort partitions — plus the offset reproduces
    // the original global row_number EXACTLY (same total order), so
    // Σ i·x and the published gini are bit-identical. Same oracle;
    // WindowTwoPhaseSpec pins equality with the direct window form.
    val o = Tables.orders(s, d)
      .select(col("o_orderstatus"), dec2(col("o_totalprice")).as("x"),
        col("o_orderkey"))
      .withColumn("bo", floor(col("x") / 1000).cast("long"))
    val wOff = Window.partitionBy("o_orderstatus").orderBy("bo")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = o.groupBy("o_orderstatus", "bo").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum("cnt").over(wOff), lit(0L)))
      .select("o_orderstatus", "bo", "off")
    val wIn = Window.partitionBy("o_orderstatus", "bo")
      .orderBy(col("x"), col("o_orderkey"))
    val m = o.join(broadcast(offs), Seq("o_orderstatus", "bo"))
      .withColumn("i", col("off") + row_number().over(wIn).cast("long"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("x")).as("sx"), sum(col("i") * col("x")).as("six"))
    val n = col("n_rows").cast("double")
    m.select(col("o_orderstatus"), col("n_rows"),
        round((lit(2.0) * col("six").cast("double") -
          (n + 1.0) * col("sx").cast("double")) /
          (n * col("sx").cast("double")), 6).as("gini"))
      .orderBy("o_orderstatus")
  }

  /** Rolling z-score anomaly detection: each event scored against the
    * mean/stddev of its user's PRECEDING 10 values (frame excludes the
    * current row — no self-contamination), flagging |z| > 2.5 with at
    * least 5 history rows. The monitoring primitive for metric streams.
    * All frame aggregates are exact decimal sums sharing ONE window
    * spec (single partition-local sort carries n/Σx/Σx² together);
    * mean/variance come from the closed form in identically-ordered
    * doubles, so the emitted anomaly set and scores hash-match. At
    * scale this is one window over the event stream — no join, no
    * second pass. */
  def tsAnomaly(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-10, -1)
    val v = dec2(col("value"))
    val scored = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        count(v).over(w).as("n_hist"),
        sum(v).over(w).as("sw"),
        sum(v * v).over(w).as("sxx"))
    val n = col("n_hist").cast("double")
    val mean = col("sw").cast("double") / n
    val sd = sqrt((n * col("sxx").cast("double") -
      col("sw").cast("double") * col("sw").cast("double")) /
      (n * (n - 1.0)))
    scored
      .filter(col("n_hist") >= 5)
      // constant history ⇒ sd = 0 ⇒ z = ±Infinity, whose cross-engine
      // round()/compare semantics are undefined — require positive
      // variance (integer-exact on the decimal sufficient stats)
      .filter(col("n_hist") * col("sxx") - col("sw") * col("sw") > 0)
      .select(col("event_id"), col("user_id"), col("value"),
        col("n_hist"), round((col("value") - mean) / sd, 4).as("z"))
      .filter(abs(col("z")) > 2.5)
      .orderBy("event_id")
  }

  /** Mann-Whitney U rank-sum test (even- vs odd-linenumber halves of
    * each return flag — the same synthetic A/B split as [[aggTtest]],
    * which assumes normality; this is its nonparametric partner).
    * Everything stays INTEGER until the final z: doubled average ranks
    * (2·avgrank = 2·minrank + ties − 1 is always a whole number), the
    * doubled U statistic, and the Σ(t³−t) tie correction, which folds
    * to a plain row-level sum of (tie²−1). Ranks and tie counts share
    * ONE (flag, quantity) sort — the peer frame supplies tie counts
    * without a second exchange. The shuffle carries the fact rows
    * once; everything after the rollup is per-group closed form. */
  def aggMannWhitney(s: SparkSession, d: String): DataFrame = {
    // VALUE-HISTOGRAM form: with ties resolved by average rank, the U
    // statistic depends only on per-(flag, value) group counts —
    // rank(v) = 1 + cnt_less(v), tie(v) = cnt(v), so every per-row
    // term folds to a per-value term (grp-0 rows at v contribute
    // ca(v)·(2·rk(v)+cnt(v)−1); the tie correction Σ(tie²−1) becomes
    // Σ cnt³−cnt). The corpus-scale work is ONE map-side hash
    // aggregate; the rank window runs over the per-flag distinct-value
    // frame (the profileKs tiny-aggregated-frame contract) instead of
    // a 3-task full-partition sort — 70 s at sf10 purely by
    // parallelism ceiling. Identical output, same oracle
    // (WindowTwoPhaseSpec proves it against the direct ranked form).
    val hist = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").as("q"),
        (col("l_linenumber") % 2).as("grp"))
      .groupBy("l_returnflag", "q")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("ca"))
    val wLess = Window.partitionBy("l_returnflag").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("rk", coalesce(sum("cnt").over(wLess), lit(0L)) + 1L)
    val m = ranked.groupBy("l_returnflag")
      .agg(
        sum("ca").as("na"),
        sum(col("cnt") - col("ca")).as("nb"),
        sum(col("ca") * (lit(2L) * col("rk") + col("cnt") - 1L)).as("r2a"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tsum"))
    def d8(c: String): Column = col(c).cast("double")
    val n = d8("na") + d8("nb")
    val u2a = col("r2a") - col("na") * (col("na") + 1L)
    val z = (u2a.cast("double") - d8("na") * d8("nb")) /
      sqrt(d8("na") * d8("nb") / 3.0 *
        ((n + 1.0) - d8("tsum") / (n * (n - 1.0))))
    m.select(col("l_returnflag"), col("na"), col("nb"),
        (u2a.cast("double") / 2.0).as("u_even"),
        round(z, 4).as("z"),
        (abs(round(z, 4)) > 1.96).as("significant"))
      .orderBy("l_returnflag")
  }

  /** Two-sample Kolmogorov-Smirnov drift per source (each source's
    * doc-length distribution vs the POOLED REST) — the distribution-
    * shape partner to [[profileDrift]]'s binned PSI: KS needs no bin
    * choice and catches shifts PSI's 10 bins smear out. Entirely
    * integer until the last division: D = max|F_s−F_rest| is maximized
    * as max|cs·n_rest − c_rest·n_s| over the merged value grid, exact
    * longs. Everything after the first groupBy runs on the VALUE
    * HISTOGRAM (|sources| × |distinct lengths|), so the unpartitioned
    * cumulative window and the grid cross join cost histogram-size,
    * never corpus-size — the same tiny-aggregated-frame contract as
    * [[aggChi2]]'s marginals. The "No Partition Defined for Window"
    * warning this path prints is bounded by that contract: the window's
    * input is the distinct-length GRID, capped by the value DOMAIN
    * (n_chars ≤ max document length — sf-independent), not by corpus
    * rows; a single task summing a value-domain-sized frame is the
    * cheapest correct form (a two-phase prefix sum would add an
    * exchange to save work that cannot exceed the domain size). Pinned
    * structurally in PlanSpec ("unpartitioned cumulative window runs
    * over the VALUE GRID"), r19 verdict task 2. */
  def profileKs(s: SparkSession, d: String): DataFrame = {
    // NOT persisted, by measurement (r20): the histogram feeds four
    // consumers and the plan does show 3 parquet scans — but a persist()
    // of the |sources|×|lengths| frame measured 0.40 → 0.74 s at sf0.1
    // AND 1.38 → 3.06 s at sf10 (isolated A/B both ways): the duplicated
    // scan+aggregate subtrees run as INDEPENDENT parallel stages and
    // beat the serializing materialization barrier a cache adds, at both
    // measured scales. The [[TextOps.perplexity]] histogram persist wins
    // because its cached frame feeds a JOIN probe side (recompute there
    // is per-consumer × corpus-sized); here every consumer is one cheap
    // aggregate over an already-pruned 2-column scan.
    val vc = Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val gt = vc.groupBy("v").agg(sum("c").as("cv"))
      .select(col("v"), sum("cv").over(Window.orderBy("v")).as("ct"))
    val srcs = vc.groupBy("source").agg(sum("c").as("n_s"))
    val tot = vc.agg(sum("c").as("n_all"))
    val cum = srcs.crossJoin(gt)
      .join(vc, Seq("source", "v"), "left")
      .select(col("source"), col("n_s"), col("ct"),
        sum(coalesce(col("c"), lit(0L)))
          .over(Window.partitionBy("source").orderBy("v")).as("cs"))
    val dev = abs(col("cs") * (col("n_all") - col("n_s")) -
      (col("ct") - col("cs")) * col("n_s"))
    cum.crossJoin(broadcast(tot))
      .groupBy("source", "n_s", "n_all")
      .agg(max(dev).as("d_num"))
      .select(col("source"), col("n_s"),
        (col("n_all") - col("n_s")).as("n_rest"), col("d_num"),
        round(col("d_num").cast("double") /
          (col("n_s") * (col("n_all") - col("n_s"))).cast("double"), 6)
          .as("ks"))
      .orderBy("source")
  }

  /** CUSUM changepoint detection per user series: the t maximizing
    * |S_t|, S_t = Σ_{i≤t}(v_i − v̄) — where a level shift in the metric
    * happened (Page '54). Stays EXACT to the argmax: n·S_t = n·cum_t −
    * t·Σv is integer×decimal, so the winner (max score, earliest t on
    * ties) is decided on exact values and only the REPORTED magnitude
    * divides to double. One partition-local sort carries the cumulative
    * sum, position, and the unbounded total in the same window pass;
    * the per-user argmax is a min-of-struct aggregate that rides the
    * window's existing (user, ts) sort order — no second sort, no
    * join, the single-pass shape that survives any scale (PlanSpec
    * pins both properties). */
  def tsChangepoint(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val all = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val v = dec2(col("value"))
    val scored = Tables.events(s, d).filter(col("user_id") < 30)
      .select(col("user_id"), col("event_id"),
        row_number().over(ord).cast("long").as("t"),
        sum(v).over(ord).as("cum"),
        sum(v).over(all).as("sw"),
        count(lit(1)).over(all).as("n"))
      .filter(col("t") < col("n")) // S_n ≡ 0 — not a candidate
      .withColumn("score",
        abs(col("n") * col("cum") - col("t") * col("sw")))
    val best = scored
      .groupBy("user_id")
      .agg(min(struct((col("score") * -1).as("neg"), col("t"),
        col("event_id"), col("cum"), col("sw"), col("n"))).as("b"))
      .select(col("user_id"), col("b.n").as("n"),
        col("b.t").as("cp_pos"), col("b.event_id").as("cp_event_id"),
        (col("b.neg") * -1).as("score"), col("b.cum").as("cum"),
        col("b.sw").as("sw"))
    val nD = col("n").cast("double")
    best
      .select(col("user_id"), col("n"), col("cp_pos"), col("cp_event_id"),
        round(col("score").cast("double") / nD, 4).as("shift_mag"),
        round(col("cum").cast("double") / col("cp_pos"), 4).as("mean_before"),
        round((col("sw") - col("cum")).cast("double") /
          (col("n") - col("cp_pos")), 4).as("mean_after"))
      .orderBy("user_id")
  }

  /** Last-touch attribution: each purchase credits the most recent
    * click/view the same user made in the preceding 24 h — the revenue-
    * attribution query every event pipeline ships. ONE pass: the
    * ignore-nulls `last()` over (unbounded, −1) carries the latest
    * touch's type and time along the per-user sort (no self-join, no
    * per-purchase scan-back), then the 24 h rule and the revenue rollup
    * are row-local. The frame ends at −1 so a purchase can never
    * attribute to itself even if a touch shares its timestamp. */
  def evAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("click", "view")
    val tagged = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"),
        last(when(isTouch, col("event_type")), ignoreNulls = true)
          .over(w).as("touch_type"),
        last(when(isTouch, col("ts")), ignoreNulls = true)
          .over(w).as("touch_ts"))
    tagged
      .filter(col("event_type") === "purchase")
      .select(
        when(col("touch_ts") >= col("ts") - expr("INTERVAL 24 HOURS"),
          col("touch_type")).otherwise(lit("none")).as("attributed_to"),
        dec2(col("value")).as("v"))
      .groupBy("attributed_to")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("v")).cast("double").as("revenue"))
      .orderBy("attributed_to")
  }

  /** Top-10 three-step event paths — the sequence-mining rollup behind
    * "what journeys do users actually take" ([[evMarkov]] scores single
    * transitions; paths expose the full trigram). Two lead() columns on
    * ONE window spec, then a hash aggregate over at most |types|³ keys
    * and a TakeOrderedAndProject top-10 (count desc, path asc — total
    * order, engine-stable). The events stream crosses one exchange;
    * the ranked frame is the tiny aggregated path table. */
  def evPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_type").as("e0"),
        lead(col("event_type"), 1).over(w).as("e1"),
        lead(col("event_type"), 2).over(w).as("e2"))
      .filter(col("e1").isNotNull && col("e2").isNotNull)
      .groupBy(concat_ws(">", col("e0"), col("e1"), col("e2")).as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** Longest same-event streak per user — the gaps-and-islands idiom,
    * in its ONE-exchange form: a boundary flag (event_type changed vs
    * lag) cumulatively summed over the SAME window spec yields the
    * island id, so flag, island id, and ordering all ride one
    * (user_id) exchange + sort. The textbook row_number-difference
    * form pays a second exchange on (user, type); this one never
    * re-partitions. Island stats are a hash rollup; the per-user
    * winner is the [[tsChangepoint]] min-of-struct argmax (longest,
    * then earliest, then event_type — a total order). */
  def winStreaks(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val flagged = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L).as("boundary"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        sum(col("boundary")).over(w).as("island"))
    val islands = flagged
      .groupBy("user_id", "island", "event_type")
      .agg(count(lit(1)).as("len"), min(col("event_id")).as("start_evt"))
    islands
      .groupBy("user_id")
      .agg(min(struct((col("len") * -1).as("neg"), col("start_evt"),
        col("event_type"))).as("b"))
      .select(col("user_id"), (col("b.neg") * -1).as("streak_len"),
        col("b.event_type").as("streak_type"),
        col("b.start_evt").as("start_event_id"))
      .orderBy("user_id")
  }

  /** DuckDB replay of [[aggBootstrap]] — same thresholds, same
    * expression order, generated from the same constants; the replicate
    * draw is the same 16-bit slice of the same single-digest md5. */
  private def bootstrapOracle(bReps: Int): String = {
    def h16(b: Int) =
      s"CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), ${1 + 4 * b}, 4) AS BIGINT)"
    def kOf(b: Int) = {
      val cases = PoisCdf16.zipWithIndex
        .map { case (t, k) => s"WHEN ${h16(b)} < $t THEN $k" }
        .mkString(" ")
      s"(CASE $cases ELSE ${PoisCdf16.size} END)"
    }
    val aggCols = (0 until bReps).map { b =>
      s"""    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) * ${kOf(b)}) AS DOUBLE) AS sw$b,
         |    CAST(SUM(${kOf(b)}) AS BIGINT) AS c$b""".stripMargin
    }.mkString(",\n")
    val meanCols = (0 until bReps).map(b => s"    sw$b / 100 / c$b AS m$b").mkString(",\n")
    val mbar = s"(${(0 until bReps).map(b => s"m$b").mkString(" + ")}) / ${bReps}"
    val sq = (0 until bReps).map(b => s"(m$b - mbar) * (m$b - mbar)").mkString(" + ")
    s"""WITH agg AS (
       |  SELECT l_returnflag,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) AS sx,
       |$aggCols
       |  FROM lineitem GROUP BY l_returnflag),
       |means AS (
       |  SELECT l_returnflag, n, sx,
       |$meanCols
       |  FROM agg),
       |mb AS (
       |  SELECT *, $mbar AS mbar FROM means),
       |se AS (
       |  SELECT *, sqrt(($sq) / ${bReps - 1}) AS se FROM mb)
       |SELECT l_returnflag, n AS n_rows,
       |  ROUND(sx / 100 / n, 4) AS mean_obs,
       |  ROUND(se, 6) AS boot_se,
       |  ROUND(sx / 100 / n - 1.96 * se, 4) AS ci_lo,
       |  ROUND(sx / 100 / n + 1.96 * se, 4) AS ci_hi
       |FROM se ORDER BY l_returnflag""".stripMargin
  }

  /** Welch's two-sample t — the inference companion to
    * [[profileDrift]]: PSI says the DISTRIBUTION moved; the t-statistic
    * says whether the MEAN moved more than sampling noise explains.
    * Samples are the odd/even line numbers of each return-flag group
    * (an exchangeable split, so |t| should hover near 0 — the spec's
    * null-hypothesis pin). Same sufficient-statistics shape as
    * [[aggLinreg]]: per (flag, side) exact decimal sums, then one
    * ordered double expression; Welch variance
    * s²ᵢ = (nᵢΣx² − (Σx)²)/(nᵢ(nᵢ−1)). */
  def aggTtest(s: SparkSession, d: String): DataFrame = {
    val x = dec2(col("l_quantity"))
    def side(v: Int, c: Column) = when(col("l_linenumber") % 2 === v, c)
    // ONE conditional-aggregate pass — a per-side filter+join form
    // would scan lineitem twice
    val m = Tables.spread(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(side(0, lit(1))).as("n0"), sum(side(0, x)).as("sx0"),
        sum(side(0, x * x)).as("sxx0"),
        count(side(1, lit(1))).as("n1"), sum(side(1, x)).as("sx1"),
        sum(side(1, x * x)).as("sxx1"))
    def d8(c: Column): Column = c.cast("double")
    def mean(nC: String, sxC: String) = d8(col(sxC)) / d8(col(nC))
    def varr(nC: String, sxC: String, sxxC: String) =
      (d8(col(nC)) * d8(col(sxxC)) - d8(col(sxC)) * d8(col(sxC))) /
        (d8(col(nC)) * (d8(col(nC)) - 1))
    m.select(col("l_returnflag"), col("n0"), col("n1"),
        round((mean("n0", "sx0") - mean("n1", "sx1")) /
          sqrt(varr("n0", "sx0", "sxx0") / d8(col("n0")) +
            varr("n1", "sx1", "sxx1") / d8(col("n1"))), 4).as("t_stat"))
      .withColumn("significant", abs(col("t_stat")) > 1.96)
      .orderBy("l_returnflag")
  }

  def aggStats(s: SparkSession, d: String): DataFrame = {
    val x = dec2(col("l_quantity"))
    val y = dec2(col("l_extendedprice"))
    val m = Tables.spread(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val n = col("n_rows").cast("double")
    def d8(c: Column): Column = c.cast("double")
    val cxy = n * d8(col("sxy")) - d8(col("sx")) * d8(col("sy"))
    val vx = n * d8(col("sxx")) - d8(col("sx")) * d8(col("sx"))
    val vy = n * d8(col("syy")) - d8(col("sy")) * d8(col("sy"))
    m.select(
        col("l_returnflag"), col("n_rows"),
        round(cxy / (n * (n - 1)), 4).as("covar_s"),
        round(cxy / sqrt(vx * vy), 6).as("corr"),
        round(sqrt(vx / (n * (n - 1))), 6).as("stddev_qty"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- B24
  /** Collect/argmax aggregates, made deterministic: sorted-joined distinct
    * set; max_by over a unique ordering value. */
  def aggCollect(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
        // packed ordering key in DECIMAL(38,0) (DuckDB: HUGEINT — its
        // arg_max takes no struct key): long math overflowed at sf10's
        // replica-shifted keys (orderkey 9.9e9 × 8 × 1e9 > 2^63), and
        // the 1e11 slot keeps the pack injective for partkey < 1e11
        max_by(col("l_partkey"),
          (col("l_orderkey").cast("decimal(28,0)") * 8 + col("l_linenumber"))
            * 100000000000L + col("l_partkey")).as("last_part"),
        min(struct(col("l_orderkey"), col("l_linenumber"))).getField("l_orderkey").as("first_okey"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- B25
  /** Ranking window functions over a total per-partition order —
    * row_number / ntile / rank / dense_rank semantics, TWO-PHASE.
    *
    * The naive form (one window partitioned by the 3-value returnflag)
    * sorts the whole corpus in 3 tasks at any scale — it was 19% of
    * the sf10 suite (232.8 s) purely by parallelism ceiling. The
    * rewrite exploits that only rows with rn ≤ 20 are emitted:
    * value-bucket the leading sort key (floor(price/1000) — equal
    * prices can't straddle buckets), count rows per bucket map-side,
    * and keep only the price-PREFIX of buckets whose above-count is
    * < 20 — every candidate row and every row that can affect a
    * candidate's rank/row_number lives there (rows outside have
    * strictly smaller prices). Ranks computed inside the prefix ARE
    * the global ranks, so the expensive 6-column sort touches ~one
    * bucket per flag instead of the corpus. The full-partition
    * ntile(4) is recovered from (rn, partition total) via
    * [[ntileBucket]]'s closed form, and dense_rank over quantity is a
    * join against the per-flag DISTINCT quantity ranking (bounded
    * domain — the window sorts ≤ |distinct qty| rows per flag).
    * Identical rows to the one-window form (WindowTwoPhaseSpec proves
    * it), same oracle.
    *
    * tiebreak down to (partkey, suppkey): (orderkey, linenumber) alone
    * is not unique in the testdata, and an ambiguous row_number order
    * would pair rows with rk values computed from a different window. */
  def winRank(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_partkey"), col("l_suppkey"))
      .withColumn("bp", floor(col("l_extendedprice") / 1000).cast("long"))
    val buckets = li.groupBy("l_returnflag", "bp").agg(count(lit(1)).as("cnt"))
    val wDesc = Window.partitionBy("l_returnflag").orderBy(col("bp").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("l_returnflag")
    val keep = buckets
      .withColumn("offset", coalesce(sum("cnt").over(wDesc), lit(0L)))
      .withColumn("n", sum("cnt").over(wAll))
      .filter(col("offset") < 20)
      .groupBy("l_returnflag").agg(min("bp").as("min_bp"), max("n").as("n"))
    val qtyRank = li.select("l_returnflag", "l_quantity").distinct()
      .withColumn("drk", row_number().over(
        Window.partitionBy("l_returnflag").orderBy(col("l_quantity").desc)))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_partkey"), col("l_suppkey"))
    // rank orders on the PREFIX of w's order, so its Window operator's
    // required child ordering is already satisfied by w's sort — the
    // prefix itself pays exactly one sort
    val wPrefix = Window.partitionBy("l_returnflag").orderBy(col("l_extendedprice").desc)
    li.join(broadcast(keep), Seq("l_returnflag"))
      .filter(col("bp") >= col("min_bp"))
      .withColumn("rn", row_number().over(w))
      .withColumn("rk", rank().over(wPrefix))
      .filter(col("rn") <= 20)
      .withColumn("qt", ntileBucket(4, col("rn"), col("n")))
      .join(broadcast(qtyRank), Seq("l_returnflag", "l_quantity"))
      .select("l_returnflag", "rn", "rk", "drk", "qt", "l_orderkey", "l_linenumber")
      .orderBy("l_returnflag", "rn")
  }

  // ---------------------------------------------------------------- B25+
  /** Distribution window functions: percent_rank / cume_dist / nth_value
    * over a total per-partition order. */
  def winDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 2000)
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .withColumn("nth", nth_value(col("o_orderkey"), 3).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("o_orderstatus", "o_orderkey", "pr", "cd", "nth")
      .orderBy("o_orderstatus", "o_orderkey")
  }

  // ---------------------------------------------------------------- B26
  /** Analytic window functions: lag/lead per customer order history. */
  def winAnalytic(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .withColumn("prev_price", lag(dec2(col("o_totalprice")), 1).over(w).cast("double"))
      .withColumn("next_price", lead(dec2(col("o_totalprice")), 1).over(w).cast("double"))
      .withColumn("first_date", first(col("o_orderdate")).over(w))
      .select("o_custkey", "o_orderkey", "prev_price", "next_price", "first_date")
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---------------------------------------------------------------- B27
  /** Window frames: running total + 4-row moving sum, exact decimals. */
  def winFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    Tables.lineitem(s, d)
      .filter(col("l_suppkey") < 10)
      .withColumn("running_qty",
        sum(dec2(col("l_quantity"))).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("moving_qty",
        sum(dec2(col("l_quantity"))).over(w.rowsBetween(-3, Window.currentRow)).cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty", "moving_qty")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
  }

  /** VALUE-based RANGE frame — the window family [[winFrame]]'s ROWS
    * frames can't express: "everything in the trailing 7 DAYS", where
    * frame membership follows the ORDER value, not row offsets, so
    * gaps and same-second ties are handled by definition. Epoch seconds
    * are floored identically in both engines (`unix_timestamp` /
    * `epoch_us // 1_000_000`) and the frame is a closed integer
    * interval, so the 7-day sums hash-match exactly. */
  def winRangeFrame(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id") < 10)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("es"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("es")
      .rangeBetween(-604800L, 0L)
    ev.withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("sum_7d",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .select("user_id", "event_id", "n_7d", "sum_7d")
      .orderBy("user_id", "event_id")
  }

  // ---------------------------------------------------------------- B28
  /** Global sort (range-partitioned SortExec at scale). */
  def sortGlobal(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 2000)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)

  // ---------------------------------------------------------------- B29
  /** Top-k: planned as TakeOrderedAndProject — no global sort of the full
    * table, each partition keeps k then the driver merges. */
  def topk(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  // ---------------------------------------------------------------- B30
  /** Set operations: intersect / except / union over derived key sets. */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F").select("o_custkey")
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "O").select("o_custkey")
    val p = Tables.orders(s, d).filter(col("o_orderstatus") === "P").select("o_custkey")
    val inter = f.intersect(o).withColumn("op", lit("inter"))
    val exc = f.except(p).withColumn("op", lit("except"))
    val uni = f.union(o).distinct().withColumn("op", lit("union"))
    inter.unionByName(exc).unionByName(uni)
      .select("op", "o_custkey")
      .orderBy("op", "o_custkey")
  }

  // ---------------------------------------------------------------- B20+
  /** Pivot: long→wide conditional aggregation (compiles to one hash agg
    * with a CASE per pivot value — no extra shuffle vs plain groupBy). */
  def aggPivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec2(col("l_quantity"))).cast("double"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- B50
  /** Generator: posexplode of tokenized text → (doc, position, token)
    * rows; the built-in generator family (explode/posexplode/inline)
    * covers the reference-free UDTF surface. */
  def genPosexplode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .orderBy("doc_id", "pos")

  // ---------------------------------------------------------------- B49
  /** Top-k per group via the custom bounded-heap aggregate
    * ([[graft.functions.TopKAgg]]): the shuffle carries k pairs per
    * (group × partition), not the table — vs the window row_number()
    * form which sorts every group fully (see `win_rank`). */
  def topkPerGroup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("st"))
      .agg(graft.functions.TopKAgg
        .top_k_by(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("st"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("st"), (col("pos") + 1).as("rank"),
        col("pair.payload").as("o_orderkey"),
        col("pair.value").as("price"))
      .orderBy("st", "rank")

  // ---------------------------------------------------------------- B29+
  /** Paged read: total order + LIMIT/OFFSET (offset pushes into the limit
    * operator — driver-side pagination without a full materialize). */
  def limitOffset(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_orderkey"))
      .offset(100)
      .limit(50)

  // ---------------------------------------------------------------- B30+
  /** Multiset set ops: intersectAll / exceptAll keep duplicate
    * multiplicities (bag semantics) — distinct plans from the set forms
    * (RewriteExceptAll / RewriteIntersectAll). */
  def setOpsAll(s: SparkSession, d: String): DataFrame = {
    val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F").select("o_custkey")
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "O").select("o_custkey")
    val ia = f.intersectAll(o).groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    val ea = f.exceptAll(o).groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    ia.unionByName(ea).select("op", "o_custkey", "n").orderBy("op", "o_custkey")
  }

  /** Time-series resample: per-user 4-hour buckets over the full event
    * span, gaps densified to zero via a sequence join (the distributed
    * generate_series pattern) — training pipelines need gap-free series
    * for windowed features. */
  def tsResample(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id") < 10)
    // grid must align to the epoch-aligned window() buckets: floor the
    // bounds to 4-hour multiples of the unix epoch (integer arithmetic)
    val bounds = ev.agg(
      timestamp_seconds(expr("unix_timestamp(min(ts)) div 14400") * 14400).as("lo"),
      timestamp_seconds(expr("unix_timestamp(max(ts)) div 14400") * 14400).as("hi"))
    val grid = bounds.select(explode(sequence(
        col("lo"), col("hi"), expr("INTERVAL 4 HOURS"))).as("bucket"))
      .crossJoin(ev.select(col("user_id")).distinct())
    val actual = ev
      .groupBy(col("user_id"),
        window(col("ts"), "4 hours").getField("start").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    grid.join(actual, Seq("user_id", "bucket"), "left_outer")
      .select(col("user_id"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("user_id", "bucket")
  }

  /** Unpivot (melt): wide→long inverse of [[aggPivot]] — Expand node,
    * one pass, no shuffle beyond the source agg. */
  def aggUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")

  /** Percentile aggregates: exact interpolated percentiles (sort-based —
    * at 100 TB prefer the approx_percentile sketch alongside). */
  def aggPercentile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
        round(expr("percentile(l_quantity, 0.99)"), 4).as("p99"))
      .orderBy("l_returnflag")

  /** Sketch percentiles: mergeable, bounded-memory — the 100 TB path.
    * Raw sketch estimates are not oracle-reproducible (and raw array
    * columns are not hashable by the driver's check), so the declared
    * output reduces each engine's OWN estimate to a closeness boolean
    * against its OWN exact percentile: with accuracy 10000 the rank error
    * is ~n/10000, so both engines' booleans are deterministically true. */
  def aggPercentileApprox(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_quantity, array(0.5, 0.9, 0.99), 10000)").as("pcts"),
        expr("percentile(l_quantity, 0.5)").as("e50"),
        expr("percentile(l_quantity, 0.9)").as("e90"),
        expr("percentile(l_quantity, 0.99)").as("e99"))
      .select(
        col("l_returnflag"),
        round(col("e50"), 4).as("p50_exact"),
        (abs(element_at(col("pcts"), 1) - col("e50")) <= lit(2.0)).as("p50_close"),
        (abs(element_at(col("pcts"), 2) - col("e90")) <= lit(2.0)).as("p90_close"),
        (abs(element_at(col("pcts"), 3) - col("e99")) <= lit(2.0)).as("p99_close"))
      .orderBy("l_returnflag")

  /** Data profiling: per-column null/distinct/min/max stats for `orders`.
    * The non-distinct stats run in ONE scan; each exact distinct count
    * runs as its OWN single-column aggregation (column-pruned scan,
    * map-side partial dedup) cross-joined back onto the 1-row base.
    * Four countDistincts in one Aggregate would plan an Expand that
    * multiplies the scan ×4 — the per-column shape reads the same bytes
    * with no row multiplication and no Expand, and each scan prunes to
    * exactly one column. (See [[profileTableApprox]] for the one-pass
    * sketch variant that is the real 100 TB shape.) Min/max stringified
    * through deterministic casts (ints, decimals, dates) — never raw
    * doubles. */
  /** Distribution-drift detection by Population Stability Index — the
    * monitoring half of data quality: [[profileTable]] snapshots ONE
    * table; drift compares TWO snapshots' distributions
    * (psi = Σ_bins (p−q)·ln(p/q); > 0.1 flags a shifted pipeline
    * upstream). Baseline vs current is simulated by odd/even order key
    * — stand-ins for yesterday's and today's partition of the same
    * feed. One numeric column (equal-width integer-floored bins) and
    * one categorical (categories ARE the bins) profile through the
    * same (col, bin, side) rollup. Laplace +1 smoothing keeps empty
    * bins finite. Per-bin contributions round to 8 decimals and sum
    * as DECIMAL — the [[aggStats]]/perplexity float discipline: the
    * cross-bin sum must not depend on partial-aggregation order.
    * Scale: one scan (all profiled columns explode from it), one
    * (col, bin) rollup, per-column totals as a window over the same
    * counts — no second read of anything. */
  def profileDrift(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).withColumn("side", col("o_orderkey") % 2)
    // one scan for ALL profiled columns: a union-of-projections form
    // reads the table once per column (C scans for C columns at 100 TB);
    // exploding (col_name, bin) structs reads it once, rows ×C
    val bins = o.select(col("side"), explode(array(
        struct(lit("o_totalprice").as("col_name"),
          least(floor(col("o_totalprice") / 50000), lit(9L)).cast("string").as("bin")),
        struct(lit("o_orderpriority").as("col_name"),
          col("o_orderpriority").as("bin")))).as("cb"))
      .select(col("cb.col_name").as("col_name"), col("cb.bin").as("bin"),
        col("side"))
    val counts = bins.groupBy("col_name", "bin")
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("base_c"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("cur_c"))
    // per-column totals as a window over the SAME counts — a separate
    // aggregate + join-back recomputed the whole counts subtree (the
    // plan showed two scans); the window reuses one
    val wc = Window.partitionBy("col_name")
    val p = (col("base_c") + 1).cast("double") / (col("bn") + col("k"))
    val q = (col("cur_c") + 1).cast("double") / (col("cn") + col("k"))
    counts
      .withColumn("bn", sum("base_c").over(wc))
      .withColumn("cn", sum("cur_c").over(wc))
      .withColumn("k", count(lit(1)).over(wc))
      .select(col("col_name"),
        round((p - q) * log(p / q), 8).cast("decimal(18,8)").as("contrib"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_bins"),
        sum(col("contrib")).cast("double").as("psi"))
      .withColumn("drifted", col("psi") > 0.1)
      .orderBy("col_name")
  }

  def profileTable(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def nd(c: String, as: String): DataFrame =
      o.select(col(c)).agg(countDistinct(col(c)).as(as))
    o.agg(
        count(when(col("o_orderkey").isNull, 1)).as("k_nulls"),
        min(col("o_orderkey")).cast("string").as("k_min"),
        max(col("o_orderkey")).cast("string").as("k_max"),
        count(when(col("o_orderstatus").isNull, 1)).as("s_nulls"),
        min(col("o_orderstatus")).as("s_min"),
        max(col("o_orderstatus")).as("s_max"),
        count(when(col("o_totalprice").isNull, 1)).as("p_nulls"),
        min(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("p_min"),
        max(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("p_max"),
        count(when(col("o_orderdate").isNull, 1)).as("d_nulls"),
        min(col("o_orderdate").cast("date")).cast("string").as("d_min"),
        max(col("o_orderdate").cast("date")).cast("string").as("d_max"))
      .crossJoin(nd("o_orderkey", "k_nd"))
      .crossJoin(nd("o_orderstatus", "s_nd"))
      .crossJoin(nd("o_totalprice", "p_nd"))
      .crossJoin(nd("o_orderdate", "d_nd"))
      .selectExpr(
        """stack(4,
          |  'o_orderkey', k_nulls, k_nd, k_min, k_max,
          |  'o_orderstatus', s_nulls, s_nd, s_min, s_max,
          |  'o_totalprice', p_nulls, p_nd, p_min, p_max,
          |  'o_orderdate', d_nulls, d_nd, d_min, d_max
          |) AS (col_name, n_nulls, n_distinct, min_str, max_str)""".stripMargin)
      .orderBy("col_name")
  }

  /** One-pass profiling — the actual 100 TB shape: ALL distinct counts as
    * mergeable HLL++ sketches inside a single HashAggregate (one scan, no
    * Expand, no per-column re-scan). For the correctness gate the sketch
    * estimates are reduced to within-5% booleans against the exact counts
    * ([[profileTable]]'s per-column aggs — gate-only cost; production
    * drops the exact cross-check and keeps just the sketch pass). */
  def profileTableApprox(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def nd(c: String, as: String): DataFrame =
      o.select(col(c)).agg(countDistinct(col(c)).as(as))
    def ok(approx: String, exact: String): Column =
      (abs(col(approx) - col(exact)) * 20 <= col(exact)).as(approx + "_ok")
    o.agg(
        count(when(col("o_orderkey").isNull, 1)).as("k_nulls"),
        approx_count_distinct(col("o_orderkey"), 0.02).as("k_and"),
        count(when(col("o_orderstatus").isNull, 1)).as("s_nulls"),
        approx_count_distinct(col("o_orderstatus"), 0.02).as("s_and"),
        count(when(col("o_totalprice").isNull, 1)).as("p_nulls"),
        approx_count_distinct(col("o_totalprice"), 0.02).as("p_and"),
        count(when(col("o_orderdate").isNull, 1)).as("d_nulls"),
        approx_count_distinct(col("o_orderdate"), 0.02).as("d_and"))
      .crossJoin(nd("o_orderkey", "k_nd"))
      .crossJoin(nd("o_orderstatus", "s_nd"))
      .crossJoin(nd("o_totalprice", "p_nd"))
      .crossJoin(nd("o_orderdate", "d_nd"))
      .select(
        col("k_nulls"), col("s_nulls"), col("p_nulls"), col("d_nulls"),
        ok("k_and", "k_nd"), ok("s_and", "s_nd"),
        ok("p_and", "p_nd"), ok("d_and", "d_nd"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "profile_table"  -> (profileTable(_, _)),
    "profile_drift"  -> (profileDrift(_, _)),
    "profile_table_approx" -> (profileTableApprox(_, _)),
    "win_dist"       -> (winDist(_, _)),
    "agg_unpivot"    -> (aggUnpivot(_, _)),
    "agg_percentile" -> (aggPercentile(_, _)),
    "agg_percentile_approx" -> (aggPercentileApprox(_, _)),
    "agg_pivot"      -> (aggPivot(_, _)),
    "gen_posexplode" -> (genPosexplode(_, _)),
    "topk_per_group" -> (topkPerGroup(_, _)),
    "limit_offset"   -> (limitOffset(_, _)),
    "set_ops_all"    -> (setOpsAll(_, _)),
    "ts_resample"    -> (tsResample(_, _)),
    "ts_gapfill"     -> (tsGapfill(_, _)),
    "ts_interpolate" -> (tsInterpolate(_, _)),
    "agg_histogram"  -> (aggHistogram(_, _)),
    "ev_funnel"      -> (evFunnel(_, _)),
    "ev_markov"      -> (evMarkov(_, _)),
    "win_ewma"       -> (winEwma(_, _)),
    "dq_checks"      -> (dqChecks(_, _)),
    // the hot-key mitigation DECLARED through the gate: salting is plan-
    // internal (content-derived, deterministic), so the output — and its
    // oracle — is exactly the plain GROUP BY's
    "skew_salted_agg" -> ((s, d) => graft.plans.Scale
      .saltedCountSum(Tables.lineitem(s, d), "l_returnflag", "l_extendedprice")
      .orderBy("l_returnflag")),
    // salted equi-join (hot-key spreading): output — and oracle — is
    // exactly the plain join's rollup; the salt is internal. Bench
    // note: ~2.7 s at sf0.1 is the DEMO's price, not a plan smell —
    // the dim side replicates ×16 and both sides shuffle on
    // (key, salt), deliberately forgoing the broadcast a non-skewed
    // dim would take, because the point is exercising the shape that
    // survives a hot key at 100 TB (where broadcast of the big side
    // is impossible and one reducer would otherwise drown)
    "skew_salted_join" -> ((s, d) => {
      val li = Tables.spread(s, d, "lineitem").select("l_orderkey", "l_quantity")
      val o = Tables.spread(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.plans.Scale.saltedJoin(li, o, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("o_orderpriority")
    }),
    "ev_retention"   -> (evRetention(_, _)),
    "win_ntile"      -> (winNtile(_, _)),
    "win_range_frame" -> (winRangeFrame(_, _)),
    "proj_basic"     -> (projBasic(_, _)),
    "filter_pred"    -> (filterPred(_, _)),
    "join_inner"     -> (joinInner(_, _)),
    "join_broadcast" -> (joinBroadcast(_, _)),
    "join_outer"     -> (joinOuter(_, _)),
    "join_semi"      -> (joinSemi(_, _)),
    "join_anti"      -> (joinAnti(_, _)),
    "join_theta"     -> (joinTheta(_, _)),
    "join_theta_pairs" -> (joinThetaPairs(_, _)),
    "join_range"     -> (joinRange(_, _)),
    "join_range_bucketed" -> (joinRangeBucketed(_, _)),
    "join_asof"      -> (joinAsof(_, _)),
    "join_asof_nearest" -> (joinAsofNearest(_, _)),
    "join_cross"     -> (joinCross(_, _)),
    "agg_basic"      -> (aggBasic(_, _)),
    "agg_distinct"   -> (aggDistinct(_, _)),
    "agg_rollup"     -> (aggRollup(_, _)),
    "agg_cube"       -> (aggCube(_, _)),
    "agg_approx"     -> (aggApprox(_, _)),
    "agg_quantile_sketch" -> (aggQuantileSketch(_, _)),
    "agg_stats"      -> (aggStats(_, _)),
    "agg_linreg"     -> (aggLinreg(_, _)),
    "agg_ttest"      -> (aggTtest(_, _)),
    "agg_bootstrap"  -> (aggBootstrap(_, _)),
    "agg_chi2"       -> (aggChi2(_, _)),
    "ts_acf"         -> (tsAcf(_, _)),
    "agg_gini"       -> (aggGini(_, _)),
    "ts_anomaly"     -> (tsAnomaly(_, _)),
    "agg_mannwhitney" -> (aggMannWhitney(_, _)),
    "profile_ks"     -> (profileKs(_, _)),
    "ts_changepoint" -> (tsChangepoint(_, _)),
    "ev_attribution" -> (evAttribution(_, _)),
    "ev_paths"       -> (evPaths(_, _)),
    "win_streaks"    -> (winStreaks(_, _)),
    "agg_collect"    -> (aggCollect(_, _)),
    "win_rank"       -> (winRank(_, _)),
    "win_analytic"   -> (winAnalytic(_, _)),
    "win_frame"      -> (winFrame(_, _)),
    "sort_global"    -> (sortGlobal(_, _)),
    "topk"           -> (topk(_, _)),
    "set_ops"        -> (setOps(_, _))
  )

  /** 4-hour bucket start of `ts` in DuckDB, matching Spark's `window()`
    * and `unix_timestamp(..) div 14400`: both FLOOR the epoch seconds,
    * while a plain `CAST(epoch(ts) AS BIGINT)` rounds them and moves an
    * event in a bucket's last half second into the next bucket. */
  private def bucket4h(ts: String): String =
    s"CAST(to_timestamp((CAST(floor(epoch($ts)) AS BIGINT) // 14400) * 14400) AS TIMESTAMP)"

  /** Shared prefix of the ts_resample / ts_gapfill / ts_interpolate
    * oracles: the event sample `ev`, its bucket range `b` and the
    * user × bucket `grid`. */
  private val tsGridSql: String =
    s"""WITH ev AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |  FROM events WHERE user_id < 10),
      |b AS (
      |  SELECT ${bucket4h("min(ts)")} AS lo,
      |         ${bucket4h("max(ts)")} AS hi
      |  FROM ev),
      |grid AS (
      |  SELECT u.user_id, g.bucket
      |  FROM (SELECT DISTINCT user_id FROM ev) u,
      |       (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b),
      |                                      INTERVAL 4 HOUR)) AS bucket) g)""".stripMargin

  def oracles: Map[String, String] = Map(
    "agg_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "profile_drift" ->
      """WITH o AS (
        |  SELECT *, o_orderkey % 2 AS side FROM orders),
        |bins AS (
        |  SELECT 'o_totalprice' AS col_name,
        |    CAST(LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 9) AS VARCHAR) AS bin,
        |    side FROM o
        |  UNION ALL
        |  SELECT 'o_orderpriority' AS col_name, o_orderpriority AS bin, side FROM o),
        |counts AS (
        |  SELECT col_name, bin,
        |    CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS base_c,
        |    CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cur_c
        |  FROM bins GROUP BY 1, 2),
        |tot AS (
        |  SELECT col_name, CAST(SUM(base_c) AS BIGINT) AS bn,
        |    CAST(SUM(cur_c) AS BIGINT) AS cn,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM counts GROUP BY 1),
        |contribs AS (
        |  SELECT c.col_name,
        |    CAST(round(
        |      (CAST(c.base_c + 1 AS DOUBLE) / (t.bn + t.k)
        |       - CAST(c.cur_c + 1 AS DOUBLE) / (t.cn + t.k))
        |      * ln((CAST(c.base_c + 1 AS DOUBLE) / (t.bn + t.k))
        |           / (CAST(c.cur_c + 1 AS DOUBLE) / (t.cn + t.k))), 8)
        |      AS DECIMAL(18,8)) AS contrib
        |  FROM counts c JOIN tot t ON c.col_name = t.col_name)
        |SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  CAST(SUM(contrib) AS DOUBLE) AS psi,
        |  CAST(SUM(contrib) AS DOUBLE) > 0.1 AS drifted
        |FROM contribs GROUP BY col_name ORDER BY col_name""".stripMargin,
    "profile_table" ->
      """WITH m AS (
        |  SELECT
        |    CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS k_nulls,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS k_nd,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS k_min,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS k_max,
        |    CAST(COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS BIGINT) AS s_nulls,
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS s_nd,
        |    MIN(o_orderstatus) AS s_min, MAX(o_orderstatus) AS s_max,
        |    CAST(COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS BIGINT) AS p_nulls,
        |    CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS p_nd,
        |    CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS p_min,
        |    CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS p_max,
        |    CAST(COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS BIGINT) AS d_nulls,
        |    CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d_nd,
        |    CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS d_min,
        |    CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS d_max
        |  FROM orders)
        |SELECT 'o_orderkey' AS col_name, k_nulls AS n_nulls, k_nd AS n_distinct, k_min AS min_str, k_max AS max_str FROM m
        |UNION ALL SELECT 'o_orderstatus', s_nulls, s_nd, s_min, s_max FROM m
        |UNION ALL SELECT 'o_totalprice', p_nulls, p_nd, p_min, p_max FROM m
        |UNION ALL SELECT 'o_orderdate', d_nulls, d_nd, d_min, d_max FROM m
        |ORDER BY col_name""".stripMargin,
    "win_dist" ->
      """SELECT o_orderstatus, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  nth_value(o_orderkey, 3) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,
    "agg_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM wide
        |ORDER BY l_returnflag, measure""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90,
        |  round(quantile_cont(l_quantity, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // each engine compares its OWN sketch against its OWN exact value —
    // the boolean agrees across engines even though the estimates differ
    "agg_percentile_approx" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
        |  abs(approx_quantile(l_quantity, 0.5) - quantile_cont(l_quantity, 0.5)) <= 2.0 AS p50_close,
        |  abs(approx_quantile(l_quantity, 0.9) - quantile_cont(l_quantity, 0.9)) <= 2.0 AS p90_close,
        |  abs(approx_quantile(l_quantity, 0.99) - quantile_cont(l_quantity, 0.99)) <= 2.0 AS p99_close
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_bootstrap" -> bootstrapOracle(bReps = BootReps),
    "agg_chi2" ->
      """WITH cells AS (
        |  SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |m AS (
        |  SELECT l_returnflag, l_linestatus, n,
        |    CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS rt,
        |    CAST(SUM(n) OVER (PARTITION BY l_linestatus) AS BIGINT) AS ct,
        |    CAST(SUM(n) OVER () AS BIGINT) AS nt
        |  FROM cells),
        |x AS (
        |  SELECT l_returnflag, l_linestatus, n,
        |    CAST(rt * ct AS DOUBLE) / nt AS expected_raw
        |  FROM m)
        |SELECT l_returnflag, l_linestatus, n,
        |  ROUND(expected_raw, 4) AS expected,
        |  ROUND((CAST(n AS DOUBLE) - expected_raw)
        |        * (CAST(n AS DOUBLE) - expected_raw) / expected_raw, 6) AS contrib
        |FROM x ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "ts_changepoint" ->
      """WITH scored AS (
        |  SELECT user_id, event_id,
        |    CAST(row_number() OVER w AS BIGINT) AS t,
        |    SUM(CAST(value AS DECIMAL(18,2))) OVER w AS cum,
        |    SUM(CAST(value AS DECIMAL(18,2)))
        |      OVER (PARTITION BY user_id) AS sw,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        |  FROM events WHERE user_id < 30
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |cand AS (
        |  SELECT user_id, event_id, t, cum, sw, n,
        |    ABS(n * cum - t * sw) AS score
        |  FROM scored WHERE t < n),
        |best AS (
        |  SELECT user_id, n, t AS cp_pos, event_id AS cp_event_id,
        |    score, cum, sw,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY score DESC, t) AS rn
        |  FROM cand)
        |SELECT user_id, n, cp_pos, cp_event_id,
        |  ROUND(CAST(score AS DOUBLE) / CAST(n AS DOUBLE), 4) AS shift_mag,
        |  ROUND(CAST(cum AS DOUBLE) / cp_pos, 4) AS mean_before,
        |  ROUND(CAST(sw - cum AS DOUBLE) / (n - cp_pos), 4) AS mean_after
        |FROM best WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "win_streaks" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type, 1) OVER w IS NULL
        |           OR lag(event_type, 1) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS boundary
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |isl AS (
        |  SELECT user_id, event_id, event_type,
        |    SUM(boundary) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS island
        |  FROM flagged),
        |islands AS (
        |  SELECT user_id, island, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS len, MIN(event_id) AS start_evt
        |  FROM isl GROUP BY user_id, island, event_type),
        |best AS (
        |  SELECT user_id, len, event_type, start_evt,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY len DESC, start_evt, event_type) AS rn
        |  FROM islands)
        |SELECT user_id, len AS streak_len, event_type AS streak_type,
        |  start_evt AS start_event_id
        |FROM best WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "ev_paths" ->
      """WITH seq AS (
        |  SELECT event_type AS e0,
        |    lead(event_type, 1) OVER w AS e1,
        |    lead(event_type, 2) OVER w AS e2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (
        |  SELECT e0 || '>' || e1 || '>' || e2 AS path,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE e1 IS NOT NULL AND e2 IS NOT NULL
        |  GROUP BY 1)
        |SELECT path, n FROM p ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "ev_attribution" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |                    THEN event_type END IGNORE NULLS) OVER w
        |      AS touch_type,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |                    THEN ts END IGNORE NULLS) OVER w AS touch_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT
        |  CASE WHEN touch_ts >= ts - INTERVAL 24 HOURS
        |       THEN touch_type ELSE 'none' END AS attributed_to,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM tagged WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY attributed_to""".stripMargin,
    "agg_mannwhitney" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_linenumber % 2 AS grp,
        |    CAST(rank() OVER (PARTITION BY l_returnflag
        |                      ORDER BY l_quantity) AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
        |         AS BIGINT) AS tie
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN grp = 0 THEN 2 * rk + tie - 1 ELSE 0 END)
        |         AS BIGINT) AS r2a,
        |    CAST(SUM(tie * tie - 1) AS BIGINT) AS tsum
        |  FROM ranked GROUP BY l_returnflag),
        |z AS (
        |  SELECT l_returnflag, na, nb,
        |    CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_even,
        |    ROUND((CAST(r2a - na * (na + 1) AS DOUBLE)
        |           - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) /
        |      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 3.0 *
        |        ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
        |         - CAST(tsum AS DOUBLE) /
        |           ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |            * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))), 4)
        |      AS z
        |  FROM m)
        |SELECT l_returnflag, na, nb, u_even, z, abs(z) > 1.96 AS significant
        |FROM z ORDER BY l_returnflag""".stripMargin,
    "profile_ks" ->
      """WITH vc AS (
        |  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source, n_chars),
        |gt AS (
        |  SELECT v, CAST(SUM(cv) OVER (ORDER BY v) AS BIGINT) AS ct
        |  FROM (SELECT v, SUM(c) AS cv FROM vc GROUP BY v)),
        |srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s
        |         FROM vc GROUP BY source),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM vc),
        |cum AS (
        |  SELECT g.source, g.n_s, g.ct,
        |    CAST(SUM(COALESCE(vc.c, 0))
        |      OVER (PARTITION BY g.source ORDER BY g.v) AS BIGINT) AS cs
        |  FROM (SELECT s.source, s.n_s, t.v, t.ct
        |        FROM srcs s CROSS JOIN gt t) g
        |  LEFT JOIN vc ON vc.source = g.source AND vc.v = g.v)
        |SELECT source, n_s, n_all - n_s AS n_rest,
        |  MAX(ABS(cs * (n_all - n_s) - (ct - cs) * n_s)) AS d_num,
        |  ROUND(CAST(MAX(ABS(cs * (n_all - n_s) - (ct - cs) * n_s)) AS DOUBLE)
        |        / (n_s * (n_all - n_s)), 6) AS ks
        |FROM cum CROSS JOIN tot
        |GROUP BY source, n_s, n_all ORDER BY source""".stripMargin,
    "ts_acf" ->
      """WITH seq AS (
        |  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    lead(CAST(value AS DECIMAL(18,2)), 1) OVER w AS l1,
        |    lead(CAST(value AS DECIMAL(18,2)), 2) OVER w AS l2,
        |    lead(CAST(value AS DECIMAL(18,2)), 3) OVER w AS l3
        |  FROM events WHERE user_id < 20
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (
        |  SELECT user_id, 1 AS lag, v AS a, l1 AS b FROM seq
        |  UNION ALL
        |  SELECT user_id, 2 AS lag, v AS a, l2 AS b FROM seq
        |  UNION ALL
        |  SELECT user_id, 3 AS lag, v AS a, l3 AS b FROM seq),
        |m AS (
        |  SELECT user_id, lag,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(a) AS DOUBLE) AS sa, CAST(SUM(b) AS DOUBLE) AS sb,
        |    CAST(SUM(a * b) AS DOUBLE) AS sab,
        |    CAST(SUM(a * a) AS DOUBLE) AS saa,
        |    CAST(SUM(b * b) AS DOUBLE) AS sbb
        |  FROM p WHERE b IS NOT NULL GROUP BY user_id, lag)
        |SELECT user_id, CAST(lag AS INT) AS lag, n_pairs,
        |  ROUND((n * sab - sa * sb) /
        |    sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)), 6) AS acf
        |FROM m ORDER BY user_id, lag""".stripMargin,
    "agg_gini" ->
      """WITH ranked AS (
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS x,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS i
        |  FROM orders),
        |m AS (
        |  SELECT o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(i * x) AS DOUBLE) AS six
        |  FROM ranked GROUP BY o_orderstatus)
        |SELECT o_orderstatus, n_rows,
        |  ROUND((2.0 * six - (n + 1.0) * sx) / (n * sx), 6) AS gini
        |FROM m ORDER BY o_orderstatus""".stripMargin,
    "ts_anomaly" ->
      """WITH scored AS (
        |  SELECT event_id, user_id, value,
        |    CAST(COUNT(CAST(value AS DECIMAL(18,2))) OVER w AS BIGINT) AS n_hist,
        |    SUM(CAST(value AS DECIMAL(18,2))) OVER w AS sw,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER w AS sxx
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_id, user_id, value, n_hist,
        |    ROUND((value - CAST(sw AS DOUBLE) / CAST(n_hist AS DOUBLE)) /
        |      sqrt((CAST(n_hist AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) /
        |           (CAST(n_hist AS DOUBLE) * (CAST(n_hist AS DOUBLE) - 1.0))), 4) AS z
        |  FROM scored WHERE n_hist >= 5 AND n_hist * sxx - sw * sw > 0)
        |SELECT event_id, user_id, value, n_hist, z
        |FROM z WHERE abs(z) > 2.5 ORDER BY event_id""".stripMargin,
    "win_ewma" ->
      """SELECT event_id, user_id, value,
        |  ROUND((COALESCE(lag(value, 0) OVER win * 0.5, 0.0) + COALESCE(lag(value, 1) OVER win * 0.25, 0.0) + COALESCE(lag(value, 2) OVER win * 0.125, 0.0) + COALESCE(lag(value, 3) OVER win * 0.0625, 0.0) + COALESCE(lag(value, 4) OVER win * 0.03125, 0.0) + COALESCE(lag(value, 5) OVER win * 0.015625, 0.0) + COALESCE(lag(value, 6) OVER win * 0.0078125, 0.0) + COALESCE(lag(value, 7) OVER win * 0.00390625, 0.0))
        |    / (CASE WHEN lag(value, 0) OVER win IS NOT NULL THEN 0.5 ELSE 0.0 END + CASE WHEN lag(value, 1) OVER win IS NOT NULL THEN 0.25 ELSE 0.0 END + CASE WHEN lag(value, 2) OVER win IS NOT NULL THEN 0.125 ELSE 0.0 END + CASE WHEN lag(value, 3) OVER win IS NOT NULL THEN 0.0625 ELSE 0.0 END + CASE WHEN lag(value, 4) OVER win IS NOT NULL THEN 0.03125 ELSE 0.0 END + CASE WHEN lag(value, 5) OVER win IS NOT NULL THEN 0.015625 ELSE 0.0 END + CASE WHEN lag(value, 6) OVER win IS NOT NULL THEN 0.0078125 ELSE 0.0 END + CASE WHEN lag(value, 7) OVER win IS NOT NULL THEN 0.00390625 ELSE 0.0 END), 4) AS ewma
        |FROM events WHERE user_id < 10
        |WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "ev_markov" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |m AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  ROUND(CAST(n AS DOUBLE) /
        |    SUM(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM m ORDER BY from_type, to_type""".stripMargin,
    "agg_ttest" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(CASE WHEN l_linenumber % 2 = 0 THEN 1 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN l_linenumber % 2 = 0 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sx0,
        |    CAST(SUM(CASE WHEN l_linenumber % 2 = 0 THEN CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sxx0,
        |    CAST(COUNT(CASE WHEN l_linenumber % 2 = 1 THEN 1 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN l_linenumber % 2 = 1 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sx1,
        |    CAST(SUM(CASE WHEN l_linenumber % 2 = 1 THEN CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS sxx1
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n0, n1,
        |  ROUND((sx0 / n0 - sx1 / n1) /
        |    sqrt((n0*sxx0 - sx0*sx0) / (n0*(n0 - 1)) / n0
        |         + (n1*sxx1 - sx1*sx1) / (n1*(n1 - 1)) / n1), 4) AS t_stat,
        |  abs(ROUND((sx0 / n0 - sx1 / n1) /
        |    sqrt((n0*sxx0 - sx0*sx0) / (n0*(n0 - 1)) / n0
        |         + (n1*sxx1 - sx1*sx1) / (n1*(n1 - 1)) / n1), 4)) > 1.96 AS significant
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_linreg" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n_rows,
        |  ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
        |  ROUND((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 4) AS intercept,
        |  ROUND((n*sxy - sx*sy) * (n*sxy - sx*sy)
        |        / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_stats" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n_rows,
        |  ROUND((n*sxy - sx*sy) / (n*(n-1)), 4) AS covar_s,
        |  ROUND((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr,
        |  ROUND(sqrt((n*sxx - sx*sx) / (n*(n-1))), 6) AS stddev_qty
        |FROM m ORDER BY l_returnflag""".stripMargin,
    // same contract as agg_approx: DuckDB runs ITS quantile sketch
    // (t-digest approx_quantile) and asserts the identical exact-rank
    // bound; the deterministic surface (group keys, exact n, booleans)
    // is what hashes
    "agg_quantile_sketch" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    approx_quantile(CAST(l_extendedprice AS DOUBLE), 0.5) AS q50,
        |    approx_quantile(CAST(l_extendedprice AS DOUBLE), 0.9) AS q90,
        |    approx_quantile(CAST(l_extendedprice AS DOUBLE), 0.99) AS q99
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  abs(SUM(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) <= s.q50 THEN 1 ELSE 0 END)
        |      / CAST(COUNT(*) AS DOUBLE) - 0.5) <= 0.025 AS p50_ok,
        |  abs(SUM(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) <= s.q90 THEN 1 ELSE 0 END)
        |      / CAST(COUNT(*) AS DOUBLE) - 0.9) <= 0.025 AS p90_ok,
        |  abs(SUM(CASE WHEN CAST(l.l_extendedprice AS DOUBLE) <= s.q99 THEN 1 ELSE 0 END)
        |      / CAST(COUNT(*) AS DOUBLE) - 0.99) <= 0.025 AS p99_ok
        |FROM lineitem l JOIN s USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,
    "agg_approx" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  abs(CAST(approx_count_distinct(l_partkey) AS BIGINT) - COUNT(DISTINCT l_partkey)) * 20
        |    <= COUNT(DISTINCT l_partkey) AS hllpp_within_5pct,
        |  abs(CAST(approx_count_distinct(l_partkey) AS BIGINT) - COUNT(DISTINCT l_partkey)) * 20
        |    <= COUNT(DISTINCT l_partkey) AS dsk_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "profile_table_approx" ->
      """WITH b AS (SELECT
        |    CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS k_nulls,
        |    CAST(approx_count_distinct(o_orderkey) AS BIGINT) AS k_and,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS k_nd,
        |    CAST(COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS BIGINT) AS s_nulls,
        |    CAST(approx_count_distinct(o_orderstatus) AS BIGINT) AS s_and,
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS s_nd,
        |    CAST(COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS BIGINT) AS p_nulls,
        |    CAST(approx_count_distinct(o_totalprice) AS BIGINT) AS p_and,
        |    CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS p_nd,
        |    CAST(COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS BIGINT) AS d_nulls,
        |    CAST(approx_count_distinct(o_orderdate) AS BIGINT) AS d_and,
        |    CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS d_nd
        |  FROM orders)
        |SELECT k_nulls, s_nulls, p_nulls, d_nulls,
        |  abs(k_and - k_nd) * 20 <= k_nd AS k_and_ok,
        |  abs(s_and - s_nd) * 20 <= s_nd AS s_and_ok,
        |  abs(p_and - p_nd) * 20 <= p_nd AS p_and_ok,
        |  abs(d_and - d_nd) * 20 <= d_nd AS d_and_ok
        |FROM b""".stripMargin,
    "limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin,
    "set_ops_all" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |     o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT 'intersect_all' AS op, o_custkey, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT o_custkey FROM f INTERSECT ALL SELECT o_custkey FROM o)
        |GROUP BY o_custkey
        |UNION ALL
        |SELECT 'except_all' AS op, o_custkey, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT o_custkey FROM f EXCEPT ALL SELECT o_custkey FROM o)
        |GROUP BY o_custkey
        |ORDER BY op, o_custkey""".stripMargin,
    "ts_resample" ->
      s"""$tsGridSql,
        |actual AS (
        |  SELECT user_id, ${bucket4h("ts")} AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM ev GROUP BY 1, 2)
        |SELECT grid.user_id, grid.bucket,
        |  COALESCE(actual.n, 0) AS n, COALESCE(actual.sum_value, 0.0) AS sum_value
        |FROM grid LEFT JOIN actual
        |  ON grid.user_id = actual.user_id AND grid.bucket = actual.bucket
        |ORDER BY grid.user_id, grid.bucket""".stripMargin,
    "ts_gapfill" ->
      s"""$tsGridSql,
        |actual AS (
        |  SELECT user_id, ${bucket4h("ts")} AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM ev GROUP BY 1, 2),
        |j AS (
        |  SELECT grid.user_id, grid.bucket, actual.n, actual.sum_value
        |  FROM grid LEFT JOIN actual
        |    ON grid.user_id = actual.user_id AND grid.bucket = actual.bucket)
        |SELECT user_id, bucket, n IS NOT NULL AS observed,
        |  COALESCE(last_value(sum_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS filled_value
        |FROM j ORDER BY user_id, bucket""".stripMargin,
    "ts_interpolate" ->
      s"""$tsGridSql,
        |actual AS (
        |  SELECT user_id, ${bucket4h("ts")} AS bucket,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_cents
        |  FROM ev GROUP BY 1, 2),
        |j AS (
        |  SELECT grid.user_id, grid.bucket, actual.sum_cents
        |  FROM grid LEFT JOIN actual
        |    ON grid.user_id = actual.user_id AND grid.bucket = actual.bucket),
        |w AS (
        |  SELECT user_id, bucket, sum_cents,
        |    last_value(sum_cents IGNORE NULLS) OVER pre AS pv,
        |    last_value(CASE WHEN sum_cents IS NOT NULL THEN bucket END IGNORE NULLS)
        |      OVER pre AS pb,
        |    first_value(sum_cents IGNORE NULLS) OVER post AS nv,
        |    first_value(CASE WHEN sum_cents IS NOT NULL THEN bucket END IGNORE NULLS)
        |      OVER post AS nb
        |  FROM j
        |  WINDOW pre AS (PARTITION BY user_id ORDER BY bucket
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         post AS (PARTITION BY user_id ORDER BY bucket
        |                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |d AS (
        |  SELECT user_id, bucket, sum_cents, pv, nv,
        |    CAST(epoch(bucket) AS BIGINT) - CAST(epoch(pb) AS BIGINT) AS dt,
        |    CAST(epoch(nb) AS BIGINT) - CAST(epoch(pb) AS BIGINT) AS dtot
        |  FROM w)
        |SELECT user_id, bucket, sum_cents IS NOT NULL AS observed,
        |  CAST(CASE
        |    WHEN sum_cents IS NOT NULL THEN sum_cents
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      (pv * (dtot - dt) + nv * dt) // dtot
        |    WHEN pv IS NOT NULL THEN pv
        |    WHEN nv IS NOT NULL THEN nv
        |    ELSE 0 END AS BIGINT) AS filled_cents
        |FROM d ORDER BY user_id, bucket""".stripMargin,
    "skew_salted_agg" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "skew_salted_join" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "dq_checks" ->
      """SELECT
        |  (SELECT CAST(SUM(CASE WHEN o_orderkey IS NULL OR o_custkey IS NULL
        |            THEN 1 ELSE 0 END) AS BIGINT) FROM orders) AS orders_null_keys,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
        |    AS orders_dup_keys,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS orders_orphan_cust,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS lineitem_orphan_orders,
        |  (SELECT CAST(SUM(CASE WHEN l_quantity <= 0 OR l_discount < 0 OR l_discount > 1
        |            THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem)
        |    AS lineitem_domain_violations""".stripMargin,
    "ev_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |su AS (
        |  SELECT user_id, MIN(ts) AS signup_ts FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, MIN(e.ts) AS first_purchase_ts
        |  FROM ev e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
        |  GROUP BY e.user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_signed_up,
        |  CAST(SUM(CASE WHEN pu.first_purchase_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchased_after,
        |  CAST(SUM(CASE WHEN pu.first_purchase_ts <= su.signup_ts + INTERVAL 24 HOUR
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_24h
        |FROM su LEFT JOIN pu ON su.user_id = pu.user_id""".stripMargin,
    "ev_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY user_id)
        |SELECT CAST(cohort.cohort_wk AS DATE) AS cohort_week,
        |  (CAST(epoch(act.wk) AS BIGINT) - CAST(epoch(cohort.cohort_wk) AS BIGINT)) // 604800
        |    AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_active
        |FROM act JOIN cohort ON act.user_id = cohort.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "win_range_frame" ->
      """SELECT user_id, event_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_7d
        |FROM (SELECT user_id, event_id,
        |        epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS es, value
        |      FROM events WHERE user_id < 10)
        |WINDOW w AS (PARTITION BY user_id ORDER BY es
        |             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "win_ntile" ->
      """SELECT o_orderstatus, CAST(q AS INT) AS quartile,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(o_totalprice) AS lo_price, MAX(o_totalprice) AS hi_price
        |FROM (SELECT o_orderstatus, o_totalprice,
        |        ntile(4) OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice, o_orderkey) AS q
        |      FROM orders)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "agg_histogram" ->
      """SELECT l_returnflag,
        |  LEAST(9, CAST(round(l_extendedprice * 100) AS BIGINT) // 1100000) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(l_extendedprice) AS lo_price, MAX(l_extendedprice) AS hi_price
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "topk_per_group" ->
      """SELECT o_orderstatus AS st, CAST(rn AS INT) AS rank, o_orderkey,
        |       o_totalprice AS price
        |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY st, rank""".stripMargin,
    "gen_posexplode" ->
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos, w[i] AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 20),
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
        |ORDER BY doc_id, pos""".stripMargin,
    "proj_basic" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_price
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber, l_quantity, disc_price""".stripMargin,
    "filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity
        |FROM lineitem
        |WHERE (l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 20
        |       AND l_shipdate >= TIMESTAMP '1999-01-01')
        |   OR (l_linestatus IN ('F') AND l_quantity < 3 AND NOT (l_returnflag = 'A'))
        |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity""".stripMargin,
    "join_inner" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_broadcast" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_outer" ->
      """SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_semi" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_theta" ->
      """SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_theta_pairs" ->
      """SELECT s_suppkey AS suppkey, c_custkey AS custkey,
        |  s_acctbal - c_acctbal AS gap
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey
        |  AND s_acctbal - c_acctbal >= 0 AND s_acctbal - c_acctbal < 500
        |WHERE s_suppkey < 20
        |ORDER BY suppkey, custkey""".stripMargin,
    "join_range" ->
      s"""${ChunkCatalog.catalogSql}
         |SELECT p.dataset_id, c.chunk_id, CAST(COUNT(*) AS BIGINT) AS n_pts,
         |       MIN(p.pt) AS min_pt, MAX(p.pt) AS max_pt
         |FROM (SELECT o_orderstatus AS dataset_id, o_orderkey AS pt
         |      FROM orders WHERE o_orderkey < 1000) p
         |JOIN catalog c ON p.dataset_id = c.dataset_id
         |  AND c.block_start <= p.pt AND p.pt < c.block_end
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // identical relation to join_range — the bucketed plan must compute
    // exactly what the plain overlap predicate computes
    "join_range_bucketed" ->
      s"""${ChunkCatalog.catalogSql}
         |SELECT p.dataset_id, c.chunk_id, CAST(COUNT(*) AS BIGINT) AS n_pts,
         |       MIN(p.pt) AS min_pt, MAX(p.pt) AS max_pt
         |FROM (SELECT o_orderstatus AS dataset_id, o_orderkey AS pt
         |      FROM orders WHERE o_orderkey < 1000) p
         |JOIN catalog c ON p.dataset_id = c.dataset_id
         |  AND c.block_start <= p.pt AND p.pt < c.block_end
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "join_asof" ->
      """SELECT event_id, user_id, ts, signup_ts FROM (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_ts
        |  FROM events WHERE event_type IN ('purchase', 'signup')
        |) WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "join_asof_nearest" ->
      """WITH w AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_su,
        |    first_value(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_su
        |  FROM events WHERE event_type IN ('purchase', 'signup')),
        |d AS (
        |  SELECT event_id, user_id, ts, event_type, prev_su, next_su,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(prev_su)) AS BIGINT) AS dp,
        |    CAST(FLOOR(epoch(next_su)) AS BIGINT) - CAST(FLOOR(epoch(ts)) AS BIGINT) AS dn
        |  FROM w)
        |SELECT event_id, user_id, ts,
        |  CASE
        |    WHEN prev_su IS NOT NULL AND (next_su IS NULL OR dp <= dn)
        |      THEN CASE WHEN dp <= 259200 THEN prev_su END
        |    WHEN next_su IS NOT NULL
        |      THEN CASE WHEN dn <= 259200 THEN next_su END
        |  END AS nearest_signup_ts,
        |  CASE
        |    WHEN prev_su IS NOT NULL AND (next_su IS NULL OR dp <= dn)
        |      THEN CASE WHEN dp <= 259200 THEN dp END
        |    WHEN next_su IS NOT NULL
        |      THEN CASE WHEN dn <= 259200 THEN dn END
        |  END AS diff_seconds
        |FROM d WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "agg_basic" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supps,
        |  CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_d_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls, g_rf, g_ls""".stripMargin,
    "agg_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pri,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin,
    "agg_collect" ->
      """SELECT l_returnflag,
        |  (SELECT string_agg(ls, ',' ORDER BY ls) FROM
        |    (SELECT DISTINCT l_linestatus AS ls FROM lineitem li2
        |     WHERE li2.l_returnflag = li.l_returnflag)) AS statuses,
        |  arg_max(l_partkey, (CAST(l_orderkey AS HUGEINT) * 8 + l_linenumber) * 100000000000 + l_partkey) AS last_part,
        |  min(l_orderkey) AS first_okey
        |FROM lineitem li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "win_rank" ->
      """SELECT l_returnflag, rn, rk, drk, qt, l_orderkey, l_linenumber FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    row_number() OVER w AS rn,
        |    rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC) AS rk,
        |    dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS drk,
        |    ntile(4) OVER w AS qt
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_quantity, l_partkey, l_suppkey)
        |) WHERE rn <= 20 ORDER BY l_returnflag, rn""".stripMargin,
    "win_analytic" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(lag(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_price,
        |  CAST(lead(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS next_price,
        |  first_value(o_orderdate) OVER w AS first_date
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey
        |       ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey
        |       ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_qty
        |FROM lineitem WHERE l_suppkey < 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin,
    "sort_global" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderkey < 2000
        |ORDER BY o_orderdate DESC, o_orderkey ASC""".stripMargin,
    "topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "set_ops" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |     o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |     p AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |SELECT 'inter' AS op, o_custkey FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
        |UNION ALL
        |SELECT 'except' AS op, o_custkey FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM p)
        |UNION ALL
        |SELECT 'union' AS op, o_custkey FROM (SELECT DISTINCT o_custkey FROM (SELECT o_custkey FROM f UNION ALL SELECT o_custkey FROM o))
        |ORDER BY op, o_custkey""".stripMargin
  )
}
