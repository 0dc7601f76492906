package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** The two board workloads: the queries of `graft.SparkEntry.queries`
  * named in `<lists>/<workload>.txt`, run in sorted name order like
  * graft.Bench, by one client in a closed loop over a seeded corpus.
  *
  * A run is: set-up (timed, from the JVM launch), one correctness pass that
  * writes every result the way graft.Verify does (untimed; run.py
  * compares the results with the DuckDB oracles through tools/check.py),
  * then timed passes with graft.Bench's noop sink until `--seconds` is
  * spent (at least one); see [[Passes.measure]] for the traced run. */
object Board {
  def readList(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq.sorted

  /** Session start and warm-up. graft.Bench also builds corpus layouts
    * (`VectorOps.ensure*`, `GraphOps.ensureClusterLayout`,
    * `Formats.ensureZLayout`) before timing; no listed query reads one,
    * so none is built here. */
  def setup(ctx: Ctx): Unit = {
    val o = ctx.opts
    val s = Setup.step(ctx, "session") { ctx.startSession(o.corpus); ctx.spark }
    Setup.step(ctx, "warm-up") {
      s.range(1000).selectExpr("sum(id)").collect()
      noop(graft.SparkEntry.queries("agg_basic")(s, o.corpus))
    }
    ctx.unpersistAll()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): WorkloadResult = {
    val o = ctx.opts
    val queries = graft.SparkEntry.queries
    val names = readList(s"${o.lists}/${o.workload}.txt")
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"${o.workload}.txt names unknown queries: ${unknown.mkString(", ")}")
    val setupS = Setup.cold(ctx)(setup(ctx))

    // correctness pass: graft.Verify's sink, one parquet dir per query
    val oracleDir = s"${o.work}/verify"
    val check = ctx.trace.open(ctx.trace.run.id, "pass", "verify")
    names.foreach { n =>
      ctx.timed(check, "verify", n)(queries(n)(ctx.spark, o.corpus)) { df =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$n")
      }
      ctx.unpersistAll()
    }
    check.end = ctx.trace.now()
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(s"$oracleDir/oracle_sql.json",
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    def pass(label: String): Double = {
      val p = ctx.trace.open(ctx.trace.run.id, "pass", label)
      val t0 = System.nanoTime()
      names.foreach { n =>
        ctx.timed(p, "query", n)(queries(n)(ctx.spark, o.corpus))(noop)
        ctx.unpersistAll()
      }
      p.end = ctx.trace.now()
      (System.nanoTime() - t0) / 1e9
    }
    val (walls, layers) = Passes.measure(ctx, pass, Map.empty)
    val lat = ctx.samples.getOrElse("query", mutable.ArrayBuffer.empty[Double]).toSeq
    val (tp, tv) = Stats.tail(lat)
    WorkloadResult(
      endToEnd = Seq("setup_s" -> setupS, "wall_s" -> Stats.median(walls)),
      perLayer = layers ++ Seq("op_p50_ms" -> Stats.median(lat), "op_tail_ms" -> tv),
      tails = Seq("op_tail_ms" -> (tp, lat.size)),
      corpus = o.corpus,
      context = Seq("queries" -> names.size.toString, "passes" -> walls.size.toString,
        "wall_s_passes" -> walls.map(Json.num).mkString("[", ",", "]")),
      oracleDir = Some(oracleDir))
  }
}
