package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line options; `perfbench/run.py` passes all of them. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    traced: Boolean, corpus: String, work: String, out: String,
    lists: String, cpus: Int, launchedNs: Long)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("corpus"), req("work"), req("out"), req("lists"),
      req("cpus").toInt, req("launched-ns").toLong)
  }
}

/** What every workload shares: the session, the span tree, the failure
  * list and the per-operation latency samples. */
final class Ctx(val opts: Opts, val trace: Trace) {
  var spark: SparkSession = _
  var sparkTrace: Option[SparkTrace] = None
  /** (query or op, exception class, message) of every failed or wrong
    * operation. */
  val failures = mutable.ArrayBuffer.empty[(String, String, String)]
  var attempted = 0L
  /** Latency samples in ms, per operation kind, of the timed passes. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var recording = false

  def fail(op: String, cls: String, msg: String): Unit = {
    System.err.println(s"[perfbench] FAILED $op: $cls: $msg")
    failures += ((op, cls, msg))
  }

  /** Start a SparkSession shaped like graft.Bench's: `local[cpus]` with
    * the corpus-scaled shuffle partitions and codec. */
  def startSession(sizedBy: String): Unit = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = SparkSession.builder()
      .master(s"local[${opts.cpus}]")
      .config("spark.sql.shuffle.partitions",
        graft.Bench.scaledShufflePartitions(sizedBy, opts.cpus))
      .config("spark.io.compression.codec", graft.Bench.scaledCodec(sizedBy))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${opts.work}/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Time one query or operation as a span under `parent`: `build`
    * constructs it, `execute` runs it. Latency covers both. Returns None
    * after recording the failure. */
  def timed[A, T](parent: Span, kind: String, name: String)(build: => A)(
      execute: A => T): Option[T] = {
    attempted += 1
    val op = trace.open(parent.id, if (kind == "query") "query" else "op", name)
    def phase[R](ph: String)(body: => R): R = sparkTrace match {
      case Some(st) => st.phase(op, ph)(body)
      case None => body
    }
    val t0 = System.nanoTime()
    val res = try {
      val plan = phase("build")(build)
      Some(phase("execute")(execute(plan)))
    } catch {
      case NonFatal(e) =>
        fail(name, e.getClass.getName, String.valueOf(e.getMessage).linesIterator
          .take(3).mkString(" "))
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    op.end = trace.now()
    if (recording && res.isDefined)
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    sparkTrace.foreach(_.settle())
    res
  }
}

object Setup {
  /** One step of a set-up, recorded as a span under the run. */
  def step[T](ctx: Ctx, name: String)(body: => T): T = {
    val sp = ctx.trace.open(ctx.trace.run.id, "setup", name)
    try body finally sp.end = ctx.trace.now()
  }

  /** Run the workload's one set-up and return `setup_s`: seconds from the
    * JVM launch (run.py's clock just before it starts java) to the end of
    * `body`. Every run starts from the same state, a new JVM, so the
    * set-up is always cold; a second set-up in the same JVM would be
    * warm and measure something else. */
  def cold(ctx: Ctx)(body: => Unit): Double = {
    body
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - ctx.opts.launchedNs) / 1e9
  }
}

object Passes {
  /** The timed passes of a run. Untraced: passes back to back while the
    * next one is expected to fit in `--seconds` (at least one); returns
    * their wall times and no layer metrics. Traced: an untraced pass, a
    * pass with the Spark probes attached, and another untraced pass;
    * returns the traced pass's wall time and its layer metrics, with the
    * tracing overhead against the mean of the untraced passes around it.
    * `pass` runs one pass and returns its wall time in seconds. */
  def measure(ctx: Ctx, pass: String => Double,
      extra: => Map[String, Double]): (Seq[Double], Seq[(String, Double)]) =
    if (!ctx.opts.traced) {
      ctx.recording = true
      val walls = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      do walls += pass(s"pass ${walls.size}")
      while (elapsed + walls.last <= ctx.opts.seconds)
      ctx.recording = false
      (walls.toSeq, Nil)
    } else {
      // latency samples come from the first untraced pass, like every
      // timing reported beside the layer metrics
      ctx.recording = true
      val before = pass("untraced")
      ctx.recording = false
      val st = new SparkTrace(ctx.spark, ctx.trace).attach()
      ctx.sparkTrace = Some(st)
      val traced = pass("traced")
      val p = ctx.trace.spans.filter(s => s.kind == "pass" && s.name == "traced").last
      val layers = Layers.of(ctx.trace, st, p, extra)
      st.detach()
      ctx.sparkTrace = None
      val after = pass("untraced again")
      val plain = (before + after) / 2
      (Seq(traced), layers ++ Seq("trace.wall_s" -> traced,
        "trace.untraced_wall_s" -> plain, "trace.overhead_s" -> (traced - plain)))
    }
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The highest of the usual percentiles with at least ten samples
    * beyond it, as (percentile, value); the median when there are fewer
    * than twenty samples. */
  def tail(xs: Seq[Double]): (Double, Double) =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, pct(xs, p))).getOrElse((50.0, median(xs)))
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = graft.Meta.jstr(s.flatMap {
    case '\n' => " "; case '\r' => " "; case '\t' => " "
    case c if c < ' ' => ""
    case c => c.toString
  })
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def write(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}

/** Entry point of one benchmark run; see perfbench/README.md. Writes the
  * run's metrics, failures, run context and span tree as JSON to `--out`
  * and exits. `perfbench/run.py` adds the oracle check and prints the
  * result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val ctx = new Ctx(opts, new Trace)
    val result = opts.workload match {
      case "board_oneshot" | "board_iterative" => Board.run(ctx)
      case "lake" => Lake.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val layers = result.perLayer ++ Seq("peak_rss_mib" -> peakRssMib(),
      "failed_frac" -> ctx.failures.size.toDouble / math.max(1L, ctx.attempted))
    val selfNs = ctx.trace.selfTimes()
    val t0 = ctx.trace.run.start
    val spans = ctx.trace.spans.filter(_.end >= 0).map { s =>
      val counts = s.counts.synchronized(s.counts.toSeq.sortBy(_._1))
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.start - t0) / 1e6),
        "dur_ms" -> Json.num(s.dur / 1e6),
        "self_ms" -> Json.num(selfNs.getOrElse(s.id, 0L) / 1e6)) ++
        (if (counts.isEmpty) Nil
         else Seq("counts" -> Json.obj(counts.map { case (k, v) => k -> Json.num(v) }))))
    }
    val sc = ctx.spark.sparkContext
    val context = Json.obj(Seq(
      "master" -> Json.str(sc.master),
      "cpus" -> opts.cpus.toString,
      "heap_gib" -> Json.num(Runtime.getRuntime.maxMemory / 1073741824.0),
      "shuffle_partitions" -> ctx.spark.conf.get("spark.sql.shuffle.partitions"),
      "codec" -> Json.str(sc.getConf.get("spark.io.compression.codec")),
      "seed" -> opts.seed.toString,
      "corpus" -> Json.str(result.corpus),
      "corpus_bytes" -> dirBytes(new java.io.File(result.corpus)).toString,
      "_meta" -> graft.Meta.metaJson()) ++ result.context)
    val failures = ctx.failures.map { case (q, c, m) =>
      Json.obj(Seq("op" -> Json.str(q), "class" -> Json.str(c), "message" -> Json.str(m)))
    }
    def metrics(ms: Seq[(String, Double)]) =
      Json.obj(ms.map { case (k, v) => k -> Json.num(v) })
    Json.write(opts.out, Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "traced" -> opts.traced.toString,
      "attempted" -> ctx.attempted.toString,
      "end_to_end" -> metrics(result.endToEnd),
      "per_layer" -> metrics(layers),
      "tails" -> Json.obj(result.tails.map { case (k, (p, n)) =>
        k -> Json.obj(Seq("percentile" -> Json.num(p), "samples" -> n.toString)) }),
      "context" -> context,
      "failures" -> failures.mkString("[", ",", "]"),
      "oracle_dir" -> result.oracleDir.map(Json.str).getOrElse("null"),
      "spans" -> spans.mkString("[\n", ",\n", "]"))))
    ctx.spark.stop()
  }

  def peakRssMib(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => Double.NaN }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()
}

/** What a workload hands back to [[Main]]. */
final case class WorkloadResult(
    endToEnd: Seq[(String, Double)],
    perLayer: Seq[(String, Double)],
    tails: Seq[(String, (Double, Int))],
    corpus: String,
    context: Seq[(String, String)],
    oracleDir: Option[String])
