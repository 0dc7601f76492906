package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the trace. Times are epoch nanoseconds; `end`
  * stays -1 until the interval closes. `counts` holds the layer counters
  * attributed to this span (only query and operation spans carry them). */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val start: Long) {
  @volatile var end: Long = -1L
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit =
    counts.synchronized { counts(k) = counts.getOrElse(k, 0.0) + v }
  def dur: Long = if (end < 0) 0L else end - start
}

/** The span tree of one run: run → query/op → build | execute → job →
  * stage. Spans stay in memory and are written once, when the run ends.
  *
  * The benchmark always records its own query/op and phase spans (a
  * clock read each). Spark jobs, stages, task metrics and Catalyst phase
  * times are added only while a [[SparkTrace]] is attached, which only
  * the traced run does. */
final class Trace {
  private val ids = new AtomicLong(0)
  private val byId = TrieMap.empty[Long, Span]
  private val order = mutable.ArrayBuffer.empty[Span]
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + base

  def open(parent: Long, kind: String, name: String, start: Long = now()): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, start)
    byId(s.id) = s
    order.synchronized(order += s)
    s
  }
  def apply(id: Long): Option[Span] = byId.get(id)
  def spans: Seq[Span] = order.synchronized(order.toList)
  val run: Span = open(0, "run", "run")

  /** The query or operation span that `s` belongs to, if any. */
  def owner(s: Span): Option[Span] =
    if (s.kind == "query" || s.kind == "op") Some(s)
    else byId.get(s.parent).flatMap(owner)

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    total + (curE - curS)
  }

  /** Self time of every closed span: its duration minus the part of it
    * that its children cover. */
  def selfTimes(): Map[Long, Long] = {
    val all = spans.filter(_.end >= 0)
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }

  /** Wall time of `op` with no Spark job running. */
  def gapNs(op: Span): Long = {
    val phases = spans.filter(_.parent == op.id).map(_.id).toSet
    val jobs = spans.filter(s => s.kind == "job" && phases.contains(s.parent) &&
      s.end >= 0).map(s => (s.start, s.end))
    op.dur - covered(jobs, op.start, op.end)
  }
}

/** Spark-side probes of the traced run: a `SparkListener` for jobs,
  * stages, tasks and persisted blocks, and a `QueryExecutionListener` for
  * Catalyst phase times. Each job is attached to the benchmark span named
  * by the `perfbench.span` local property, set around every build and
  * execute phase. */
final class SparkTrace(spark: SparkSession, trace: Trace)
    extends SparkListener with QueryExecutionListener {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  private val jobSpans = TrieMap.empty[Int, Span]
  private val stageJob = TrieMap.empty[Int, Int]
  private val blocks = TrieMap.empty[String, Long]
  @volatile private var blockBytes = 0L
  @volatile var peakBlockBytes = 0L
  @volatile private var current: Option[Span] = None

  def attach(): this.type = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `body` as phase `phase` of `op`; jobs it starts become children. */
  def phase[T](op: Span, phase: String)(body: => T): T = {
    val p = trace.open(op.id, phase, op.name)
    current = Some(op)
    sc.setLocalProperty(Prop, p.id.toString)
    try body finally {
      sc.setLocalProperty(Prop, null)
      p.end = trace.now()
    }
  }

  /** Wait until every event of the finished operation is attributed;
    * later events belong to no operation. */
  def settle(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    current = None
  }

  private def ownerOfJob(jobId: Int): Span =
    jobSpans.get(jobId).flatMap(trace.owner).getOrElse(trace.run)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => trace(id.toLong))
    val js = trace.open(parent.map(_.id).getOrElse(trace.run.id), "job",
      s"job ${e.jobId}", e.time * 1000000L)
    jobSpans(e.jobId) = js
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    val owner = ownerOfJob(e.jobId)
    owner.add("exec.jobs", 1)
    if (parent.exists(_.kind == "build")) owner.add("operators.eager_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpans.get(e.jobId).foreach(_.end = e.time * 1000000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val job = stageJob.get(info.stageId)
    val parent = job.flatMap(jobSpans.get).getOrElse(trace.run)
    val st = trace.open(parent.id, "stage", s"stage ${info.stageId}",
      info.submissionTime.getOrElse(0L) * 1000000L)
    st.end = info.completionTime.getOrElse(0L) * 1000000L
    val owner = job.map(ownerOfJob).getOrElse(trace.run)
    owner.add("exec.stages", 1)
    if (info.numTasks == 1) owner.add("exec.one_task_stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val owner = stageJob.get(e.stageId).map(ownerOfJob).getOrElse(trace.run)
    owner.add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      owner.add("exec.task_run_ms", m.executorRunTime.toDouble)
      owner.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      owner.add("exec.gc_ms", m.jvmGCTime.toDouble)
      val busy = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime
      owner.add("exec.sched_delay_ms",
        math.max(0L, e.taskInfo.duration - busy).toDouble)
      owner.add("tables.input_bytes", m.inputMetrics.bytesRead.toDouble)
      owner.add("tables.input_rows", m.inputMetrics.recordsRead.toDouble)
      owner.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      owner.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      owner.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      owner.add("shuffle.spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val now = b.memSize + b.diskSize
      val before = blocks.getOrElse(b.blockId.name, 0L)
      if (now > 0) blocks(b.blockId.name) = now else blocks.remove(b.blockId.name)
      blockBytes += now - before
      peakBlockBytes = math.max(peakBlockBytes, blockBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    current.foreach { op =>
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => op.add("catalyst.analysis_ms", p.durationMs.toDouble))
      ph.get("optimization").foreach(p => op.add("catalyst.optimize_ms", p.durationMs.toDouble))
      ph.get("planning").foreach(p => op.add("catalyst.plan_ms", p.durationMs.toDouble))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-layer metrics of one traced pass: the counters of every query or
  * operation under `pass`, summed, plus the ratios and times derived
  * from the span tree. Layers a workload does not touch read 0. */
object Layers {
  val Names: Seq[String] = Seq(
    "operators.build_ms", "operators.eager_jobs", "driver.gap_ms",
    "catalyst.analysis_ms", "catalyst.optimize_ms", "catalyst.plan_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.gc_ms", "exec.sched_delay_ms",
    "exec.concurrency", "exec.one_task_stage_frac",
    "tables.input_bytes", "tables.input_rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "shuffle.spill_bytes", "persist.block_mib",
    "ingest.ingest_ms", "ingest.find_ms", "ingest.delete_ms",
    "ingest.compact_ms", "ingest.deduped_rows", "ingest.rejected_batches",
    "ingest.catalog_files", "ingest.catalog_bytes",
    "snapshot.commit_ms", "snapshot.merge_ms", "snapshot.read_version_ms",
    "snapshot.read_range_ms", "snapshot.expire_ms", "snapshot.vacuum_ms",
    "snapshot.prune_ratio", "snapshot.data_files", "snapshot.manifest_bytes",
    "snapshot.bytes_reclaimed")

  /** `extra` overrides or adds values the workload measured itself. */
  def of(trace: Trace, st: SparkTrace, pass: Span,
      extra: Map[String, Double]): Seq[(String, Double)] = {
    val all = trace.spans
    val ops = all.filter(s => s.parent == pass.id && (s.kind == "query" || s.kind == "op"))
    val opIds = ops.map(_.id).toSet
    val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach(o => o.counts.synchronized(o.counts.foreach { case (k, v) => sum(k) += v }))
    sum("operators.build_ms") = all.filter(s => s.kind == "build" && opIds(s.parent))
      .map(_.dur / 1e6).sum
    sum("driver.gap_ms") = ops.map(o => trace.gapNs(o) / 1e6).sum
    sum("exec.concurrency") = sum("exec.task_run_ms") / math.max(1e-9, pass.dur / 1e6)
    sum("exec.one_task_stage_frac") =
      sum("exec.one_task_stages") / math.max(1.0, sum("exec.stages"))
    sum("persist.block_mib") = st.peakBlockBytes / 1048576.0
    extra.foreach { case (k, v) => sum(k) = v }
    Names.map(n => n -> sum(n))
  }
}
