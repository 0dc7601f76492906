package graft

/** Dev utility: map changed source files to the declared query names
  * they can affect, so a code change can be re-verified at sf1/sf10
  * without replaying the full ~200-query board (~45 min of DuckDB at
  * sf10). Driven by tools/verify_touched.sh with a
  * `git diff --name-only`-derived file list.
  *
  * The mapping is intentionally coarse and FAIL-SAFE: each operator
  * module maps to exactly the queries it registers in
  * [[SparkEntry.queries]]; any changed main-source OR build-config file
  * NOT in the table (shared infrastructure — Tables, SparkEntry,
  * functions/, plans/, sources/ internals, streaming/, build.sbt,
  * project/) yields `ALL`, forcing the full board — a dependency bump
  * can change results without touching any operator module, so build
  * config is deliberately NOT inert. Test/tool/doc changes match
  * nothing and are ignored. So a partial sweep can never silently
  * under-check: only edits provably confined to one module's query set
  * narrow the board. TouchedQueriesSpec pins that the table's union
  * covers every declared query (a new module left unmapped fails the
  * spec, not just the fail-safe) and that unknown files force ALL.
  */
object TouchedQueries {
  import graft.{operators => o}

  private[graft] val modules: Map[String, () => Set[String]] = Map(
    "operators/ChunkCatalog.scala" -> (() => o.ChunkCatalog.queries.keySet),
    "operators/Relational.scala" -> (() => o.Relational.queries.keySet),
    "operators/ScalarFns.scala" -> (() => o.ScalarFns.queries.keySet),
    "operators/Windows.scala" -> (() => o.Windows.queries.keySet),
    // TextOps also feeds GraphOps: the dedup-cc family's persisted
    // cluster layout is built from TextOps.bandSignatures, so a TextOps
    // edit can change GraphOps results (the r14 shingles rewrite did
    // exactly this, value-identically) — map the union, stay fail-safe
    "operators/TextOps.scala" -> (() =>
      o.TextOps.queries.keySet ++ o.GraphOps.queries.keySet),
    "operators/IncrementalDedup.scala" -> (() => o.TextOps.queries.keySet),
    "operators/VectorOps.scala" -> (() => o.VectorOps.queries.keySet),
    "operators/Multimodal.scala" -> (() => o.Multimodal.queries.keySet),
    "operators/SqlQueries.scala" -> (() => o.SqlQueries.queries.keySet),
    "operators/GraphOps.scala" -> (() => o.GraphOps.queries.keySet),
    "sources/Formats.scala" -> (() => graft.sources.Formats.queries.keySet))

  /** Changed files whose edits cannot change any query's RESULT: tests,
    * tools, docs, and the dev/bench harness mains (Bench times queries,
    * it does not define them; ScaleGen generates dev corpora, Probe
    * measures). Build config (build.sbt, project/) is NOT here — a
    * dependency bump can change every query's result, so it classifies
    * as ALL — and neither is graft/Session.scala: a session conf can
    * change every result too. */
  private[graft] val inert = Seq(
    "src/test/", "tools/", ".md",
    "graft/Bench.scala", "graft/Verify.scala", "graft/ScaleGen.scala",
    "graft/Probe.scala", "graft/Meta.scala", "graft/TouchedQueries.scala")

  /** Pure classification: `NONE` (nothing query-bearing changed),
    * `ALL` (shared infra / build config — full board), or the sorted
    * comma-joined query-name list. Spec-pinned; [[main]] only formats. */
  private[graft] def classify(files: Seq[String]): String = {
    val active = files.filter(_.nonEmpty).filterNot(f => inert.exists(f.contains))
    val (known, unknown) = active.partition(f => modules.keys.exists(f.endsWith))
    if (unknown.nonEmpty) "ALL"
    else if (known.isEmpty) "NONE"
    else known.flatMap(f =>
      modules.collectFirst { case (k, qs) if f.endsWith(k) => qs() }.get)
      .toSet.toSeq.sorted.mkString(",")
  }

  def main(args: Array[String]): Unit = {
    val verdict = classify(args.toSeq)
    // the machine-readable line goes to STDERR with a `TOUCHED:` prefix:
    // sbt logs a forked JVM's stdout at info level, which the script's
    // `-error` invocation suppresses — stderr passes through at [error]
    def emit(v: String): Unit = System.err.println(s"TOUCHED:$v")
    verdict match {
      case "ALL" =>
        System.err.println("[touched] shared-infra/build files changed -> full board")
        emit("ALL")
      case "NONE" =>
        System.err.println("[touched] no query-bearing files changed")
        emit("NONE")
      case names =>
        System.err.println(
          s"[touched] ${names.count(_ == ',') + 1} targeted queries")
        emit(names)
    }
  }
}
