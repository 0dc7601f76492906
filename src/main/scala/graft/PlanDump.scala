package graft

import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` per query to individual files — the
  * optimization-round evidence format (`plans/r19/<q>_before.txt` /
  * `_after.txt`), one file per query so a before/after pair can be
  * diffed. An unknown or throwing query is named and fails the run.
  *
  * Run: `sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> [names…|all]"`
  *
  * The session is Bench's ([[Session.build]]: shuffle partitions and
  * codec derived from the corpus size, `local[SPARK_GRAFT_CPUS]`) so the
  * dumped plan is the one the bench actually executes, not a default-
  * config variant.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r19")
    val suffix = args.lift(2).getOrElse("before")
    val picks = args.drop(3).toSeq match {
      case Seq() | Seq("all") => SparkEntry.queries.keys.toSeq.sorted
      case names => names
    }
    val spark = Session.build(sfDir, Session.cpus)
    Files.createDirectories(Paths.get(outDir))
    // successes counted separately from picks (r19 advisor): an unknown
    // name or a throwing query must be visible in the summary line and
    // the exit code — a silently missing _before/_after evidence file
    // breaks the optimization-round audit trail
    val failed = picks.flatMap { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[plandump] unknown query: $name")
          Some(name)
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
            None
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[plandump] $name failed: ${e.getMessage}")
              Some(name)
          }
      }
    }
    println(s"wrote ${picks.size - failed.size}/${picks.size} plans to $outDir (*_$suffix.txt)" +
      (if (failed.nonEmpty) s"; FAILED: ${failed.mkString(", ")}" else ""))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
