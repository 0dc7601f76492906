package graft
import scala.util.control.NonFatal
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (dev only; the driver passes 2): run just the
    // queries whose name contains ANY of the comma-separated substrings
    // — targeted oracle checks without the full 190+-query dump. Used
    // by tools/verify_touched.sh with a git-diff-derived list.
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = Session.build(sfDir, Session.cpus)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .flatMap { case (name, fn) =>
      val failed =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"{${q("query")}: ${q(name)}, ${q("exception")}: ${q(e.getClass.getName)}, " +
            s"${q("message")}: ${q(String.valueOf(e.getMessage))}}")
        }
      // iterative/caching queries pin blocks (localCheckpoint, persist);
      // release them so 100+ sequential queries don't accrete memory
      Meta.unpersistAll(spark)
      failed
    }
    // a query that threw leaves no result dir; tools/check.py counts
    // each entry here as a failure
    Files.writeString(Paths.get(s"$outDir/failures.json"), failures.mkString("[", ",\n", "]"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the FULL declared query universe (not just oracle keys): check.py
    // stamps a sweep partial against this list, so a targeted sweep that
    // happens to dump every oracle-bearing query but omits rows-only
    // ones still reads as partial
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
