package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate over a [[SnapshotTable]] — the
  * lake-side answer to the reference's always-current catalog totals
  * (the quota check re-sums chunk sizes per dataset on every ingest,
  * `/root/reference/src/data_manager.rs:229-239`, over the per-chunk
  * size lookups stubbed at
  * `/root/reference/src/rocksdb_storage_engine.rs:143-148`; a 100 TB
  * lake can't re-sum the table per query, and re-running the full
  * GROUP BY per refresh re-reads everything).
  *
  * The view is itself a SnapshotTable holding `(group, cnt, total)` plus
  * a `#basedon=<v>` manifest bookmark naming the base version it
  * reflects. [[refresh]] reads ONLY the change feed between the bookmark
  * and the base's current version ([[SnapshotTable.rowChanges]] —
  * manifest-diff files, never the table), turns it into signed
  * per-group deltas (+1 for `insert`/`update_postimage`, −1 for
  * `delete`/`update_preimage`), and folds them into the stored groups
  * with one outer join. Cost scales with the CHANGED data — the classic
  * incremental-view-maintenance contract (delta rules for SUM/COUNT;
  * see Griffin & Libkin, "Incremental Maintenance of Views with
  * Duplicates", SIGMOD '95). SUM/COUNT are self-maintainable from the
  * feed alone; MIN/MAX are not (a deleted max forces a rescan), which
  * is why this view deliberately carries only the self-maintainable
  * pair (AVG = total/cnt falls out for free).
  *
  * The view commit and its bookmark land in ONE manifest write, so a
  * crash between "computed deltas" and "committed view" just leaves the
  * old bookmark — the next refresh replays the same range
  * idempotently. */
object MaterializedView {

  private val BasedOn = "#basedon="

  /** Base version the view at `viewTable` currently reflects (0 = view
    * not yet built). */
  def basedOn(viewTable: String): Long = bookmark(SnapshotTable.current(viewTable))

  private def bookmark(view: SnapshotTable.Manifest): Long =
    view.meta.find(_.startsWith(BasedOn)).map(_.stripPrefix(BasedOn).toLong).getOrElse(0L)

  private def aggregate(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    df.groupBy(groupCol).agg(
      count(lit(1)).as("cnt"),
      sum(col(valueCol)).as("total"))

  /** Bring `viewTable` up to date with `baseTable`'s current version.
    * First call builds the view with one full GROUP BY; later calls apply
    * only the change feed since the bookmark. `key` is the base table's unique
    * row key (what [[SnapshotTable.merge]] merges on). Returns the new
    * view version (unchanged if the base hasn't moved). */
  def refresh(spark: SparkSession, baseTable: String, viewTable: String,
      key: String, groupCol: String, valueCol: String): Long = {
    val baseV = SnapshotTable.currentVersion(baseTable)
    require(baseV > 0, s"no committed snapshot in $baseTable")
    val view = SnapshotTable.current(viewTable)
    val from = bookmark(view)
    if (from == baseV) return view.version
    val next =
      if (from == 0)
        aggregate(SnapshotTable.readVersion(spark, baseTable, baseV),
          groupCol, valueCol)
      else {
        val feed = SnapshotTable.rowChanges(spark, baseTable, from, baseV,
          key, includePreimages = true)
        val signed = feed.withColumn("_sign",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        val delta = signed.groupBy(groupCol).agg(
          sum(col("_sign")).as("dcnt"),
          sum(col(valueCol) * col("_sign")).as("dtotal"))
        val cur = view.read(spark)
        // full outer: a delta can create a group the view lacks or
        // drain one it has; cnt hitting 0 retires the group
        cur.join(delta, Seq(groupCol), "full_outer")
          .select(
            col(groupCol),
            (coalesce(col("cnt"), lit(0L)) +
              coalesce(col("dcnt"), lit(0L))).as("cnt"),
            (coalesce(col("total"), lit(0L)) +
              coalesce(col("dtotal"), lit(0L))).as("total"))
          .filter(col("cnt") > 0)
      }
    SnapshotTable.commitWithMeta(spark, viewTable, next,
      append = false, meta = Seq(s"$BasedOn$baseV"), view)
  }
}
