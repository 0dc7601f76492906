package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Near-dup dedup for CONTINUOUS ingestion: each arriving batch is
  * checked against a persisted LSH band index of everything seen so
  * far, instead of re-deduplicating the whole corpus per batch (the
  * reference deduplicates at ingest against its existing catalog,
  * /root/reference/src/data_manager.rs — this is that behavior lifted
  * to near-dup semantics and lake scale).
  *
  * The index is a [[SnapshotTable]] of `(doc_id, band, bh)` rows — 8
  * fixed-width rows per document regardless of document size, so a
  * 100 TB corpus indexes in ~tens of GB. Per batch the work is:
  *
  *  1. band the batch ([[TextOps.bandSignatures]] — the exact hash
  *     family the one-shot path uses, factored shared so the two can
  *     never diverge);
  *  2. one equi-join against the index on `(band, bh)` → batch docs
  *     colliding with ANY earlier doc;
  *  3. one self-join within the batch (smaller doc_id wins, the same
  *     first-wins policy as [[TextOps.minhashPairs]] consumers);
  *  4. append the batch's bands to the index — an append-only snapshot
  *     commit, so the index grows by manifest entries, never rewrites.
  *
  * Cost per batch scales with the BATCH (the index side of the join
  * ships band keys, never text; at cluster scale the index table would
  * be bucketed by `bh` to make its side of the join shuffle-free).
  * Dropped docs' bands are indexed too: the contract is "a doc is a
  * dup iff it shares a band with ANY earlier doc", which makes
  * incremental processing EXACTLY equal to the one-shot greedy over
  * the concatenated corpus — the invariant IncrementalDedupSpec pins
  * batch-by-batch. */
object IncrementalDedup {

  /** Band-index FORMAT version, stamped into every index commit's
    * manifest and checked before every index join. The index persists
    * [[TextOps.bandSignatures]] output across processes, so a change to
    * the hash family or key encoding strands committed rows in the old
    * format — and the join degrades SILENTLY (r13 folded the band key
    * from a 16-char md5-hex string to a 60-bit long; a pre-fold index
    * would implicit-cast string `bh` against long, match nothing, and
    * wave every dup through). Mirrors the `graft-dedup-cc-v3` layout
    * discipline ([[GraphOps.clusterLayoutDir]]): bump this IN LOCKSTEP
    * with that version whenever bandSignatures changes shape. */
  private[graft] val IndexFormat = 3
  private val FormatMeta = s"#band_index_format=$IndexFormat"

  /** Fail fast if `index`, `indexTable`'s newest manifest, was stamped by
    * a different [[IndexFormat]] (or none — an index older than the
    * stamp discipline is equally unreadable: its rows are in an
    * unknown band format). */
  private def requireFormat(indexTable: String, index: SnapshotTable.Manifest): Unit = {
    val stamped = index.meta.collectFirst { case s if s.startsWith("#band_index_format=") =>
      s.stripPrefix("#band_index_format=") }
    require(stamped.contains(IndexFormat.toString),
      s"band index $indexTable v${index.version} has format " +
        s"${stamped.getOrElse("<unstamped>")}, this build writes v$IndexFormat " +
        "(TextOps.bandSignatures changed shape) — rebuild the index; " +
        "joining across formats silently matches nothing")
  }

  /** Process one batch of `(doc_id, text, …)` rows: returns the rows
    * that survive dedup against both the index and the batch itself,
    * and commits the batch's band signatures to `indexTable`. Batches
    * must arrive in ascending doc_id order for first-wins to be
    * meaningful (arrival order IS the id order in an ingest pipeline). */
  def processBatch(spark: SparkSession, indexTable: String,
      batch: DataFrame): DataFrame = {
    // format guard FIRST: localCheckpoint is eager, so computing the
    // batch's signatures before the check would pay the full minhash
    // cost only to be rejected on a legacy index (r14 advisor)
    val index = SnapshotTable.current(indexTable)
    if (index.version > 0) requireFormat(indexTable, index)
    val bands = TextOps.bandSignatures(batch).localCheckpoint()
    val seenBefore =
      if (index.version > 0)
        bands.join(index.read(spark),
          Seq("band", "bh"), "left_semi")
          .select("doc_id")
      else bands.select("doc_id").limit(0)
    val dupWithinBatch = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("doc_id"))
    val dropped = seenBefore.unionByName(dupWithinBatch).distinct()
    val kept = batch.join(dropped, Seq("doc_id"), "left_anti")
    SnapshotTable.commitWithMeta(spark, indexTable, bands, append = true,
      meta = Seq(FormatMeta), index)
    kept
  }

  /** Maintenance: compact the band index's accreted per-batch files.
    * The index is append-only — N batches leave N commits' worth of
    * small files, and every batch's index join lists all of them
    * (the entries of one [[SnapshotTable.Manifest]]), so per-batch cost picks
    * up an O(batches) file-listing term on top of the O(index rows) join.
    * Planned compaction ([[SnapshotTable.compactPlanned]], keyed on
    * `doc_id` so file ranges stay contiguous) resets that accretion.
    * The [[IndexFormat]] stamp survives it because every snapshot
    * commit carries its base's metadata lines; this wrapper re-checks
    * the format first, so compacting an alien-format index fails as
    * loudly as joining it. */
  def compactIndex(spark: SparkSession, indexTable: String,
      groups: Int = 8): Long = {
    val index = SnapshotTable.current(indexTable)
    require(index.version > 0, s"no committed band index at $indexTable")
    requireFormat(indexTable, index)
    SnapshotTable.compactPlannedFrom(spark, indexTable, index, "doc_id", groups)
  }

  /** One-shot greedy baseline over a full corpus: drop every doc that
    * band-collides with a smaller doc_id. The semantics incremental
    * processing must reproduce batch-for-batch. */
  def dedupFull(docs: DataFrame): DataFrame = {
    val bands = TextOps.bandSignatures(docs)
    val losers = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }
}
