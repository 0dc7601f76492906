package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Embedding similarity-search operators over `embeddings` (SURVEY.md §2
  * Part B row B45 + north-star ANN requirement).
  *
  * All vector math uses codegen'd higher-order functions (`zip_with` +
  * `aggregate` in double precision) — no UDF, no driver-side loop.
  *
  * Scale design: brute-force top-k broadcasts the (small) query batch and
  * scans the corpus once — the right plan up to ~10⁹ vectors/query-batch.
  * The IVF variant is the 100 TB path: corpus pre-partitioned by nearest
  * centroid; a query probes only its nearest `nprobe` cells, cutting the
  * scan by ncells/nprobe. (A production build would store the cell id as
  * a partition column for partition pruning.)
  */
object VectorOps {

  /** dot(a, b) in double precision, left-to-right accumulation. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Built-in-composed cosine (kept as the reference implementation the
    * native expression is tested bit-identical against). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity — the fused native Catalyst expression
    * ([[graft.functions.NativeExpressions.CosineSim]]): one codegen'd
    * loop, no intermediate arrays, bit-identical to [[cosineHof]]
    * (NativeExpressionsSpec proves it), so the DuckDB oracles still
    * hash-match. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.cosine_sim(a, b)

  /** B45 `llm_sim_search`: brute-force cosine top-k (k=5) for a fixed
    * query batch (vec_id < 3) against the whole corpus. Ranks are decided
    * on rounded similarity + id so the DuckDB oracle agrees bit-for-bit. */
  def simSearch(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val scored = emb.filter(col("vec_id") >= 3).as("c")
      .join(broadcast(queries))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q"), col("embedding")), 6).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  private def centroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))

  /** Assign every vector to its nearest of 8 deterministic centroids —
    * entirely MAP-SIDE: the centroid set collapses to a single
    * broadcast-joined array row and the argmin runs as one expression
    * per vector (`array_sort` on (dist, cell) structs over 8 elements).
    * Zero shuffle of the corpus: at 10⁹ vectors the earlier
    * join-then-groupBy form re-shuffled every embedding just to pick a
    * minimum the map task already knew. */
  def assignCells(s: SparkSession, d: String): DataFrame = {
    val centsArr = centroids(s, d)
      .agg(collect_list(struct(col("cell"), col("cvec"))).as("cents"))
    Tables.embeddings(s, d).join(broadcast(centsArr))
      .select(col("vec_id"), col("label"), col("embedding"),
        // coalesce(…, -1) never fires (cents is non-empty) but makes
        // the argmin NON-NULLABLE: an equi-join on `cell` infers
        // IsNotNull(cell), and predicate pushdown substitutes the whole
        // 8-centroid argmin into that inferred filter — a 2nd full
        // evaluation per corpus row. Non-nullable folds the IsNotNull
        // to true before it can be pushed (ProjectionLintSpec polices
        // the class).
        coalesce(element_at(
          array_sort(transform(col("cents"), c => struct(
            round(lit(2.0) - lit(2.0) * cosine(col("embedding"), c.getField("cvec")), 9)
              .as("dist"),
            c.getField("cell").as("cell")))), 1)
          .getField("cell"), lit(-1L)).as("cell"))
  }

  /** Materialize the IVF layout with `cell` as a PARTITION COLUMN: a
    * probe of nprobe cells then prunes every other cell directory at
    * file-listing time (ScaleSpec asserts selectedPartitions shrinks) —
    * the corpus-side I/O drops by ncells/nprobe before a single row is
    * read. This is the production form of [[annIvf]]'s in-query
    * assignment. */
  def writeIvfLayout(s: SparkSession, d: String, out: String): Unit =
    // co-locate each cell before partitionBy, or every shuffle task
    // writes a sliver into every cell dir (task×cell file explosion —
    // the r18 build probe measured 19,626 files for 65 MB on the
    // trained variant before the same fix)
    assignCells(s, d).repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(out)

  /** Probe-side read of the materialized IVF layout: only the listed
    * cells' directories are scanned (partition pruning, no data filter). */
  def readIvfCells(s: SparkSession, out: String, cells: Seq[Int]): DataFrame =
    s.read.parquet(out).filter(col("cell").isin(cells: _*))

  /** IVF-style ANN: corpus bucketed by nearest of 8 deterministic
    * centroids (vec_id < 8); each query probes its nearest 2 cells only.
    * Hash-checked ([[ivfSeededOracle]] replays the rounded-distance
    * assignment + probe + in-cell rank); scalatest additionally checks
    * recall against brute force. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = centroids(s, d)
    val assigned = assignCells(s, d)
    // queries probe their 2 nearest cells
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("qdist").asc, col("cell"))
    // checkpoint = CONSTRAINT BARRIER, not a perf cache (nqueries×2
    // rows): probes' `cell` inherits the `< 8` constraint from the
    // centroid filter, and InferFiltersFromConstraints mirrors it onto
    // the corpus side of the cell equi-join — where pushdown
    // substitutes the full argmin expression, re-evaluating it per
    // row. Severing lineage drops the constraint; the filter was
    // vacuous anyway (every assigned cell is 0..7). Production IVF
    // pins the probe list driver-side the same way.
    val probes = queries.join(broadcast(cents))
      .select(col("query_id"), col("q"), col("cell"),
        round(lit(2.0) - lit(2.0) * cosine(col("q"), col("cvec")), 9).as("qdist"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 2)
      .select("query_id", "q", "cell")
      .localCheckpoint()
    // search only within probed cells
    val wTop = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    probes.join(assigned, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q"), col("embedding")), 6).as("sim"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** Location of the TRAINED IVF layout for corpus `d` — derived data,
    * cached under the build tree (never a shared world-writable tmpdir,
    * which a predictable path would expose to pre-creation/symlinks).
    * The key includes a CONTENT FINGERPRINT of the corpus files
    * (path, length, mtime — the same freshness signal build tools use),
    * so regenerating testdata at the same path invalidates the cache
    * instead of silently probing an index trained on the old data. The
    * layout itself is deterministic (decimal-exact centroid updates,
    * rounded distances), so any process may rebuild it and land on
    * identical bytes. */
  def trainedLayoutDir(d: String): String =
    corpusLayoutDir(d, "graft-ivf-trained-v2")

  /** Publish dir of the trained-IVF layout for any `k`, WITHOUT
    * building — single source of truth for [[ensureTrainedLayout]]'s
    * dir selection, and what the cold-build probe
    * ([[graft.Probe]]'s `build` mode) deletes to time a from-scratch fit.
    * k=8 keeps the historical unversioned name (the ANN oracles replay
    * that k verbatim); flat (kf=1) and two-level fits are distinct
    * model artifacts and carry distinct keys. */
  private[graft] def trainedLayoutDirFor(d: String, k: Int): String =
    if (k == 8) trainedLayoutDir(d)
    else if (fineCellCount(k) == 1) corpusLayoutDir(d, s"graft-ivf-trained-v2-k$k")
    // v4: fine seeding moved to the md5-ranked spread-aware pick —
    // layouts built with the v3 lowest-id seeds are a different model
    else corpusLayoutDir(d, s"graft-ivf-trained-v4-2l-k$k")

  /** Publish dir of the PQ layout, without building (cold-build probe). */
  private[graft] def pqLayoutDir(d: String): String =
    corpusLayoutDir(d, "graft-pq-v1")

  /** Derived-layout cache dir for corpus `d` under `prefix`, keyed by a
    * content fingerprint (path, length, mtime) of the source table's
    * files (default the embeddings; GraphOps keys its dedup-cluster
    * layout on the documents table). */
  private[operators] def corpusLayoutDir(d: String, prefix: String,
      table: String = "embeddings.parquet"): String = {
    val corpus = new java.io.File(d, table)
    val sig = Option(corpus.listFiles()).getOrElse(Array(corpus))
      .filter(_.isFile).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("\n")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val key = new java.io.File(d).getName
    // anchor to the build root (sbt sets -Dgraft.build.root for every
    // forked JVM) so invoking bench/tests from another working directory
    // reuses the same trained layout instead of silently retraining —
    // cwd is only the fallback when run outside sbt
    val root = sys.props.getOrElse("graft.build.root", System.getProperty("user.dir"))
    new java.io.File(new java.io.File(root, "target"),
      s"$prefix-$key-$fp").toString
  }

  /** Atomic-rename publish of a derived layout build (shared by the
    * trained-IVF and PQ builds): build under a UUID temp sibling, mark
    * `_BUILT`, rename into place; a lost race discards the duplicate. */
  private[operators] def publishLayout(dir: java.io.File, tmp: java.io.File): Unit = {
    new java.io.File(tmp, "_BUILT").createNewFile()
    if (!tmp.renameTo(dir)) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(tmp)
    }
  }

  /** Train-ONCE corpus build for [[annIvfTrained]]: fit k-means (3 Lloyd
    * rounds), materialize the assignment with `cell` as a partition
    * column ([[writeIvfLayout]] shape) plus the trained centroid table,
    * then publish atomically via directory rename. Idempotent — every
    * later query is a pure probe. This is the amortization production
    * systems do: training is part of the corpus build (like ingest), not
    * of any single query's plan.
    *
    * MEASURED COLD-BUILD COST (r18, probe_r18_build_sf10.json and the
    * clean-tree probe_r18b_build_sf100.json re-take;
    * `graft.Probe <sfDir> build` deletes the published dir and times this
    * method from scratch): fixed-k (k=8) 15.1 s sf10 → 77.0 s sf100
    * (5.1× on 10× data — sublinear, the fit is 3 bounded Lloyd rounds
    * plus one corpus write); corpus-scaled k ([[semDedupK]]: k=781 →
    * 7812) 52.2 s → 1000.9 s, 19.2× on 10× data — under its own
    * O(n·√k) = n^1.5 floor prediction of 31.6× because the Lloyd
    * rounds run on a bounded SAMPLE and only the final assign+write
    * pays n·√k. The corpus write REPARTITIONS BY `cell` first: without
    * co-location every shuffle task writes a sliver into every cell
    * dir, so files = tasks × cells — with both ∝ corpus that is
    * QUADRATIC file count (measured 19,626 files for 65 MB at sf10
    * before the fix, ~3 KB/file; on an object store that is one PUT
    * per file). Co-located: files ≈ cells, and the sf10 build itself
    * dropped 230.9 → 52.2 s (−77%). */
  def ensureTrainedLayout(s: SparkSession, d: String, k: Int = 8): String = {
    // k=8 keeps the historical dir name (the ANN oracles replay that k
    // verbatim); other cell counts — semDedup's corpus-scaled k — get
    // their own keyed artifact beside it. Past [[TwoLevelFloor]] the
    // fit is HIERARCHICAL (v3-2l artifact): flat Lloyd at k ∝ n made
    // the build O(n·k) per round — 18× time on 10× data at sf10
    val kf = fineCellCount(k)
    val dir = new java.io.File(trainedLayoutDirFor(d, k))
    if (!new java.io.File(dir, "_BUILT").exists()) {
      val tmp = new java.io.File(dir.getParentFile,
        dir.getName + ".build-" + java.util.UUID.randomUUID())
      if (kf == 1) {
        val (assigned, _) = kmeans(s, d, k = k, iters = 3, trackInertia = false)
        val cents = kmeansUpdate(assigned)
        // repartition by cell BEFORE partitionBy (r18): without it every
        // shuffle task holds rows of every cell and writes a sliver into
        // each cell dir — task-count × cell-count files (measured 19,626
        // files for 65 MB at sf10, probe_r18_build_sf10.json). Hashing
        // cells to tasks first makes each cell ONE task's whole rows →
        // file count ≈ cell count, and the probe-side pruned read opens
        // one file per probed cell instead of dozens.
        assigned.select(col("vec_id"), col("embedding"), col("cell"))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(new java.io.File(tmp, "corpus").toString)
        cents.write.mode("overwrite")
          .parquet(new java.io.File(tmp, "centroids").toString)
        assigned.unpersist(blocking = false) // drop the training checkpoint
      } else {
        // two-level IVF fit, O(n·√k) per pass: (1) 3-round coarse Lloyd
        // at kc = ⌈√k⌉ with one further update — the same c3-probes-a2
        // contract as the flat build; (2) assign the corpus to the c3
        // coarse cells; (3) 3-round FINE Lloyd within each coarse cell
        // at kf centroids (md5-rank spread-aware seeds, [[fineSeeds]]),
        // where
        // each round's assign joins on ccell so a vector only meets its
        // own cell's candidates. Composite cell = ccell·kf + fcell.
        val kc = coarseCellCount(k)
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val (coarseAssigned, _) = kmeans(s, d, k = kc, iters = 3, trackInertia = false)
        val coarseCents = kmeansUpdate(coarseAssigned).localCheckpoint()
        coarseAssigned.unpersist(blocking = false)
        val ac = kmeansAssign(emb, coarseCents)
          .select(col("vec_id"), col("embedding"), col("cell").as("ccell"))
          .localCheckpoint()
        var fineCents = fineSeeds(ac, kf).localCheckpoint()
        for (_ <- 0 until 3) {
          val prev = fineCents
          fineCents = fineUpdate(fineAssign(ac, fineCents)).localCheckpoint()
          prev.unpersist(blocking = false)
        }
        // same cell-co-location as the flat path (r18): the small-files
        // defect is quadratic here — cells AND tasks both scale with the
        // corpus, so sf100 would write ~millions of KB-sized files
        fineAssign(ac, fineCents)
          .select(col("vec_id"), col("embedding"),
            (col("ccell") * kf + col("fcell")).cast("int").as("cell"))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(new java.io.File(tmp, "corpus").toString)
        coarseCents.write.mode("overwrite")
          .parquet(new java.io.File(tmp, "centroids").toString)
        fineCents.write.mode("overwrite")
          .parquet(new java.io.File(tmp, "fine_centroids").toString)
        ac.unpersist(blocking = false)
        coarseCents.unpersist(blocking = false)
        fineCents.unpersist(blocking = false)
      }
      publishLayout(dir, tmp)
    }
    dir.toString
  }

  /** [[annIvf]] with TRAINED centroids — a PURE PROBE of the layout
    * [[ensureTrainedLayout]] materialized: the Lloyd fit replaces the
    * fixed vec_id<8 seeds (cells follow the data distribution), and the
    * query itself never trains. The probed cell ids become literal
    * partition filters, so every other cell directory is pruned at
    * file-listing time (ScaleSpec asserts selectedPartitions). The tiny
    * probe-cell collect is model-state scalar work on the driver, the
    * same class as AQE's runtime decisions — the corpus is only ever
    * touched by the pruned scan. Hash-checked ([[ivfTrainedOracle]]
    * replays the 3-round Lloyd fit, the c3 probe centroids AND the a2
    * corpus assignment); VectorOpsSpec additionally holds it to the
    * same recall bar as the seeded form. */
  def annIvfTrained(s: SparkSession, d: String): DataFrame = {
    val layout = ensureTrainedLayout(s, d)
    val cents = s.read.parquet(s"$layout/centroids")
    val queries = Tables.embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("qdist").asc, col("cell"))
    val probes = queries.join(broadcast(cents))
      .select(col("query_id"), col("q"), col("cell"),
        round(l2sq(col("q"), col("cvec")), 9).as("qdist"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 2)
      .select("query_id", "q", "cell")
    val cells = probes.select("cell").distinct()
      .collect().map(_.get(0).toString.toInt).toSeq.sorted
    val corpus = s.read.parquet(s"$layout/corpus")
      .filter(col("cell").isin(cells: _*))
    val wTop = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    probes.join(corpus, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q"), col("embedding")), 6).as("sim"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-duplicate pairs within a label cluster:
    * the embedding analog of MinHash dedup. Bounded to vec_id < 100. */
  def embedNearDup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 100)
    emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        col("a.label").as("label"),
        round(cosine(col("a.embedding"), col("b.embedding")), 6).as("sim"))
      .filter(col("sim") > 0.7)
      .orderBy("id_a", "id_b")
  }

  /** Pre-normalized corpus search — the repeated-query optimization: unit-
    * normalize every vector ONCE (a materialized corpus transform at
    * scale), after which top-k cosine is a pure dot product per query.
    * Hash-checked against a DuckDB replay of the same normalize-then-
    * dot (not bit-identical to the fused cosine, but exactly
    * reproducible on its own terms); VectorOpsSpec asserts rank
    * agreement with brute force. */
  def simSearchPrenorm(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.spread(s, d, "embeddings")
    // materialize the norm once per row AS A STORED ATTRIBUTE — the
    // two-select split alone is undone by projection collapse, which
    // inlines the nrm alias back into the lambda (the full reduction
    // re-runs per ELEMENT, 64× the work, and the collapsed projection
    // drops out of codegen — the semDedupPairs lesson). The checkpoint
    // is also the honest production shape: the unit-normalized corpus
    // is a materialized transform, built once for all queries.
    val unit = emb
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .localCheckpoint()
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("u"))
    val queries = unit.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("u").as("q"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    unit.filter(col("vec_id") >= 3)
      .join(broadcast(queries))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        // fused native dot (one codegen loop) — bit-identical to the HOF
        // composition (NativeExpressionsSpec), so ranks are unchanged
        round(graft.functions.NativeExpressions.dot_product(col("q"), col("u")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** The md5-derived ±1 hyperplane sign for sketch bit `j`, component
    * `i` — [[rpSign]]'s Achlioptas convention under a distinct "hp"
    * namespace so sketch bits never correlate with [[randProject]]'s
    * projection dimensions. Like the RP matrix, the hyperplane family
    * exists identically on every engine/executor from nothing. */
  def hpSign(i: Int, j: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hp_${i}_$j".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xf) < 8) 1 else -1
  }

  /** Random-hyperplane (sign) sketch — cosine LSH. Bit j of the sketch
    * is sign(dot(v, h_j)) for a deterministic Rademacher hyperplane
    * family h_j[i] = ±1 from [[hpSign]]'s md5 parity: no stored
    * hyperplane matrix — the signs are baked into the plan as literal
    * arrays (indexed by the exploded component position), so any
    * engine materializes the identical family, and the DuckDB oracle
    * replays it from the same Scala-generated literals (this moved
    * `llm_embed_lsh` from rows-only onto the hash-checked board; the
    * xxhash64 family it replaces wasn't DuckDB-computable). Votes sum
    * as exact DECIMAL — partial-aggregation-order-free, the
    * [[kmeansUpdate]] discipline — so the sign decision is
    * cross-engine-deterministic even at vote ≈ 0. Hyperplanes cover
    * components 0..63 (the corpus embedding dim). Shape: posexplode
    * the vector once, then nBits trivial signed sums in ONE hash
    * aggregate — map-side partial combine means the shuffle carries
    * (vec_id, nBits decimals), the same explode+simple-aggs lesson as
    * MinHash/SimHash. Collision probability per bit is 1 − θ/π
    * (Charikar, STOC'02), so sketch hamming estimates angle. */
  def hyperplaneSketch(df: DataFrame, nBits: Int = 16): DataFrame = {
    val ex = df.select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "i", "x")
    val votes = (0 until nBits).map { j =>
      val signs = array((0 until 64).map(i => lit(hpSign(i, j))): _*)
      sum(col("x").cast("double").cast("decimal(28,9)") *
        element_at(signs, col("i") + 1)).as(s"d$j")
    }
    ex.groupBy("vec_id").agg(votes.head, votes.tail: _*)
      .select(col("vec_id"),
        concat((0 until nBits).map(j =>
          when(col(s"d$j") > 0, "1").otherwise("0")): _*).as("sketch"))
  }

  /** Embedding near-dup via cosine-LSH banding — the 100 TB path that
    * replaces [[embedNearDup]]'s bounded all-pairs join: 16-bit sketch,
    * 4 bands × 4 bits; any pair within sketch-hamming 3 agrees exactly
    * on ≥ 1 band (pigeonhole), so a band equi-join finds every such pair
    * without the O(n²) product, then exact cosine reranks inside buckets
    * only. The shuffle carries (band, 4-bit key, 16-char sketch) — never
    * embeddings; candidate rerank re-joins the corpus by id.
    * Hash-oracled since the md5 hyperplane switch (the oracle rebuilds
    * sketches from the same literal sign matrix and replays the
    * banding); VectorOpsSpec additionally proves band recall == the
    * exhaustive sketch scan and the sign-sketch's scale/negation
    * invariants. */
  def embedLshPairs(s: SparkSession, d: String): DataFrame = {
    val bands = 4
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    val sk = hyperplaneSketch(emb)
    val slices = (0 until bands).map(i =>
      struct(lit(i).as("band"), substring(col("sketch"), i * 4 + 1, 4).as("key")))
    val banded = sk
      .select(col("vec_id"), col("sketch"), explode(array(slices: _*)).as("b"))
      .select(col("vec_id"), col("sketch"),
        col("b.band").as("band"), col("b.key").as("key"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        graft.functions.NativeExpressions
          .hamming_dist(col("a.sketch"), col("b.sketch")).as("dist"))
      .distinct() // a pair can agree on several bands
      .filter(col("dist") <= 3)
    cands
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
      .select(col("id_a"), col("id_b"), col("dist"),
        round(cosine(col("ea"), col("eb")), 6).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Per-label centroid, decimal-exact and hash-checked: component sums
    * accumulate as DECIMAL(28,9) per (label, dim) — partition-order-
    * independent, unlike a double running mean — then the norm folds the
    * deterministic per-dim means in fixed dim order (left-to-right HOF,
    * mirrored by DuckDB list_reduce). The typed
    * [[graft.functions.VectorAggregators.Centroid]] aggregator (B49)
    * computes the same means with mergeable map-side buffers and stays
    * bit-compatible up to merge order — VectorOpsSpec proves the two
    * paths agree to 1e-9 on every component. */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "i", "x")
      .groupBy("label", "i")
      .agg(sum(col("x").cast("double").cast("decimal(28,9)")).as("sx"),
        count(lit(1)).as("n"))
      .groupBy("label")
      .agg(collect_list(struct(col("i"),
        (col("sx").cast("double") / col("n")).as("m"))).as("dims"))
      .select(col("label"),
        round(sqrt(aggregate(
          transform(array_sort(col("dims")), s => s.getField("m")),
          lit(0.0), (a, m) => a + m * m)), 4).as("centroid_norm"),
        size(col("dims")).as("dim"))
      .orderBy("label")

  /** Squared L2 distance in double precision (codegen'd HOFs). */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** Target expected cell population for SemDeDup's clustering: cells
    * around this size keep the in-cell pair scan (|cell|² dots) cheap
    * while leaving enough density for near-dup witnesses. One constant
    * shared with the DuckDB oracles' scalar-subquery replica — the same
    * single-source-of-truth contract as `MmrParams`. */
  private[operators] val SemDedupCellTarget = 256L

  /** SemDeDup cell count, grown with the corpus (k = max(8, n/256)) so
    * the expected cell size — and with it the quadratic in-cell pair
    * term — stays BOUNDED at any corpus scale instead of densifying
    * linearly under a fixed k (the one plan in the repo that failed the
    * 100× question until round 10). The floor keeps small-SF cell
    * structure on the historical 8 seeds, so the oracle gate's results
    * are stable at sf0.01/sf0.1 while sf1+ gets the scale-safe k. The
    * count() is metadata-cheap next to the pair scan it bounds. */
  def semDedupK(s: SparkSession, d: String): Int =
    math.max(8L, Tables.embeddings(s, d).count() / SemDedupCellTarget).toInt

  /** Two-level (coarse→fine) cell structure for the corpus-scaled k.
    * With k ∝ n (the [[semDedupK]] contract that bounds the in-cell
    * pair scan), a FLAT argmin over k centroids prices every assign
    * pass at O(n·k) = O(n²/256) — the r10 sf10 checkpoint measured
    * llm_semdedup at 18× time on 10× data, the suite's one standing
    * scale-killer. The standard IVF training shape fixes the exponent:
    * kc = ⌈√k⌉ coarse cells, kf = ⌈k/kc⌉ fine cells WITHIN each coarse
    * cell — a vector meets kc coarse candidates, then only its own
    * cell's kf fine candidates, so assign is O(n·(kc+kf)) = O(n·√k)
    * and total cells kc·kf ≈ k keep the expected population at
    * [[SemDedupCellTarget]]. At or below [[TwoLevelFloor]] the
    * structure degenerates to kc = k, kf = 1 — EXACTLY the flat assign
    * — so the oracle gate's small-SF results are byte-stable, and the
    * DuckDB replay is ONE parameterized SQL shape at every SF (the
    * fine stage with kf = 1 is an identity). */
  private[operators] val TwoLevelFloor = 32

  def coarseCellCount(k: Int): Int =
    if (k <= TwoLevelFloor) k else math.ceil(math.sqrt(k.toDouble)).toInt

  def fineCellCount(k: Int): Int = {
    val kc = coarseCellCount(k)
    (k + kc - 1) / kc
  }

  /** The [[semDedupK]] / [[coarseCellCount]] / [[fineCellCount]]
    * formulas as one DuckDB CTE (k, kc, kf) — inlined into the seeded
    * and trained oracles so both engines derive the two-level geometry
    * from the data. Integer ceil-division mirrors the Scala exactly;
    * CEIL(SQRT(k)) is exact for any k this corpus can reach (IEEE
    * sqrt of an exactly-representable integer). */
  private val TwoLevelParamsCte =
    s"""kp AS (SELECT k, kc, (k + kc - 1) // kc AS kf FROM (
       |  SELECT k, CASE WHEN k <= $TwoLevelFloor THEN k
       |            ELSE CAST(CEIL(SQRT(k)) AS BIGINT) END AS kc
       |  FROM (SELECT GREATEST(8, COUNT(*) // 256) AS k FROM embeddings) t1) t2)""".stripMargin

  /** kf md5-ranked members of each coarse cell, as
    * (ccell, fcell, cvec) — the deterministic fine seeds. Ranking by
    * md5(vec_id) rather than vec_id itself is a SPREAD guarantee: the
    * first kf of a pseudo-random permutation is a uniform sample of the
    * cell, whereas the kf LOWEST ids (the r11 form) picked id-adjacent —
    * hence embedding-correlated — vectors, whose near-coincident seeds
    * left one fine cell holding most of the mass and cost ~1.8× pair-scan
    * work at iteration 0. The ranking shuffle carries only
    * (ccell, vec_id) 16-byte rows; the k selected ids then join BACK to
    * the assigned corpus to pick up their embeddings, so the corpus
    * itself never shuffles for seed selection (k = n/256 rows broadcast —
    * model-state scale). */
  private def fineSeeds(coarse: DataFrame, kf: Int): DataFrame = {
    val w = Window.partitionBy("ccell")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val ids = coarse.select("ccell", "vec_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= kf)
      .select(col("vec_id"), (col("rn") - 1).cast("long").as("fcell"))
    coarse.join(broadcast(ids), "vec_id")
      .select(col("ccell"), col("fcell"), col("embedding").as("cvec"))
  }

  /** Grouped Lloyd assign: argmin over only the fine centroids of the
    * vector's own coarse cell. The fine-centroid table folds to one
    * kf-element array per coarse cell and joins on ccell (kc rows —
    * auto-broadcast here; a keyed join against the cell-partitioned
    * layout at cluster scale), so each vector evaluates kf distances
    * instead of k. Tie-break (dist, fcell) mirrors [[kmeansAssign]]. */
  private def fineAssign(coarse: DataFrame, fineCents: DataFrame): DataFrame = {
    val byCell = fineCents.groupBy("ccell")
      .agg(collect_list(struct(col("fcell"), col("cvec"))).as("cents"))
    coarse.join(byCell, "ccell")
      .select(col("vec_id"), col("embedding"), col("ccell"),
        element_at(array_sort(transform(col("cents"), c => struct(
          round(l2sq(col("embedding"), c.getField("cvec")), 9).as("dist"),
          c.getField("fcell").as("fcell")))), 1).getField("fcell").as("fcell"))
  }

  /** Per-(ccell, fcell) mean vector — [[kmeansUpdate]] with the coarse
    * cell as an extra group key; same decimal-exact discipline. */
  private def fineUpdate(fa: DataFrame): DataFrame =
    fa.select(col("ccell"), col("fcell"), posexplode(col("embedding")))
      .toDF("ccell", "fcell", "i", "x")
      .groupBy("ccell", "fcell", "i")
      .agg(sum(col("x").cast("double").cast("decimal(28,9)")).as("sx"),
        count(lit(1)).as("n"))
      .groupBy("ccell", "fcell")
      .agg(collect_list(struct(col("i"),
        (col("sx").cast("double") / col("n")).as("m"))).as("dims"))
      .select(col("ccell"), col("fcell"),
        transform(array_sort(col("dims")), v => v.getField("m")).as("cvec"))

  /** Seeded two-level assignment: coarse argmin over the kc lowest
    * vec_id seeds, then fine argmin over the kf lowest-id members of
    * the vector's coarse cell. Composite cell id = ccell·kf + fcell
    * (injective: fcell < kf). kf = 1 (k ≤ [[TwoLevelFloor]]) IS the
    * flat seeded assign — same rows, same cell ids. */
  private[graft] def seededTwoLevelCells(emb: DataFrame, k: Int): DataFrame = {
    val kc = coarseCellCount(k)
    val kf = fineCellCount(k)
    val cents = emb.filter(col("vec_id") < kc)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))
    val coarse = kmeansAssign(emb, cents)
      .select(col("vec_id"), col("embedding"), col("cell").as("ccell"))
    if (kf == 1) coarse.select(col("vec_id"), col("embedding"),
      col("ccell").as("cell"))
    else {
      // the coarse assignment feeds BOTH seed selection and the fine
      // assign — materialize once or the plan grows two identical
      // O(n·kc) subtrees
      val ck = coarse.localCheckpoint()
      fineAssign(ck, fineSeeds(ck, kf))
        .select(col("vec_id"), col("embedding"),
          (col("ccell") * kf + col("fcell")).cast("long").as("cell"))
    }
  }

  /** One Lloyd assignment pass: nearest centroid per vector. Same
    * map-side argmin shape as [[assignCells]] — the centroid table
    * collapses to ONE broadcast array row, the corpus never shuffles.
    * dist rounds to 9 decimals so inertia can sum as exact DECIMAL. */
  def kmeansAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val centsArr = cents.agg(collect_list(struct(col("cell"), col("cvec"))).as("cents"))
    emb.join(broadcast(centsArr))
      .select(col("vec_id"), col("embedding"),
        element_at(array_sort(transform(col("cents"), c => struct(
          round(l2sq(col("embedding"), c.getField("cvec")), 9).as("dist"),
          c.getField("cell").as("cell")))), 1).as("best"))
      .select(col("vec_id"), col("embedding"),
        col("best.cell").as("cell"), col("best.dist").as("dist"))
  }

  /** One Lloyd update pass: per-cell mean vector. posexplode to
    * (cell, dim, x) then ONE hash aggregate per (cell, dim) — map-side
    * partial sums mean the shuffle carries k×dim partials per task, not
    * vectors — and the k-row result reassembles each centroid by
    * sorting its (dim, mean) structs. Component sums accumulate as
    * exact DECIMAL (partition-order-independent), so the whole Lloyd
    * chain is deterministic: the trained layout is reproducible and the
    * summary query is DuckDB-oracle-checkable. */
  def kmeansUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("embedding")))
      .toDF("cell", "i", "x")
      .groupBy("cell", "i")
      .agg(sum(col("x").cast("double").cast("decimal(28,9)")).as("sx"),
        count(lit(1)).as("n"))
      .groupBy("cell")
      .agg(collect_list(struct(col("i"),
        (col("sx").cast("double") / col("n")).as("m"))).as("dims"))
      .select(col("cell"),
        transform(array_sort(col("dims")), s => s.getField("m")).as("cvec"))

  /** K-means (Lloyd) centroid training — how production IVF centroids
    * are actually fit (the fixed vec_id<8 seeds in [[annIvf]] are the
    * iteration-0 state). K centroids live on the driver between rounds
    * (k×dim doubles — model state, the same contract as MLlib KMeans);
    * the corpus is touched once per round, map-side only. Returns the
    * final assignment and the per-round inertia trace (Lloyd guarantees
    * it non-increasing — VectorOpsSpec asserts it). */
  def kmeans(s: SparkSession, d: String, k: Int = 8, iters: Int = 5,
      trackInertia: Boolean = true): (DataFrame, Seq[Double]) = {
    // the corpus is deliberately RE-SCANNED each round, not checkpointed
    // (r20 measurement): caching (vec_id, embedding) for the 5 assign
    // rounds read 11.74 → 13.79 s at sf10 (and flat at sf0.1) — a
    // deserialized array-column cache costs more to build and hold than
    // 4 extra pruned columnar parquet scans. The canonical iterative-ML
    // cache only pays when the input pipeline is expensive; a bare scan
    // is not.
    val emb = Tables.spread(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"),
        transform(col("embedding"), x => x.cast("double")).as("cvec"))
    val inertias = Seq.newBuilder[Double]
    var assigned: DataFrame = null
    for (_ <- 0 until iters) {
      val prev = assigned
      // PER-ROUND EAGER CHECKPOINT, measured twice this round (r20): a
      // checkpoint-FREE lazy chain (betting on the update shuffles as
      // materialization barriers) read 2.4 → 4.1 s isolated at sf0.1 —
      // the nested centroid-broadcast builds re-derive the assign map
      // work per consumer and spill — and the emb-cache variant lost at
      // sf10 (see above). This shape is the measured optimum of three.
      assigned = kmeansAssign(emb, cents).localCheckpoint()
      // the new assignment is materialized (eager checkpoint), so the
      // previous round's blocks — which it no longer depends on — can go
      if (prev != null) prev.unpersist(blocking = false)
      // the inertia trace exists for convergence monitoring/tests; a
      // production fit skips the extra per-round aggregate job
      if (trackInertia)
        inertias += assigned.agg(sum(col("dist").cast("decimal(28,9)")))
          .head().getDecimal(0).doubleValue()
      cents = kmeansUpdate(assigned)
    }
    (assigned, inertias.result())
  }

  /** Per-cell summary of the trained clustering. Hash-checkable against
    * DuckDB since [[kmeansUpdate]] went decimal-exact: assignments
    * depend only on rounded distances over deterministic centroids, and
    * the per-cell distance total is an exact DECIMAL sum of 9-decimal
    * values (emitted as sum + count, never divided — midpoint rounding
    * of quotients is the one cross-engine trap, see `agg_stats`). The
    * oracle replays the full 5-round Lloyd fit as unrolled CTEs. */
  def kmeansSummary(s: SparkSession, d: String): DataFrame =
    kmeans(s, d, trackInertia = false)._1
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        // inertia re-rounds each 9-decimal dist to scale 4 (an EXACT
        // decimal op in both engines) before the sum: round(double, 9)
        // itself can land one ulp apart across engines when a distance's
        // binary expansion sits at a half-boundary — the sf1 sweep on
        // the remapped corpus caught exactly one such row (1e-9 delta);
        // at scale 4 a surviving divergence would need that 1e-9 gap to
        // straddle a 5e-5 boundary (~1e-9 probability per corpus)
        sum(round(col("dist").cast("decimal(28,9)"), 4)).cast("double").as("sum_dist"))
      .orderBy("cell")

  /** Int8 symmetric quantization — the storage/bandwidth optimization
    * for embedding corpora (4× smaller, SIMD-friendly dot products).
    * Per-vector scale = max|x|/127; q = round(x·127/max|x|). The
    * declared output is engine-exact: the integer checksum of the
    * quantized vector (no float hash risk) plus the rounded max
    * reconstruction error — both recomputable in DuckDB, so this IS
    * oracle-checked, unlike typical float pipelines. */
  def quantizeInt8(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("maxabs"))
      // pin maxabs as a stored attribute: projection collapse would
      // inline the array_max into the three lambdas below (re-evaluated
      // per ELEMENT — O(dim²)/row, out of codegen; the semDedupPairs
      // lesson applied to the same expression family)
      .localCheckpoint()
      .select(col("vec_id"),
        round(col("maxabs"), 6).as("scale_maxabs"),
        aggregate(
          transform(col("embedding"),
            x => round(x.cast("double") / col("maxabs") * 127).cast("long")),
          lit(0L), (a, q) => a + q).as("q_checksum"),
        round(array_max(transform(col("embedding"),
          x => abs(x.cast("double")
            - round(x.cast("double") / col("maxabs") * 127) * col("maxabs") / 127))), 6)
          .as("max_err"))
      .orderBy("vec_id")

  /** SemDeDup (Abbas et al. '23, arXiv:2303.09540): semantic dedup by
    * clustering the embedding space and comparing pairs ONLY within a
    * cell — the corpus-wide all-pairs matrix never exists, and the
    * quadratic term is bounded by the largest cell, not the corpus
    * (the embedding-space analog of MinHash banding). Cells here are
    * the deterministic seeded iteration-0 assignment ([[annIvf]]'s
    * seeds); production swaps in [[kmeans]]-trained centroids without
    * changing the query shape. The similarity decision runs on
    * int8-quantized vectors ([[quantizeInt8]]'s scheme) in pure
    * INTEGER arithmetic — cos ≥ 0.4 ⟺ dot > 0 ∧ 25·dot² ≥ 4·|a|²·|b|²
    * (threshold calibrated to this corpus's cosine range; real corpora
    * with true near-dups run ≥ 0.9) — so the DuckDB oracle replays it
    * hash-exactly. Output: the DROPPED rows — any vector with a
    * lower-id near-dup in its cell (the min-id representative
    * survives, SemDeDup's keep rule). The self-join shuffles 64-byte
    * int8 vectors by cell, never the float corpus. Scale note: the
    * cell count follows [[semDedupK]] — k grows with the corpus so the
    * EXPECTED cell population stays ~[[SemDedupCellTarget]] vectors and
    * the in-cell quadratic term is bounded per cell, the paper's own
    * prescription (a fixed k made the pair scan O(n²/k): the r9 sf1
    * checkpoint measured 10.5× time at 10× data; with k ∝ n the same
    * sweep is the growth a linear pass shows) — and the ASSIGNMENT
    * follows [[seededTwoLevelCells]]'s coarse→fine structure, so the
    * k ∝ n cells never reintroduce an O(n·k) argmin (that was the r10
    * sf10 scale-killer: 18× time on 10× data). The oracle computes the
    * SAME k/kc/kf as scalar subqueries, so the replay follows at
    * every SF.
    *
    * PRICED GROWTH (r17, probe_r17c_sf100.json): this one-shot form
    * re-fits the cell structure inside every query, so its floor is
    * the two-level assign itself — O(n·√k) with k ∝ n, i.e. ~n^1.5:
    * predicted 31.6× on 10× data sf10→sf100, measured 25× (314.6 s).
    * That exponent is the DESIGN, not a defect: a 2-level IVF fit
    * cannot beat n·√k, and deeper trees buy k^(1/3) at the cost of a
    * third oracle-mirrored geometry level. The production shape at
    * 100 TB is [[annIvfTrained]]-style amortization —
    * llm_semdedup_trained fits ONCE per corpus (warm-up/ingest) and
    * measured LINEAR, 10× on the same 10× step (12.9 s sf10
    * probe_r15b → 128.9 s sf100 probe_r15). The pair is declared
    * precisely to price refit-per-query against fit-once. The
    * fit-once side's AMORTIZED BUILD is itself measured (r18,
    * probe_r18_build_sf10.json / probe_r18b_build_sf100.json): a cold
    * [[ensureSemDedupLayout]] costs 52.2 s at sf10 and 1000.9 s at
    * sf100 (19.2× on 10× data — under the same n^1.5 floor because
    * Lloyd runs on a bounded sample; see [[ensureTrainedLayout]]).
    * Break-even at sf100: the refit form costs 314.6 s/query, the
    * trained form 128.9 s/query, so the 1000.9 s build repays its
    * cost after 1000.9 / (314.6 − 128.9) ≈ 6 queries — everything
    * after that is the 185.7 s/query saving, pure amortization. */
  def semDedup(s: SparkSession, d: String): DataFrame =
    semDedupPairs(seededTwoLevelCells(
      Tables.spread(s, d, "embeddings"), semDedupK(s, d)))

  /** The shared SemDeDup decision tail (quantize → in-cell pair scan →
    * drop set) over any (vec_id, cell, embedding) assignment — the
    * seeded and trained forms differ ONLY in how cells are produced. */
  private def semDedupPairs(assigned: DataFrame): DataFrame = {
    // materialize maxabs as a PLAIN ATTRIBUTE before the quantize
    // lambdas reference it: projection collapse would otherwise inline
    // the array_max(transform(…)) into the per-element lambda — O(dim²)
    // work per row — and the collapsed mega-projection falls out of
    // whole-stage codegen into interpreted evaluation (measured: 6.7 s
    // of an 11.3 s sf1 run in exactly this projection; the r10 flat
    // form paid the same tax).
    val sc = assigned.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pre = assigned
      .select(col("vec_id"), col("cell"), col("embedding"),
        array_max(transform(col("embedding"), x => abs(x.cast("double"))))
          .as("maxabs"))
      .localCheckpoint()
    val preIds = sc.getPersistentRDDs.keySet -- before
    // checkpoint the QUANTIZED rows too: the self-join below reads q
    // twice, and without this pin each side re-runs the quantize
    // transform + nq aggregate — int8-ready rows are the artifact
    // production SemDeDup persists. q's checkpoint truncates the
    // lineage to pre, whose float-corpus blocks are then dead weight:
    // release them now rather than leaning on the GC-driven
    // ContextCleaner across a 198-query sweep (query construction is
    // single-threaded in the harness mains, so the id diff is ours).
    val q = pre
      .select(col("vec_id"), col("cell"),
        transform(col("embedding"),
          x => round(x.cast("double") / col("maxabs") * 127).cast("long"))
          .as("qv"))
      .withColumn("nq", aggregate(col("qv"), lit(0L), (a, x) => a + x * x))
      .localCheckpoint()
    preIds.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    // the pair scan is the hot loop (|cell|² dots): the codegen'd
    // DotProduct expression replaces the interpreted zip_with+aggregate
    // lambda (6.0 s → sub-second at sf0.1, same integer values — int8
    // dots ≤ 64·127² stay exact in double, so every keep/drop boolean
    // is unchanged and the integer-math oracle still hash-matches)
    q.as("a").join(q.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"), col("b.vec_id").as("vec_id"),
        graft.functions.NativeExpressions.dot_product(col("a.qv"), col("b.qv"))
          .cast("long").as("dot"),
        col("a.nq").as("na"), col("b.nq").as("nb"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * 25 >= col("na") * col("nb") * 4)
      .select("cell", "vec_id").distinct()
      .orderBy("cell", "vec_id")
  }

  /** Product-quantization codebooks (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11): split each
    * 64-dim vector into `m`=4 16-dim subvectors and Lloyd-fit `k`=16
    * centroids PER SUBSPACE — 4 code bytes replace 256 float bytes
    * (64×), which is what makes billion-vector search fit in RAM at
    * all. Training reuses the [[kmeans]] discipline with `m` as an
    * extra group key: distances round to 9 decimals before argmin,
    * centroid updates sum exact DECIMAL — the codebooks are
    * deterministic, so codes and search results are reproducible across
    * runs and partitionings (VectorOpsSpec pins this). The corpus never
    * shuffles during training: assignment is a broadcast argmin, the
    * update shuffle carries m·k·subdim decimal partials. */
  def pqCodebooks(s: SparkSession, d: String, m: Int = 4, k: Int = 16,
      iters: Int = 3): DataFrame = {
    val subs = pqSubvectors(Tables.embeddings(s, d), m)
    var cents = subs.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").cast("int").as("cell"),
        transform(col("sub"), x => x.cast("double")).as("cvec"))
    for (_ <- 0 until iters) {
      val assigned = pqAssign(subs, cents)
      cents = assigned
        .select(col("m"), col("cell"), posexplode(col("sub")))
        .toDF("m", "cell", "i", "x")
        .groupBy("m", "cell", "i")
        .agg(sum(col("x").cast("double").cast("decimal(28,9)")).as("sx"),
          count(lit(1)).as("n"))
        .groupBy("m", "cell")
        .agg(collect_list(struct(col("i"),
          (col("sx").cast("double") / col("n")).as("mv"))).as("dims"))
        .select(col("m"), col("cell"),
          transform(array_sort(col("dims")), v => v.getField("mv")).as("cvec"))
        .localCheckpoint() // m·k rows; cuts the per-round lineage growth
    }
    cents
  }

  /** (vec_id, m, sub): each vector split into `m` equal slices. */
  private def pqSubvectors(emb: DataFrame, m: Int): DataFrame = {
    val subLen = 64 / m
    emb.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("m"), col("embedding"))
      .select(col("vec_id"), col("m"),
        expr(s"slice(embedding, m * $subLen + 1, $subLen)").as("sub"))
  }

  /** Nearest-codeword assignment per (vector, subspace) — broadcast
    * argmin over the m·k codebook rows, same shape as [[kmeansAssign]]. */
  private def pqAssign(subs: DataFrame, cents: DataFrame): DataFrame = {
    val centsArr = cents.groupBy("m")
      .agg(collect_list(struct(col("cell"), col("cvec"))).as("cents"))
    subs.join(broadcast(centsArr), "m")
      .select(col("vec_id"), col("m"), col("sub"),
        element_at(array_sort(transform(col("cents"), c => struct(
          round(l2sq(col("sub"), c.getField("cvec")), 9).as("dist"),
          c.getField("cell").as("cell")))), 1).getField("cell").as("cell"))
  }

  /** Train-once PQ corpus build: fit the codebooks, encode every vector
    * to its m=4 code cells, and publish both tables atomically — the
    * same amortization contract as [[ensureTrainedLayout]] (training
    * and encoding belong to the corpus build, like ingest; queries are
    * pure probes). The codes table is the 64×-compressed scan artifact:
    * at 100 TB of vectors it is the ~1.6 TB that ADC actually reads. */
  def ensurePqLayout(s: SparkSession, d: String): String = {
    val dir = new java.io.File(pqLayoutDir(d))
    if (!new java.io.File(dir, "_BUILT").exists()) {
      val tmp = new java.io.File(dir.getParentFile,
        dir.getName + ".build-" + java.util.UUID.randomUUID())
      val cents = pqCodebooks(s, d, m = 4)
      cents.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "codebooks").toString)
      pqAssign(pqSubvectors(Tables.embeddings(s, d), 4), cents)
        .select(col("vec_id"), col("m"), col("cell"))
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "codes").toString)
      cents.unpersist(blocking = false) // drop the training checkpoint
      publishLayout(dir, tmp)
    }
    dir.toString
  }

  /** PQ-ANN with asymmetric distance computation (ADC), a PURE PROBE of
    * the [[ensurePqLayout]] build (codebooks + encoded corpus — no
    * training or encoding in the query plan): precompute each query's
    * m×k partial-distance lookup table against the codebooks (a
    * 192-row broadcast — the query-time "model state"), and score a
    * candidate by SUMMING 4 table entries instead of touching floats.
    * The scan side reads codes only — at 100 TB that is the difference
    * between scanning 400 GB of codes and 25 TB of vectors. Partials
    * are 9-decimal-rounded and summed as exact DECIMAL, so ranking is
    * deterministic; ties break on neighbor id.
    *
    * ADC quantization error would cap recall on a structureless corpus,
    * so the query finishes the way production PQ systems do: the ADC
    * scan yields a SHORTLIST (top-64 codes per query), and only those
    * 64 full vectors are fetched and re-ranked by exact distance. The
    * expensive float read is 64 rows per query regardless of corpus
    * size; everything corpus-scale touches codes only. Hash-checked:
    * the decimal discipline (9-dp rounded distances, DECIMAL partial
    * sums, deterministic tie-breaks) makes the whole train→encode→ADC→
    * re-rank pipeline replayable in DuckDB as unrolled CTEs
    * ([[pqOracle]]); VectorOpsSpec additionally proves recall against
    * the exhaustive scan and determinism across runs. */
  def annPq(s: SparkSession, d: String): DataFrame = {
    val m = 4
    val shortlist = 64
    val emb = Tables.embeddings(s, d)
    val layout = ensurePqLayout(s, d)
    val cents = s.read.parquet(s"$layout/codebooks")
    val codes = s.read.parquet(s"$layout/codes")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val lut = pqSubvectors(emb.filter(col("vec_id") < 3), m)
      .select(col("vec_id").as("query_id"), col("m"), col("sub"))
      .join(broadcast(cents), "m")
      .select(col("query_id"), col("m"), col("cell"),
        round(l2sq(col("sub"), col("cvec")), 9).cast("decimal(28,9)").as("pdist"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id"))
    val candidates = codes.join(broadcast(lut), Seq("m", "cell"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("pdist").as("adist"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist)
      .select("query_id", "neighbor_id")
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id"))
    candidates
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(l2sq(col("q"), col("embedding")), 6).as("dist"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "neighbor_id", "dist")
      .orderBy("query_id", "rank")
  }

  /** [[simSearch]] through the WHOLE-OPERATOR custom plan
    * ([[graft.plans.CosineTopK]] → `CosineTopKExec`): per-query bounded
    * heaps inside the corpus scan, so the shuffle carries at most
    * #partitions × q × k candidate rows instead of every scored pair —
    * the partial/final aggregate shape applied to top-k. The strategy
    * that plans it is injected by `GraftExtensions`, which every
    * [[graft.Session]] installs; this function changes no session
    * state. The 3 query vectors are collected driver-side — broadcast-side model
    * state, the same class as IVF probe cells. Bit-identical to
    * [[simSearch]] (VectorOpsSpec pins it), so the SAME oracle family
    * hash-checks a custom SparkPlan against DuckDB. */
  def simSearchExec(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
    val corpus = emb.filter(col("vec_id") >= 3)
      .select(col("vec_id"), col("embedding"))
    org.apache.spark.sql.GraftColumnBridge.ofRows(s,
        graft.plans.CosineTopK(queries, 5, corpus.queryExecution.logical)())
      .orderBy("query_id", "rank")
  }

  /** Trained layout at [[semDedupK]]'s corpus-scaled cell count — the
    * build [[semDedupTrained]] probes. At small SF (k = 8) this IS the
    * shared ANN layout, so nothing trains twice; past the floor it is a
    * separate keyed artifact whose Lloyd fit pays once per corpus.
    * Bench's warm-up calls this alongside the other corpus builds. */
  def ensureSemDedupLayout(s: SparkSession, d: String): String =
    ensureTrainedLayout(s, d, semDedupK(s, d))

  /** [[semDedup]] with the TRAINED cells — the swap the seeded form's
    * doc promises, demonstrated: identical query shape, centroids read
    * from the [[ensureTrainedLayout]] build instead of fixed seeds.
    * Data-distributed cells tighten the within-cell comparison set, and
    * nothing else changes. Hash-checked ([[semDedupTrainedOracle]]
    * swaps the Lloyd-fit centroids into the seeded oracle's pair
    * logic); VectorOpsSpec holds it to the same min-id-survives /
    * in-cell-witness invariants as the seeded form.
    *
    * Scale shape (r15): past [[TwoLevelFloor]] the query reads the
    * layout's STORED assignment (`corpus/`, partitioned by cell)
    * instead of re-assigning the corpus against the stored centroids —
    * [[annIvfTrained]]'s pure-probe contract. The two are bit-identical
    * by construction: the build writes `fineAssign(kmeansAssign(emb,
    * coarseCents), fineCents)` with the SAME centroid tables the query
    * would read back (parquet round-trips floats exactly; both argmins
    * are deterministic per-row expressions), so the r14 query-time
    * recompute was O(n·√k) — with k ∝ n that's O(n^1.5), the measured
    * 21×-on-10×-data growth at sf100 — paid per query for rows the
    * build had already written. The kf = 1 (small-SF) path KEEPS the
    * recompute: the flat build stores the 3rd-iteration assignment but
    * its centroid table is the post-update fit, so the stored rows are
    * NOT the assignment-under-stored-centroids this query's oracle
    * replays (annIvfTrained's oracle replays the stored c3/a2 split on
    * purpose; semDedup's replays assign-under-final-centroids). */
  def semDedupTrained(s: SparkSession, d: String): DataFrame = {
    val k = semDedupK(s, d)
    val kf = fineCellCount(k)
    val layout = ensureSemDedupLayout(s, d)
    val assigned =
      if (kf == 1) {
        val cents = s.read.parquet(s"$layout/centroids")
        kmeansAssign(Tables.embeddings(s, d), cents)
          .select(col("vec_id"), col("cell"), col("embedding"))
      } else
        s.read.parquet(s"$layout/corpus")
          .select(col("vec_id"), col("cell").cast("int").as("cell"),
            col("embedding"))
    semDedupPairs(assigned)
  }

  /** MMR — Maximal Marginal Relevance (Carbonell & Goldstein '98):
    * diversified top-k. Plain top-k returns near-duplicates of the
    * best hit; MMR greedily selects
    * argmax λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s), trading
    * relevance against redundancy — the selection step retrieval
    * pipelines (and dedup-aware sampling) actually ship. λ = 0.7,
    * 5 picks from a 20-candidate pool per query.
    *
    * Scale shape: the expensive part is the candidate pool (one
    * corpus scan, any ANN variant here); MMR itself then touches only
    * (queries × 20) rows and their bounded 20×20 pairwise sims — the
    * greedy rounds are joins over per-query CONSTANT-size frames, so
    * the 4 extra rounds cost O(queries), not O(corpus).
    *
    * Float discipline: 10⁶ FIXED-POINT sims and 7·sim − 3·pen integer
    * scores (λ = 7/10), the [[pageRank]] trick — a first cut scored
    * `round(0.7·sim₆, 6)` in doubles and a 6-decimal sim times 0.7 is
    * a 7-decimal value, so the scale-6 rounding sits ON the .5
    * boundary for ~1 in 10 rows and the engines disagreed on one of
    * 15 output rows. Integers cannot disagree; ties break on id; the
    * DuckDB oracle replays the greedy rounds as unrolled CTEs,
    * hash-exact. Output score is ×10⁷ fixed point. */
  /** (λ, pool, k) shared by [[mmrSelect]] and its oracle — one
    * constant, same drift hazard as [[RpShortlist]]. */
  private val MmrParams = (0.7, 20, 5)

  def mmrSelect(s: SparkSession, d: String): DataFrame = {
    val (lam, pool, k) = MmrParams
    val l10 = math.round(lam * 10).toInt // λ = l10/10; weights stay integer
    val m10 = 10 - l10
    def fx(c: Column): Column = round(c * lit(1000000.0), 0).cast("long")
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val cand = emb.filter(col("vec_id") >= 3).as("c")
      .join(broadcast(queries))
      .select(col("query_id"), col("vec_id").as("id"),
        fx(cosine(col("q"), col("embedding"))).as("sim"),
        col("embedding"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("id"))))
      .filter(col("rn") <= pool)
      .select("query_id", "id", "sim", "embedding")
      // tiny (queries×pool): one partition, or every per-round job pays
      // 32-task scheduling overhead for ≤60 rows
      .coalesce(1)
      // lazy (r20): rounds are FIXED (k), so no per-round action is
      // needed — the final orderBy materializes the whole greedy chain
      // in ONE job instead of ~k+2 eager checkpoint jobs, each of which
      // was pure scheduler latency over ≤60-row frames. Checkpoints
      // still cut the plan per round (fixed depth) and persist each
      // round for its two consumers in the next one.
      .localCheckpoint(false) // joins into every round
    val pc = cand.as("a").join(cand.as("b"),
        col("a.query_id") === col("b.query_id") && col("a.id") =!= col("b.id"))
      .select(col("a.query_id").as("query_id"), col("a.id").as("a"),
        col("b.id").as("b"),
        fx(cosine(col("a.embedding"), col("b.embedding"))).as("s"))
      .coalesce(1)
      .localCheckpoint(false)
    val slim = cand.select("query_id", "id", "sim")
    var sel = slim
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("id"), lit(1).as("rank"),
        (col("sim") * l10).as("score"))
    for (r <- 2 to k) {
      val pen = pc.join(sel.select(col("query_id"), col("id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("id"))
        .agg(max("s").as("pen"))
      val next = slim
        .join(sel.select("query_id", "id"), Seq("query_id", "id"), "left_anti")
        .join(pen, Seq("query_id", "id"))
        .select(col("query_id"), col("id"),
          (col("sim") * l10 - col("pen") * m10).as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("id"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("id"), lit(r).as("rank"), col("score"))
      // cut lineage per round (the GraphOps loop discipline): without
      // this, round r's plan re-executes every earlier round's joins at
      // each action and the final collect pays ~2^k subplans — measured
      // 4.7 → 2.3 s at sf0.1. LAZY since r20: the rounds are fixed, so
      // the k checkpoint jobs that remained (pure per-job scheduler
      // latency over ≤ queries×pool-row frames) fold into the final
      // action's single job; each checkpoint still cuts the plan, so
      // the ~2^k-subplan blowup stays dead.
      sel = sel.unionByName(next).coalesce(1).localCheckpoint(false)
    }
    sel.select(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        col("score"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB replay of [[mmrSelect]]: candidate pool, bounded pairwise
    * sims, then the greedy rounds unrolled as CTEs — all in the same
    * 10⁶ fixed point. */
  private def mmrOracle(lam: Double, pool: Int, k: Int): String = {
    val l10 = math.round(lam * 10).toInt
    val m10 = 10 - l10
    def cos(a: String, b: String) =
      s"""CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, 64),
         |      i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE))),
         |    (x, y) -> x + y)
         |  / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, 64),
         |      i -> CAST($a.embedding[i] AS DOUBLE) * CAST($a.embedding[i] AS DOUBLE))),
         |    (x, y) -> x + y))
         |    * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, 64),
         |      i -> CAST($b.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE))),
         |    (x, y) -> x + y))) * 1000000.0, 0) AS BIGINT)""".stripMargin
    val rounds = (2 to k).map { r =>
      s"""p$r AS (
         |  SELECT pc.query_id, pc.a AS id, MAX(pc.s) AS pen
         |  FROM pc JOIN sel${r - 1} sl ON pc.query_id = sl.query_id AND pc.b = sl.id
         |  GROUP BY 1, 2),
         |s$r AS (
         |  SELECT query_id, id, $r AS rank, score FROM (
         |    SELECT c.query_id, c.id,
         |      CAST(c.sim * $l10 - p.pen * $m10 AS BIGINT) AS score,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY c.sim * $l10 - p.pen * $m10 DESC, c.id) AS rn
         |    FROM cand c JOIN p$r p ON c.query_id = p.query_id AND c.id = p.id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} sl
         |                      WHERE sl.query_id = c.query_id AND sl.id = c.id))
         |  WHERE rn = 1),
         |sel$r AS (SELECT query_id, id FROM sel${r - 1}
         |  UNION ALL SELECT query_id, id FROM s$r)""".stripMargin
    }
    s"""WITH pool0 AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS id, ${cos("q", "c")} AS sim,
       |    c.embedding AS embedding
       |  FROM embeddings q JOIN embeddings c ON q.vec_id < 3 AND c.vec_id >= 3),
       |cand AS (
       |  SELECT query_id, id, sim, embedding FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, id) AS rn FROM pool0)
       |  WHERE rn <= $pool),
       |pc AS (
       |  SELECT a.query_id, a.id AS a, b.id AS b, ${cos("a", "b")} AS s
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.id <> b.id),
       |s1 AS (
       |  SELECT query_id, id, 1 AS rank, CAST(sim * $l10 AS BIGINT) AS score FROM (
       |    SELECT query_id, id, sim, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, id) AS rn FROM cand)
       |  WHERE rn = 1),
       |sel1 AS (SELECT query_id, id FROM s1),
       |${rounds.mkString(",\n")}
       |SELECT query_id, rank, id AS neighbor_id, score
       |FROM (${(1 to k).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")})
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Vector stats: exact norms and dimension checks per vector subset. */
  def embedStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        min(size(col("embedding"))).as("min_dim"),
        max(size(col("embedding"))).as("max_dim"))
      .orderBy("label")

  /** Johnson-Lindenstrauss random projection, 64 → 8 dims — the standard
    * cheap-ANN preprocessing step (project once, then search/cluster in
    * the small space; JL bounds the pairwise-distance distortion). The
    * projection matrix is ±1 signs (Achlioptas 2001 — sign matrices
    * satisfy JL and need no float matrix at all) derived from
    * md5("i_j"), so every engine, executor, and re-run materializes the
    * IDENTICAL matrix from nothing: no fit, no broadcast state, no
    * layout cache. The signs are baked into the plan as literals; the
    * whole op is a per-row codegen'd fold — zero shuffles, "free" at
    * 100 TB. Both engines fold the 64 products strictly left-to-right
    * in double precision, so the output is bit-reproducible and the
    * DuckDB oracle hash-matches (same cross-engine-exactness trick as
    * [[lloydOracle]]). */
  def randProject(s: SparkSession, d: String): DataFrame =
    randProjectOf(Tables.embeddings(s, d), dIn = 64, kOut = 8)
      .orderBy("vec_id")

  /** The md5-derived ±1 sign, exposed for the spec's independent check. */
  def rpSign(i: Int, j: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${i}_$j".getBytes("UTF-8"))
    // first hex char of the digest: high nibble of byte 0 in 0..7 → +1
    if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
  }

  /** [[randProject]] body over any (vec_id, embedding) frame. */
  def randProjectOf(emb: DataFrame, dIn: Int, kOut: Int): DataFrame = {
    val projCols = (0 until kOut).map { j =>
      val signs = array((0 until dIn).map(i => lit(rpSign(i, j))): _*)
      round(aggregate(
        zip_with(col("embedding"), signs, (x, sg) => x.cast("double") * sg),
        lit(0.0), (a, v) => a + v), 4).as(s"p$j")
    }
    emb.select(col("vec_id") +: projCols: _*)
  }

  /** ANN through the JL bottleneck: NORMALIZE each vector (so projected
    * dot ≈ cosine — projecting raw vectors ranks by unnormalized dot
    * and recall collapses to chance), score the WHOLE corpus in the
    * projected 8-dim space (an 8-multiply fold instead of a 64-dim
    * cosine — and at 100 TB one stores the projection column and scans
    * 8 doubles/row instead of 64 floats), shortlist 64/query, then
    * re-rank ONLY the shortlist with the exact 64-dim cosine. The
    * shortlist join back to full vectors is a broadcast of
    * (nqueries × 64) ids — the corpus is never touched twice. On this
    * corpus (near-orthogonal synthetic vectors — JL's worst case, the
    * ±1/√8-scale distortion is as large as the similarity gaps) the
    * spec measures recall@5 = 0.4 re-ranking 13 % of the corpus, the
    * same recall the IVF variant buys probing 25 % — the sketch pays
    * for itself; on real clustered embeddings both do far better. Both
    * stages are deterministic double math with id tiebreaks, so unlike
    * the hash-family ANN variants this one is FULLY oracled: DuckDB
    * replays normalize, project, shortlist, re-rank and the output
    * hash-matches. */
  /** Shortlist width shared by [[annRandProj]] and its oracle — one
    * constant, because a query/oracle drift here is silent until the
    * hash gate catches it. */
  private val RpShortlist = 64

  def annRandProj(s: SparkSession, d: String): DataFrame = {
    val kShort = RpShortlist
    val emb = Tables.embeddings(s, d)
    // pin the norm as a stored attribute (the simSearchPrenorm lesson,
    // caught here by ProjectionLintSpec): inlined into the transform
    // lambda, the full reduction re-runs per ELEMENT — O(dim²)/row
    // over the whole corpus, outside codegen
    val nemb = emb
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .localCheckpoint()
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm"))
          .as("embedding"))
    val proj = randProjectOf(nemb, dIn = 64, kOut = 8)
    val qp = proj.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id") +:
        (0 until 8).map(j => col(s"p$j").as(s"q$j")): _*)
    val coarse = proj.filter(col("vec_id") >= 3)
      .join(broadcast(qp))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round((0 until 8).map(j => col(s"q$j") * col(s"p$j"))
          .reduce(_ + _), 4).as("cs"))
    val short = coarse.withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cs").desc, col("neighbor_id"))))
      .filter(col("rn") <= kShort)
      .select("query_id", "neighbor_id")
    val qv = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val rr = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qe"), col("embedding")), 6).as("sim"))
    rr.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** The SQL for one projected component — shared by the rand-proj and
    * ann-rp oracles so both replay the identical matrix and fold. */
  private def rpColSql(j: Int, dIn: Int): String =
    s"""round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(generate_series(1, $dIn),
       |      i -> CAST(embedding[i] AS DOUBLE) *
       |        (CASE WHEN substring(md5((i - 1) || '_$j'), 1, 1)
       |              BETWEEN '0' AND '7'
       |         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END))),
       |    (a, x) -> a + x), 4)""".stripMargin

  /** DuckDB replay of [[randProject]]: same md5-derived sign matrix
    * (md5 agrees across engines), same left-to-right double fold. */
  private def randProjOracle(dIn: Int, kOut: Int): String = {
    val cols = (0 until kOut).map(j => s"  ${rpColSql(j, dIn)} AS p$j")
    s"SELECT vec_id,\n${cols.mkString(",\n")}\nFROM embeddings ORDER BY vec_id"
  }

  /** DuckDB replay of [[annRandProj]]: normalize, projection CTE,
    * coarse shortlist in the projected space, exact-cosine re-rank. */
  private def annRandProjOracle(dIn: Int, kOut: Int, kShort: Int): String = {
    val pCols = (0 until kOut).map(j => s"  ${rpColSql(j, dIn)} AS p$j")
    val dotP = (0 until kOut).map(j => s"q.p$j * c.p$j").mkString(" + ")
    def fold(a: String, b: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(generate_series(1, $dIn),
         |        i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE))),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH n AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, $dIn),
       |        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
       |      (x, y) -> x + y))) AS embedding
       |FROM embeddings),
       |p AS (SELECT vec_id,
       |${pCols.mkString(",\n")}
       |FROM n),
       |coarse AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round($dotP, 4) AS cs
       |  FROM p q JOIN p c ON q.vec_id < 3 AND c.vec_id >= 3),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cs DESC, neighbor_id) AS rn
       |    FROM coarse) WHERE rn <= $kShort),
       |rr AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(${fold("a", "b")}
       |      / (sqrt(${fold("a", "a")})
       |         * sqrt(${fold("b", "b")})), 6) AS sim
       |  FROM short s
       |  JOIN embeddings a ON a.vec_id = s.query_id
       |  JOIN embeddings b ON b.vec_id = s.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM rr)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_sim_search"    -> (simSearch(_, _)),
    "llm_ann_ivf"       -> (annIvf(_, _)),
    "llm_embed_neardup" -> (embedNearDup(_, _)),
    "llm_embed_stats"   -> (embedStats(_, _)),
    "llm_centroid"      -> (labelCentroids(_, _)),
    "llm_sim_prenorm"   -> (simSearchPrenorm(_, _)),
    "llm_embed_lsh"     -> (embedLshPairs(_, _)),
    "llm_kmeans"        -> (kmeansSummary(_, _)),
    "llm_quantize"      -> (quantizeInt8(_, _)),
    "llm_semdedup"      -> (semDedup(_, _)),
    "llm_ann_trained"   -> (annIvfTrained(_, _)),
    "llm_ann_pq"        -> (annPq(_, _)),
    "llm_sim_topk_exec" -> (simSearchExec(_, _)),
    "llm_semdedup_trained" -> (semDedupTrained(_, _)),
    "llm_rand_proj"     -> (randProject(_, _)),
    "llm_ann_rp"        -> (annRandProj(_, _)),
    "llm_mmr"           -> (mmrSelect(_, _))
  )

  /** DuckDB replay of the [[kmeans]] Lloyd fit, unrolled: `rounds`
    * assign/update pairs as chained CTEs. Cross-engine exact because the
    * Spark side is: distances round to 9 decimals before the (dist, cell)
    * argmin; centroid updates sum exact DECIMAL(28,9); and both engines
    * fold vector reductions strictly left-to-right. */
  private def lloydOracle(k: Int, rounds: Int): String = {
    def assign(an: String, ct: String) =
      s"""$an AS (
         |  SELECT vec_id, emb, cell, dist FROM (
         |    SELECT vec_id, emb, cell, dist,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM (
         |      SELECT e.vec_id, e.emb, c.cell,
         |        round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(generate_series(1, len(e.emb)),
         |            i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]))),
         |          (a, x) -> a + x), 9) AS dist
         |      FROM e, $ct c))
         |  WHERE rn = 1)""".stripMargin
    def update(cn: String, an: String) =
      s"""$cn AS (
         |  SELECT cell, list(m ORDER BY i) AS cvec FROM (
         |    SELECT cell, i,
         |      CAST(SUM(CAST(emb[i] AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS m
         |    FROM $an, LATERAL (SELECT unnest(generate_series(1, len(emb))) AS i)
         |    GROUP BY cell, i) GROUP BY cell)""".stripMargin
    val ctes = Seq(
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings)",
      s"c0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS cvec FROM e WHERE vec_id < $k)") ++
      (0 until rounds).flatMap { r =>
        assign(s"a$r", s"c$r") ::
          (if (r < rounds - 1) List(update(s"c${r + 1}", s"a$r")) else Nil)
      }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM(ROUND(CAST(dist AS DECIMAL(28,9)), 4)) AS DOUBLE) AS sum_dist
       |FROM a${rounds - 1} GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** DuckDB replay of the FULL PQ pipeline ([[pqCodebooks]] →
    * [[annPq]]), unrolled: per-subspace Lloyd fit (`iters`
    * assign/update pairs, same decimal discipline as [[lloydOracle]]
    * with `m` as an extra group key), encoding with the final
    * codebooks, the query ADC lookup table, the decimal-exact ADC
    * shortlist, and the exact re-rank — the trained-ANN path promoted
    * from rows-only to a hash-checked row. */
  private def pqOracle(m: Int, k: Int, iters: Int, shortlist: Int,
      topK: Int): String = {
    val subLen = 64 / m
    def l2(a: String, b: String) =
      s"""round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(generate_series(1, len($a)),
         |            i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
         |          (acc, x) -> acc + x), 9)""".stripMargin
    def assign(an: String, ct: String) =
      s"""$an AS (
         |  SELECT vec_id, m, sub, cell, dist FROM (
         |    SELECT vec_id, m, sub, cell, dist,
         |      row_number() OVER (PARTITION BY vec_id, m
         |                         ORDER BY dist, cell) AS rn
         |    FROM (
         |      SELECT s.vec_id, s.m, s.sub, c.cell,
         |        ${l2("s.sub", "c.cvec")} AS dist
         |      FROM sub s JOIN $ct c ON s.m = c.m))
         |  WHERE rn = 1)""".stripMargin
    def update(cn: String, an: String) =
      s"""$cn AS (
         |  SELECT m, cell, list(mv ORDER BY i) AS cvec FROM (
         |    SELECT m, cell, i,
         |      CAST(SUM(CAST(sub[i] AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS mv
         |    FROM $an, LATERAL (SELECT unnest(generate_series(1, len(sub))) AS i)
         |    GROUP BY m, cell, i) GROUP BY m, cell)""".stripMargin
    val lloyd = (0 until iters).flatMap { r =>
      Seq(assign(s"a$r", s"c$r"), update(s"c${r + 1}", s"a$r"))
    }
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |FROM embeddings),
       |sub AS (
       |  SELECT vec_id, m, list_slice(emb, m * $subLen + 1, (m + 1) * $subLen) AS sub
       |  FROM e, LATERAL (SELECT unnest(generate_series(0, ${m - 1})) AS m)),
       |c0 AS (SELECT m, CAST(vec_id AS INT) AS cell, sub AS cvec
       |       FROM sub WHERE vec_id < $k),
       |${lloyd.mkString(",\n")},
       |${assign("codes", s"c$iters")},
       |lut AS (
       |  SELECT s.vec_id AS query_id, s.m, c.cell,
       |    CAST(${l2("s.sub", "c.cvec")} AS DECIMAL(28,9)) AS pdist
       |  FROM sub s JOIN c$iters c ON s.m = c.m
       |  WHERE s.vec_id < 3),
       |adc AS (
       |  SELECT l.query_id, cd.vec_id AS neighbor_id,
       |    SUM(l.pdist) AS adist
       |  FROM codes cd JOIN lut l ON cd.m = l.m AND cd.cell = l.cell
       |  WHERE cd.vec_id <> l.query_id
       |  GROUP BY l.query_id, cd.vec_id),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY adist, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= $shortlist),
       |rr AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(a.emb)),
       |        i -> (a.emb[i] - b.emb[i]) * (a.emb[i] - b.emb[i]))),
       |      (acc, x) -> acc + x), 6) AS dist
       |  FROM short s
       |  JOIN e a ON a.vec_id = s.query_id
       |  JOIN e b ON b.vec_id = s.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dist,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY dist, neighbor_id) AS rank
       |  FROM rr)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** Shared DuckDB fragment: left-to-right double cosine over two list
    * aliases — the replay of [[cosineHof]]/the fused native expression. */
  private def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len($a)),
       |        i -> $a[i] * $b[i])), (x, y) -> x + y)
       |   / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len($a)),
       |        i -> $a[i] * $a[i])), (x, y) -> x + y))
       |    * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len($b)),
       |        i -> $b[i] * $b[i])), (x, y) -> x + y))))""".stripMargin

  /** DuckDB replay of [[annIvf]] (seeded inverted-file ANN): assign
    * every vector to its nearest of the 8 vec_id<8 seed centroids by
    * rounded spherical distance, probe each query's 2 nearest cells,
    * exact-rank inside them. Same argmin/tie discipline as the Lloyd
    * oracles, so the probe set and final ranking hash-match. */
  private def ivfSeededOracle(cells: Int, nprobe: Int, topK: Int): String =
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |FROM embeddings),
       |cents AS (SELECT CAST(vec_id AS INT) AS cell, emb AS cvec
       |          FROM e WHERE vec_id < $cells),
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        round(2.0 - 2.0 * ${cosSql("v.emb", "c.cvec")}, 9), c.cell) AS rn
       |    FROM e v, cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(2.0 - 2.0 * ${cosSql("q.emb", "c.cvec")}, 9), c.cell) AS rn
       |    FROM e q, cents c WHERE q.vec_id < 3) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    round(${cosSql("q.emb", "a.emb")}, 6) AS sim
       |  FROM probes p JOIN assigned a USING (cell)
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM cand)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin

  /** DuckDB replay of [[annIvfTrained]]: the [[ensureTrainedLayout]]
    * build is `kmeans(iters=3)` — assignments a0..a2 against c0..c2 —
    * whose CORPUS table is the final assignment a2 while the PROBE
    * centroids are one further update c3 = update(a2); the replay keeps
    * both exactly (probing c3, searching a2's cells). Distances are the
    * same 9-dp-rounded L2 + decimal updates as [[lloydOracle]]. */
  private def l2RoundSql(a: String, b: String): String =
    s"""round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(generate_series(1, len($a)),
       |            i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
       |          (acc, x) -> acc + x), 9)""".stripMargin

  private def lloydAssignCte(an: String, ct: String): String =
    s"""$an AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT v.vec_id, v.emb, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY ${l2RoundSql("v.emb", "c.cvec")}, c.cell) AS rn
       |    FROM e v, $ct c) WHERE rn = 1)""".stripMargin

  private def lloydUpdateCte(cn: String, an: String): String =
    s"""$cn AS (
       |  SELECT cell, list(mv ORDER BY i) AS cvec FROM (
       |    SELECT cell, i,
       |      CAST(SUM(CAST(emb[i] AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS mv
       |    FROM $an, LATERAL (SELECT unnest(generate_series(1, len(emb))) AS i)
       |    GROUP BY cell, i) GROUP BY cell)""".stripMargin

  /** CTE prefix `e, c0, a0, c1, …, c<iters>` replaying [[kmeans]]'s
    * Lloyd chain (assignment a(r) against c(r), update c(r+1)).
    * `kSql` is any scalar SQL expression for the seed count (a literal
    * for the fixed-k ANN oracles; the semdedup replays moved to the
    * two-level chain in [[semDedupTrainedOracle]]). */
  private def lloydChainSql(kSql: String, iters: Int): String = {
    val lloyd = (0 until iters).flatMap { r =>
      Seq(lloydAssignCte(s"a$r", s"c$r"), lloydUpdateCte(s"c${r + 1}", s"a$r"))
    }
    s"""e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS cvec
       |       FROM e WHERE vec_id < $kSql),
       |${lloyd.mkString(",\n")}""".stripMargin
  }

  private def ivfTrainedOracle(k: Int, iters: Int, nprobe: Int,
      topK: Int): String = {
    def l2(a: String, b: String) = l2RoundSql(a, b)
    s"""WITH ${lloydChainSql(k.toString, iters)},
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |                         ORDER BY ${l2("q.emb", "c.cvec")}, c.cell) AS rn
       |    FROM e q, c$iters c WHERE q.vec_id < 3) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    round(${cosSql("q.emb", "a.emb")}, 6) AS sim
       |  FROM probes p JOIN a${iters - 1} a USING (cell)
       |  JOIN e q ON q.vec_id = p.query_id
       |  WHERE a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM cand)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim
       |FROM ranked WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  // --- two-level SemDeDup replay CTEs (mirror fineSeeds / fineAssign /
  // fineUpdate exactly; `kp` from TwoLevelParamsCte must precede them) ---

  /** Coarse argmin of every `e` vector against `ct` (ccell, cvec). */
  private def coarseAssignCte(an: String, ct: String): String =
    s"""$an AS (
       |  SELECT vec_id, emb, ccell FROM (
       |    SELECT v.vec_id, v.emb, c.ccell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY ${l2RoundSql("v.emb", "c.cvec")}, c.ccell) AS rn
       |    FROM e v, $ct c) WHERE rn = 1)""".stripMargin

  /** kf md5-ranked members of each coarse cell as fine seeds (mirrors
    * [[fineSeeds]]'s spread-aware pick; both engines hash the decimal
    * string form of vec_id). */
  private def fineSeedsCte(cn: String, src: String): String =
    s"""$cn AS (
       |  SELECT ccell, CAST(rn - 1 AS BIGINT) AS fcell, emb AS cvec FROM (
       |    SELECT ccell, emb,
       |      row_number() OVER (PARTITION BY ccell
       |                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |    FROM $src) WHERE rn <= (SELECT kf FROM kp))""".stripMargin

  /** Fine argmin: each vector only meets its own coarse cell's
    * candidates (the join is ON ccell). */
  private def fineAssignCte(an: String, src: String, ct: String): String =
    s"""$an AS (
       |  SELECT vec_id, emb, ccell, fcell FROM (
       |    SELECT v.vec_id, v.emb, v.ccell, c.fcell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY ${l2RoundSql("v.emb", "c.cvec")}, c.fcell) AS rn
       |    FROM $src v JOIN $ct c ON v.ccell = c.ccell) WHERE rn = 1)""".stripMargin

  /** Per-(ccell, fcell) decimal-exact mean — the fine Lloyd update. */
  private def fineUpdateCte(cn: String, an: String): String =
    s"""$cn AS (
       |  SELECT ccell, fcell, list(mv ORDER BY i) AS cvec FROM (
       |    SELECT ccell, fcell, i,
       |      CAST(SUM(CAST(emb[i] AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS mv
       |    FROM $an, LATERAL (SELECT unnest(generate_series(1, len(emb))) AS i)
       |    GROUP BY ccell, fcell, i) GROUP BY ccell, fcell)""".stripMargin

  /** The shared SemDeDup decision tail over a (vec_id, emb, cell) CTE —
    * quantize → in-cell integer pair scan → drop set ([[semDedupPairs]]
    * replayed verbatim). */
  private def semDedupTailSql(src: String): String =
    s"""q AS (
       |  SELECT vec_id, cell,
       |    list_transform(emb, x -> CAST(round(x /
       |      list_max(list_transform(emb, y -> abs(y))) * 127) AS BIGINT)) AS qv
       |  FROM $src),
       |n AS (SELECT vec_id, cell, qv,
       |  CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nq FROM q),
       |p AS (
       |  SELECT a.cell AS cell, b.vec_id AS vec_id,
       |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
       |      i -> a.qv[i]*b.qv[i])) AS BIGINT) AS dot,
       |    a.nq AS na, b.nq AS nb
       |  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT DISTINCT cell, vec_id FROM p
       |WHERE dot > 0 AND 25*dot*dot >= 4*na*nb
       |ORDER BY cell, vec_id""".stripMargin

  /** DuckDB replay of the SEEDED [[semDedup]]: the two-level geometry
    * from [[TwoLevelParamsCte]] (coarse argmin over the kc lowest-id
    * seeds, fine argmin over each cell's kf lowest-id members), then
    * the shared decision tail. With k ≤ [[TwoLevelFloor]] the fine
    * stage is an identity (kf = 1, fcell = 0, cell = ccell), so this
    * ONE SQL shape replays the flat gate results byte-for-byte AND the
    * two-level sf1+ results. */
  private def semDedupSeededOracle: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |$TwoLevelParamsCte,
       |cc AS (SELECT vec_id AS ccell, emb AS cvec FROM e WHERE vec_id < (SELECT kc FROM kp)),
       |${coarseAssignCte("ac", "cc")},
       |${fineSeedsCte("f0", "ac")},
       |${fineAssignCte("af", "ac", "f0")},
       |tl AS (SELECT vec_id, emb,
       |  CAST(ccell * (SELECT kf FROM kp) + fcell AS BIGINT) AS cell FROM af),
       |${semDedupTailSql("tl")}""".stripMargin

  /** DuckDB replay of [[semDedupTrained]] and its hierarchical
    * [[ensureTrainedLayout]] build: `iters`-round coarse Lloyd at kc
    * (c0..c<iters>, same chain the flat oracle used), coarse assign
    * against c<iters>, fine seeds, `iters` fine assign/update rounds
    * WITHIN each coarse cell, final fine assign, then the shared
    * decision tail. Degenerates to the flat trained replay at the
    * gate (kf = 1 makes every fine stage an identity). */
  private def semDedupTrainedOracle(iters: Int): String = {
    val coarseLloyd = (0 until iters).flatMap { r =>
      Seq(lloydAssignCte(s"a$r", s"c$r"), lloydUpdateCte(s"c${r + 1}", s"a$r"))
    }
    val fineLloyd = (0 until iters).flatMap { r =>
      Seq(fineAssignCte(s"fa$r", "ac", s"f$r"), fineUpdateCte(s"f${r + 1}", s"fa$r"))
    }
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |FROM embeddings),
       |$TwoLevelParamsCte,
       |c0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS cvec
       |       FROM e WHERE vec_id < (SELECT kc FROM kp)),
       |${coarseLloyd.mkString(",\n")},
       |ccp AS (SELECT cell AS ccell, cvec FROM c$iters),
       |${coarseAssignCte("ac", "ccp")},
       |${fineSeedsCte("f0", "ac")},
       |${fineLloyd.mkString(",\n")},
       |${fineAssignCte("af", "ac", s"f$iters")},
       |tl AS (SELECT vec_id, emb,
       |  CAST(ccell * (SELECT kf FROM kp) + fcell AS INT) AS cell FROM af),
       |${semDedupTailSql("tl")}""".stripMargin
  }

  /** DuckDB replay of [[embedLshPairs]]: sketches rebuilt from the SAME
    * Scala-generated [[hpSign]] literal matrix (16 j-rows of 64 signs),
    * decimal-exact votes, then the 4-band pigeonhole join, hamming ≤ 3
    * filter, and exact-cosine rerank — the full pipeline, hash-exact. */
  private def embedLshOracle(nBits: Int, bands: Int): String = {
    val signRows = (0 until nBits).map { j =>
      val l = (0 until 64).map(i => hpSign(i, j)).mkString(", ")
      s"($j, list_value($l))"
    }.mkString(",\n    ")
    val bandSpec = (0 until bands)
      .map(b => s"SELECT $b AS band, ${b * 4 + 1} AS lo")
      .mkString(" UNION ALL ")
    s"""WITH emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE vec_id < 300),
       |sg AS (SELECT * FROM (VALUES
       |    $signRows) s(j, sgs)),
       |ex AS (
       |  SELECT vec_id, i, CAST(emb[i + 1] AS DECIMAL(28,9)) AS x
       |  FROM emb, LATERAL (SELECT unnest(generate_series(0, len(emb) - 1)) AS i)),
       |v AS (
       |  SELECT vec_id, j, SUM(x * sgs[i + 1]) AS vote
       |  FROM ex, sg GROUP BY vec_id, j),
       |f AS (
       |  SELECT vec_id,
       |    string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sketch
       |  FROM v GROUP BY vec_id),
       |bs AS ($bandSpec),
       |banded AS (
       |  SELECT vec_id, sketch, band, substring(sketch, lo, 4) AS key FROM f, bs),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.sketch AS sa, b.sketch AS sb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT id_a, id_b,
       |    CAST(list_sum(list_transform(generate_series(1, $nBits),
       |      i -> CASE WHEN substring(sa, i, 1) <> substring(sb, i, 1)
       |           THEN 1 ELSE 0 END)) AS INT) AS dist
       |  FROM pairs)
       |SELECT s.id_a, s.id_b, s.dist,
       |  round(${cosSql("ea.emb", "eb.emb")}, 6) AS sim
       |FROM scored s
       |JOIN emb ea ON ea.vec_id = s.id_a
       |JOIN emb eb ON eb.vec_id = s.id_b
       |WHERE s.dist <= 3
       |ORDER BY s.id_a, s.id_b""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "llm_embed_lsh" -> embedLshOracle(nBits = 16, bands = 4),
    "llm_kmeans" -> lloydOracle(k = 8, rounds = 5),
    "llm_ann_pq" -> pqOracle(m = 4, k = 16, iters = 3, shortlist = 64,
      topK = 10),
    "llm_ann_ivf" -> ivfSeededOracle(cells = 8, nprobe = 2, topK = 5),
    "llm_ann_trained" -> ivfTrainedOracle(k = 8, iters = 3, nprobe = 2,
      topK = 5),
    "llm_semdedup_trained" -> semDedupTrainedOracle(iters = 3),
    // normalize-then-dot replayed verbatim (same unit-vector fragment
    // the RP oracle proves): not bit-identical to fused cosine, but
    // exactly reproducible on its own terms
    "llm_sim_prenorm" ->
      """WITH u AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
        |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(generate_series(1, len(embedding)),
        |          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
        |        (a, x) -> a + x))) AS u
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, len(q.u)),
        |        i -> q.u[i] * c.u[i])), (a, x) -> a + x), 6) AS sim
        |  FROM u q JOIN u c ON q.vec_id < 3 AND c.vec_id >= 3),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "llm_rand_proj" -> randProjOracle(dIn = 64, kOut = 8),
    "llm_ann_rp" -> annRandProjOracle(dIn = 64, kOut = 8, kShort = RpShortlist),
    "llm_mmr" -> mmrOracle(MmrParams._1, MmrParams._2, MmrParams._3),
    "llm_centroid" ->
      """WITH ex AS (
        |  SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
        |m AS (
        |  SELECT label, i,
        |    CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS m
        |  FROM ex GROUP BY label, i),
        |v AS (SELECT label, list(m ORDER BY i) AS ms FROM m GROUP BY label)
        |SELECT label,
        |  round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(ms, x -> x * x)), (a, b) -> a + b)), 4) AS centroid_norm,
        |  CAST(len(ms) AS INT) AS dim
        |FROM v ORDER BY label""".stripMargin,
    // Dot products are recomputed term-by-term in DuckDB with the same
    // left-to-right double accumulation via list_reduce (not
    // list_cosine_similarity, whose accumulation order is unspecified).
    // identical semantics to llm_sim_search — the custom SparkPlan must
    // hash-match the same DuckDB replay, which is the strongest possible
    // check on a hand-written physical operator
    "llm_sim_topk_exec" ->
      """WITH dotp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, len(q.embedding)),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
        |      (a, x) -> a + x) AS dp,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, len(q.embedding)),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))),
        |      (a, x) -> a + x)) AS nq,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, len(c.embedding)),
        |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
        |      (a, x) -> a + x)) AS nc
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 3 AND c.vec_id >= 3),
        |scored AS (
        |  SELECT query_id, neighbor_id, round(dp / (nq * nc), 6) AS sim FROM dotp),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "llm_sim_search" ->
      """WITH dotp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, len(q.embedding)),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
        |      (a, x) -> a + x) AS dp,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, len(q.embedding)),
        |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))),
        |      (a, x) -> a + x)) AS nq,
        |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(1, len(c.embedding)),
        |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
        |      (a, x) -> a + x)) AS nc
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 3 AND c.vec_id >= 3),
        |scored AS (
        |  SELECT query_id, neighbor_id, round(dp / (nq * nc), 6) AS sim FROM dotp),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "llm_embed_neardup" ->
      """WITH cos AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
        |    round(
        |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(generate_series(1, len(a.embedding)),
        |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
        |        (x, y) -> x + y)
        |      / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(generate_series(1, len(a.embedding)),
        |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))),
        |          (x, y) -> x + y))
        |       * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(generate_series(1, len(b.embedding)),
        |            i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
        |          (x, y) -> x + y))), 6) AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE a.vec_id < 100 AND b.vec_id < 100)
        |SELECT id_a, id_b, label, sim FROM cos WHERE sim > 0.7
        |ORDER BY id_a, id_b""".stripMargin,
    "llm_semdedup" -> semDedupSeededOracle,
    "llm_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings)
        |SELECT vec_id, round(maxabs, 6) AS scale_maxabs,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) / maxabs * 127) AS BIGINT))) AS BIGINT) AS q_checksum,
        |  round(list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)
        |      - round(CAST(x AS DOUBLE) / maxabs * 127) * maxabs / 127))), 6) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "llm_embed_stats" ->
      """SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(MIN(len(embedding)) AS INT) AS min_dim,
        |  CAST(MAX(len(embedding)) AS INT) AS max_dim
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin
  )
}
