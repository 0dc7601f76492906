package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

/** Whole-operator custom plan (SURVEY.md §2 custom-operator tier (c),
  * completing the ladder next to the tier-(b) native expressions):
  * brute-force cosine top-k as a LogicalPlan + SparkStrategy +
  * SparkPlan, registered via `GraftExtensions`.
  *
  * Why an operator instead of the declarative window form
  * ([[graft.operators.VectorOps.simSearch]]): the window plan scores
  * all n·q pairs, SHUFFLES them by query, sorts, and rank-limits —
  * WindowGroupLimit bounds the sort but the exchange still carries a
  * row per scored pair. This exec keeps a bounded k-heap per query
  * INSIDE the corpus scan, so a partition emits at most q·k candidate
  * rows no matter how many vectors it scored — at 100 TB that is the
  * difference between shuffling the scored corpus and shuffling
  * (#partitions × q × k) rows, the same partial/final contract as a
  * two-phase aggregate. The final merge is a single-partition pass
  * over those candidates.
  *
  * Determinism contract: per-pair cosine folds left-to-right in double
  * (identical to the HOF/native-expression path), rounds HALF_UP to 6
  * decimals exactly like `functions.round`, ties break on neighbor id
  * — so the result is bit-identical to the window form and DuckDB
  * hash-checkable (same oracle family as `llm_sim_search`). */
case class CosineTopK(
    queries: Seq[(Long, Seq[Float])],
    k: Int,
    child: LogicalPlan)(
    // second (non-product) param list: per-NODE attrs, minted once at
    // construction and threaded through every analyzer/optimizer copy.
    // A companion-level constant here would share exprIds across ALL
    // CosineTopK nodes in a session — two such nodes composed in one
    // query tree (union/join of two simSearchExec frames) would carry
    // duplicate exprIds and misresolve parent references.
    val nodeOutput: Seq[Attribute] = CosineTopK.freshOutput())
  extends UnaryNode {
  override def output: Seq[Attribute] = nodeOutput
  // this node PRODUCES its output (nothing passes through from the
  // child) — without this, plan validation flags the attrs as missing
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // the exec reads BOTH child columns positionally, but no Catalyst
  // expression in this node says so — without this override,
  // ColumnPruning sees zero references and rewrites the child to an
  // EMPTY projection under `df.count()`-style parents, whose zero-field
  // UnsafeRows the exec then reads off a null base (JVM SIGSEGV, found
  // by PlanSpec's all-queries count). Custom-plan lesson: a node must
  // DECLARE every child attribute it consumes outside the expression
  // system.
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): CosineTopK =
    copy(child = newChild)(nodeOutput)
  // makeCopy builds tree copies reflectively from the FIRST param list;
  // without this the copy would re-default nodeOutput to fresh exprIds
  // and parent references would dangle mid-rewrite
  override def otherCopyArgs: Seq[AnyRef] = nodeOutput :: Nil
}

object CosineTopK {
  /** Fresh per-node output attrs (exprIds minted per call). */
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("rank", IntegerType, nullable = false)(),
    AttributeReference("neighbor_id", LongType, nullable = false)(),
    AttributeReference("sim", DoubleType, nullable = false)())
}

/** Plans [[CosineTopK]] as [[CosineTopKExec]]; a no-op for every other
  * node (the planner framework composes strategies). */
object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CosineTopK(qs, k, child) =>
      CosineTopKExec(qs.map { case (id, v) => (id, v.toArray) }, k,
        plan.output, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Bounded top-k candidate set ordered by (sim desc, id asc); the heap
  * root is the current WORST kept candidate, so admission is O(log k)
  * and memory is O(k) regardless of how many rows stream through. */
private[plans] final class BoundedTopK(k: Int) {
  // min-heap on the keep-order: root = lowest sim (largest id on ties)
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.fromLessThan { (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 > b._2)
    }
  private val heap = scala.collection.mutable.PriorityQueue.empty(worstFirst.reverse)

  def add(sim: Double, id: Long): Unit =
    if (heap.size < k) heap.enqueue((sim, id))
    else if (worstFirst.lt(heap.head, (sim, id))) {
      heap.dequeue(); heap.enqueue((sim, id)); ()
    }

  /** Best-first: (sim desc, id asc). */
  def sorted: Seq[(Double, Long)] =
    heap.toSeq.sorted(worstFirst.reverse)
}

/** Physical exec: map-side per-query heaps over the corpus partitions,
  * then one tiny single-partition merge (#partitions × q × k rows). */
case class CosineTopKExec(
    queries: Seq[(Long, Array[Float])],
    k: Int,
    output: Seq[Attribute],
    child: SparkPlan)
  extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def withNewChildInternal(newChild: SparkPlan): CosineTopKExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    // fail loudly if an optimizer rewrite ever narrows the child again —
    // reading positional fields off a mis-shaped row must never segfault
    require(child.output.length == 2,
      s"CosineTopKExec expects child (id, vector), got: ${child.output}")
    val qs = queries.sortBy(_._1).toArray
    val kk = k
    val partials: RDD[(Long, Double, Long)] =
      child.execute().mapPartitions { iter =>
        val qNorms = qs.map { case (_, q) =>
          var nq = 0.0; var i = 0
          while (i < q.length) { nq += q(i).toDouble * q(i).toDouble; i += 1 }
          math.sqrt(nq)
        }
        val heaps = Array.fill(qs.length)(new BoundedTopK(kk))
        while (iter.hasNext) {
          val row = iter.next()
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            val nid = row.getLong(0)
            val v = row.getArray(1).toFloatArray()
            var nc = 0.0
            var i = 0
            while (i < v.length) { nc += v(i).toDouble * v(i).toDouble; i += 1 }
            val ncRoot = math.sqrt(nc)
            var qi = 0
            while (qi < qs.length) {
              val q = qs(qi)._2
              var dp = 0.0
              var j = 0
              val n = math.min(q.length, v.length)
              while (j < n) { dp += q(j).toDouble * v(j).toDouble; j += 1 }
              heaps(qi).add(CosineTopKExec.round6(dp / (qNorms(qi) * ncRoot)), nid)
              qi += 1
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.sorted.iterator.map { case (sim, nid) => (qs(qi)._1, sim, nid) }
        }
      }
    val types = output.map(_.dataType)
    partials.coalesce(1).mapPartitions { iter =>
      val heaps = scala.collection.mutable.LinkedHashMap.empty[Long, BoundedTopK]
      iter.foreach { case (qid, sim, nid) =>
        heaps.getOrElseUpdate(qid, new BoundedTopK(kk)).add(sim, nid)
      }
      // parents (exchange serializers in particular) expect UnsafeRow
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(types.toArray)
      heaps.toSeq.sortBy(_._1).iterator.flatMap { case (qid, h) =>
        h.sorted.iterator.zipWithIndex.map { case ((sim, nid), i) =>
          proj(new GenericInternalRow(
            Array[Any](qid, i + 1, nid, sim))): InternalRow
        }
      }
    }
  }
}

object CosineTopKExec {
  /** `functions.round(x, 6)` semantics for doubles (HALF_UP on the
    * canonical decimal form) — keeps the exec bit-identical to the
    * declarative path and the DuckDB oracle. */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}
