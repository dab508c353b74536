package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator plan (SURVEY §7 preference step (c), the one
  * operator where the builtin composition genuinely overpays):
  * '''top-k rows per key'''.
  *
  * The declarative spelling — `row_number().over(partitionBy(key)
  * .orderBy(ord)) <= k` — forces WindowExec to SORT every partition's
  * full data (and spill it) even though only k rows per key survive.
  * [[TopKPerKeyExec]] instead keeps a bounded k-row heap per key: one
  * pass, O(groups·k) memory, no sort, no spill. At 100 TB with k=3 and
  * millions of keys that is the difference between a full shuffle-sort
  * of the fact table and a streaming pass over it.
  *
  * Wiring: [[TopKPerKey]] is the logical node, [[TopKPerKeyStrategy]]
  * plans it (installed by [[graft.core.GraftSession.activate]]; a
  * session that was not activated cannot plan the node), and the final
  * exec node declares `ClusteredDistribution(keys)` so Catalyst inserts
  * the hash shuffle — partitioning stays the planner's job, only the
  * per-partition algorithm is custom.
  *
  * Top-k sets merge (top-k of a union = top-k of the per-part top-ks),
  * so the strategy plans TWO passes like a hash aggregate: a `partial`
  * exec on the map side (no distribution requirement) whose output is
  * at most groups·k rows per input partition, then the shuffle, then
  * the final exec. The exchange therefore carries ≤ partitions·groups·k
  * rows instead of the whole input — for the kNN-join shape (probes ×
  * corpus scored pairs into top-k per probe) that is the difference
  * between shuffling n·p scored pairs and shuffling p·k·partitions
  * survivors.
  */
case class TopKPerKey(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                      child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKey =
    copy(child = c)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                          partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  // the partial pass runs wherever the data already is (map side); only
  // the final pass demands co-located keys, which is what makes Catalyst
  // put the exchange BETWEEN the two passes
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    // The heap map is O(groups·k) heap memory OUTSIDE Spark's memory
    // manager (no spill). That is by design — the operator's regime is
    // high fan-in per key (groups·k ≪ input), where it replaces a full
    // sort with a streaming pass. The guard makes the regime explicit —
    // but the two passes react differently past maxGroups tracked
    // groups: the PARTIAL pass degrades to pass-through (top-k merge
    // tolerates unreduced rows, so correctness is untouched and memory
    // stays bounded — the reduction just stops helping), while the
    // FINAL pass must hold every group of its hash partition, so it
    // fails fast with advice instead of letting the JVM OOM.
    val maxGroups = conf.getConfString(
      TopK.maxGroupsKey, TopK.maxGroupsDefault.toString).toLong
    val isPartial = partial
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val ordering = RowOrdering.create(order, childOutput)
      // max-heap on the sort order: the head is the WORST of the kept
      // rows, evicted when a better row arrives
      val heaps = mutable.HashMap.empty[InternalRow, mutable.PriorityQueue[InternalRow]]
      var overflowRow: InternalRow = null
      // overflow check BEFORE hasNext: codegen iterators precompute the
      // next row into the SAME buffer on hasNext, which would overwrite
      // a just-saved overflow row (the copy below guards the same hazard
      // across the lazy emission boundary)
      while (overflowRow == null && iter.hasNext) {
        val row = iter.next()
        // probe with the reused projection row; copy the key only when
        // it is actually inserted (the common hit path allocates nothing)
        val probeKey = keyProj(row)
        heaps.get(probeKey) match {
          case Some(heap) =>
            if (heap.size < k) {
              heap.enqueue(row.copy())
            } else if (ordering.compare(row, heap.head) < 0) {
              heap.dequeue()
              heap.enqueue(row.copy())
            }
          case None =>
            if (heaps.size >= maxGroups) {
              if (isPartial) {
                overflowRow = row.copy()
              } else throw new IllegalStateException(
                s"TopKPerKeyExec exceeded ${TopK.maxGroupsKey}=$maxGroups distinct " +
                  "groups in one partition; this input's group cardinality is out of " +
                  "the heap operator's regime — use TopK.windowed (sort-based, " +
                  "spillable) or raise the limit")
            } else {
              val h = mutable.PriorityQueue.empty[InternalRow](ordering)
              h.enqueue(row.copy())
              heaps.put(probeKey.copy(), h)
            }
        }
      }
      val reduced = heaps.valuesIterator.flatMap(_.toSeq.sorted(ordering))
      if (overflowRow == null) reduced
      // degrade: emit what was reduced, then the breaking row and the
      // untouched tail (volcano consumers finish each row before
      // advancing, so the reused row buffers stay safe to forward)
      else reduced ++ Iterator.single(overflowRow) ++ iter
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}

/** User-facing API.
  *
  * Two physical spellings of the same semantics, chosen by group
  * cardinality:
  *  - [[perKey]] — the heap operator: one streaming pass, no sort,
  *    O(groups·k) un-managed heap memory. Right when groups·k ≪ input
  *    (high fan-in per key).
  *  - [[windowed]] — `row_number().over(...)  <= k`: WindowExec sorts
  *    and SPILLS, so it survives any group cardinality at sort cost.
  *
  * `perKey(groupsHint = Some(n))` picks automatically: `n` is the
  * estimated TOTAL group count, divided by the planned shuffle
  * partition count and compared against the per-partition
  * `spark.graft.topk.maxGroupsPerPartition` threshold; past it the
  * windowed plan is returned. The exec node enforces the same
  * per-partition threshold at runtime (fail-fast with advice, never a
  * silent executor OOM).
  */
object TopK {
  val maxGroupsKey = "spark.graft.topk.maxGroupsPerPartition"
  val maxGroupsDefault = 4000000L

  def perKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
             groupsHint: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    val threshold = spark.conf.getOption(maxGroupsKey)
      .map(_.toLong).getOrElse(maxGroupsDefault)
    // the hint is TOTAL group cardinality; the threshold (like the
    // runtime guard) is per PARTITION, and the hash shuffle spreads
    // groups ~evenly — compare the per-partition expectation
    val parts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    if (groupsHint.exists(h => h / parts > threshold)) return windowed(df, keys, order, k)
    val sortOrder = order.map(GraftShims.expressionEager(_) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    GraftShims.ofRows(spark, TopKPerKey(
      keys.map(GraftShims.expressionEager), sortOrder, k, df.queryExecution.logical))
  }

  /** The sort-based spelling: spillable, any group cardinality. */
  def windowed(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(org.apache.spark.sql.functions.col("__graft_rn") <= k)
      .drop("__graft_rn")
  }
}
