package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{
  LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension (SURVEY §2 preference path (c)):
  * per-key bounded top-k as a first-class plan node —
  * `LogicalPlan` + planner `Strategy` + two physical `SparkPlan`s,
  * registered through [[GraftExtensions]].
  *
  * The built-in way to express "k best rows per key" is a window
  * `row_number` + filter, whose physical plan SORTS every partition in
  * full (shuffle of ALL rows, then sort-based window) — at 100 TB the
  * sort of the whole fact table is the cost, even though only k·|keys|
  * rows survive. The reference's engine family ships a dedicated
  * bounded-heap operator for this (the same reason Spark itself has
  * `TakeOrderedAndProject` for the global-k case — this node is its
  * grouped generalization). Shape:
  *
  *  - '''partial''' exec runs on the un-shuffled child: one bounded
  *    heap per key seen in the partition — any row outside its
  *    partition-local top-k cannot be in the global top-k, so at most
  *    k·|keys in partition| rows continue. This is map-side combine
  *    for an order statistic: the shuffle moves k·|keys| rows, not the
  *    table.
  *  - '''final''' exec declares `ClusteredDistribution(keys)`;
  *    EnsureRequirements inserts the hash exchange on the keys (AQE
  *    still coalesces/replans it), and the same bounded-heap pass over
  *    co-located keys produces exact results, emitted in sort order
  *    per key.
  *
  * State is k rows per distinct key per task — the HashAggregate
  * bound, independent of group size: a 10-billion-row key still holds
  * exactly k heap slots. Heaps compare with a codegen'd
  * [[RowOrdering]]; rows and keys are copied out of the iterator's
  * reused `UnsafeRow` buffers.
  */
object TopKPerKey {

  /** k best rows per key, "best" = first in `orderBy` order (ties
    * broken by nothing — pass a total order for deterministic output).
    * Plans as partial-heap → hash exchange on `keys` → final-heap. */
  def topK(
      df: DataFrame, keys: Seq[String], orderBy: Seq[Column], k: Int)
      : DataFrame = {
    require(keys.nonEmpty, "topK: at least one key column required")
    require(k >= 1, s"topK: k must be >= 1, got $k")
    val spark = df.sparkSession
    // let the ANALYZER resolve the sort columns: the analyzed plan of
    // df.sort(orderBy) is Sort(resolvedSortOrder, _, analyzedChild) —
    // we lift its resolved SortOrders into our node and drop the Sort
    val sortPlan = GraftBridge.analyzed(df.sort(orderBy: _*)) match {
      case s: Sort => s
      case other => throw new IllegalStateException(
        s"topK: expected Sort from analyzer, got ${other.nodeName}")
    }
    val child = sortPlan.child
    val keyAttrs = keys.map(name =>
      child.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"topK: column '$name' not in ${child.output.map(_.name)}")))
    GraftBridge.ofRows(spark,
      TopKPerKeyNode(keyAttrs, sortPlan.order, k, child))
  }

  /** Q56 — top-5 events per event_type by value (total tiebreak on
    * event_id), through the custom bounded-heap plan node (planned by
    * the [[GraftExtensions]] strategy every graft session carries). */
  def q56(t: graft.Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    topK(t.events.select("event_type", "event_id", "user_id", "value"),
        Seq("event_type"), Seq(col("value").desc, col("event_id")), k = 5)
      .select(col("event_type"), col("event_id"), col("user_id"),
        round(col("value"), 4).as("value"))
      .orderBy("event_type", "event_id")
  }

  /** Q76 — the same bounded-heap operator, driven entirely from SQL
    * through the `graft_topk` table-valued function: the FROM-clause
    * call plans the node (partial heap → key exchange → final heap)
    * exactly as the Column API path does — one operator, two surfaces.
    * k=3 (vs q56's 5) so the two gates exercise distinct outputs. */
  def q76(t: graft.Tables): DataFrame = {
    t.events.createOrReplaceTempView("graft_q76_events")
    t.spark.sql(
      """SELECT event_type, event_id, user_id, ROUND(value, 4) AS value
        |FROM graft_topk('graft_q76_events', 'event_type',
        |                'value DESC, event_id', 3)
        |ORDER BY event_type, event_id""".stripMargin)
  }
}

/** Logical node: k best rows per `keys` group in `order` order. */
case class TopKPerKeyNode(
    keys: Seq[Attribute], order: Seq[SortOrder], k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerKeyNode = copy(child = newChild)
}

/** Planner strategy: two-phase bounded-heap physical plan. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap per-key top-k pass. `partial=true` runs pre-shuffle on
  * whatever co-location the child has (a pruning step — output is a
  * superset of the answer restricted to each partition's view);
  * `partial=false` demands key clustering and is exact. */
case class TopKPerKeyExec(
    keys: Seq[Attribute], order: Seq[SortOrder], k: Int, partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil
  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerKeyExec = copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val kk = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // java PQ head = least per comparator; with the REVERSED row
      // order the head is the worst row currently kept — O(log k)
      // evict of exactly the right victim
      val heapOrd = ord.reverse
      val heaps =
        new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kk + 1, heapOrd)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy()); ()
        }
      }
      val groups = heaps.values().iterator()
      new Iterator[InternalRow] {
        private var current: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!current.hasNext && groups.hasNext) {
            val h = groups.next()
            val arr = h.toArray(new Array[InternalRow](h.size))
            java.util.Arrays.sort(arr, ord)
            current = arr.iterator
          }
          current.hasNext
        }
        override def next(): InternalRow = current.next()
      }
    }, preservesPartitioning = true)
  }
}
