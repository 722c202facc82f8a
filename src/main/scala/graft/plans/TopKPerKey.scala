package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BindReferences, BoundReference, Descending, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, GenerateOrdering}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType

/** Per-key top-k as a FIRST-CLASS PHYSICAL operator — the (c) tier of the
  * extension ladder taken all the way down: logical node, planner
  * [[SparkStrategy]], and a two-phase [[SparkPlan]] pair with its own
  * `doExecute`, injected via `SparkSessionExtensions`.
  *
  * Why not a window? Spark 3.5+ does bound the rank-filter window's shuffle
  * itself (`InferWindowGroupLimit` plants a partial `WindowGroupLimit`
  * below the exchange — measured by a corpus-scaling probe: both forms ship
  * ≈ partitions×keys×k rows at every corpus scale), but its partial phase
  * requires SORTED input: the map side fully sorts every partition
  * (O(n log n) over the whole corpus) before discarding to k, and the
  * reduce side sorts again for the `WindowExec` that recomputes the ranks.
  * This operator keeps a bounded heap per key on the MAP side
  * ([[TopKPartialExec]]) — O(n log k), NO map-side sort (plan-visible:
  * no `Sort` below the exchange) — and the reduce side merges heaps and
  * emits ranks directly, with no `WindowExec` at all. The reduce side ([[TopKFinalExec]]) declares
  * `ClusteredDistribution(keys)` (EnsureRequirements inserts the hash
  * exchange), merges the partial heaps, and emits rows with a dense `rank`
  * column. Semantics: rank by (orderCol DESC, tieCol ASC), exactly the
  * `row_number` window oracle shape.
  *
  * The hot path is fully compiled: the partial phase implements
  * [[CodegenSupport]] (the `SortExec` blocking-operator pattern — consume
  * the fused child pipeline into the collector, then produce the survivors),
  * and the per-row key/order/tie evaluation plus heap comparisons run
  * through generated `UnsafeProjection`s and a `GenerateOrdering` comparator
  * in BOTH phases — no interpreted `Expression.eval` anywhere.
  */
final case class TopKPerKeyPlan(child: LogicalPlan, keyExprs: Seq[Expression],
                                orderExpr: Expression, tieExpr: Expression, k: Int,
                                rankAttr: Attribute =
                                  AttributeReference("rank", LongType, nullable = false)())
    extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  // key/order/tie are REAL expression children, so `references` reflects the
  // columns this operator consumes and ColumnPruning keeps them alive while
  // still pruning everything else off the child
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Bounded per-key heap collector shared by both phases (and called from the
  * partial phase's generated code). All per-row evaluation is COMPILED:
  * `keyProj`/`ordTieProj` are codegen'd `UnsafeProjection`s and `bestFirst`
  * is a `GenerateOrdering` comparator over the projected (order, tie) pair —
  * `compare(a, b) < 0` iff `a` outranks `b` (order DESC, tie ASC).
  *
  * Retention discipline: both projections write into REUSED buffers, so a
  * projected row is only compared while live; anything RETAINED (map key,
  * heap entry) is a `copy()`. Rows that lose the comparison are never
  * copied. */
final class TopKCollector(keyProj: UnsafeProjection, ordTieProj: UnsafeProjection,
                          bestFirst: Ordering[InternalRow], k: Int) {
  private type Entry = (UnsafeRow, InternalRow) // (ordTie copy, row copy)
  // PriorityQueue dequeues the MAX of its ordering; under best-first
  // ("better" compares negative) the max is the WORST kept entry → head is
  // the eviction candidate.
  private val heapOrd: Ordering[Entry] =
    (a: Entry, b: Entry) => bestFirst.compare(a._1, b._1)
  private val heaps = scala.collection.mutable.LinkedHashMap
    .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[Entry]]

  def insert(row: InternalRow): Unit = {
    val key = keyProj(row)
    val heap = heaps.get(key) match {
      case Some(h) => h
      case None =>
        val h = scala.collection.mutable.PriorityQueue.empty[Entry](heapOrd)
        heaps.put(key.copy(), h)
        h
    }
    val ordTie = ordTieProj(row) // reused buffer: transient compare only
    if (heap.size < k) heap.enqueue((ordTie.copy(), row.copy()))
    else if (bestFirst.compare(ordTie, heap.head._1) < 0) {
      heap.dequeue()
      heap.enqueue((ordTie.copy(), row.copy()))
    }
  }

  /** All retained rows, any order (feeds the exchange). */
  def partialIterator: java.util.Iterator[InternalRow] = {
    import scala.jdk.CollectionConverters._
    heaps.valuesIterator.flatMap(_.iterator.map(_._2)).asJava
  }

  /** Per key, best-first (dequeueAll drains worst→best; one-shot). */
  def groupsIterator: Iterator[Iterator[InternalRow]] =
    heaps.valuesIterator.map { h =>
      val worstFirst: Seq[Entry] = h.dequeueAll
      worstFirst.reverseIterator.map(_._2)
    }
}

/** Serializable recipe for a [[TopKCollector]]: holds expressions already
  * bound to the child output; the projections and the generated ordering are
  * compiled lazily PER EXECUTOR at first use (codegen caches dedupe). */
final case class TopKCollectorFactory(boundKeys: Seq[Expression], boundOrd: Expression,
                                      boundTie: Expression, k: Int) {
  def create(): TopKCollector = {
    val keyProj = UnsafeProjection.create(boundKeys)
    val ordTieProj = UnsafeProjection.create(Seq(boundOrd, boundTie))
    val bestFirst = GenerateOrdering.generate(Seq(
      SortOrder(BoundReference(0, boundOrd.dataType, boundOrd.nullable), Descending),
      SortOrder(BoundReference(1, boundTie.dataType, boundTie.nullable), Ascending)))
    new TopKCollector(keyProj, ordTieProj, bestFirst, k)
  }
}

/** Map-side phase: per-partition per-key bounded heaps; no distribution
  * requirement, so it runs where the data already is. Participates in
  * WholeStageCodegen as a blocking operator (the `SortExec` shape): the
  * child pipeline is fused into [[doConsume]] (one generated loop from scan
  * to heap insert, no iterator hops), and [[doProduce]] then streams the
  * ≤ keys×k survivors to the parent. */
final case class TopKPartialExec(keyExprs: Seq[Expression], orderExpr: Expression,
                                 tieExpr: Expression, k: Int, child: SparkPlan)
    extends GraftExec
    with org.apache.spark.sql.execution.BlockingOperatorWithCodegen {
  override def output: Seq[Attribute] = child.output
  protected def work = Seq("numOutputRows" -> "number of output rows")
  protected def args = s"k=$k by ${keyExprs.mkString("[", ", ", "]")}"
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPartialExec =
    copy(child = newChild)

  private def collectorFactory = TopKCollectorFactory(
    keyExprs.map(BindReferences.bindReference(_, child.output)),
    BindReferences.bindReference(orderExpr, child.output),
    BindReferences.bindReference(tieExpr, child.output), k)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val factory = collectorFactory
    child.execute().mapPartitions { it =>
      val collector = factory.create()
      it.foreach(collector.insert)
      import scala.jdk.CollectionConverters._
      collector.partialIterator.asScala.map { r => numOut += 1; r }
    }
  }

  // ------------------------------------------------------------- codegen
  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  // BlockingOperatorWithCodegen declares what this node IS — a buffer-
  // everything-then-produce operator (the SortExec shape): it supplies
  // needCopyResult=false (emitted rows are collector-owned copies),
  // needStopCheck=false (the input loop must run to completion), resets
  // limitNotReachedChecks for the child pipeline, and licenses the
  // limitNotReachedCond test in the produce loop (a non-blocking node
  // using it trips Spark's "[BUG]" warning — or an assertion under
  // spark.testing).

  private var collectorTerm: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    val needCollect = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "topkNeedCollect",
      v => s"$v = true;")
    val factoryRef = ctx.addReferenceObj("topkFactory", collectorFactory,
      classOf[TopKCollectorFactory].getName)
    collectorTerm = ctx.addMutableState(classOf[TopKCollector].getName, "topkCollector",
      forceInline = true)
    val iterTerm = ctx.addMutableState("java.util.Iterator", "topkIter",
      forceInline = true)
    val numOut = metricTerm(ctx, "numOutputRows")
    val outputRow = ctx.freshName("topkOutputRow")
    // the fused child pipeline goes into its own method (SortExec pattern:
    // produce bodies can exceed the JIT's inlining budget otherwise)
    val collectFunc = ctx.freshName("topkCollectInput")
    val collectFuncName = ctx.addNewFunction(collectFunc,
      s"""
         |private void $collectFunc() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin.trim)
    s"""
       |if ($needCollect) {
       |  $collectorTerm = $factoryRef.create();
       |  $collectFuncName();
       |  $iterTerm = $collectorTerm.partialIterator();
       |  $needCollect = false;
       |}
       |while ($limitNotReachedCond $iterTerm.hasNext()) {
       |  InternalRow $outputRow = (InternalRow) $iterTerm.next();
       |  $numOut.add(1);
       |  ${consume(ctx, null, outputRow)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    s"""
       |${row.code}
       |$collectorTerm.insert((InternalRow) ${row.value});
     """.stripMargin
}

/** Reduce-side phase: requires co-location by key, merges the partial
  * winners, emits each key's rows best-first with a 1-based `rank`.
  * Post-shuffle input is ≤ keys×k×partitions rows, so this phase is never
  * hot; it still uses the compiled collector (no interpreted eval). */
final case class TopKFinalExec(keyExprs: Seq[Expression], orderExpr: Expression,
                               tieExpr: Expression, k: Int, rankAttr: Attribute,
                               child: SparkPlan)
    extends GraftExec {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keyExprs) :: Nil
  protected def work = Nil
  protected def args = s"k=$k by ${keyExprs.mkString("[", ", ", "]")}"
  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
  override protected def doExecute(): RDD[InternalRow] = {
    val factory = TopKCollectorFactory(
      keyExprs.map(BindReferences.bindReference(_, child.output)),
      BindReferences.bindReference(orderExpr, child.output),
      BindReferences.bindReference(tieExpr, child.output), k)
    val outputAttrs = output
    val childAttrs = child.output
    val rank = rankAttr
    child.execute().mapPartitions { it =>
      val collector = factory.create()
      it.foreach(collector.insert)
      val proj = UnsafeProjection.create(outputAttrs, childAttrs :+ rank)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      collector.groupsIterator.flatMap { group =>
        group.zipWithIndex.map { (e: (InternalRow, Int)) =>
          rankRow.update(0, (e._2 + 1).toLong)
          proj(joined(e._1, rankRow))
        }
      }
    }
  }
}

/** Planner strategy: [[TopKPerKeyPlan]] → Final(Partial(child)). */
class TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerKeyPlan =>
      TopKFinalExec(t.keyExprs, t.orderExpr, t.tieExpr, t.k, t.rankAttr,
        TopKPartialExec(t.keyExprs, t.orderExpr, t.tieExpr, t.k,
          planLater(t.child))) :: Nil
    case _ => Nil
  }
}

/** Public API. Requires a session built with [[graft.GraftExtensions]]. */
object TopK {
  def perKey(df: DataFrame, keys: Seq[String], orderBy: String, tieBy: String,
             k: Int): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val resolve = GraftExec.resolve("TopKPerKey", analyzed)(_)
    ColumnBridge.ofRows(df.sparkSession,
      TopKPerKeyPlan(analyzed, keys.map(resolve), resolve(orderBy), resolve(tieBy), k))
  }
}
