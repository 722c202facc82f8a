package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, HashPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.graft.{ColumnBridge, RddBridge}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

import graft.sim.{Similarity, TopK => SimTopK}

/** Exact kNN join (every vector a query, its top-k cosine neighbours) as a
  * FIRST-CLASS operator: the block-partitioned all-pairs join of the
  * MapReduce similarity-join literature in the engine's map → hash shuffle
  * → grouped reduce → merge shape, with no typed stage anywhere.
  *
  *  1. Map side ([[KnnChunkExec]]): vector `id` hashes to chunk
  *     c = floorMod(mix64(id), chunks) and is replicated once per partner
  *     chunk, keyed by the (min, max) chunk pair (`Similarity.chunkPairs`).
  *     `chunks` = ⌈n / maxBlock⌉, n counted by [[KnnJoin.edges]].
  *  2. One hash exchange on (a, b), with a pinned partition count: the
  *     kernel is CPU-dense but byte-tiny, so byte-driven AQE coalescing
  *     would fold it onto 1-4 tasks. A user-fixed count is exempt.
  *  3. Kernel ([[KnnBlockExec]]): requires its input sorted on (a, b) and
  *     streams ONE (a, b) group at a time, so at most 2·maxBlock vectors
  *     (plus hash imbalance) are resident. Each unordered pair is scored
  *     once, in the group of its chunk pair, and offered to both members'
  *     bounded heaps; each member emits its local top-k.
  *  4. One exchange on vec_id (the merge's clustering requirement).
  *  5. Merge ([[KnnMergeExec]]): one bounded heap per vector keeps the
  *     global top-k under (score desc, id asc), emitted as ranks 1..k with
  *     the cosine rounded by `TopK.round6` after ranking.
  *
  * Scores are the raw `Similarity.cosine` doubles, with the two norms
  * computed once per vector instead of once per pair (same operations, same
  * bits). The kernel's and the merge's loops are hand-written over
  * `UnsafeRow`s, and their work is plan-visible: groups, pairs scored,
  * candidates and edges emitted, in `explain("formatted")` and in the tree
  * string.
  */
final case class KnnJoinPlan(child: LogicalPlan, vecId: Attribute, embedding: Attribute,
                             k: Int, chunks: Int, partitions: Int, output: Seq[Attribute])
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String = s"KnnJoin k=$k, chunks=$chunks"
  override protected def withNewChildInternal(newChild: LogicalPlan): KnnJoinPlan =
    copy(child = newChild)
}

/** Map side: one (a, b, c, vec_id, embedding) row per partner chunk of
  * each vector. A vector with a null id or embedding emits nothing. */
final case class KnnChunkExec(vecId: Attribute, embedding: Attribute, chunks: Int,
                              a: Attribute, b: Attribute, c: Attribute, child: SparkPlan)
    extends GraftExec {
  override def output: Seq[Attribute] = Seq(a, b, c, vecId, embedding)
  override def producedAttributes: AttributeSet = AttributeSet(Seq(a, b, c))
  protected def work = Seq("vectors" -> "vectors", "numOutputRows" -> "chunk-pair rows")
  protected def args = s"chunks=$chunks"
  override protected def withNewChildInternal(newChild: SparkPlan): KnnChunkExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val Array(vectors, rows) = workMetrics
    val (iId, iEmb) = (childOrdinal(vecId), childOrdinal(embedding))
    val nc = chunks
    child.execute().mapPartitions { it =>
      val w = new UnsafeRowWriter(5, 320)
      it.flatMap { row =>
        if (row.isNullAt(iId) || row.isNullAt(iEmb)) Iterator.empty
        else {
          val id = row.getLong(iId)
          val e = row.getArray(iEmb) match {
            case u: UnsafeArrayData => u
            case other => UnsafeArrayData.fromPrimitiveArray(other.toFloatArray)
          }
          vectors += 1
          rows += nc
          // `row` stays valid while this iterator drains: flatMap pulls
          // the next input only after it
          Similarity.chunkPairs(id, nc).map { case (pa, pb, pc) =>
            w.reset()
            w.zeroOutNullBytes()
            w.write(0, pa)
            w.write(1, pb)
            w.write(2, pc)
            w.write(3, id)
            val at = w.cursor()
            w.write(e)
            w.setOffsetAndSizeFromPreviousCursor(4, at)
            w.getRow
          }
        }
      }
    }
  }
}

/** Kernel: one (a, b) group resident at a time; emits (vec_id,
  * neighbor_id, score) for each member's local top-k within the group. */
final case class KnnBlockExec(k: Int, output: Seq[Attribute], child: SparkPlan)
    extends GraftExec {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the child is a KnnChunkExec (below its exchange), whose output order is
  // fixed: (a, b, c, vec_id, embedding)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(child.output.take(2)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(child.output.take(2).map(SortOrder(_, Ascending)))

  // indexes used by [[BlockNeighbors]]
  protected def work = Seq(
    "groups" -> "groups",
    "pairsScored" -> "pairs scored",
    "candidates" -> "candidates emitted")
  protected def args = s"k=$k"
  override protected def withNewChildInternal(newChild: SparkPlan): KnnBlockExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val m = workMetrics
    val kk = k
    child.execute().mapPartitions(it => new BlockNeighbors(it.buffered, kk, m))
  }
}

/** Streams one (a, b)-sorted partition of chunk-pair rows as (vec_id,
  * neighbor_id, score) candidate rows. A group's fields are copied out on
  * arrival, because the sorter reuses the row object. */
private final class BlockNeighbors(in: BufferedIterator[InternalRow], k: Int,
                                   m: Array[SQLMetric]) extends Iterator[InternalRow] {
  private val (groups, pairsScored, candidates) = (m(0), m(1), m(2))
  private var g = 0 // group size
  private var chunk = new Array[Int](16)
  private var ids = new Array[Long](16)
  private var embs = new Array[Array[Float]](16)
  private var norms = new Array[Double](16)
  // the group's candidates, drained by next()
  private var outQ = new Array[Long](16)
  private var outN = new Array[Long](16)
  private var outS = new Array[Double](16)
  private var outLen = 0
  private var pos = 0
  private val out = new UnsafeRowWriter(3)

  private def add(r: InternalRow): Unit = {
    if (g == ids.length) {
      val cap = g * 2
      chunk = java.util.Arrays.copyOf(chunk, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
      embs = java.util.Arrays.copyOf(embs, cap)
      norms = java.util.Arrays.copyOf(norms, cap)
    }
    chunk(g) = r.getInt(2)
    ids(g) = r.getLong(3)
    embs(g) = r.getArray(4).toFloatArray
    norms(g) = Similarity.norm(embs(g))
    g += 1
  }

  /** `Similarity.cosine` of members i and j, from their cached norms. */
  private def cosine(i: Int, j: Int): Double = {
    val d = norms(i) * norms(j)
    if (d == 0.0) 0.0 else Similarity.dot(embs(i), embs(j)) / d
  }

  /** Load and score the next group; false at the end of the partition. */
  private def fill(): Boolean = {
    g = 0
    if (!in.hasNext) return false
    val (a, b) = (in.head.getInt(0), in.head.getInt(1))
    while (in.hasNext && in.head.getInt(0) == a && in.head.getInt(1) == b) add(in.next())
    groups += 1
    val heaps = Array.fill(g)(new SimTopK.Heap(k))
    var scored = 0L
    var i = 0
    while (i < g) {
      // a diagonal group (a == b) pairs all its members; an off-diagonal
      // one pairs chunk a's members with chunk b's only
      if (a == b || chunk(i) == a) {
        var j = if (a == b) i + 1 else 0
        while (j < g) {
          if ((a == b || chunk(j) == b) && ids(i) != ids(j)) {
            val s = cosine(i, j)
            heaps(i).offer(s, ids(j))
            heaps(j).offer(s, ids(i))
            scored += 1
          }
          j += 1
        }
      }
      i += 1
    }
    pairsScored += scored
    outLen = 0
    pos = 0
    i = 0
    while (i < g) {
      heaps(i).iterator.foreach { case (s, nid) =>
        if (outLen == outQ.length) {
          val cap = outLen * 2
          outQ = java.util.Arrays.copyOf(outQ, cap)
          outN = java.util.Arrays.copyOf(outN, cap)
          outS = java.util.Arrays.copyOf(outS, cap)
        }
        outQ(outLen) = ids(i)
        outN(outLen) = nid
        outS(outLen) = s
        outLen += 1
      }
      i += 1
    }
    candidates += outLen
    true
  }

  override def hasNext: Boolean = {
    while (pos >= outLen) if (!fill()) return false
    true
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    out.reset()
    out.write(0, outQ(pos))
    out.write(1, outN(pos))
    out.write(2, outS(pos))
    pos += 1
    out.getRow
  }
}

/** Merge: one bounded heap per vector over its candidates from every
  * group; output (vec_id, neighbor_id, cosine, rank), rank 1..k under
  * (score desc, id asc), cosine rounded after ranking. */
final case class KnnMergeExec(k: Int, output: Seq[Attribute], child: SparkPlan)
    extends GraftExec {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the child is a KnnBlockExec: (vec_id, neighbor_id, score)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(child.output.take(1)) :: Nil

  protected def work = Seq("vectors" -> "vectors", "numOutputRows" -> "edges emitted")
  protected def args = s"k=$k"
  override protected def withNewChildInternal(newChild: SparkPlan): KnnMergeExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val Array(vectors, edges) = workMetrics
    val kk = k
    child.execute().mapPartitions { it =>
      val heaps = new java.util.HashMap[java.lang.Long, SimTopK.Heap]
      it.foreach { r =>
        heaps.computeIfAbsent(r.getLong(0), _ => new SimTopK.Heap(kk)).offer(r.getDouble(2), r.getLong(1))
      }
      vectors += heaps.size
      val w = new UnsafeRowWriter(4)
      heaps.entrySet.iterator.asScala.flatMap { e =>
        val id = e.getKey.longValue
        e.getValue.best.iterator.zipWithIndex.map { case ((s, nid), r) =>
          edges += 1
          w.reset()
          w.write(0, id)
          w.write(1, nid)
          w.write(2, SimTopK.round6(s))
          w.write(3, r + 1)
          w.getRow
        }
      }
    }
  }
}

/** Planner strategy: [[KnnJoinPlan]] → Merge(Block(Exchange(Chunk(child)))).
  * The (a, b) exchange is planned here, with the plan's pinned partition
  * count; the sort below the kernel and the vec_id exchange below the merge
  * come from their distribution and ordering requirements. */
class KnnJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: KnnJoinPlan =>
      val Seq(a, b, c) = Seq("a", "b", "c").map(AttributeReference(_, IntegerType, nullable = false)())
      val chunked = KnnChunkExec(j.vecId, j.embedding, j.chunks, a, b, c, planLater(j.child))
      val byPair = ShuffleExchangeExec(HashPartitioning(Seq(a, b), j.partitions), chunked,
        REPARTITION_BY_NUM, None)
      val cands = Seq(
        AttributeReference("vec_id", LongType, nullable = false)(),
        AttributeReference("neighbor_id", LongType, nullable = false)(),
        AttributeReference("score", DoubleType, nullable = false)())
      KnnMergeExec(j.k, j.output, KnnBlockExec(j.k, cands, byPair)) :: Nil
    case _ => Nil
  }
}

/** Public API. Requires a session built with [[graft.GraftExtensions]]. */
object KnnJoin {

  /** Each vector's `k` nearest other vectors by cosine, as (vec_id,
    * neighbor_id, cosine, rank): rank 1..k by (raw cosine desc, neighbor_id
    * asc), cosine then rounded to 6 decimals (HALF_UP). A vector with
    * fewer than k others gets them all.
    *
    * `vecs` has columns vec_id (bigint) and embedding (array<float>, one
    * dimension throughout). Counts `vecs` eagerly, at the RDD level (no
    * Dataset action, whose count plan would compile classes of its own), to
    * size the chunk grid: ⌈n / maxBlock⌉ chunks, and a kernel stage of
    * min(chunk pairs, default parallelism) tasks. */
  def edges(vecs: DataFrame, k: Int, maxBlock: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxBlock > 0, s"maxBlock must be positive, got $maxBlock")
    val analyzed = vecs.queryExecution.analyzed
    val resolve = GraftExec.resolve("KnnJoin", analyzed)(_)
    val (id, emb) = (resolve("vec_id"), resolve("embedding"))
    require(id.dataType == LongType, s"KnnJoin: vec_id must be bigint, got ${id.dataType}")
    require(emb.dataType.isInstanceOf[ArrayType] &&
      emb.dataType.asInstanceOf[ArrayType].elementType == FloatType,
      s"KnnJoin: embedding must be array<float>, got ${emb.dataType}")
    val n = RddBridge.inSession(vecs.sparkSession)(vecs.queryExecution.toRdd.count())
    val chunks = math.max(1L, (n + maxBlock - 1) / maxBlock).toInt
    val pairs = chunks.toLong * (chunks + 1) / 2
    val partitions = math.max(1L,
      math.min(pairs, vecs.sparkSession.sparkContext.defaultParallelism.toLong)).toInt
    ColumnBridge.ofRows(vecs.sparkSession, KnnJoinPlan(analyzed, id, emb, k, chunks, partitions,
      Seq(AttributeReference("vec_id", LongType, nullable = false)(),
        AttributeReference("neighbor_id", LongType, nullable = false)(),
        AttributeReference("cosine", DoubleType, nullable = false)(),
        AttributeReference("rank", IntegerType, nullable = false)())))
  }
}
