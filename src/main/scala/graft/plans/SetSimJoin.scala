package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.{ColumnBridge, RddBridge}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Token-set Jaccard self-join as a FIRST-CLASS operator: the MapReduce
  * prefix-filter set-similarity join of Vernica, Carey and Li (SIGMOD
  * 2010) in the engine's own map → hash shuffle → grouped reduce shape.
  *
  *  1. Token order (their stage 1): one partial-aggregated
  *     (lang, source, word) → dfreq pass, collected to the driver, where each
  *     (lang, source) block ranks its words 0, 1, … by ascending
  *     (dfreq, word) — rarest first. The ranks ship to the tasks as ONE
  *     broadcast ([[TokenOrder]]). Bound: the broadcast is the block
  *     vocabularies, the same table the window + sort-merge plan this
  *     replaces let AQE broadcast back; a vocabulary grows sublinearly
  *     with the corpus (Zipf), so it is small next to the documents.
  *  2. Map side ([[SetSimPrefixExec]]): each document's tokens become
  *     their ranks, sorted ascending; the document emits one row per rank
  *     of its prefix — the first `n − ⌈n·t⌉ + 1` ranks, which any pair
  *     with J ≥ t must share a rank of (prefix filtering, Chaudhuri et al.,
  *     ICDE'06) — keyed (lang, source, rank) and carrying doc_id, n and the
  *     whole sorted rank array.
  *  3. Reduce side ([[SetSimJoinExec]]): declares
  *     `ClusteredDistribution(lang, source, rank)` and a child ordering
  *     (lang, source, rank, n, doc_id), so EnsureRequirements plans the one
  *     hash exchange plus a sort, and it streams ONE group at a time. Within
  *     a group (n ascending) the length filter
  *     `nb ≥ na·t − 1e-9 ∧ na ≥ nb·t − 1e-9` ends each inner loop early; a
  *     pair is verified only in the group of its smallest shared prefix
  *     rank, so it is emitted once with no global distinct; verification
  *     is an int merge, `c = |A∩B|`, `jaccard = c / (n1 + n2 − c)`.
  *
  * Emit-once needs no prefix length on the reduce side: the group's rank r
  * is in both prefixes, and every rank below r precedes r in its sorted
  * array, so the smallest shared prefix rank is below r iff the two arrays
  * share a rank below r.
  *
  * The verify loop is hand-written over the shuffled `UnsafeRow`s (no
  * per-pair expression, no generated class of its own), and its funnel is
  * plan-visible: groups, candidate pairs, length-pruned, emit-once
  * skipped, verified and emitted, in `explain("formatted")` and in the
  * tree string. Candidate pairs = length-pruned + skipped + verified.
  */
final case class SetSimJoinPlan(child: LogicalPlan, docId: Attribute, lang: Attribute,
                                source: Attribute, toks: Attribute, base: Option[Attribute],
                                threshold: Double, order: Broadcast[TokenOrder],
                                output: Seq[Attribute])
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String =
    s"SetSimJoin t=$threshold, ${base.fold("self")(b => s"split on ${b.name}")}"
  override protected def withNewChildInternal(newChild: LogicalPlan): SetSimJoinPlan =
    copy(child = newChild)
}

/** The block-local token order: per (lang, source) block, its words in
  * rank order (index = rank). Serialized as plain word arrays; each JVM that
  * reads the broadcast builds the word → rank index once. */
final class TokenOrder private (blocks: Array[(String, String)], words: Array[Array[String]])
    extends Serializable {
  @transient private lazy val index = {
    val m = new java.util.HashMap[(UTF8String, UTF8String), java.util.HashMap[UTF8String, Integer]]
    blocks.indices.foreach { b =>
      val ranks = new java.util.HashMap[UTF8String, Integer](words(b).length * 2)
      words(b).indices.foreach(r => ranks.put(UTF8String.fromString(words(b)(r)), r))
      m.put((UTF8String.fromString(blocks(b)._1), UTF8String.fromString(blocks(b)._2)), ranks)
    }
    m
  }

  /** The ascending ranks of a document's distinct, null-free tokens. */
  def ranks(lang: UTF8String, source: UTF8String, toks: ArrayData): Array[Int] = {
    val block = index.get((lang, source))
    require(block != null, s"block ($lang, $source) missing from the token order")
    val out = new Array[Int](toks.numElements())
    var k = 0
    while (k < out.length) {
      val r = block.get(toks.getUTF8String(k))
      require(r != null, s"token ${toks.getUTF8String(k)} missing from the token order")
      out(k) = r
      k += 1
    }
    java.util.Arrays.sort(out)
    out
  }
}

object TokenOrder {
  /** Count each (lang, source, word)'s document frequency over `docs`
    * (columns lang, source, toks) and rank each block's words by ascending
    * (dfreq, word), the word compared as UTF-8 bytes (Spark's string order).
    * One pass over the rows the join's map side also reads: each task
    * counts its partition into per-block maps (the partial aggregate), so
    * only the distinct vocabulary is shuffled to the summing reduce and
    * collected, under the session's artifacts ([[RddBridge.inSession]]), so
    * the scan stage's generated classes are the join's own. Rows with a null
    * key are left out, like their documents. */
  def count(docs: DataFrame): TokenOrder = {
    // the rows of `docs` itself, not a narrower projection: the join's map
    // side then runs the same generated scan stage
    val Seq(iLang, iSource, iToks) = Seq("lang", "source", "toks").map(docs.columns.indexOf(_))
    val partial = docs.queryExecution.toRdd.mapPartitions { it =>
      val blocks = new java.util.HashMap[(String, String), java.util.HashMap[UTF8String, java.lang.Long]]
      it.foreach { r =>
        if (!r.isNullAt(iLang) && !r.isNullAt(iSource) && !r.isNullAt(iToks)) {
          val block = blocks.computeIfAbsent((r.getUTF8String(iLang).toString,
            r.getUTF8String(iSource).toString), _ => new java.util.HashMap[UTF8String, java.lang.Long])
          val toks = r.getArray(iToks)
          var k = 0
          while (k < toks.numElements()) {
            val w = toks.getUTF8String(k)
            val c = block.get(w)
            // a new key is cloned: `w` points into the reused row
            if (c == null) block.put(w.clone(), 1L) else block.put(w, c + 1L)
            k += 1
          }
        }
      }
      import scala.jdk.CollectionConverters._
      blocks.asScala.iterator.flatMap { case ((lang, source), words) =>
        words.asScala.iterator.map { case (w, c) => ((lang, source, w.toString), c.longValue) }
      }
    }
    // one partition's partial counts are already the totals
    val vocab = RddBridge.inSession(docs.sparkSession)(
      (if (partial.getNumPartitions > 1) partial.reduceByKey(_ + _) else partial).collect())
    val utf8Order = Ordering.fromLessThan[UTF8String]((a, b) => a.compareTo(b) < 0)
    val byBlock = vocab.groupBy { case ((lang, source, _), _) => (lang, source) }
    val blocks = byBlock.keys.toArray
    new TokenOrder(blocks, blocks.map { b =>
      byBlock(b).map { case ((_, _, w), dfreq) => (dfreq, UTF8String.fromString(w)) }
        .sorted(Ordering.Tuple2(Ordering.Long, utf8Order))
        .map(_._2.toString)
    })
  }
}

/** Map side: one (lang, source, rank, doc_id, n, ranks) row per prefix
  * rank of each document. Documents with no token or a null key emit
  * nothing, so they are never paired. `base` is false for every row of a
  * self-join. */
final case class SetSimPrefixExec(docId: Attribute, lang: Attribute, source: Attribute,
                                  toks: Attribute, base: Option[Attribute],
                                  threshold: Double, order: Broadcast[TokenOrder],
                                  rank: Attribute, n: Attribute, ranks: Attribute,
                                  side: Attribute, child: SparkPlan)
    extends GraftExec {
  override def output: Seq[Attribute] = Seq(lang, source, rank, docId, n, ranks, side)
  override def producedAttributes: AttributeSet = AttributeSet(Seq(rank, n, ranks, side))
  protected def work = Seq("documents" -> "documents", "numOutputRows" -> "prefix rows")
  protected def args = s"t=$threshold"
  override protected def withNewChildInternal(newChild: SparkPlan): SetSimPrefixExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val Array(docs, rows) = workMetrics
    val (iId, iLang, iSource, iToks) =
      (childOrdinal(docId), childOrdinal(lang), childOrdinal(source), childOrdinal(toks))
    val iBase = base.fold(-1)(childOrdinal)
    val t = threshold
    val bc = order
    child.execute().mapPartitions { it =>
      val w = new UnsafeRowWriter(7, 64)
      it.flatMap { row =>
        if (row.isNullAt(iId) || row.isNullAt(iLang) || row.isNullAt(iSource) ||
            row.isNullAt(iToks) || row.getArray(iToks).numElements() == 0) Iterator.empty
        else {
          val l = row.getUTF8String(iLang)
          val s = row.getUTF8String(iSource)
          val rk = bc.value.ranks(l, s, row.getArray(iToks))
          val arr = UnsafeArrayData.fromPrimitiveArray(rk)
          val id = row.getLong(iId)
          val b = iBase >= 0 && row.getBoolean(iBase)
          val p = SetSimJoin.prefixLength(rk.length, t)
          docs += 1
          rows += p
          // `row` stays valid while this iterator drains: flatMap pulls
          // the next input only after it
          Iterator.range(0, p).map { k =>
            w.reset()
            w.zeroOutNullBytes()
            w.write(0, l)
            w.write(1, s)
            w.write(2, rk(k))
            w.write(3, id)
            w.write(4, rk.length)
            val at = w.cursor()
            w.write(arr)
            w.setOffsetAndSizeFromPreviousCursor(5, at)
            w.write(6, b)
            w.getRow
          }
        }
      }
    }
  }
}

/** Reduce side: one (lang, source, rank) group resident at a time, pairs
  * verified in the group of their smallest shared prefix rank. Output
  * (d1, d2, jaccard): d1 < d2 for a self-join, d1 = the base document for a
  * split join (which pairs base with delta documents only). */
final case class SetSimJoinExec(threshold: Double, split: Boolean, output: Seq[Attribute],
                                child: SparkPlan)
    extends GraftExec {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the child is a SetSimPrefixExec, whose output order is fixed:
  // (lang, source, rank, doc_id, n, ranks, base)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(child.output.take(3)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(0, 1, 2, 4, 3).map(i => SortOrder(child.output(i), Ascending)))

  // funnel order; indexes used by [[GroupPairs]]
  protected def work = Seq(
    "groups" -> "groups",
    "candidates" -> "candidate pairs",
    "lengthPruned" -> "length-pruned",
    "emitOnceSkipped" -> "emit-once skipped",
    "verified" -> "verified",
    "emitted" -> "emitted")
  protected def args = s"t=$threshold, ${if (split) "split (base, delta)" else "self"}"
  override protected def withNewChildInternal(newChild: SparkPlan): SetSimJoinExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val m = workMetrics
    val t = threshold
    val sp = split
    child.execute().mapPartitions(it => new GroupPairs(it.buffered, t, sp, m))
  }
}

/** Streams one sorted partition of prefix rows as (d1, d2, jaccard) rows.
  * Holds one group: its rows' fields are copied out on arrival, because the
  * sorter reuses the row object. */
private final class GroupPairs(in: BufferedIterator[InternalRow], t: Double, split: Boolean,
                               m: Array[SQLMetric]) extends Iterator[InternalRow] {
  private val (groups, candidates, lengthPruned, skipped, verified, emitted) =
    (m(0), m(1), m(2), m(3), m(4), m(5))
  private var lang: UTF8String = _
  private var source: UTF8String = _
  private var rank = 0
  private var g = 0 // group size
  private var ids = new Array[Long](16)
  private var toks = new Array[Array[Int]](16)
  private var bases = new Array[Boolean](16)
  private var basesBefore = new Array[Int](17) // base rows among the first k
  private var i = 0
  private var j = 0
  private var ready = false
  private val out = new UnsafeRowWriter(3)

  private def sameGroup(r: InternalRow): Boolean =
    r.getInt(2) == rank && r.getUTF8String(0) == lang && r.getUTF8String(1) == source

  private def add(r: InternalRow): Unit = {
    if (g == ids.length) {
      val cap = g * 2
      ids = java.util.Arrays.copyOf(ids, cap)
      toks = java.util.Arrays.copyOf(toks, cap)
      bases = java.util.Arrays.copyOf(bases, cap)
      basesBefore = java.util.Arrays.copyOf(basesBefore, cap + 1)
    }
    ids(g) = r.getLong(3)
    toks(g) = r.getArray(5).toIntArray
    bases(g) = r.getBoolean(6)
    basesBefore(g + 1) = basesBefore(g) + (if (bases(g)) 1 else 0)
    g += 1
  }

  /** Load the next group; false at the end of the partition. */
  private def fill(): Boolean = {
    g = 0
    if (!in.hasNext) return false
    val head = in.head
    lang = head.getUTF8String(0).clone()
    source = head.getUTF8String(1).clone()
    rank = head.getInt(2)
    while (in.hasNext && sameGroup(in.head)) add(in.next())
    groups += 1
    val nb = basesBefore(g).toLong
    candidates += (if (split) nb * (g - nb) else g.toLong * (g - 1) / 2)
    i = 0
    j = 1
    true
  }

  /** Pairs (a, j..g-1) the side rule admits: the ones a length break drops. */
  private def admittedFrom(a: Int, from: Int): Long = {
    val rest = g - from
    val restBase = basesBefore(g) - basesBefore(from)
    if (!split) rest else if (bases(a)) rest - restBase else restBase
  }

  /** Whether sorted `a` and `b` share a rank below the group's. */
  private def sharedBelow(a: Array[Int], b: Array[Int]): Boolean = {
    var x = 0
    var y = 0
    while (a(x) < rank && b(y) < rank) {
      if (a(x) == b(y)) return true
      if (a(x) < b(y)) x += 1 else y += 1
    }
    false
  }

  private def intersect(a: Array[Int], b: Array[Int]): Int = {
    var x = 0
    var y = 0
    var c = 0
    while (x < a.length && y < b.length) {
      if (a(x) == b(y)) { c += 1; x += 1; y += 1 }
      else if (a(x) < b(y)) x += 1
      else y += 1
    }
    c
  }

  /** Advance to the next emitted pair, written into `out`. */
  private def advance(): Boolean = {
    while (true) {
      if (i >= g - 1) { if (!fill()) return false }
      else if (j >= g) { i += 1; j = i + 1 }
      else if (split && bases(i) == bases(j)) j += 1
      else {
        // na ≤ nb (sorted by n) and t ≤ 1, so nb ≥ na·t − 1e-9 always holds;
        // once na ≥ nb·t − 1e-9 fails it fails for every later j too
        val (na, nb) = (toks(i).length, toks(j).length)
        if (na < nb * t - 1e-9) {
          lengthPruned += admittedFrom(i, j)
          i += 1
          j = i + 1
        } else if (sharedBelow(toks(i), toks(j))) { skipped += 1; j += 1 }
        else {
          verified += 1
          val c = intersect(toks(i), toks(j))
          val jaccard = c.toDouble / (na + nb - c)
          val (a, b) = (i, j)
          j += 1
          if (jaccard >= t) {
            emitted += 1
            val (d1, d2) =
              if (split) { if (bases(a)) (ids(a), ids(b)) else (ids(b), ids(a)) }
              else (math.min(ids(a), ids(b)), math.max(ids(a), ids(b)))
            out.reset()
            out.write(0, d1)
            out.write(1, d2)
            out.write(2, jaccard)
            return true
          }
        }
      }
    }
    false
  }

  override def hasNext: Boolean = ready || { ready = advance(); ready }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    ready = false
    out.getRow
  }
}

/** Planner strategy: [[SetSimJoinPlan]] → Join(Prefix(child)); the exchange
  * and sort between them come from the join's distribution and ordering. */
class SetSimJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: SetSimJoinPlan =>
      val prefix = SetSimPrefixExec(j.docId, j.lang, j.source, j.toks, j.base, j.threshold,
        j.order,
        AttributeReference("rank", IntegerType, nullable = false)(),
        AttributeReference("n", IntegerType, nullable = false)(),
        AttributeReference("ranks", ArrayType(IntegerType, containsNull = false),
          nullable = false)(),
        AttributeReference("base", BooleanType, nullable = false)(),
        planLater(j.child))
      SetSimJoinExec(j.threshold, j.base.isDefined, j.output, prefix) :: Nil
    case _ => Nil
  }
}

/** Public API. Requires a session built with [[graft.GraftExtensions]]. */
object SetSimJoin {

  /** Prefix length for a set of `n` tokens at threshold `t`:
    * `n − ⌈n·t⌉ + 1`, capped at n. */
  private[plans] def prefixLength(n: Int, t: Double): Int =
    math.min(n.toLong, n - math.ceil(n * t).toLong + 1).toInt

  /** All pairs of documents in the same (lang, source) block with token-set
    * Jaccard ≥ `threshold`, as (d1, d2, jaccard).
    *
    * `docs` has columns doc_id (bigint), lang, source (string) and toks (the
    * document's distinct, null-free tokens). With `base` naming a boolean
    * column, only (base, delta) pairs are joined, base as d1; the token
    * order still counts every document. Runs the token-order job eagerly. */
  def jaccard(docs: DataFrame, threshold: Double, base: Option[String] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0, 1], got $threshold")
    val order = docs.sparkSession.sparkContext.broadcast(TokenOrder.count(docs))
    val analyzed = docs.queryExecution.analyzed
    val resolve = GraftExec.resolve("SetSimJoin", analyzed)(_)
    ColumnBridge.ofRows(docs.sparkSession, SetSimJoinPlan(analyzed,
      resolve("doc_id"), resolve("lang"), resolve("source"), resolve("toks"),
      base.map(resolve), threshold, order,
      Seq(AttributeReference("d1", LongType, nullable = false)(),
        AttributeReference("d2", LongType, nullable = false)(),
        AttributeReference("jaccard", DoubleType, nullable = false)())))
  }
}
