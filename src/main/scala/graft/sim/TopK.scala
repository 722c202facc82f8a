package graft.sim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col

import Similarity.{Vec, Hit, cosine}

/** The one top-k kernel of the similarity family — the MapReduce shape of
  * distributed top-k search: a bounded top-k per partition (the map-side
  * local pass), then a per-query merge (the grouped reduce). Every search
  * in [[Similarity]], [[Pq]] and [[IvfPq]] runs through it, so the contract
  * the DuckDB oracles check lives here and nowhere else:
  *
  *   - ORDER: score desc, id asc. It is a total order, so a bounded heap
  *     keeps the same set from any partitioning and the merge reproduces
  *     the oracle truth's `ORDER BY cos DESC, id`
  *     ([[graft.OracleSql.topKTruth]]);
  *   - ROUNDING: 6 decimals HALF_UP ([[round6]]), applied to the output
  *     column only, after ranks are assigned — ranking always sees the raw
  *     doubles both engines compute with the same left-to-right dot fold.
  *
  * A scan skips self matches (candidate id == query id) centrally, and a
  * NaN score means "skip this row for this query" (an unprobed IVF list, a
  * label outside the filter). Only Q × k candidate rows leave each
  * partition; the merge is a groupByKey on Q keys. */
private[graft] object TopK {

  /** (query id, candidate id, raw score) */
  type Cand = (Long, Long, Double)

  /** 6-decimal HALF_UP — the oracle-boundary rounding, shared with
    * [[Similarity.cosine6]]. */
  def round6(c: Double): Double =
    BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Bounded top-k under (score desc, id asc); its head is the worst entry
    * kept. */
  final class Heap(k: Int) {
    private val q = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) })
    def offer(score: Double, id: Long): Unit =
      if (q.size < k) q.enqueue((score, id))
      else if (score > q.head._1 || (score == q.head._1 && id < q.head._2)) {
        q.dequeue(); q.enqueue((score, id))
      }
    def iterator: Iterator[(Double, Long)] = q.iterator
    /** The kept entries, best first, under the order `offer` keeps. */
    def best: Array[(Double, Long)] = q.toArray.sortWith { case ((s1, id1), (s2, id2)) =>
      s1 > s2 || (s1 == s2 && id1 < id2) }
  }

  /** One query's top k by cosine of `e` against `others`, self (`id`)
    * excluded — the kNN-join kernel, where every vector is a query. */
  def nearest(id: Long, e: Array[Float], k: Int,
              others: Iterator[(Long, Array[Float])]): Iterator[Cand] = {
    val h = new Heap(k)
    others.foreach { case (oid, oe) => if (oid != id) h.offer(cosine(e, oe), oid) }
    h.iterator.map { case (c, nid) => (id, nid, c) }
  }

  /** Per-partition, per-query bounded top-k of `rows` against the query
    * ids `qids`. `scorer` runs once per partition (broadcast reads and
    * lookup-table builds live there) and returns, for each row, that row's
    * scorer by query index — so per-row work (a dequantize, a norm) runs
    * once per row, not once per (row, query). */
  def scan[T](rows: Dataset[T], qids: Array[Long], k: Int)(idOf: T => Long)(
      scorer: () => T => Int => Double): Dataset[Cand] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      val score = scorer()
      val heaps = Array.fill(qids.length)(new Heap(k))
      it.foreach { row =>
        val id = idOf(row)
        val byQuery = score(row)
        var qi = 0
        while (qi < qids.length) {
          if (id != qids(qi)) {
            val s = byQuery(qi)
            if (!s.isNaN) heaps(qi).offer(s, id)
          }
          qi += 1
        }
      }
      qids.iterator.zip(heaps.iterator).flatMap { case (qid, h) =>
        h.iterator.map { case (s, id) => (qid, id, s) }
      }
    }
  }

  /** The per-key merge: group candidates by key, keep the top k by
    * (score desc, id asc) and hand each to `emit` with its rank 1..k. */
  def ranked[K: Encoder, O: Encoder](cands: Dataset[(K, Long, Double)], k: Int)(
      emit: (K, Long, Double, Int) => O): Dataset[O] =
    cands.groupByKey(_._1).flatMapGroups { (key, it) =>
      it.toArray.sortBy { case (_, id, c) => (-c, id) }.take(k)
        .iterator.zipWithIndex.map { case ((_, id, c), r) => emit(key, id, c, r + 1) }
    }

  /** [[ranked]] into the engine's [[Hit]] rows, cosine rounded after
    * ranking. */
  def hits(cands: Dataset[Cand], k: Int): Dataset[Hit] = {
    import cands.sparkSession.implicits._
    ranked(cands, k)((q, id, c, r) => Hit(q, id, round6(c), r))
  }

  /** Each query's k-th best score τ (−∞ with fewer than k candidates) —
    * the lower bound on the true k-th best that the exact two-phase
    * searches prune against. Only the Q-row (qid, τ) table reaches the
    * driver. */
  def kthBest(cands: Dataset[Cand], k: Int): Map[Long, Double] = {
    import cands.sparkSession.implicits._
    cands.groupByKey(_._1).mapGroups { (qid, it) =>
      val top = it.map(_._3).toArray.sorted(Ordering.Double.TotalOrdering.reverse)
      (qid, if (top.length >= k) top(k - 1) else Double.NegativeInfinity)
    }.collect().toMap
  }

  /** Exact cosines for a bounded (qid, vec_id) candidate set, via a join
    * against the float corpus — the only touch of the uncompressed data in
    * the compressed-index searches. */
  def exactScores(cands: Dataset[(Long, Long)], vecs: Dataset[Vec],
                  bcQ: Broadcast[Array[Vec]]): Dataset[Cand] = {
    import cands.sparkSession.implicits._
    cands.toDF("qid", "vec_id")
      .join(vecs.toDF().select(col("vec_id"), col("embedding")), "vec_id")
      .as[(Long, Long, Array[Float])]
      .mapPartitions { it =>
        // index the broadcast ONCE per partition: O(1) per candidate row
        // instead of an O(Q) linear scan per row
        val byId = bcQ.value.iterator.map(q => q.vec_id -> q).toMap
        it.map { case (vid, qid, emb) =>
          val q = byId.getOrElse(qid,
            throw new NoSuchElementException(s"query vec_id=$qid missing from broadcast query set"))
          (qid, vid, cosine(q.embedding, emb))
        }
      }
  }

  /** Candidate generation + bounded exact rerank for the compressed-index
    * searches ([[Pq]], [[IvfPq]]): [[scan]] the code table with
    * approximate scores keeping the top `rerank` per query, merge to the
    * global top-`rerank` candidates, exact-score exactly those and emit
    * the top k. `scorer` gets the broadcast query array once per
    * partition (LUT construction lives there). */
  def reranked[T](codes: Dataset[T], queries: Array[Vec], vecs: Dataset[Vec],
                  k: Int, rerank: Int)(idOf: T => Long)(
                  scorer: Array[Vec] => T => Int => Double): Dataset[Hit] = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bcQ = spark.sparkContext.broadcast(queries)
    val rr = math.max(1, rerank)
    val approx = scan(codes, queries.map(_.vec_id), rr)(idOf)(() => scorer(bcQ.value))
    val candidates = ranked(approx, rr)((q, id, _, _) => (q, id))
    hits(exactScores(candidates, vecs, bcQ), k)
  }
}
