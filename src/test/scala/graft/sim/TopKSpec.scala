package graft.sim

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The shared top-k kernel ([[TopK]]) on a synthetic corpus with planted
  * ties: the partitioned scan + merge must equal one driver-local sort by
  * (score desc, id asc), self excluded, and ranks must be assigned on the
  * raw scores before the 6-decimal rounding. */
class TopKSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("scan + merge == driver-local (-score, id) sort with ties across partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val dim = 6
    val q0 = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val near = q0.map(_ + 0.05f)
    val randoms = (1000L until 1040L).map(id => Similarity.Vec(id, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    // query 0 is in the corpus (self must be skipped); id 77 is an exact
    // copy of it (cosine 1); ids 10, 20, .., 240 are exact duplicates of one
    // another, more per partition than k, so their tie straddles the k = 4
    // boundary inside every partition's heap and in the merge; id 5 is
    // another exact copy of the query whose row the scorer skips (NaN)
    val dups = (24L to 1L by -1L).map(i => Similarity.Vec(i * 10L, near.clone()))
    val queries = Array(Similarity.Vec(0L, q0), Similarity.Vec(1L, randoms(0).embedding.clone()))
    // ordered by id mod 7 so the duplicates spread over the partitions
    val corpus = (queries.toSeq ++ Seq(Similarity.Vec(77L, q0.clone()),
      Similarity.Vec(5L, q0.clone())) ++ dups ++ randoms)
      .sortBy(v => (v.vec_id % 7, v.vec_id)).toIndexedSeq
    val ds = spark.sparkContext.parallelize(corpus, 4).toDS()
    val dupParts = ds.rdd.mapPartitionsWithIndex((p, it) =>
      it.filter(v => v.vec_id % 10 == 0 && v.vec_id <= 240).map(_ => p)).distinct().count()
    assert(dupParts >= 3, s"duplicates landed in only $dupParts partitions")
    val k = 4
    val bc = spark.sparkContext.broadcast(queries)
    val cands = TopK.scan(ds, queries.map(_.vec_id), k)(_.vec_id) { () =>
      val qs = bc.value
      v => qi => if (v.vec_id == 5L) Double.NaN else Similarity.cosine(qs(qi).embedding, v.embedding)
    }
    val got = TopK.hits(cands, k).collect()
      .map(h => (h.query_id, h.rank, h.neighbor_id, h.cosine)).sorted.toSeq
    val want = queries.toSeq.flatMap { q =>
      corpus.filter(v => v.vec_id != q.vec_id && v.vec_id != 5L)
        .map(v => (Similarity.cosine(q.embedding, v.embedding), v.vec_id))
        .sortBy { case (c, id) => (-c, id) }.take(k).zipWithIndex
        .map { case ((c, id), r) => (q.vec_id, r + 1, id, TopK.round6(c)) }
    }.sorted
    assert(got == want)
    // the planted tie really straddles the boundary: 77, then 10, 20, 30
    assert(got.filter(_._1 == 0L).map(_._3) == Seq(77L, 10L, 20L, 30L))
  }

  test("ranks come from raw scores: values that round equal keep raw order, exact ties id order") {
    import spark.implicits._
    // (id, score): 2 and 1 both round to 0.3 but 2 is higher raw; 3 and 4
    // tie exactly; each row in its own partition
    val scores = Seq(1L -> 0.3000001, 2L -> 0.3000004, 4L -> 0.25, 3L -> 0.25, 9L -> 0.1)
    val ds = spark.sparkContext.parallelize(scores, scores.length).toDS()
    val cands = TopK.scan(ds, Array(-1L), 4)(_._1)(() => row => _ => row._2)
    val got = TopK.hits(cands, 4).collect().sortBy(_.rank)
      .map(h => (h.neighbor_id, h.cosine, h.rank)).toSeq
    assert(got == Seq((2L, 0.3, 1), (1L, 0.3, 2), (3L, 0.25, 3), (4L, 0.25, 4)))
  }

  test("single-query heap == driver-local sort, self excluded, tie at the boundary") {
    val rnd = new scala.util.Random(9)
    val q = Array.fill(4)(rnd.nextFloat())
    val w = q.map(_ + 0.01f)
    // six exact copies of w (the nearest vectors) tie; k = 3 keeps the three smallest ids whatever
    // order they arrive in; the query itself (id 0) is in the input
    val vs = (Seq(0L -> q) ++ Seq(6L, 1L, 5L, 2L, 4L, 3L).map(_ -> w.clone()) ++
      (7L until 20L).map(_ -> Array.fill(4)(rnd.nextFloat() * 2 - 1))).toIndexedSeq
    val got = TopK.nearest(0L, q, 3, vs.iterator).toSeq
      .sortBy { case (_, id, c) => (-c, id) }
    val want = vs.filter(_._1 != 0L).map { case (id, e) => (0L, id, Similarity.cosine(q, e)) }
      .sortBy { case (_, id, c) => (-c, id) }.take(3)
    assert(got == want)
  }
}
