package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{EmptyRelationExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin}
import graft.SparkTestSession

/** Per-round plan shape of PageRank, BFS and k-core below the broadcast
  * cutover (CC's round is pinned by `CcRoundPlanSpec`). Each tapped round
  * must scan the edge checkpoint exactly once, and that scan must feed the
  * streamed side of a `BroadcastHashJoin` with no `Exchange` in between:
  * the |V|-sized side rides the broadcast and the edge relation moves zero
  * bytes per round. */
class RoundPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Children of `p` in an adaptive plan: query stages and the
    * adaptive root are walked into; a reused exchange is not (its subtree
    * runs once, where it was first planned). */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _: ReusedExchangeExec => Nil
    case o => o.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  /** Root-to-leaf paths (leaf first) ending at a scan of a checkpoint
    * whose columns are exactly `cols`. */
  private def scanPaths(p: SparkPlan, cols: Seq[String],
                        above: List[SparkPlan] = Nil): Seq[List[SparkPlan]] = p match {
    case s: RDDScanExec if s.output.map(_.name) == cols => Seq(s :: above)
    case _ => kids(p).flatMap(scanPaths(_, cols, p :: above))
  }

  /** Run `body` with a sink over the `prefix` taps; assert the round shape. */
  private def checkRounds(prefix: String, edgeCols: Seq[String])(body: => Unit): Unit = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val sink: (String, DataFrame) => Unit = (tag, df) => if (tag.startsWith(prefix)) {
      // execute the tapped frame's own queryExecution so AQE finalizes
      df.queryExecution.toRdd.count(): Unit
      val adaptive = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
      // a round that AQE proves empty (BFS's drain round) collapses to an
      // EmptyRelation: its planned shape is the initial plan
      val fin = adaptive.executedPlan
      plans += ((tag,
        if (nodes(fin).exists(_.isInstanceOf[EmptyRelationExec])) adaptive.initialPlan
        else fin))
    }
    graft.tools.PlanProbe.withSink(sink)(body)
    assert(plans.nonEmpty, s"no $prefix rounds tapped")
    plans.foreach { case (tag, plan) =>
      val paths = scanPaths(plan, edgeCols)
      assert(paths.size == 1,
        s"$tag: want one scan of the edge checkpoint, got ${paths.size}:\n$plan")
      val toJoin = paths.head.tail.takeWhile(n => !n.isInstanceOf[HashJoin])
      val join = paths.head.tail.drop(toJoin.size).headOption
      assert(join.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$tag: the edge scan must join through a BroadcastHashJoin:\n$plan")
      assert(!toJoin.exists(_.isInstanceOf[Exchange]),
        s"$tag: an Exchange sits between the edge scan and its join:\n$plan")
    }
  }

  private def sym(und: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  // two triangles bridged by a path, plus a pendant: BFS needs several
  // rounds, k = 2 peels the path and the pendant over several rounds
  private val und = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"),
    ("e", "f"), ("f", "g"), ("e", "g"), ("g", "h"))

  test("pagerank round: edge checkpoint scanned once, broadcast-joined, no exchange") {
    import org.apache.spark.sql.functions.lit
    checkRounds("prround_", Seq("src", "dst", "w", "wout")) {
      PageRank.ranks(sym(und).withColumn("w", lit(1L)), iterations = 3).collect(): Unit
    }
  }

  test("bfs round: edge checkpoint scanned once, broadcast-joined, no exchange") {
    checkRounds("bfsround_", Seq("src", "dst")) {
      Bfs.distances(sym(und)).collect(): Unit
    }
  }

  test("kcore round: edge checkpoint scanned once, broadcast-joined, no exchange") {
    checkRounds("kcoreround_", Seq("src", "dst")) {
      KCore.kcore(sym(und), 2).collect(): Unit
    }
  }
}
