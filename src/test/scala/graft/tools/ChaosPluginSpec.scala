package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The injected deaths of a chaos sweep are a pure function of
  * (seed, stage, partition, attempt): these are the decisions the sweeps
  * behind the committed CHAOS_r*.json artifacts drew, so a change to the
  * hash moves no death. */
class ChaosPluginSpec extends AnyFunSuite {
  test("decisionHash is pinned over a (seed, stage, partition, attempt) grid") {
    val want = Map(
      0L -> Seq(76, 93, 82, 87, 25, 40, 87, 59, 25, 72, 26, 67, 83, 3, 76, 2, 38, 28),
      12L -> Seq(45, 90, 79, 85, 27, 4, 24, 18, 1, 64, 23, 19, 50, 44, 6, 64, 73, 23))
    want.foreach { case (seed, hashes) =>
      val got = for (stage <- 0 until 3; part <- 0 until 3; attempt <- 0 until 2)
        yield ChaosPlugin.decisionHash(seed, stage, part, attempt)
      assert(got == hashes, s"seed $seed")
    }
  }
}
