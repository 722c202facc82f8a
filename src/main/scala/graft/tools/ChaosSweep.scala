package graft.tools

import graft.SparkEntry

/** Full-surface chaos gate: every registered query runs twice — once
  * fault-free, once under [[ChaosPlugin]]'s whole-run crash/stall
  * injection (every stage, every task, ~30% of attempts die) — and the
  * results must be BYTE-EQUAL (canonical sorted-row md5 over stringified
  * cells). The reference's hardest gate is exactly this (`test-mr.sh` crash
  * tests: output with workers dying must equal the fault-free output); here
  * it proves every operator — not just the MR family the app-level chaos
  * wrappers cover — is deterministic under task retry and shuffle refetch.
  * A query whose values survived retries but whose builder is retry-UNSAFE
  * (nondeterministic sampling, accumulator-driven values, uncommitted side
  * effects) fails the hash.
  *
  * The five stateful streaming twins ([[ChaosStreamSweep.runners]]) then
  * go through the same compare on their own fresh sessions: state stores,
  * checkpoint commits and foreachBatch sinks under injection, settled
  * result byte-equal.
  *
  * Run: `runMain graft.tools.ChaosSweep <sfDir> <seed> <out> <streamOut> [q1,q2,…]`.
  * `out`/`streamOut` take `-` for no artifact; a query subset (debug)
  * skips the streaming twins. Prints `[chaossweep]` and `[chstream]` lines;
  * exits nonzero on any failure or mismatch. */
object ChaosSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val seed = if (args.length > 1) args(1).toLong else 12L
    def artifact(i: Int) = args.lift(i).filter(_ != "-")
    val only: Option[Set[String]] = args.lift(4).map(_.split(',').toSet)
    var failed = Harness.chaosCompare("chaossweep", "queries", sfDir, seed,
      Harness.registry(only), if (only.isEmpty) Some(SparkEntry.queries.size) else None, artifact(2))
    if (only.isEmpty)
      failed += Harness.chaosCompare("chstream", "streams", sfDir, seed,
        ChaosStreamSweep.runners, None, artifact(3))
    if (failed > 0) sys.exit(1)
  }
}
