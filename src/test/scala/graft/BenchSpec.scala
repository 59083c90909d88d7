package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's run-count rule and the chunk artifact a child JVM hands
  * back to the parent. */
class BenchSpec extends AnyFunSuite {

  test("a row whose warm run took more than 2 s is timed 5 times; others keep the base") {
    assert(Bench.runsFor(3, 4.99) == 5)
    assert(Bench.runsFor(1, 12.11) == 5)
    assert(Bench.runsFor(3, 2.001) == 5)
    assert(Bench.runsFor(3, 2.0) == 3) // boundary: strictly greater
    assert(Bench.runsFor(3, 0.3) == 3)
    assert(Bench.runsFor(7, 9.0) == 7) // a base above 5 is kept
    assert(Bench.runsFor(7, 0.1) == 7)
  }

  test("a child's chunk artifact round-trips through parseChunk, failed rows included") {
    val rows = Seq(
      Bench.QResult("q_heavy", 2.5, Seq(2.75, 2.5, 2.25, 2.5, 3.0), failed = false),
      // the warm run succeeded, every timed run failed: its warm time stays
      Bench.QResult("q_flaky", 0.75, Nil, failed = true),
      Bench.QResult("q_broken", 0.0, Nil, failed = true),
      Bench.QResult("q_light", 0.125, Seq(0.125), failed = false))
    val json = Bench.chunkJson("0.10,0.20,0.30", "1.50,0.75,0.25", rows)
    assert(json.contains(""""failures":2,"""))
    val (before, after, parsed) = Bench.parseChunk(json)
    assert(before == "0.10,0.20,0.30")
    assert(after == "1.50,0.75,0.25")
    assert(parsed == rows)
  }
}
