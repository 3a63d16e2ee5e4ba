package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's normalization predicate: the canary's quiet reference was
  * measured on sf0.1 at local[32], so only that run may be divided by it.
  */
class BenchSpec extends AnyFunSuite {
  test("normalizable only on the sf0.1 tables at 32 cpus") {
    assert(Bench.normalizable("/data/sf0.1", "32"))
    assert(!Bench.normalizable("/data/sf0.1", "4"))
    assert(!Bench.normalizable("/data/sf0.125", "32"))
    assert(!Bench.normalizable("/data/sf0.01", "32"))
  }
}
