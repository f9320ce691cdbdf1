package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchExtraSpec extends AnyFunSuite {
  test("median averages the two middle reps of an even count") {
    assert(BenchExtra.median(Seq(3.0)) == 3.0)
    assert(BenchExtra.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(BenchExtra.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(BenchExtra.median(Seq(1.0, 2.0)) == 1.5)
  }
}
